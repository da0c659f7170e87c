"""Session set-up, isolation and teardown shared by the benchmark and its
digest recorder.

Everything a run writes (temp files, Spark local dirs, the native kernel
build, Python caches of the workers) lands under ``<checkout>/.perfbench``
so a run touches nothing outside its checkout.
"""

from __future__ import annotations

import gc
import os
import shutil
import signal
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
DATA = {"sf0.01": os.path.join(HERE, "data", "sf0.01"),
        "sf0.001": os.path.join(HERE, "data", "sf0.001")}
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def missing_inputs(data_dir: str) -> list[str]:
    """What the run needs from the checkout but cannot find."""
    need = [os.path.join(ROOT, "__spark_entry__.py"),
            os.path.join(ROOT, "polars_ts_spark", "__init__.py")]
    need += [os.path.join(data_dir, f"{t}.parquet") for t in TABLES]
    return [p for p in need if not os.path.isfile(p)]


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


class Workspace:
    """A private directory tree for one run under ``.perfbench/``.

    Must be entered before Spark starts: the environment it sets is what
    the JVM, the Python workers and the native kernel build inherit.
    """

    def __init__(self, tag: str):
        self.dir = os.path.join(ROOT, ".perfbench", f"{tag}-{os.getpid()}")
        self.out = os.path.join(ROOT, ".perfbench", "out")

    def path(self, *parts: str) -> str:
        p = os.path.join(self.dir, *parts)
        os.makedirs(p, mode=0o700, exist_ok=True)
        return p

    def __enter__(self) -> "Workspace":
        os.makedirs(self.out, exist_ok=True)
        tmp = self.path("tmp")
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        # workers import polars_ts_spark from this checkout, not from
        # whatever directory the run was launched in
        os.environ["PYTHONPATH"] = os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
        os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        if ROOT not in sys.path:
            sys.path.insert(0, ROOT)
        return self

    def fresh_native_dir(self) -> str:
        """A new, empty kernel build dir, so every set-up compiles."""
        d = os.path.join(self.dir, f"native-{time.monotonic_ns()}")
        os.makedirs(d, mode=0o700)
        os.environ["SPARK_GRAFT_NATIVE_DIR"] = d
        return d

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)


def spark_conf(ws: Workspace, ui: bool) -> dict[str, str]:
    return {
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": ws.path("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ws.path('tmp')}",
        "spark.ui.enabled": "true" if ui else "false",
        "spark.ui.showConsoleProgress": "false",
    }


def start_session(ws: Workspace, app: str, ui: bool = True):
    """Start Spark, build the native kernels, warm the Python worker pool.

    Returns ``(spark, timings)`` where timings holds ``session.start_s``,
    ``native.build_s`` and ``session.worker_warm_s``.
    """
    import pandas as pd

    from polars_ts_spark.functions import native
    from polars_ts_spark.session import get_spark

    t = {}
    t0 = time.perf_counter()
    spark = get_spark(app, **spark_conf(ws, ui))
    spark.sparkContext.setLogLevel("ERROR")
    t["session.start_s"] = time.perf_counter() - t0

    ws.fresh_native_dir()
    t0 = time.perf_counter()
    if not native.available():
        raise RuntimeError("native distance kernels failed to build")
    t["native.build_s"] = time.perf_counter() - t0

    n = cpu_count()
    t0 = time.perf_counter()
    warm = spark.createDataFrame(pd.DataFrame({"k": list(range(n)), "v": [0.0] * n}))
    (warm.repartition(n, "k").groupBy("k")
     .applyInPandas(lambda pdf: pdf, schema="k long, v double")
     .write.format("noop").mode("overwrite").save())
    t["session.worker_warm_s"] = time.perf_counter() - t0
    return spark, t


def residency(spark) -> tuple[int, float]:
    """(persistent RDD count, MB they hold in memory and on disk)."""
    sc = spark.sparkContext
    n = len(sc._jsc.getPersistentRDDs())
    mb = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo()) / 1e6
    return n, mb


def free_blocks(spark) -> None:
    """Drop every cached and checkpointed block a finished query left,
    as bench.py does between samples."""
    spark.catalog.clearCache()
    gc.collect()
    for jrdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        jrdd.unpersist(False)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int | None = None) -> list[int]:
    kids = _children()
    out, todo = [], [pid or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_hwm_mb() -> float:
    """Sum of the peak resident set (VmHWM) of this process and every
    live descendant: the JVM, the Python daemon and its workers."""
    total_kb = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def shutdown(spark) -> None:
    """Stop Spark and the JVM, and wait until every process this run
    started has exited (SIGKILL after 20 s)."""
    from pyspark import SparkContext

    pids = descendants()
    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            gw.shutdown()
            if gw.proc is not None:
                gw.proc.stdin.close()
                try:
                    gw.proc.wait(timeout=20)
                except Exception:
                    gw.proc.kill()
                    gw.proc.wait()
    deadline = time.monotonic() + 20
    killed = False
    while True:
        alive = [p for p in pids if _running(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            if killed:
                raise RuntimeError(f"processes {alive} did not exit")
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 5
        time.sleep(0.05)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie awaiting its reaper."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
