"""Record the expected output digests the benchmark checks against.

For each workload query, the digest comes from the query's DuckDB
oracle when the oracle finishes within ``--oracle-timeout`` seconds.
The recursive-CTE replay oracles can take minutes; for those, the
Spark result is recorded instead, and only after the same query has
matched its oracle on the next smaller bundled dataset.

Usage (from the checkout root):
    python3 perfbench/record_expected.py sf0.01 [--oracle-timeout 60]
    python3 perfbench/record_expected.py sf0.001
Writes perfbench/expected/<data>.json.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from digest import digest  # noqa: E402
from harness import DATA, HERE, TABLES, Workspace, shutdown, start_session  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SMALLER = {"sf0.01": "sf0.001"}


def _oracle(sql: str, data_dir: str, timeout_s: float):
    """Run ``sql`` on DuckDB over ``data_dir``; None if it ran too long."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    timer = threading.Timer(timeout_s, con.interrupt)
    timer.start()
    try:
        return con.execute(sql).df()
    except duckdb.InterruptException:
        return None
    finally:
        timer.cancel()
        con.close()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("data", choices=sorted(DATA))
    ap.add_argument("--oracle-timeout", type=float, default=60.0)
    ns = ap.parse_args()

    with Workspace("record") as ws:
        spark, _ = start_session(ws, "perfbench-record", ui=False)
        from __spark_entry__ import oracle_sql, queries

        qs, sqls = queries(), oracle_sql()
        out, bad = {}, []
        for wl in WORKLOADS.values():
            for name in wl["queries"]:
                got = digest(qs[name](spark, DATA[ns.data]).toPandas())
                t0 = time.perf_counter()
                odf = _oracle(sqls[name], DATA[ns.data], ns.oracle_timeout)
                if odf is not None:
                    want, source = digest(odf), "duckdb"
                else:
                    small = SMALLER.get(ns.data)
                    if small is None:
                        bad.append(f"{name}: oracle timed out and no smaller data")
                        continue
                    s_got = digest(qs[name](spark, DATA[small]).toPandas())
                    s_want = _oracle(sqls[name], DATA[small], 10 * ns.oracle_timeout)
                    if s_want is None or digest(s_want) != s_got:
                        bad.append(f"{name}: does not match its oracle at {small}")
                        continue
                    want, source = got, f"spark (oracle match at {small})"
                if got != want:
                    bad.append(f"{name}: spark {got} != oracle {want}")
                print(f"{name:30s} {source:32s} rows={want['rows']:<7d} "
                      f"oracle {time.perf_counter() - t0:6.1f}s "
                      f"{'ok' if got == want else 'MISMATCH'}", flush=True)
                out[name] = {**want, "source": source}
        shutdown(spark)

    path = os.path.join(HERE, "expected", f"{ns.data}.json")
    with open(path, "w") as f:
        json.dump({"data": ns.data, "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {path}")
    for line in bad:
        print("FAIL", line)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
