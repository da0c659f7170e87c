"""Dump the formatted physical plan of registered queries, normalized so
that two dumps diff cleanly.

Usage: python tools/explain_all.py <out_dir> <sf_dir> [name ...]

Writes <out_dir>/<name>.txt for every registered query (default) or for
the named ones. Expression ids (``y#123``), RDD ids (``RDD[45]``) and
exchange plan ids (``plan_id=7``) are replaced by placeholders, so a
dump of one checkout diffs against a dump of another with
``diff -r``. Building a plan runs no job for most queries, but a query
that checkpoints or collects on the driver while it is being built does
run those jobs, so a full dump takes minutes.
"""

from __future__ import annotations

import contextlib
import io
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_IDS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
)


def normalize(plan: str) -> str:
    """``plan`` with the ids that differ between two builds of the same
    plan replaced by fixed placeholders."""
    for pattern, repl in _IDS:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    from __spark_entry__ import queries
    from polars_ts_spark.session import free_blocks, get_spark

    out_dir, sf_dir, only = sys.argv[1], sys.argv[2], sys.argv[3:]
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("polars-ts-spark-explain")
    qs = queries()
    unknown = [n for n in only if n not in qs]
    if unknown:
        sys.exit(f"not registered: {', '.join(unknown)}")
    for name in only or list(qs):
        buf = io.StringIO()
        try:
            df = qs[name](spark, sf_dir)
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = normalize(buf.getvalue())
        except Exception as exc:  # noqa: BLE001
            plan = f"EXPLAIN FAILED: {exc}\n"
        with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
            f.write(plan)
        free_blocks(spark)
        print(name, "done", flush=True)


if __name__ == "__main__":
    main()
