"""Smoke test of the benchmark itself: every workload on the bundled
sf0.001 tables, one cold and one warm pass each (~3 min on 4 cores).

Run from the checkout root:  python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import E2E_UNITS, PRINTED_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def test_smoke_prints_every_metric_with_unit_and_no_failures():
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "all",
         "--smoke", "--seconds", "1", "--seed", "7"],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, timeout=900)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    # human-readable "<name> <value> <unit>" lines precede the JSON line
    printed = {}
    for ln in lines[:-1]:
        parts = ln.split()
        if len(parts) == 3:
            printed[parts[0]] = (float(parts[1]), parts[2])

    assert printed["setup_s"][1] == "s"
    for wl in WORKLOADS:
        for name, unit in {**E2E_UNITS, **PRINTED_UNITS}.items():
            assert printed[f"{wl}.{name}"][1] == unit, (wl, name)
        assert printed[f"{wl}.fail_ratio"] == (0.0, "ratio")
    assert result["correct"] is True
    assert result["failed"] == 0
    assert result["attempted"] >= 2 * sum(len(w["queries"]) for w in WORKLOADS.values())
    for name, m in result["metrics"].items():
        assert m["value"] > 0, name
