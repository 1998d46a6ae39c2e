"""Smoke runs of the benchmark at tiny sizes, through its command line.

Run from the repository root:

    python3 -m pytest cdcbench/tests -q

Each case starts its own Spark session (about a minute each).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from cdcbench.run import LAYER_UNITS, PRINTED_LAYER, UNITS  # noqa: E402


def bench(*args: str) -> tuple[int, dict, dict]:
    """(exit code, result line, detail file) of one tiny run."""
    argv = [sys.executable, "cdcbench/run.py", "--seconds", "15", "--size", "tiny", *args]
    proc = subprocess.run(argv, cwd=ROOT, capture_output=True, text=True, timeout=600)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    opts = dict(zip(args[::2], args[1::2]))
    name = f"{opts['--workload']}-seed{opts['--seed']}-trace{opts.get('--trace', '0')}"
    with open(os.path.join(ROOT, ".cdcbench", "runs", name + ("-fault" if "--fault" in args else "") + ".json")) as f:
        detail = json.load(f)
    return proc.returncode, result, detail


@pytest.mark.parametrize("workload", ["tail", "backfill"])
def test_untraced_run_reports_every_end_to_end_metric(workload):
    code, result, detail = bench("--workload", workload, "--seed", "3", "--trace", "0")
    assert code == 0 and result["correct"] and result["failed"] == 0, detail["failures"]
    assert set(result["metrics"]) == set(UNITS)
    for name, m in result["metrics"].items():
        assert m["unit"] == UNITS[name] and m["value"] > 0, name
    assert len(json.dumps(result)) < 1000  # the last line stays short


def test_traced_run_buckets_add_up_to_the_wall():
    code, result, detail = bench("--workload", "tail", "--seed", "4", "--trace", "1")
    assert code == 0 and result["correct"], detail["failures"]
    assert list(result["metrics"]) == PRINTED_LAYER
    assert set(detail["per_layer"]) == set(LAYER_UNITS)
    assert len(json.dumps(result, separators=(",", ":"))) < 2000
    buckets = detail["time_buckets"]
    assert buckets["buckets_sum_s"] == pytest.approx(buckets["wall_s"])
    # no bucket double-counts: what is left over is a small, non-negative share
    assert 0 <= buckets["buckets_s"]["other_s"] < 0.2 * buckets["wall_s"]
    assert result["metrics"]["sink.events"]["value"] > 0
    assert detail["per_layer"]["compact.calls"] > 0  # a compaction epoch was measured


def test_fault_mode_fails_the_run():
    code, result, detail = bench("--workload", "backfill", "--seed", "3", "--trace", "0", "--fault")
    assert code != 0
    assert not result["correct"] and result["failed"] == result["attempted"]
    assert detail["failures"] == ["table differs from current_state"]
