"""Self-test of the benchmark: every workload's checks pass on tiny inputs,
and a corrupted output or a raised exception counts as a failed operation.

Run from the root of the checkout:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path.insert(0, CHECKOUT)

import common  # noqa: E402
import run  # noqa: E402


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_tiny_run_passes_every_check(workload):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "0.1", "--trace", "0", "--tiny"],
        cwd=CHECKOUT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] > 0
    assert set(result["metrics"]) == {"setup_s", "wall_s", "phase1_s", "phase2_s", "peak_rss_mb"}
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_run_outside_a_checkout_fails_without_a_result(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "etl_roundtrip",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


@pytest.fixture
def etl_runner(tmp_path):
    saved = dict(os.environ)
    common.pin_environment(str(tmp_path), CHECKOUT)
    args = run.parse_args(["--workload", "etl_roundtrip", "--seed", "5", "--seconds", "1",
                           "--tiny"])
    runner = run.Runner(args, str(tmp_path))
    runner.restart()
    try:
        yield runner
    finally:
        runner.shutdown()
        os.environ.clear()
        os.environ.update(saved)


def test_corrupted_output_counts_as_failed_operation(etl_runner):
    wl = etl_runner.new_workload("etl_roundtrip", 0)
    ops = {op.span: op for op in wl.ops()}
    tally = common.Tally()
    for span in ("etl.csv_to_table", "etl.csv_to_table.dialect", "etl.query_to_csv"):
        common.run_op(ops[span], tally)
    assert (tally.attempted, tally.failed) == (3, 0)

    export = ops["etl.query_to_csv"]

    def export_then_drop_a_row():
        out = export.run()
        part = max(glob.glob(os.path.join(wl.out_parts, "part-*")), key=os.path.getsize)
        with open(part) as f:
            lines = f.readlines()
        with open(part, "w") as f:
            f.writelines(lines[:-1])
        return out

    common.run_op(common.Op(export.span, 2, export_then_drop_a_row, export.verify), tally)
    assert (tally.attempted, tally.failed) == (4, 1)

    def export_then_raise():
        raise RuntimeError("engine crashed")

    common.run_op(common.Op(export.span, 2, export_then_raise, export.verify), tally)
    assert (tally.attempted, tally.failed) == (5, 2)

    common.run_op(export, tally)  # the untouched op passes again
    assert (tally.attempted, tally.failed) == (6, 2)
