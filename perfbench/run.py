#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one client per run.

Run from the root of a checkout of the engine:

    python3 perfbench/run.py --workload etl_roundtrip --seed 1 --seconds 20 --trace 0

``--trace 0`` times one workload with tracing off and prints the
end-to-end metrics. ``--trace 1`` is the separate traced invocation: it
times the named workload untraced, then runs it and every other workload
with Spark's event log on. It prints every per-layer metric, whichever
``--workload`` is named, and the named workload's tracing overhead
(traced minus untraced ``wall_s``). ``--tiny`` shrinks every input; the
self-test uses it.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.

Each run works in a fresh ``.perfbench_tmp/run-*`` directory of the
checkout (warehouse, Derby home, Spark local dirs, table roots, event
log), removes it at exit, and stops the JVM it started.
"""

import time

_T0 = time.perf_counter()  # process start: setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
from wl_curation import LlmCuration  # noqa: E402
from wl_etl import EtlRoundtrip  # noqa: E402
from wl_lakehouse import LakehouseMaintenance  # noqa: E402

WARM_S = 6.0  # full-size warm-up, in seconds at the workload's nominal speed


def iterations_for(wl, seconds: float) -> int:
    """Iterations that take at least ``seconds`` at the workload's nominal
    speed (``ITER_S``). A count, not a deadline: the JVM keeps getting
    faster for tens of seconds after warm-up (ETL iterations fell from
    1.73 s to 1.42 s over the first 25 s), so every run measures the same
    work at the same point of that curve, whatever the host's speed."""
    return max(1, math.ceil(seconds / wl.ITER_S))


WORKLOADS = {w.name: w for w in (EtlRoundtrip, LakehouseMaintenance, LlmCuration)}


class Runner:
    """Owns the run's session, temp root and tally."""

    def __init__(self, args, tmp: str):
        self.args = args
        self.tmp = tmp
        self.spark = None
        self.tally = common.Tally()

    # ---- session lifetime ----------------------------------------------
    def restart(self, event_log: bool = False):
        if self.spark is not None:
            self.spark.stop()
        # a new session has an empty catalog: drop the old managed tables' dirs
        shutil.rmtree(os.path.join(self.tmp, "warehouse"), ignore_errors=True)
        self.spark = common.start_session(self.tmp, event_log=event_log)

    def shutdown(self) -> None:
        common.stop_jvm(self.spark)
        self.spark = None

    def new_workload(self, name: str, idx: int):
        wl = WORKLOADS[name](
            self.spark, os.path.join(self.tmp, f"{name}_{idx}"), self.args.seed, self.args.tiny)
        wl.setup()
        return wl

    # ---- closed loop ---------------------------------------------------
    def run(self, wl, n: int, spans=None) -> list[dict]:
        return [common.run_iteration(wl.ops(), self.tally, spans) for _ in range(n)]

    def warm(self, wl) -> list[float]:
        """Untimed warm-up. The first iteration runs on tiny inputs: it pays
        the one-time costs (class loading, Python worker start, code
        generation), which hardly depend on input size, at a fraction of a
        full iteration's price. Then ``WARM_S`` worth of full-size
        iterations, counted at the workload's nominal speed."""
        t0 = time.perf_counter()
        cold = WORKLOADS[wl.name](self.spark, wl.dir + "_cold", self.args.seed, True)
        cold.setup()
        common.run_iteration(cold.ops(), self.tally)
        return [time.perf_counter() - t0] + [
            r["wall_s"] for r in self.run(wl, iterations_for(wl, WARM_S))]

    # ---- --trace 0 -----------------------------------------------------
    def timed_run(self) -> dict:
        """One cold set-up, the warm-up, then the timed iterations.
        ``setup_s`` runs from process start until the session is up and the
        inputs are generated and staged: imports, JVM launch, ``get_spark``
        and staging. It is taken once, because a second set-up in the same
        process would reuse the running JVM and leave the launch out."""
        args = self.args
        self.restart()
        wl = self.new_workload(args.workload, 0)
        setup_s = time.perf_counter() - _T0
        warm = self.warm(wl)
        probe = common.host_probe()
        runs = self.run(wl, iterations_for(wl, args.seconds))
        probe += common.host_probe()
        med = {k: common.median([r[k] for r in runs]) for k in ("wall_s", "phase1_s", "phase2_s")}
        _diag({
            "workload": args.workload, "setup_s": setup_s, "warmup_s": warm,
            "iterations_s": [r["wall_s"] for r in runs], "host_probe_s": probe,
        })
        return {
            "setup_s": (setup_s, "s"),
            "wall_s": (med["wall_s"], "s"),
            "phase1_s": (med["phase1_s"], "s"),
            "phase2_s": (med["phase2_s"], "s"),
            "peak_rss_mb": (common.peak_rss_mb(self.spark), "MB"),
        }

    # ---- --trace 1 -----------------------------------------------------
    def traced_run(self) -> dict:
        """The named workload untraced, then every workload in a session
        with the event log on: the named one first, timed the same way, so
        the two walls compare; the others get one iteration, enough to emit
        their spans. Every workload is fully warmed first."""
        args = self.args
        t0 = time.perf_counter()
        self.restart()
        get_spark_s = time.perf_counter() - t0
        wl = self.new_workload(args.workload, 0)
        self.warm(wl)
        runs = self.run(wl, iterations_for(wl, args.seconds / 2))
        untraced = common.median([r["wall_s"] for r in runs])

        self.restart(event_log=True)
        spans = common.Spans()
        extra: dict[str, float] = {}
        gc_s = 0.0
        probe = common.host_probe()
        order = [args.workload] + [n for n in WORKLOADS if n != args.workload]
        for name in order:
            wl = self.new_workload(name, 1)
            named = name == args.workload
            self.warm(wl)
            if named:
                common.reset_old_gen_peak(self.spark)
            gc0 = common.jvm_gc_seconds(self.spark)
            runs = self.run(wl, iterations_for(wl, args.seconds / 2) if named else 1, spans)
            gc_s += common.jvm_gc_seconds(self.spark) - gc0
            if named:
                traced = common.median([r["wall_s"] for r in runs])
                old_gen_mb = common.old_gen_peak_mb(self.spark)
            if name == "etl_roundtrip":
                csv_bytes = wl.plain_bytes
            elif name == "lakehouse_maintenance":
                extra.update(wl.files_read_ratios())
            else:
                extra.update(wl.recall)
        probe += common.host_probe()
        events_dir = os.path.join(self.tmp, "events")
        self.spark.stop()
        self.spark = None

        from tracing import attribute, per_span_metrics, read_event_log

        out, by_span = per_span_metrics(attribute(spans.records, *read_event_log(events_dir)))
        out["session.get_spark.s"] = (get_spark_s, "s")
        out["jdbc.csv_to_postgres.scans"] = (
            common.median([r["in_bytes"] for r in by_span["jdbc.csv_to_postgres"]]) / csv_bytes,
            "ratio")
        out["etl.query_to_csv.gzip_single.tasks"] = (
            common.median([r["writers"] for r in by_span["etl.query_to_csv.gzip_single"]]),
            "count")
        for k, v in extra.items():
            out[k] = (v, "ratio")
        out["jvm.gc_s"] = (gc_s, "s")
        out["jvm.old_gen_peak_mb"] = (old_gen_mb, "MB")
        out["host.probe_s"] = (common.median(probe), "s")
        out["trace.overhead_s"] = (traced - untraced, "s")
        _diag({"workload": args.workload, "untraced_wall_s": untraced, "traced_wall_s": traced,
               "host_probe_s": probe})
        return out


def _diag(obj: dict) -> None:
    print("[perfbench] " + json.dumps(obj), file=sys.stderr)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=list(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (self-test)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    checkout = os.getcwd()
    if not os.path.isfile(os.path.join(checkout, "airflow_postgres_csv_spark", "session.py")):
        print("perfbench: run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    sys.path.insert(0, checkout)
    base = os.path.join(checkout, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    common.pin_environment(tmp, checkout)
    runner = Runner(args, tmp)
    try:
        metrics = runner.traced_run() if args.trace else runner.timed_run()
    finally:
        runner.shutdown()
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:  # another run is still using it
            pass
    tally = runner.tally
    print(json.dumps({
        "correct": tally.failed == 0 and tally.attempted > 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
