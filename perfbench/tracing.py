"""Per-layer numbers for the traced run, read from Spark's event log.

The benchmark records each op's wall-clock window (``common.Spans``).
A Spark job is attributed to the op whose window holds its submission, a
task to the op whose window holds its launch: ops never overlap in a
closed loop, and job groups cannot be used because the engine sets its own
(``operators/timeout.py``).
Everything is read after the session stops, so the timed ops pay only
for the event log itself.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import statistics

MB = 1024.0 * 1024.0
# spans that report bytes read + written, and spans whose plans never shuffle
IO_SPANS = ("etl.", "jdbc.", "snapshots.snapshot_commit", "snapshots.snapshot_compact")
NO_SHUFFLE_SPANS = ("etl.", "jdbc.postgres_to_csv", "snapshots.snapshot_scan",
                    "snapshots.snapshot_lookup")


def read_event_log(events_dir: str) -> tuple[list[dict], list[dict]]:
    """Jobs (submit/complete ms) and finished tasks (launch ms, metrics)."""
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    files = sorted(glob.glob(os.path.join(events_dir, "**", "events_*"), recursive=True))
    files += [p for p in glob.glob(os.path.join(events_dir, "*")) if os.path.isfile(p)]
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {
                        "submit": ev["Submission Time"], "end": ev["Submission Time"]}
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(_task(ev))
    return list(jobs.values()), tasks


def _task(ev: dict) -> dict:
    m = ev.get("Task Metrics") or {}
    out_b = (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return {
        "launch": (ev.get("Task Info") or {}).get("Launch Time", 0),
        "task_s": m.get("Executor Run Time", 0) / 1000.0,
        "in_b": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
        "out_b": out_b,
        "shuffle_b": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "writers": 1 if out_b > 0 else 0,
    }


def _window_of(spans: list[tuple], starts: list[float], t_ms: float) -> int:
    """Index of the span holding ``t_ms``, or -1. Event times are whole
    milliseconds, so windows are widened by 1 ms on each side."""
    i = bisect.bisect_right(starts, t_ms + 1.0) - 1
    return i if i >= 0 and t_ms <= spans[i][2] * 1000.0 + 1.0 else -1


def attribute(spans: list[tuple], jobs: list[dict], tasks: list[dict]) -> list[dict]:
    """One record per span: wall seconds, seconds no job covers, jobs,
    task seconds, shuffle and I/O bytes, and tasks that wrote output.
    A job belongs to the span holding its submission, a task to the span
    holding its launch."""
    spans = sorted(spans, key=lambda s: s[1])
    starts = [s[1] * 1000.0 for s in spans]
    per = [{"jobs": [], "task_s": 0.0, "in_b": 0, "out_b": 0, "shuffle_b": 0, "writers": 0}
           for _ in spans]
    for job in jobs:
        i = _window_of(spans, starts, job["submit"])
        if i >= 0:
            per[i]["jobs"].append(job)
    for task in tasks:
        i = _window_of(spans, starts, task["launch"])
        if i >= 0:
            for k in ("task_s", "in_b", "out_b", "shuffle_b", "writers"):
                per[i][k] += task[k]
    out = []
    for (name, start, end), acc in zip(spans, per):
        covered = _union_ms([(j["submit"], j["end"]) for j in acc["jobs"]],
                            start * 1000.0, end * 1000.0)
        out.append({
            "span": name, "s": end - start,
            "driver_s": max(0.0, (end - start) - covered / 1000.0),
            "jobs": len(acc["jobs"]), "task_s": acc["task_s"],
            "shuffle_mb": acc["shuffle_b"] / MB, "io_mb": (acc["in_b"] + acc["out_b"]) / MB,
            "in_bytes": acc["in_b"], "writers": acc["writers"],
        })
    return out


def _union_ms(intervals: list[tuple], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def per_span_metrics(recs: list[dict]) -> tuple[dict, dict]:
    """Median of each span's fields over its occurrences, as
    ``{metric: (value, unit)}``, plus the records grouped by span."""
    by_span: dict[str, list[dict]] = {}
    for r in recs:
        by_span.setdefault(r["span"], []).append(r)
    out: dict[str, tuple] = {}
    for span, rs in by_span.items():
        def med(key):
            return float(statistics.median(r[key] for r in rs))
        out[f"{span}.s"] = (med("s"), "s")
        out[f"{span}.driver_s"] = (med("driver_s"), "s")
        out[f"{span}.jobs"] = (med("jobs"), "count")
        out[f"{span}.task_s"] = (med("task_s"), "s")
        if not span.startswith(NO_SHUFFLE_SPANS):
            out[f"{span}.shuffle_mb"] = (med("shuffle_mb"), "MB")
        if span.startswith(IO_SPANS):
            out[f"{span}.io_mb"] = (med("io_mb"), "MB")
    return out, by_span
