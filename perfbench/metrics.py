"""Pure metric logic: latency percentiles, interval arithmetic for
overlap-aware self time, and Spark event-log parsing. No Spark imports,
so the unit tests run without a JVM."""

from __future__ import annotations

import json
import math
from collections.abc import Iterable

# A failed op is slower than any success: it never met any latency limit.
FAILED = math.inf
P90_MIN_OPS = 100


def percentile(latencies: list[float], q: float) -> float | None:
    """Nearest-rank percentile (``q`` in (0, 1]) over op latencies where a
    failed op is ``FAILED``. Returns None when the percentile lands on a
    failed op, so fixing a failure can only lower (improve) the value."""
    if not latencies:
        return None
    ranked = sorted(latencies)
    value = ranked[max(0, math.ceil(q * len(ranked)) - 1)]
    return None if value == FAILED else value


def median(latencies: list[float]) -> float | None:
    """Median with failed ops ranked slowest; the mean of the two middle
    values for an even count (None if either is a failure)."""
    if not latencies:
        return None
    ranked = sorted(latencies)
    n = len(ranked)
    mid = ranked[(n - 1) // 2 : n // 2 + 1]
    if FAILED in mid:
        return None
    return sum(mid) / len(mid)


def op_p90(latencies: list[float]) -> float | None:
    """p90, reported only when at least ``P90_MIN_OPS`` ops support it."""
    if len(latencies) < P90_MIN_OPS:
        return None
    return percentile(latencies, 0.9)


def kind_median_mean(values: list[float], kinds: list[str]) -> float | None:
    """The mean over op kinds of each kind's median (failed ops ranked
    slowest; None if any kind's median is a failure). A run whose op mix
    has kinds of very different cost lands on the same figure whichever
    op the overall median would fall on."""
    by_kind: dict[str, list[float]] = {}
    for v, k in zip(values, kinds):
        by_kind.setdefault(k, []).append(v)
    medians = [median(v) for v in by_kind.values()]
    if not medians or None in medians:
        return None
    return sum(medians) / len(medians)


def late_window(latencies: list[float]) -> list[float]:
    """The last quarter of ops (at least one), in run order."""
    if not latencies:
        return []
    return latencies[len(latencies) - max(1, len(latencies) // 4) :]


# --- intervals ---------------------------------------------------------------


def union(intervals: Iterable[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge possibly-overlapping [start, end) intervals."""
    out: list[tuple[float, float]] = []
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if out and s <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], e))
        else:
            out.append((s, e))
    return out


def measure(intervals: Iterable[tuple[float, float]]) -> float:
    return sum(e - s for s, e in union(intervals))


def subtract(
    span: tuple[float, float], holes: Iterable[tuple[float, float]]
) -> list[tuple[float, float]]:
    """``span`` minus the union of ``holes``, as disjoint intervals."""
    out, cur = [], span[0]
    for s, e in union(holes):
        s, e = max(s, span[0]), min(e, span[1])
        if e <= s:
            continue
        if s > cur:
            out.append((cur, s))
        cur = max(cur, e)
    if cur < span[1]:
        out.append((cur, span[1]))
    return out


def clip(
    intervals: Iterable[tuple[float, float]], window: tuple[float, float]
) -> list[tuple[float, float]]:
    return [
        (max(s, window[0]), min(e, window[1]))
        for s, e in intervals
        if min(e, window[1]) > max(s, window[0])
    ]


def self_intervals(spans: list[dict]) -> dict[int, list[tuple[float, float]]]:
    """Per span index, the part of its interval no child span covers.
    Children (``parent`` = that index) may overlap one another, e.g. the
    concurrent dim publishes; their union is subtracted once."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    return {
        i: subtract((sp["start"], sp["end"]), children.get(i, []))
        for i, sp in enumerate(spans)
    }


def layer_times(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per span name: ``s`` = union of its spans' intervals (inclusive
    time, overlapping siblings merged) and ``self_s`` = union of their
    self intervals."""
    selfs = self_intervals(spans)
    by_name: dict[str, tuple[list, list]] = {}
    for i, sp in enumerate(spans):
        whole, own = by_name.setdefault(sp["name"], ([], []))
        whole.append((sp["start"], sp["end"]))
        own.extend(selfs[i])
    return {
        name: {"s": measure(whole), "self_s": measure(own)}
        for name, (whole, own) in by_name.items()
    }


# --- Spark event log ---------------------------------------------------------


def parse_event_log(lines: Iterable[str]) -> dict[str, list[dict]]:
    """Jobs, stages and tasks from a Spark JSON event log. Times are epoch
    seconds; task ``empty`` means it read no input and no shuffle records."""
    jobs: dict[int, dict] = {}
    stages, tasks = [], []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = {"submit": ev["Submission Time"] / 1000.0}
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" in info:
                stages.append(
                    {
                        "submit": info["Submission Time"] / 1000.0,
                        "tasks": info.get("Number of Tasks", 0),
                    }
                )
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            records = (m.get("Input Metrics") or {}).get("Records Read", 0) + (
                m.get("Shuffle Read Metrics") or {}
            ).get("Total Records Read", 0)
            tasks.append(
                {
                    "launch": info["Launch Time"] / 1000.0,
                    "finish": info["Finish Time"] / 1000.0,
                    "run_s": m.get("Executor Run Time", 0) / 1000.0,
                    "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    ),
                    "empty": records == 0,
                    "retry": info.get("Attempt", 0) > 0 or info.get("Failed", False),
                }
            )
    return {
        "jobs": [j for j in jobs.values() if "end" in j],
        "stages": stages,
        "tasks": tasks,
    }


def spark_counters(log: dict[str, list[dict]], window: tuple[float, float]) -> dict:
    """Event-log counters for one span window (epoch seconds): jobs and
    stages by submit time, tasks by launch time, and the driver gap = the
    window's wall time during which no task ran."""
    lo, hi = window

    def inside(t: float) -> bool:
        return lo <= t < hi

    tasks = [t for t in log["tasks"] if inside(t["launch"])]
    busy = measure(clip([(t["launch"], t["finish"]) for t in log["tasks"]], window))
    n_tasks = len(tasks)
    return {
        "spark.jobs": sum(1 for j in log["jobs"] if inside(j["submit"])),
        "spark.stages": sum(1 for s in log["stages"] if inside(s["submit"])),
        "spark.tasks": n_tasks,
        "spark.empty_tasks_frac": (
            sum(t["empty"] for t in tasks) / n_tasks if n_tasks else 0.0
        ),
        "spark.executor_run_s": sum(t["run_s"] for t in tasks),
        "spark.driver_gap_s": max(0.0, (hi - lo) - busy),
        "spark.shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
        "spark.task_retries": sum(t["retry"] for t in tasks),
    }
