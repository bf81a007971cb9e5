"""Unit tests for the benchmark's own logic (no Spark needed).

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as m  # noqa: E402
import probe  # noqa: E402
from tracing import Tracer  # noqa: E402

F = m.FAILED


def test_failed_op_ranks_slowest_in_every_percentile():
    ok = [1.0, 2.0, 3.0, 4.0]
    assert m.median(ok) == 2.5
    # a failure is slower than any success: it shifts the median up ...
    assert m.median([1.0, 2.0, 3.0, F, 4.0]) == 3.0
    # ... and a percentile landing on a failure reports no value at all
    assert m.percentile([1.0, F, F], 0.9) is None
    assert m.median([F, F, 1.0]) is None
    # fixing the failure can only lower every percentile
    lat_bad = [5.0, 1.0, F, 2.0, 9.0]
    lat_fixed = [5.0, 1.0, 30.0, 2.0, 9.0]
    for q in (0.5, 0.75, 0.9):
        bad, fixed = m.percentile(lat_bad, q), m.percentile(lat_fixed, q)
        assert bad is None or fixed <= bad


def test_p90_needs_100_ops():
    assert m.op_p90([1.0] * 99) is None
    lat = [float(i) for i in range(1, 101)]
    assert m.op_p90(lat) == 90.0


def test_kind_median_mean():
    # two kinds of very different cost: the overall median would sit on
    # whichever kind has one more op; the per-kind medians do not move
    kinds = ["a", "b", "a", "b", "a", "b", "a"]
    vals = [1.0, 10.0, 1.2, 11.0, 0.8, 12.0, 1.1]
    assert m.kind_median_mean(vals, kinds) == (1.05 + 11.0) / 2
    assert m.kind_median_mean([], []) is None
    # a kind whose median is a failure makes the figure None
    assert m.kind_median_mean([1.0, F, F], ["a", "b", "b"]) is None
    assert m.kind_median_mean([1.0, F, 2.0, 3.0], ["a", "b", "b", "b"]) == (1.0 + 3.0) / 2


def test_late_window_is_last_quarter():
    assert m.late_window([]) == []
    assert m.late_window([7.0]) == [7.0]
    assert m.late_window([1.0, 2.0, 3.0]) == [3.0]
    lat = [float(i) for i in range(12)]
    assert m.late_window(lat) == [9.0, 10.0, 11.0]
    assert m.median(m.late_window(lat)) == 10.0


def _span(name, start, end, parent):
    return {"name": name, "start": start, "end": end, "parent": parent}


def test_self_time_is_overlap_aware():
    spans = [
        _span("op", 0.0, 10.0, None),
        _span("load", 1.0, 9.0, 0),
        # two concurrent publishes under load overlap on [3, 4]
        _span("publish", 2.0, 4.0, 1),
        _span("publish", 3.0, 6.0, 1),
        _span("checkpoint", 7.0, 8.0, 1),
    ]
    t = m.layer_times(spans)
    assert t["op"]["self_s"] == 2.0
    assert t["load"]["self_s"] == 8.0 - 4.0 - 1.0
    assert t["publish"]["s"] == 4.0  # merged, not 2 + 3
    assert t["publish"]["self_s"] == 4.0
    assert t["checkpoint"]["s"] == 1.0
    # self times account for the op's wall time exactly
    assert sum(v["self_s"] for v in t.values()) == 10.0


def test_interval_helpers():
    assert m.union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
    assert m.subtract((0, 10), [(2, 3), (2.5, 5), (9, 12)]) == [(0, 2), (5, 9)]
    assert m.clip([(-1, 1), (5, 20)], (0, 10)) == [(0, 1), (5, 10)]


CANNED_LOG = [
    {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
    {
        "Event": "SparkListenerTaskEnd",
        "Task Info": {"Launch Time": 1100, "Finish Time": 1600, "Attempt": 0, "Failed": False},
        "Task Metrics": {
            "Executor Run Time": 450,
            "Input Metrics": {"Records Read": 10},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 300},
        },
    },
    {
        "Event": "SparkListenerTaskEnd",
        "Task Info": {"Launch Time": 1200, "Finish Time": 1400, "Attempt": 1, "Failed": False},
        "Task Metrics": {
            "Executor Run Time": 150,
            "Input Metrics": {"Records Read": 0},
            "Shuffle Read Metrics": {"Total Records Read": 0},
        },
    },
    {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {"Submission Time": 1050, "Completion Time": 1650, "Number of Tasks": 2},
    },
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1700},
    # a job outside the window
    {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 5000},
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 5100},
]


def test_event_log_parsing_and_window_attribution():
    log = m.parse_event_log(json.dumps(e) for e in CANNED_LOG)
    assert len(log["jobs"]) == 2 and len(log["tasks"]) == 2 and len(log["stages"]) == 1
    c = m.spark_counters(log, (1.0, 2.0))
    assert c["spark.jobs"] == 1
    assert c["spark.stages"] == 1
    assert c["spark.tasks"] == 2
    assert c["spark.empty_tasks_frac"] == 0.5
    assert abs(c["spark.executor_run_s"] - 0.6) < 1e-9
    assert c["spark.shuffle_write_bytes"] == 300
    assert c["spark.task_retries"] == 1
    # window is 1 s; tasks cover [1.1, 1.6] -> 0.5 s with no task running
    assert abs(c["spark.driver_gap_s"] - 0.5) < 1e-9


def test_tracer_parents_across_threads():
    tr = Tracer()
    with tr.span("op"):
        with tr.span("load"):
            def pool_work():
                with tr.span("publish"):
                    time.sleep(0.01)

            threads = [threading.Thread(target=pool_work) for _ in range(3)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
    names = [s["name"] for s in tr.spans]
    assert names[:2] == ["op", "load"]
    assert all(s["parent"] == 1 for s in tr.spans if s["name"] == "publish")
    (tree,) = tr.op_trees("op")
    assert len(tree) == 5
    (row,) = tr.per_op("op", None)
    assert abs(row["self_sum_s"] - row["wall_s"]) < 1e-6


def test_disk_probe(tmp_path):
    dim = tmp_path / "dimtitle"
    (dim / "v2").mkdir(parents=True)
    (dim / "CURRENT").write_text("2")
    for name in ("v1.claim", "v2.claim", "v3.claim"):
        (dim / name).write_text("")
    for i in range(3):
        (dim / "v2" / f"base-1-part-{i}.parquet").write_bytes(b"x" * 10)
    fact = tmp_path / "factvideostart"
    (fact / "batch=0").mkdir(parents=True)
    (fact / "compact-1").mkdir()
    (fact / "compacting-2").mkdir()
    out = probe.disk_probe(str(tmp_path))
    assert out["claims_held"] == 1  # v3 has no committed CURRENT
    assert out["dim_files_current"] == 3
    assert out["fact_live_dirs"] == 2
    assert out["file_name_len_max"] == len("base-1-part-0.parquet")
    assert out["tables"]["dimtitle"] == 7
    assert out["bytes"] == 30 + 1


def test_cpu_between_splits_out_jit_threads():
    # process totals 10 -> 25 s; JIT threads: 7 and 8 run on, 9 ended
    # (a retired compiler thread), 11 is new
    a = (10.0, {7: 3.0, 8: 1.0, 9: 2.0})
    b = (25.0, {7: 6.0, 8: 1.5, 11: 0.5})
    assert probe.cpu_between(a, b) == (15.0, 3.0 + 0.5 + 0.5)
    # set-up is measured from the zero sample
    assert probe.cpu_between(probe.ZERO_CPU, a) == (10.0, 6.0)
    # this process has no JIT threads of its own
    total, jit_threads = probe.cpu_sample(None)
    assert total > 0 and jit_threads == {}


def test_stream_model_counts_distinct_kept_rows(tmp_path):
    import duckdb

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from gen import write_csv
    from workloads import _parsed_model

    rows = [
        ("2024-01-01T00:00:31.000Z", "Android App|Clips|view", "127,157,206"),
        ("2024-01-01T00:00:31.000Z", "Android App|Clips|view", "127,157,206"),  # re-sent
        ("2024-01-01T00:01:02.000Z", "news|click", "1206,2060"),  # no 206 token
        ("2024-01-01T00:02:00.000Z", "no pipe title view", "206"),  # no pipe
        ("2024-01-01T00:03:00.000Z", "iPad|today;2017|error", "206"),
    ]
    write_csv(str(tmp_path / "a.csv"), rows[:3])
    write_csv(str(tmp_path / "b.csv"), rows[1:])
    got = duckdb.connect().execute(_parsed_model([str(tmp_path / "*.csv")])).fetchall()
    assert sorted(got) == [
        ("2024-01-01T00:00", "Android", None, "view"),
        ("2024-01-01T00:03", "iPad", None, "error"),
    ]
