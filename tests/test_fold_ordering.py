"""Crash ordering of the multi-table streaming folds: a crash between two
publishes of one micro-batch must replay to the state of a run that never
crashed (derived tables publish before the state they derive from)."""

from __future__ import annotations

import json
import os

import pytest

from etl__project_spark.plans.star_load import ParquetWarehouse
from etl__project_spark.streaming import pipeline as P


def _cdc(rows):
    return [{"id": i, "seq": s, "op": op, "v": v} for i, s, op, v in rows]


def _events(rows):
    return [
        {"event_id": e, "ts": f"2024-01-05T10:{m:02d}:{u:02d}", "user_id": u,
         "event_type": t}
        for e, m, u, t in rows
    ]


_WORDS = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo".split()
_TEXTS = [" ".join(_WORDS[(i * 5 + j * 7) % 11] for j in range(30)) for i in range(6)]


def _docs(batch):
    """Batch 0: six distinct texts. Batch 1: a copy of two of them (the
    cross-batch pairs) and one text twice (a within-batch pair)."""
    if batch == 0:
        return [{"doc_id": i, "text": t} for i, t in enumerate(_TEXTS)]
    return [
        {"doc_id": 10, "text": _TEXTS[0]},
        {"doc_id": 11, "text": _TEXTS[3]},
        {"doc_id": 12, "text": "zulu " * 30},
        {"doc_id": 13, "text": "zulu " * 30},
    ]


_EVENTS = [(e, e // 2, 1 + e % 2, "abc"[e % 3]) for e in range(16)]


def _case(name, spark):
    """(start(landing, wh_root, ckpt), [batch rows], [(table, schema)]) —
    tables listed in the order the fold publishes them."""
    if name == "join_view":
        static_a = spark.createDataFrame(
            [(k, 100 + k) for k in range(1, 6)] + [(2, 202)], "id long, av long"
        )
        return (
            lambda *a: P.stream_join_view_cdc(spark, static_a, *a),
            [
                _cdc([(1, 10, "U", 1.0), (2, 10, "U", 2.0), (3, 10, "U", 3.0)]),
                _cdc([(2, 20, "U", 2.5), (4, 20, "U", 4.0), (3, 20, "D", None)]),
            ],
            [("jv_view", P._jv_view_schema(static_a)),
             ("jv_state_b", P.JV_STATE_SCHEMA)],
        )
    if name == "rollup_cdc":
        return (
            lambda *a: P.stream_rollup_cdc(spark, *a),
            [
                _cdc([(3, 10, "U", 5.0), (6, 10, "U", 5.0), (9, 10, "U", 9.0),
                      (1, 10, "U", 1.5), (4, 10, "U", 2.5)]),
                _cdc([(9, 20, "D", None), (3, 20, "D", None), (4, 20, "U", 7.25)]),
            ],
            [("rc_rollup", P.RC_ROLLUP_SCHEMA), ("rc_distinct", P.RC_DISTINCT_SCHEMA),
             ("rc_base", P.JV_STATE_SCHEMA)],
        )
    if name == "dedup_index":
        return (
            lambda *a: P.stream_dedup_index(spark, *a),
            [_docs(0), _docs(1)],
            [("lsh_pairs", P.LSH_PAIRS_SCHEMA), ("lsh_index", P.LSH_INDEX_SCHEMA)],
        )
    if name == "transition_matrix":
        return (
            lambda *a: P.stream_transition_matrix(spark, *a),
            [_events(_EVENTS[:8]), _events(_EVENTS[8:])],
            [("tm_counts", P.TM_COUNTS_SCHEMA), ("tm_cursor", P.TM_CURSOR_SCHEMA)],
        )
    assert name == "bot_screen"
    return (
        lambda *a: P.stream_bot_screen(spark, *a),
        [_events(_EVENTS[:8]), _events(_EVENTS[8:])],
        [("bot_stats", P.BOT_STATS_SCHEMA), ("bot_cursor", P.BOT_CURSOR_SCHEMA)],
    )


def _run(start, root, batch=None, rows=None):
    landing = os.path.join(root, "landing")
    os.makedirs(landing, exist_ok=True)
    if rows is not None:
        with open(os.path.join(landing, f"b{batch}.jsonl"), "w") as fh:
            fh.writelines(json.dumps(r) + "\n" for r in rows)
    q = start(landing, os.path.join(root, "wh"), os.path.join(root, "ckpt"))
    try:
        q.awaitTermination(180)
    finally:
        q.stop()


def _state(spark, root, tables):
    wh = ParquetWarehouse(spark, os.path.join(root, "wh"))
    return {t: sorted(map(tuple, wh.read(t, s).collect())) for t, s in tables}


@pytest.mark.parametrize(
    "name",
    ["join_view", "rollup_cdc", "dedup_index", "transition_matrix", "bot_screen"],
)
def test_crash_before_last_publish_replays_to_uncrashed_state(
    spark, tmp_path, monkeypatch, name
):
    """Batch 1 raises on its last publish (whichever table that is), the
    stream restarts on the same checkpoint, and every table then equals
    an uncrashed run's. Publishing the state before a table derived from
    it would make the replay derive against the advanced state."""
    start, batches, tables = _case(name, spark)
    ref, crashed = str(tmp_path / "ref"), str(tmp_path / "crashed")
    for i, rows in enumerate(batches):
        _run(start, ref, i, rows)
    want = _state(spark, ref, tables)
    assert all(want.values()), want  # non-vacuous: every table has rows

    _run(start, crashed, 0, batches[0])
    real = ParquetWarehouse.publish_merged
    seen = []

    def crash_on_last(self, table, delta, schema, batch_id, merge_fn):
        if batch_id.split(":")[0] == "1":
            seen.append(table)
            if len(seen) == len(tables):
                raise RuntimeError(f"injected crash before publishing {table}")
        return real(self, table, delta, schema, batch_id, merge_fn)

    monkeypatch.setattr(ParquetWarehouse, "publish_merged", crash_on_last)
    with pytest.raises(Exception, match="injected crash"):
        _run(start, crashed, 1, batches[1])
    monkeypatch.undo()
    assert len(seen) == len(tables)

    _run(start, crashed)  # replays batch 1 from the checkpoint
    assert _state(spark, crashed, tables) == want
