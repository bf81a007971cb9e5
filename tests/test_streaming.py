"""Streaming star load (T1-T5): file-source ingestion, exactly-once across
re-delivered/overlapping files, dim continuity across micro-batches."""

from __future__ import annotations

import os

import pytest

from etl__project_spark.plans.star_load import FACT_SCHEMA, ParquetWarehouse, audit
from etl__project_spark.streaming import stream_star_load

CSV_HEADER = "DateTime,VideoTitle,events\n"


def _write_csv(path: str, rows: list[str]) -> None:
    with open(path, "w") as fh:
        fh.write(CSV_HEADER)
        for r in rows:
            fh.write(r + "\n")


def _run(spark, landing, wh_root, ckpt):
    q = stream_star_load(spark, landing, wh_root, ckpt, available_now=True)
    q.awaitTermination(120)
    q.stop()


def _star_rows(spark, wh_root):
    """The fact left-joined to its dims (a null skey stays null), as
    sorted natural-key tuples."""
    from etl__project_spark.plans.star_load import DIM_SPECS, _dim_schema

    wh = ParquetWarehouse(spark, wh_root)
    fact = wh.read_fact("factvideostart", FACT_SCHEMA)
    for table, nk, skey in DIM_SPECS:
        fact = fact.join(wh.read(table, _dim_schema(nk, skey)), skey, "left")
    rows = fact.select(*[nk for _, nk, _ in DIM_SPECS]).collect()
    return sorted(map(tuple, rows), key=str)


def test_processing_time_trigger_matches_available_now(spark, tmp_path):
    """SURVEY.md T3: the reference's scheduled task maps to a
    ``processingTime`` cadence. A file landed into a running cadence
    stream loads the same star as an ``availableNow`` drain of it."""
    rows = [
        '2017-01-11T00:00:31.000Z,Android App|video A,"127,206"',
        "2017-01-11T00:01:01.000Z,news|video B,206",
        "2017-01-12T10:00:00.000Z,iPad|video A,206",
    ]
    drained = tmp_path / "drained"
    os.makedirs(drained / "landing")
    _write_csv(str(drained / "landing" / "f1.csv"), rows)
    _run(spark, str(drained / "landing"), str(drained / "wh"), str(drained / "ckpt"))

    cadence = tmp_path / "cadence"
    os.makedirs(cadence / "landing")
    q = stream_star_load(
        spark,
        str(cadence / "landing"),
        str(cadence / "wh"),
        str(cadence / "ckpt"),
        available_now=False,
        processing_time="1 second",
    )
    try:
        _write_csv(str(cadence / "f1.csv"), rows)
        os.rename(cadence / "f1.csv", cadence / "landing" / "f1.csv")
        q.processAllAvailable()
        assert q.isActive  # a cadence stream runs until stopped
    finally:
        q.stop()
    star = _star_rows(spark, str(cadence / "wh"))
    assert len(star) == 3
    assert star == _star_rows(spark, str(drained / "wh"))


def test_streaming_exactly_once(spark, tmp_path):
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    _write_csv(
        os.path.join(landing, "f1.csv"),
        [
            '2017-01-11T00:00:31.000Z,Android App|video A,"127,206"',
            "2017-01-11T00:01:01.000Z,news|video B,206",
        ],
    )
    _run(spark, landing, wh_root, ckpt)
    wh = ParquetWarehouse(spark, wh_root)
    first = audit(wh)
    assert first["factvideostart"] == 2
    assert first["dimplatform"] == 2

    # second file overlaps row 1 entirely (re-delivery) and adds one row
    _write_csv(
        os.path.join(landing, "f2.csv"),
        [
            '2017-01-11T00:00:31.000Z,Android App|video A,"127,206"',
            "2017-01-12T10:00:00.000Z,iPad|video C,206",
        ],
    )
    _run(spark, landing, wh_root, ckpt)
    second = audit(wh)
    # T5: the overlapping row must NOT produce a second fact
    assert second["factvideostart"] == 3
    assert second["dimdate"] == 3
    assert second["dimplatform"] == 3

    # re-running with no new files changes nothing (checkpoint = T1)
    _run(spark, landing, wh_root, ckpt)
    assert audit(wh) == second

    # dims stayed dense through all micro-batches
    dimdate = wh.read("dimdate", None)  # type: ignore[arg-type]
    skeys = sorted(r["datetime_skey"] for r in dimdate.collect())
    assert skeys == [0, 1, 2]

    fact = wh.read_fact("factvideostart", FACT_SCHEMA)
    assert fact.filter("datetime_skey IS NULL").count() == 0

    # O(batch) ingest: 'credit' is append-only batch directories — batch
    # N's write volume is its own fresh rows, independent of history size
    # (no full-table v<N> snapshots rewritten per micro-batch).
    credit_dir = os.path.join(wh_root, "credit")
    batch_dirs = sorted(d for d in os.listdir(credit_dir) if d.startswith("batch="))
    assert len(batch_dirs) == 2  # two non-empty micro-batches landed
    assert not any(d.startswith("v") for d in os.listdir(credit_dir))
    per_batch = [
        spark.read.parquet(os.path.join(credit_dir, d)).count() for d in batch_dirs
    ]
    # batch 1 wrote ONLY its 1 fresh row (the overlap row was anti-joined
    # out), not the 3-row cumulative history
    assert sorted(per_batch) == [1, 2]

    # streaming-maintained serving rollup: counts per minute, merged
    # incrementally per batch, must equal a recompute over landed raws —
    # and the re-delivered overlap row must not double-count
    from etl__project_spark.streaming.pipeline import ROLLUP_SCHEMA

    rollup = {
        r["minute"]: r["n"] for r in wh.read("rollup_minute", ROLLUP_SCHEMA).collect()
    }
    assert rollup == {
        "2017-01-11T00:00": 1,
        "2017-01-11T00:01": 1,
        "2017-01-12T10:00": 1,
    }
    # replaying an already-merged batch id is a no-op
    from pyspark.sql import functions as F

    part = (
        spark.read.parquet(os.path.join(credit_dir, batch_dirs[0]))
        .groupBy(F.substring("DateTime", 1, 16).alias("minute"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from etl__project_spark.operators.rollup import merge_rollups

    assert (
        wh.publish_merged(
            "rollup_minute",
            part,
            ROLLUP_SCHEMA,
            batch_dirs[0].split("=", 1)[1],
            lambda e, d: merge_rollups(e, d, ["minute"], {"n": F.sum}),
        )
        is False
    )


def test_streaming_star_load_consults_maintained_stats_mid_stream(
    spark, tmp_path, monkeypatch
):
    """VERDICT r10 #4: the streaming star load reads the maintained
    planner statistics EVERY micro-batch — a dim whose ANALYZE NDV
    state grows past the broadcast limit between two batches flips the
    NEXT batch's fact build from broadcast to the salted shuffle,
    inside the micro-batch (the executed plan of the actual fact frame
    is captured via the real build_fact), exactly as load_batch's batch
    path does. Until then every dim broadcasts and the plan carries no
    salt explode."""
    from etl__project_spark.operators.quality import column_value_partial
    from etl__project_spark.plans import star_load as sl_mod
    from pyspark.sql import functions as F

    landing = str(tmp_path / "js_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "js_wh")
    ckpt = str(tmp_path / "js_ckpt")

    plans: list[str] = []
    real_build_fact = sl_mod.build_fact

    def capturing_build_fact(*args, **kwargs):
        fact = real_build_fact(*args, **kwargs)
        plans.append(fact._jdf.queryExecution().executedPlan().toString())
        return fact

    monkeypatch.setattr(sl_mod, "build_fact", capturing_build_fact)

    stats_sources = ({}, {"title_skey": ("dim_stats_state", "video")})

    def run(fname, rows):
        _write_csv(os.path.join(landing, fname), rows)
        q = stream_star_load(
            spark,
            landing,
            wh_root,
            ckpt,
            available_now=True,
            join_stats_sources=stats_sources,
            broadcast_row_limit=2000,
        )
        q.awaitTermination(120)
        q.stop()

    # batch 1: no maintained state yet -> all four dims broadcast
    run("f1.csv", ['2017-01-11T00:00:31.000Z,Android App|video A,"127,206"'])
    assert len(plans) == 1
    assert plans[0].count("BroadcastHashJoin") >= 4
    assert "explode" not in plans[0].lower()

    # the title dim outgrows broadcast MID-STREAM: the maintained
    # ANALYZE state now shows 4000 live distinct titles (> limit 2000)
    wh = ParquetWarehouse(spark, wh_root)
    big_dim_rows = spark.createDataFrame(
        [(f"video {i}",) for i in range(4000)], "video string"
    ).withColumn("sign", F.lit(1))
    wh.publish("dim_stats_state", column_value_partial(big_dim_rows, ["video"]))

    # batch 2: the very next micro-batch flips ONLY the title lookup —
    # the salt explode is the signature of build_fact's salted path (the
    # un-hinted join may still end up broadcast at THIS dim size under
    # AQE's own estimate; what the stats control is the explicit-
    # broadcast-vs-salted ROUTE, pinned plan-level by the unit test
    # tests/test_fact.py::test_join_stats_flip_broadcast_to_salted_plan)
    run("f2.csv", ["2017-01-12T10:00:00.000Z,iPad|video B,206"])
    assert len(plans) == 2
    assert "explode" in plans[1].lower(), "mid-stream NDV growth did not flip the plan"

    # and the load stayed correct through the flip
    got = audit(wh)
    assert got["factvideostart"] == 2 and got["dimtitle"] == 2
    fact = wh.read_fact("factvideostart", FACT_SCHEMA)
    assert fact.filter("title_skey IS NULL").count() == 0


def test_compaction_preserves_data_and_idempotency(spark, tmp_path):
    """compact_fact merges batch dirs into one, keeps row-for-row
    equality, and a batch absorbed by compaction still refuses
    re-delivery (idempotent across compactions)."""
    import pyspark.sql.types as T

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    schema = T.StructType([T.StructField("x", T.LongType())])
    for bid in ("0", "1", "2"):
        b = int(bid)
        wh.fact_append("t", spark.range(b * 10, b * 10 + 3).selectExpr("id AS x"), bid)
    before = sorted(r["x"] for r in wh.read_fact("t", schema).collect())
    assert wh.compact_fact("t") == 3
    after = sorted(r["x"] for r in wh.read_fact("t", schema).collect())
    assert after == before
    # one live compact dir, no batch dirs left
    tdir = tmp_path / "wh" / "t"
    assert [d for d in os.listdir(tdir) if d.startswith("batch=")] == []
    assert len([d for d in os.listdir(tdir) if d.startswith("compact-")]) == 1
    # re-delivering an absorbed batch inserts nothing
    assert wh.fact_append("t", spark.range(0, 3).selectExpr("id AS x"), "1") is False
    assert sorted(r["x"] for r in wh.read_fact("t", schema).collect()) == before
    # new appends after compaction land and read together with the compact
    assert wh.fact_append("t", spark.range(100, 102).selectExpr("id AS x"), "9") is True
    assert wh.read_fact("t", schema).count() == len(before) + 2
    # second compaction folds the compact dir + the new batch
    assert wh.compact_fact("t") == 2
    assert wh.read_fact("t", schema).count() == len(before) + 2


def test_max_files_per_trigger_paces_backlog(spark, tmp_path):
    """A 3-file backlog with max_files_per_trigger=1 must drain as three
    bounded micro-batches (three credit batch dirs), not one giant
    catch-up batch — and land every row exactly once."""
    from etl__project_spark.streaming import stream_star_load

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for i in range(3):
        _write_csv(
            os.path.join(landing, f"f{i}.csv"),
            [f"2017-01-1{i + 1}T00:00:31.000Z,Android App|video {i},206"],
        )
    q = stream_star_load(
        spark,
        landing,
        str(tmp_path / "wh"),
        str(tmp_path / "ckpt"),
        available_now=True,
        max_files_per_trigger=1,
    )
    q.awaitTermination(120)
    q.stop()
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    assert audit(wh)["factvideostart"] == 3
    credit_dir = os.path.join(str(tmp_path / "wh"), "credit")
    batch_dirs = [d for d in os.listdir(credit_dir) if d.startswith("batch=")]
    assert len(batch_dirs) == 3


def test_quality_gate_quarantines_bad_batch(spark, tmp_path):
    """A micro-batch failing a declared quality check must be written to
    the quarantine table and kept out of the raw table, the star load,
    and the serving rollup; clean batches flow through untouched."""
    import time

    from pyspark.sql import functions as F

    from etl__project_spark.operators.quality import violations_if
    from etl__project_spark.sources.readers import RAW_SCHEMA

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    _write_csv(
        os.path.join(landing, "a_clean.csv"),
        ['2017-01-11T00:00:31.000Z,Android App|video A,"127,206"'],
    )
    time.sleep(1.1)  # distinct mtimes -> stable file->batch order
    _write_csv(
        os.path.join(landing, "b_dirty.csv"),
        [',news|no datetime,206'],  # empty DateTime reads as null
    )
    q = stream_star_load(
        spark,
        landing,
        wh_root,
        ckpt,
        available_now=True,
        max_files_per_trigger=1,
        quality_checks={
            "datetime_not_null": violations_if(F.col("DateTime").isNull())
        },
    )
    q.awaitTermination(120)
    q.stop()

    wh = ParquetWarehouse(spark, wh_root)
    counts = audit(wh)
    assert counts["factvideostart"] == 1  # only the clean batch loaded
    credit = wh.read_fact("credit", RAW_SCHEMA)
    assert credit.count() == 1
    quarantine = wh.read_fact("quarantine", RAW_SCHEMA)
    qrows = quarantine.collect()
    assert len(qrows) == 1 and qrows[0]["DateTime"] is None


def test_streaming_hll_sketch_equals_one_shot(spark, tmp_path):
    """The batch-by-batch maintained HLL register table must equal a
    one-shot sketch over all landed rows (merge = single-shot), and its
    estimate must be near the true distinct-title count."""
    from etl__project_spark.datapipe.sketches import (
        HLL_SCHEMA,
        hll_estimate,
        hll_registers,
    )
    from etl__project_spark.sources.readers import RAW_SCHEMA

    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "wh")
    ckpt = str(tmp_path / "ckpt")

    _write_csv(
        os.path.join(landing, "f1.csv"),
        [f"2017-01-11T00:00:{i:02d}.000Z,plat|title {i % 7},206" for i in range(40)],
    )
    _run(spark, landing, wh_root, ckpt)
    _write_csv(
        os.path.join(landing, "f2.csv"),
        [f"2017-01-12T00:00:{i:02d}.000Z,plat|title {i % 13},206" for i in range(40)],
    )
    _run(spark, landing, wh_root, ckpt)

    wh = ParquetWarehouse(spark, wh_root)
    maintained = {
        (r["reg"], r["rho"])
        for r in wh.read("hll_videotitle", HLL_SCHEMA).collect()
    }
    one_shot = {
        (r["reg"], r["rho"])
        for r in hll_registers(
            wh.read_fact("credit", RAW_SCHEMA), "VideoTitle"
        ).collect()
    }
    assert maintained == one_shot
    est = hll_estimate(wh.read("hll_videotitle", HLL_SCHEMA))
    # 13 distinct titles; 64-register HLL linear-counting range is tight
    assert abs(est - 13) <= 4


def test_streaming_cdc_view_matches_one_shot_apply(spark, tmp_path):
    """Three changelog files streamed through stream_cdc_apply produce
    the same post-image as one-shot cdc_apply over all changes —
    including a cross-batch delete and a later resurrection — and a
    tombstone survives compaction so a late lower-seq update cannot
    resurrect its key."""
    import json

    from etl__project_spark.operators.merge import cdc_apply
    from etl__project_spark.streaming.pipeline import (
        CDC_SCHEMA,
        read_cdc_view,
        stream_cdc_apply,
    )

    landing = str(tmp_path / "cdc_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "cdc_wh")
    ckpt = str(tmp_path / "cdc_ckpt")

    batches = [
        # batch 1: inserts
        [(1, 10, "U", 1.0), (2, 10, "U", 2.0), (3, 10, "U", 3.0)],
        # batch 2: update key 1, delete key 2
        [(1, 20, "U", 1.5), (2, 20, "D", None)],
        # batch 3: LATE lower-seq update for deleted key 2 (must stay
        # dead), resurrection of key 2 at seq 30, update key 3
        [(2, 15, "U", 9.9), (2, 30, "U", 2.5), (3, 25, "U", 3.5)],
    ]

    def run_batch(i, rows):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps({"id": r[0], "seq": r[1], "op": r[2], "v": r[3]})
                    + "\n"
                )
        q = stream_cdc_apply(spark, landing, wh_root, ckpt)
        q.awaitTermination(120)
        q.stop()

    for i, rows in enumerate(batches):
        run_batch(i, rows)

    from etl__project_spark.plans.star_load import ParquetWarehouse

    wh = ParquetWarehouse(spark, wh_root)
    got = sorted(
        (r["id"], r["seq"], r["v"]) for r in read_cdc_view(wh).collect()
    )
    all_rows = [r for b in batches for r in b]
    one_shot = cdc_apply(
        spark.createDataFrame(all_rows, CDC_SCHEMA), ["id"], ["seq"]
    )
    want = sorted((r["id"], r["seq"], r["v"]) for r in one_shot.collect())
    assert got == want == [(1, 20, 1.5), (2, 30, 2.5), (3, 25, 3.5)]

    # intermediate check after batch 2 semantics: tombstone retained in
    # storage (op='D' row present), key 2 absent from the read view —
    # verified implicitly: the batch-3 late seq-15 update lost to the
    # stored seq-20 tombstone, else key 2 would read (2, 15, 9.9).


def test_streaming_transition_matrix_equals_one_shot(spark, tmp_path):
    """Three micro-batches of per-user event streams must yield the same
    transition counts as the one-shot lead-window over all events —
    including the BOUNDARY transitions between a user's last event of
    one batch and first event of the next, which no single batch sees."""
    import json
    from datetime import datetime

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl__project_spark.streaming.pipeline import (
        TM_COUNTS_SCHEMA,
        stream_transition_matrix,
    )

    landing = str(tmp_path / "tm_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "tm_wh")
    ckpt = str(tmp_path / "tm_ckpt")

    # 2 users, 12 events each, types cycling differently per user;
    # batches split by time so every batch boundary crosses both users
    rows = []
    types = {1: ["a", "b", "c"], 2: ["b", "a", "a", "c"]}
    eid = 0
    for step in range(12):
        for u in (1, 2):
            rows.append(
                {
                    "event_id": eid,
                    "ts": datetime(2024, 1, 1, 0, step, u).isoformat(),
                    "user_id": u,
                    "event_type": types[u][step % len(types[u])],
                }
            )
            eid += 1

    batches = [rows[0:8], rows[8:16], rows[16:24]]
    for i, b in enumerate(batches):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for r in b:
                fh.write(json.dumps(r) + "\n")
        q = stream_transition_matrix(spark, landing, wh_root, ckpt)
        q.awaitTermination(120)
        q.stop()

    from etl__project_spark.plans.star_load import ParquetWarehouse

    wh = ParquetWarehouse(spark, wh_root)
    got = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in wh.read("tm_counts", TM_COUNTS_SCHEMA).collect()
    }

    all_df = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["event_type"]) for r in rows],
        "event_id long, ts string, user_id long, event_type string",
    ).withColumn("ts", F.to_timestamp("ts"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    want = {
        (r["from_type"], r["to_type"]): r["n"]
        for r in all_df.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    # sanity: boundary transitions exist (total = 2 users x 11 steps)
    assert sum(got.values()) == 22


def test_streaming_signed_join_view_matches_one_shot(spark, tmp_path):
    """Three CDC changelog files streamed through stream_join_view_cdc
    maintain A ⋈ B under inserts, a cross-batch update (which must
    retract the batch-1 post-image), and a delete — the final view must
    equal the one-shot join of A against B's replayed post-state, with
    every surviving multiplicity 1."""
    import json

    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        read_join_view,
        stream_join_view_cdc,
    )

    landing = str(tmp_path / "jv_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "jv_wh")
    ckpt = str(tmp_path / "jv_ckpt")

    static_a = spark.createDataFrame(
        [(k, 100 + k) for k in range(1, 6)] + [(2, 202)],  # key 2 has fan-out 2
        "id long, av long",
    )
    batches = [
        # batch 1: inserts for keys 1..3
        [(1, 10, "U", 1.0), (2, 10, "U", 2.0), (3, 10, "U", 3.0)],
        # batch 2: update key 2 (retracts both fan-out rows of the old
        # image), insert key 4
        [(2, 20, "U", 2.5), (4, 20, "U", 4.0)],
        # batch 3: delete key 3, update key 1
        [(3, 30, "D", None), (1, 30, "U", 1.5)],
    ]

    def run_batch(i, rows):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps({"id": r[0], "seq": r[1], "op": r[2], "v": r[3]})
                    + "\n"
                )
        q = stream_join_view_cdc(spark, static_a, landing, wh_root, ckpt)
        q.awaitTermination(120)
        q.stop()

    for i, rows in enumerate(batches):
        run_batch(i, rows)

    wh = ParquetWarehouse(spark, wh_root)
    got = sorted(
        (r["id"], r["av"], r["v"], r["sign"])
        for r in read_join_view(wh, static_a).collect()
    )
    # replayed post-state of B: 1 -> 1.5, 2 -> 2.5, 4 -> 4.0 (3 deleted)
    b_final = spark.createDataFrame(
        [(1, 1.5), (2, 2.5), (4, 4.0)], "id long, v double"
    )
    want = sorted(
        (r["id"], r["av"], r["v"], 1)
        for r in static_a.join(b_final, "id").collect()
    )
    assert got == want
    # key 2's fan-out: both A rows carry the updated value exactly once
    assert [r for r in got if r[0] == 2] == [(2, 102, 2.5, 1), (2, 202, 2.5, 1)]
    # key 5 never arrived in B; key 3 was deleted
    assert not [r for r in got if r[0] in (3, 5)]


def test_streaming_dedup_index_matches_one_shot_lsh(spark, tmp_path):
    """Documents streamed in three micro-batches through
    stream_dedup_index must accumulate exactly the one-shot LSH
    candidate-pair set over the full corpus — cross-batch pairs found
    by the index probe, within-batch pairs by the batch self-join, and
    a replayed batch adding nothing."""
    import json

    from etl__project_spark.datapipe.dedup import (
        char_shingles,
        lsh_candidate_pairs,
        minhash_signature,
    )
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.sources import load_table
    from etl__project_spark.streaming.pipeline import (
        read_dedup_pairs,
        stream_dedup_index,
    )

    landing = str(tmp_path / "doc_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "dedup_wh")
    ckpt = str(tmp_path / "dedup_ckpt")

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .limit(120)
    )
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]

    def run_batch(i, batch_rows):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for did, text in batch_rows:
                fh.write(json.dumps({"doc_id": did, "text": text}) + "\n")
        q = stream_dedup_index(spark, landing, wh_root, ckpt)
        q.awaitTermination(180)
        q.stop()

    for i in range(3):
        run_batch(i, [r for r in rows if r[0] % 3 == i])

    wh = ParquetWarehouse(spark, wh_root)
    got = sorted(map(tuple, read_dedup_pairs(wh).collect()))
    sig = minhash_signature(char_shingles(docs, distinct=False), n_hashes=8)
    want = sorted(map(tuple, lsh_candidate_pairs(sig).collect()))
    assert got == want
    assert len(got) > 0  # non-vacuous: the fixture has near-dups


def test_streaming_scd2_dim_matches_one_shot(spark, tmp_path):
    """Three daily delta files stream through stream_scd2_dim; the
    maintained dimension must equal the one-shot fold of scd2_upsert
    over the same batches in order, and a full replay (fresh checkpoint,
    same files, same warehouse) must no-op via the batch-id ledger."""
    import json

    from pyspark.sql import functions as F

    from etl__project_spark.operators.dims import scd2_upsert
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        SCD2_DIM_SCHEMA,
        read_scd2_dim,
        stream_scd2_dim,
    )

    landing = str(tmp_path / "scd2_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "scd2_wh")
    ckpt = str(tmp_path / "scd2_ckpt")

    batches = [
        # day 1: two new keys; key A appears twice (seq collapse -> x2 wins)
        ("2024-01-01", [("A", "x1", 1), ("A", "x2", 2), ("B", "y1", 3)]),
        # day 2: A changes (expire + new version), B unchanged (no-op), C new
        ("2024-01-02", [("A", "x3", 4), ("B", "y1", 5), ("C", "z1", 6)]),
        # day 3: delete-free day — only C changes
        ("2024-01-03", [("C", "z2", 7)]),
    ]

    def run_batch(i, ld, rows, ckpt_dir):
        with open(os.path.join(landing, f"d{i}.jsonl"), "w") as fh:
            for name, attr, seq in rows:
                fh.write(
                    json.dumps(
                        {"name": name, "attr": attr, "load_date": ld, "seq": seq}
                    )
                    + "\n"
                )
        q = stream_scd2_dim(spark, landing, wh_root, ckpt_dir)
        q.awaitTermination(120)
        q.stop()

    for i, (ld, rows) in enumerate(batches):
        run_batch(i, ld, rows, ckpt)

    wh = ParquetWarehouse(spark, wh_root)
    got = sorted(
        (r["name"], r["attr"], r["current_flag"], str(r["start_date"]),
         str(r["end_date"]))
        for r in read_scd2_dim(wh).collect()
    )

    # one-shot fold of the same batches through the batch operator
    dim = spark.createDataFrame([], SCD2_DIM_SCHEMA)
    for ld, rows in batches:
        delta = spark.createDataFrame(
            [(n, a, s) for n, a, s in rows], "name string, attr string, seq long"
        )
        dim = scd2_upsert(
            dim, delta, "name", ["attr"], "skey", ld, order_col="seq"
        ).localCheckpoint(eager=True)
    want = sorted(
        (r["name"], r["attr"], r["current_flag"], str(r["start_date"]),
         str(r["end_date"]))
        for r in dim.collect()
    )
    assert got == want
    # invariants: exactly one current row per key; A has history
    cur = read_scd2_dim(wh).filter(F.col("current_flag") == "Y")
    assert sorted(
        (r["name"], r["attr"]) for r in cur.collect()
    ) == [("A", "x3"), ("B", "y1"), ("C", "z2")]
    n_versions = read_scd2_dim(wh).count()
    assert n_versions == 5  # A x2(hist)+x3, B y1, C z1(hist)+z2
    # surrogate keys dense and unique across restarts
    skeys = sorted(r["skey"] for r in read_scd2_dim(wh).collect())
    assert skeys == list(range(5))

    # full replay with a fresh checkpoint: ledger makes every batch no-op
    v_before = wh._current("scd2_dim")
    q = stream_scd2_dim(spark, landing, wh_root, str(tmp_path / "scd2_ckpt2"))
    q.awaitTermination(120)
    q.stop()
    assert wh._current("scd2_dim") == v_before
    assert read_scd2_dim(wh).count() == 5


def test_streaming_column_stats_match_one_shot(spark, tmp_path):
    """Three batches of (user_id, value) rows with nulls and cross-batch
    duplicate users: the maintained scalar stats must equal a one-shot
    column_stats pass over everything, the per-column HLL registers
    must hash-equal one-shot sketches (mergeability), and replay must
    no-op."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from etl__project_spark.datapipe.sketches import (
        hll_estimate,
        hll_registers,
    )
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        read_column_ndv,
        read_column_stats,
        stream_column_stats,
    )

    landing = str(tmp_path / "cs_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "cs_wh")
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    batches = [
        [(1, 5.0), (2, None), (3, 1.5)],
        [(1, 9.25), (4, None), (None, 2.0)],
        [(5, -3.5), (2, 5.0)],
    ]

    def run(i, rows, ckpt):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for u, v in rows:
                fh.write(json.dumps({"user_id": u, "value": v}) + "\n")
        q = stream_column_stats(
            spark, landing, wh_root, ckpt, schema, ["user_id", "value"]
        )
        q.awaitTermination(120)
        q.stop()

    for i, rows in enumerate(batches):
        run(i, rows, str(tmp_path / "cs_ckpt"))

    wh = ParquetWarehouse(spark, wh_root)
    got = {r["column_name"]: r for r in read_column_stats(wh).collect()}
    assert got["user_id"]["n_rows"] == 8 and got["value"]["n_rows"] == 8
    assert got["user_id"]["n_nulls"] == 1 and got["value"]["n_nulls"] == 2
    assert (got["user_id"]["min_d"], got["user_id"]["max_d"]) == (1.0, 5.0)
    assert (got["value"]["min_d"], got["value"]["max_d"]) == (-3.5, 9.25)

    # registers hash-equal a one-shot sketch per column (mergeability)
    all_rows = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    ndv = read_column_ndv(wh)
    for c, true_distinct in (("user_id", 5), ("value", 5)):
        maintained = sorted(
            (r["reg"], r["rho"])
            for r in ndv.filter(F.col("column_name") == c).collect()
        )
        oneshot = sorted(
            (r["reg"], r["rho"])
            for r in hll_registers(
                all_rows.filter(F.col(c).isNotNull()).select(
                    F.col(c).cast("string").alias("v")
                ),
                "v",
            ).collect()
        )
        assert maintained == oneshot, c
        est = hll_estimate(ndv.filter(F.col("column_name") == c).select("reg", "rho"))
        assert abs(est - true_distinct) / true_distinct < 0.5, (c, est)

    # replay with a fresh checkpoint: ledger no-ops both tables
    v_stats = wh._current("col_stats")
    v_ndv = wh._current("col_ndv")
    q = stream_column_stats(
        spark, landing, wh_root, str(tmp_path / "cs_ckpt2"), schema,
        ["user_id", "value"],
    )
    q.awaitTermination(120)
    q.stop()
    assert wh._current("col_stats") == v_stats
    assert wh._current("col_ndv") == v_ndv


def test_streaming_ingest_builds_bloom_index(spark, tmp_path):
    """Each streamed batch's raw dir carries a VideoTitle bloom sidecar,
    and a point lookup over the landed history prunes to the batch(es)
    that hold the title — index maintenance at ingest, not as a
    separate job."""
    from etl__project_spark.plans.star_load import (
        ParquetWarehouse,
        prune_dirs_for_key,
        read_fact_point,
    )
    from etl__project_spark.sources.readers import RAW_SCHEMA

    landing = str(tmp_path / "bi_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "bi_wh")
    ckpt = str(tmp_path / "bi_ckpt")

    _write_csv(
        os.path.join(landing, "f1.csv"),
        ['2017-01-11T00:00:31.000Z,Android App|video AAA,206'],
    )
    _run(spark, landing, wh_root, ckpt)
    _write_csv(
        os.path.join(landing, "f2.csv"),
        ['2017-01-12T00:00:31.000Z,iPad|video BBB,206'],
    )
    _run(spark, landing, wh_root, ckpt)

    wh = ParquetWarehouse(spark, wh_root)
    dirs = wh._live_dirs("credit")
    assert len(dirs) == 2
    for d in dirs:
        assert os.path.exists(os.path.join(d, "_BLOOM_VideoTitle.json")), d

    must, skipped = prune_dirs_for_key(
        wh, "credit", "VideoTitle", "iPad|video BBB"
    )
    assert len(must) == 1 and len(skipped) == 1
    got = read_fact_point(
        wh, "credit", RAW_SCHEMA, "VideoTitle", "iPad|video BBB"
    ).collect()
    assert len(got) == 1 and got[0]["VideoTitle"] == "iPad|video BBB"


def test_streaming_ann_index_serves_equal_to_scratch(spark, tmp_path):
    """Two embedding batches stream through stream_ann_index: codebooks
    train once on batch 1 and FREEZE (version stays 1 after batch 2),
    codes append per batch, and serving from the stored index equals
    encoding+scoring the full corpus from scratch against the same
    codebooks. Replay no-ops the code appends."""
    import json

    from pyspark.sql import functions as F

    from etl__project_spark.datapipe.similarity import pq_adc_topk, pq_encode
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.sources.tables import load_table
    from etl__project_spark.streaming.pipeline import (
        ANN_CODES_SCHEMA,
        ann_lookup,
        read_ann_codebooks,
        stream_ann_index,
    )

    landing = str(tmp_path / "ann_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "ann_wh")

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    rows = emb.filter(F.col("vec_id") < 100).collect()
    batches = [rows[:50], rows[50:]]

    def run(i, rs, ckpt):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for r in rs:
                fh.write(
                    json.dumps(
                        {"vec_id": r["vec_id"], "embedding": list(r["embedding"])}
                    )
                    + "\n"
                )
        q = stream_ann_index(spark, landing, wh_root, ckpt)
        q.awaitTermination(120)
        q.stop()

    run(0, batches[0], str(tmp_path / "ann_ckpt"))
    wh = ParquetWarehouse(spark, wh_root)
    assert wh._current("ann_codebooks") == 1
    run(1, batches[1], str(tmp_path / "ann_ckpt"))
    assert wh._current("ann_codebooks") == 1  # frozen, not retrained

    # serving from the stored index == scratch encode+score of the
    # full corpus against the SAME codebooks
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    got = [
        (r["vec_id"], r["approx_dot"])
        for r in ann_lookup(wh, query, k=5).collect()
    ]
    cb = read_ann_codebooks(wh)
    all_vecs = emb.filter(F.col("vec_id") < 100)
    want = [
        (r["vec_id"], r["approx_dot"])
        for r in pq_adc_topk(pq_encode(all_vecs, cb), cb, query, k=5).collect()
    ]
    assert got == want and len(got) == 5

    # replay with a fresh checkpoint: appends are idempotent per batch
    n_codes = wh.read_fact("ann_codes", ANN_CODES_SCHEMA).count()
    assert n_codes == 100 * 8  # 8 subspace codes per vector
    q = stream_ann_index(spark, landing, wh_root, str(tmp_path / "ann_ckpt2"))
    q.awaitTermination(120)
    q.stop()
    assert wh.read_fact("ann_codes", ANN_CODES_SCHEMA).count() == n_codes


def test_streaming_daily_counts_anomaly_matches_one_shot(spark, tmp_path):
    """Three batches of timestamped rows with cross-batch same-day and
    late-arriving rows: the maintained daily series must equal a
    one-shot daily aggregate over everything, the served EWMA anomaly
    view must row-match ewma_flags over that one-shot series (shared
    coded path), and replay must no-op."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from etl__project_spark.operators.series import ewma_flags
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        read_daily_anomaly,
        read_daily_counts,
        stream_daily_counts,
    )

    landing = str(tmp_path / "dc_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "dc_wh")
    schema = T.StructType([T.StructField("ts", T.TimestampType())])

    def day_rows(day, n, hour=9):
        return [f"2024-03-{day:02d}T{hour:02d}:00:{i % 60:02d}" for i in range(n)]

    batches = [
        day_rows(1, 10) + day_rows(2, 12),
        day_rows(2, 3) + day_rows(3, 40),       # late rows for day 2
        day_rows(3, 5, hour=23) + day_rows(4, 8),
    ]

    def run(i, rows, ckpt):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for ts in rows:
                fh.write(json.dumps({"ts": ts}) + "\n")
        q = stream_daily_counts(spark, landing, wh_root, ckpt, schema)
        q.awaitTermination(120)
        q.stop()

    for i, rows in enumerate(batches):
        run(i, rows, str(tmp_path / "dc_ckpt"))

    wh = ParquetWarehouse(spark, wh_root)
    got = {str(r["day"]): r["x"] for r in read_daily_counts(wh).collect()}
    assert got == {
        "2024-03-01": 10,
        "2024-03-02": 15,
        "2024-03-03": 45,
        "2024-03-04": 8,
    }

    # served anomaly view ≡ ewma_flags over the one-shot series
    all_ts = [ts for b in batches for ts in b]
    oneshot_daily = (
        spark.createDataFrame([(ts,) for ts in all_ts], "ts string")
        .select(F.to_timestamp("ts").alias("ts"))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    served = sorted(map(tuple, read_daily_anomaly(wh).collect()))
    oneshot = sorted(map(tuple, ewma_flags(oneshot_daily).collect()))
    assert served == oneshot
    # day 3 quadruples day 2's level: the monitor must flag it
    flagged = {str(r["day"]) for r in read_daily_anomaly(wh).collect() if r["flag"]}
    assert "2024-03-03" in flagged

    # replay with a fresh checkpoint: ledger no-ops the table
    v = wh._current("daily_counts")
    q = stream_daily_counts(
        spark, landing, wh_root, str(tmp_path / "dc_ckpt2"), schema
    )
    q.awaitTermination(120)
    q.stop()
    assert wh._current("daily_counts") == v


def test_streaming_survival_curve_matches_one_shot(spark, tmp_path):
    """Three batches where users' first sightings, conversions, and
    last events arrive in DIFFERENT batches (plus a low-value purchase
    that must not count as conversion): the maintained per-user table
    must equal the one-shot fold, the served KM curve must row-match
    the batch ev_survival_km query over the union, and replay must
    no-op."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    import etl__project_spark.plans.catalog as cat
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        read_survival_curve,
        read_user_conversion,
        stream_user_conversion,
    )

    landing = str(tmp_path / "km_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "km_wh")
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def ev(day, uid, etype="click", value=1.0):
        return {
            "ts": f"2024-03-{day:02d}T12:00:00",
            "user_id": uid,
            "event_type": etype,
            "value": value,
        }

    batches = [
        # u1 first seen; u2 first seen AND converts same day
        [ev(1, 1), ev(1, 2), ev(1, 2, "purchase", 250.0)],
        # u1 low-value purchase (NOT a conversion); u3 first seen
        [ev(3, 1, "purchase", 50.0), ev(4, 3)],
        # u1 converts two batches after first sighting; u3 stays active
        [ev(6, 1, "purchase", 300.0), ev(8, 3)],
    ]

    def run(i, rows, ckpt):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        q = stream_user_conversion(spark, landing, wh_root, ckpt, schema)
        q.awaitTermination(120)
        q.stop()

    for i, rows in enumerate(batches):
        run(i, rows, str(tmp_path / "km_ckpt"))

    wh = ParquetWarehouse(spark, wh_root)
    got = {
        r["user_id"]: (str(r["first_day"]), str(r["conv_day"]), str(r["last_day"]))
        for r in read_user_conversion(wh).collect()
    }
    assert got == {
        1: ("2024-03-01", "2024-03-06", "2024-03-06"),
        2: ("2024-03-01", "2024-03-01", "2024-03-01"),
        3: ("2024-03-04", "None", "2024-03-08"),
    }

    # served curve ≡ the batch ev_survival_km query over the union
    all_rows = [r for b in batches for r in b]
    events = spark.createDataFrame(
        [
            (i, r["ts"], r["user_id"], r["event_type"], r["value"], "{}")
            for i, r in enumerate(all_rows)
        ],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))
    orig = cat.load_table
    cat.load_table = lambda s, d, tbl: events
    try:
        oneshot = sorted(
            map(tuple, cat.QUERIES["ev_survival_km"](spark, "unused").collect())
        )
    finally:
        cat.load_table = orig
    served = sorted(map(tuple, read_survival_curve(wh).collect()))
    assert served == oneshot
    # u2 converts at t=0 of 3 at risk; by t=5 u3 is already censored
    # (t=4), so u1 converts alone in a risk set of 1
    assert [(r[0], r[1], r[2]) for r in served] == [(0, 3, 1), (5, 1, 1)]

    # replay with a fresh checkpoint: ledger no-ops the table
    v = wh._current("user_conversion")
    q = stream_user_conversion(
        spark, landing, wh_root, str(tmp_path / "km_ckpt2"), schema
    )
    q.awaitTermination(120)
    q.stop()
    assert wh._current("user_conversion") == v


def test_streaming_privacy_gates_match_one_shot(spark, tmp_path):
    """Two batches whose QI cells overlap (same weekday/band/type/spend
    cells get counts from both batches): the maintained QI table must
    equal a one-shot qi_band_counts fold, both served release gates
    must row-match the batch ev_k_anonymity / ev_l_diversity queries
    over the union, and replay must no-op."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    import etl__project_spark.plans.catalog as cat
    from etl__project_spark.operators.quality import qi_band_counts
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        read_k_anonymity,
        read_l_diversity,
        read_qi_counts,
        read_t_closeness,
        stream_qi_counts,
    )

    landing = str(tmp_path / "qi_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "qi_wh")
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def ev(day, hour, etype, value):
        return {
            "ts": f"2024-03-{day:02d}T{hour:02d}:00:00",
            "event_type": etype,
            "value": value,
        }

    batches = [
        [ev(4, 9, "click", 10.0)] * 3
        + [ev(4, 9, "purchase", 60.0), ev(5, 20, "click", None)],
        # same (Mon, band 1, click, band 0) cell again + new cells
        [ev(4, 10, "click", 20.0)] * 2
        + [ev(4, 9, "purchase", 220.0), ev(5, 21, "click", None)],
    ]

    def run(i, rows, ckpt):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        q = stream_qi_counts(spark, landing, wh_root, ckpt, schema)
        q.awaitTermination(120)
        q.stop()

    for i, rows in enumerate(batches):
        run(i, rows, str(tmp_path / "qi_ckpt"))

    all_rows = [r for b in batches for r in b]
    events = spark.createDataFrame(
        [
            (i, r["ts"], 1, r["event_type"], r["value"], "{}")
            for i, r in enumerate(all_rows)
        ],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))

    wh = ParquetWarehouse(spark, wh_root)
    got = sorted(map(tuple, read_qi_counts(wh).collect()))
    want = sorted(map(tuple, qi_band_counts(events).collect()))
    assert got == want
    # the overlapping cell accumulated across batches: 3 + 2 clicks
    # (Monday, 06-12 band, spend band 0)
    assert (2, 1, "click", 0, 5) in got

    orig = cat.load_table
    cat.load_table = lambda s, d, tbl: events
    try:
        k_oneshot = cat.QUERIES["ev_k_anonymity"](spark, "unused").collect()
        l_oneshot = cat.QUERIES["ev_l_diversity"](spark, "unused").collect()
        t_oneshot = cat.QUERIES["ev_t_closeness"](spark, "unused").collect()
    finally:
        cat.load_table = orig
    assert sorted(map(tuple, read_k_anonymity(wh).collect())) == sorted(
        map(tuple, k_oneshot)
    )
    assert sorted(map(tuple, read_l_diversity(wh).collect())) == sorted(
        map(tuple, l_oneshot)
    )
    assert sorted(map(tuple, read_t_closeness(wh).collect())) == sorted(
        map(tuple, t_oneshot)
    )

    # replay with a fresh checkpoint: ledger no-ops the table
    v = wh._current("qi_counts")
    q = stream_qi_counts(
        spark, landing, wh_root, str(tmp_path / "qi_ckpt2"), schema
    )
    q.awaitTermination(120)
    q.stop()
    assert wh._current("qi_counts") == v


def test_streaming_word_graph_matches_one_shot(spark, tmp_path):
    """Documents streamed in three micro-batches through
    stream_word_graph must accumulate exactly the one-shot
    co-occurrence edge set, and serve-time TextRank over the
    maintained graph must equal the batch doc_textrank_keywords
    top-20 (edges don't cross document boundaries, so batching is
    semantics-free)."""
    import json

    from pyspark.sql import functions as F

    import etl__project_spark.plans.catalog as cat
    from etl__project_spark.datapipe.graph import textrank, word_cooccur_edges
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.sources import load_table
    from etl__project_spark.streaming.pipeline import (
        read_word_graph,
        stream_word_graph,
    )

    landing = str(tmp_path / "wg_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "wg_wh")
    ckpt = str(tmp_path / "wg_ckpt")

    docs = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 90)  # deterministic (limit() is not)
    )
    rows = [(r["doc_id"], r["text"]) for r in docs.collect()]

    def run_batch(i, batch_rows):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for did, text in batch_rows:
                fh.write(json.dumps({"doc_id": did, "text": text}) + "\n")
        q = stream_word_graph(spark, landing, wh_root, ckpt)
        q.awaitTermination(180)
        q.stop()

    for i in range(3):
        run_batch(i, [r for r in rows if r[0] % 3 == i])

    wh = ParquetWarehouse(spark, wh_root)
    maintained = read_word_graph(wh)
    got_edges = sorted(map(tuple, maintained.collect()))
    want_edges = sorted(map(tuple, word_cooccur_edges(docs).collect()))
    assert got_edges == want_edges and len(got_edges) > 0

    serve = sorted(
        map(
            tuple,
            textrank(maintained)
            .orderBy(F.desc("rank_micro"), "word")
            .limit(20)
            .collect(),
        )
    )
    orig = cat.load_table
    cat.load_table = lambda s, d, t: docs
    try:
        want = sorted(
            map(
                tuple,
                cat.QUERIES["doc_textrank_keywords"](spark, "unused").collect(),
            )
        )
    finally:
        cat.load_table = orig
    assert serve == want


def test_streaming_bot_screen_matches_one_shot(spark, tmp_path):
    """The bot-screen cast (metronomic / fast / bursty human / tiny)
    streamed in three TIME-ORDERED micro-batches: the maintained
    per-user gap statistics must equal the one-shot scan exactly
    (within-chunk gaps + cursor boundary gaps = all consecutive gaps
    — exact integers), so the served scorecard equals the batch
    ev_bot_detection frame, and a replay with a fresh checkpoint
    no-ops via the batch-id ledger."""
    import json

    from pyspark.sql import functions as F

    import etl__project_spark.plans.catalog as cat
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        read_bot_screen,
        stream_bot_screen,
    )

    landing = str(tmp_path / "bot_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "bot_wh")

    rows, eid = [], 0
    for i in range(30):
        rows.append((eid, 1, f"2024-01-05 10:{i:02d}:00")); eid += 1
    for i in range(30):
        sec = 5 * i + (i % 3)
        rows.append((eid, 2, f"2024-01-05 10:{sec // 60:02d}:{sec % 60:02d}")); eid += 1
    human = [0, 10, 25, 3600, 3620, 7200, 86400, 86410, 90000, 172800,
             172830, 180000, 259200, 259300, 260000, 345600, 345700,
             350000, 432000, 432060]
    for s in human:
        rows.append((eid, 3, f"2024-01-{5 + s // 86400:02d} "
                     f"{(s % 86400) // 3600:02d}:{(s % 3600) // 60:02d}:{s % 60:02d}"))
        eid += 1
    for i in range(5):
        rows.append((eid, 4, f"2024-01-05 10:0{i}:00")); eid += 1

    ordered = sorted(rows, key=lambda r: (r[2], r[0]))
    thirds = [ordered[:28], ordered[28:56], ordered[56:]]

    def run_batch(i, batch_rows, ckpt):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for e, u, ts in batch_rows:
                fh.write(json.dumps(
                    {"event_id": e, "user_id": u,
                     "ts": ts.replace(" ", "T"), "event_type": "click"}
                ) + "\n")
        q = stream_bot_screen(spark, landing, wh_root, ckpt)
        q.awaitTermination(180)
        q.stop()

    for i, b in enumerate(thirds):
        run_batch(i, b, str(tmp_path / "bot_ckpt"))

    events = spark.createDataFrame(
        [(e, ts, u, "click", 1.0, "{}") for e, u, ts in rows],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.to_timestamp("ts"))

    wh = ParquetWarehouse(spark, wh_root)
    got = sorted(map(tuple, read_bot_screen(wh).collect()))
    orig = cat.load_table
    cat.load_table = lambda s, d, t: events
    try:
        want = sorted(
            map(tuple, cat.QUERIES["ev_bot_detection"](spark, "unused").collect())
        )
    finally:
        cat.load_table = orig
    assert got == want and len(got) == 3  # users 1-3 score; 4 under floor

    # replay everything with a fresh checkpoint: ledger no-ops the fold
    q = stream_bot_screen(spark, landing, wh_root, str(tmp_path / "bot_ckpt2"))
    q.awaitTermination(180)
    q.stop()
    assert sorted(map(tuple, read_bot_screen(wh).collect())) == want


def test_streaming_ann_cold_start_with_offset_ids(spark, tmp_path):
    """Found by review: codebook seeding used absolute vec_id <
    n_codewords, so a first batch WITHOUT low ids silently published
    empty codebooks and the index returned nothing forever. The
    training batch is now densely re-indexed by id order, so a first
    batch of ids 5000.. must still yield full 8x16 codebooks and a
    lookup that returns k results."""
    import json

    from pyspark.sql import functions as F

    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.sources.tables import load_table
    from etl__project_spark.streaming.pipeline import (
        ann_lookup,
        read_ann_codebooks,
        stream_ann_index,
    )

    landing = str(tmp_path / "annc_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "annc_wh")

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    rows = emb.filter(F.col("vec_id") < 60).collect()
    with open(os.path.join(landing, "b0.jsonl"), "w") as fh:
        for r in rows:
            fh.write(
                json.dumps(
                    {"vec_id": int(r["vec_id"]) + 5000,
                     "embedding": list(r["embedding"])}
                ) + "\n"
            )
    q = stream_ann_index(spark, landing, wh_root, str(tmp_path / "annc_ckpt"))
    q.awaitTermination(120)
    q.stop()

    wh = ParquetWarehouse(spark, wh_root)
    cb = read_ann_codebooks(wh)
    assert cb.count() > 0
    assert cb.select("s").distinct().count() == 8  # every subspace trained
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    hits = ann_lookup(wh, query, k=5).collect()
    assert len(hits) == 5
    assert all(h["vec_id"] >= 5000 for h in hits)


def test_streaming_leftjoin_view_maintains_null_extensions(spark, tmp_path):
    """Three CDC changelog files streamed through stream_leftjoin_view_cdc
    maintain A LEFT JOIN B: the seeded null-extensions retract when a
    key's first match arrives (0 -> >0), re-assert when its last match
    is deleted (>0 -> 0), and the final view equals the one-shot LEFT
    join against B's replayed post-state with every multiplicity 1."""
    import json

    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        read_leftjoin_view,
        stream_leftjoin_view_cdc,
    )

    landing = str(tmp_path / "ljv_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "ljv_wh")
    ckpt = str(tmp_path / "ljv_ckpt")

    static_a = spark.createDataFrame(
        [(k, 100 + k) for k in range(1, 6)] + [(2, 202)],  # key 2 fan-out 2
        "id long, av long",
    )
    batches = [
        # batch 1: first matches for 1..3 (their placeholders retract)
        [(1, 10, "U", 1.0), (2, 10, "U", 2.0), (3, 10, "U", 3.0)],
        # batch 2: update key 2 (no transition), insert key 4
        [(2, 20, "U", 2.5), (4, 20, "U", 4.0)],
        # batch 3: delete key 3 (placeholder re-asserts), update key 1
        [(3, 30, "D", None), (1, 30, "U", 1.5)],
    ]

    def run_batch(i, rows):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps({"id": r[0], "seq": r[1], "op": r[2], "v": r[3]})
                    + "\n"
                )
        q = stream_leftjoin_view_cdc(spark, static_a, landing, wh_root, ckpt)
        q.awaitTermination(120)
        q.stop()

    for i, rows in enumerate(batches):
        run_batch(i, rows)

    wh = ParquetWarehouse(spark, wh_root)
    got = sorted(
        (r["id"], r["av"], r["v"], r["sign"])
        for r in read_leftjoin_view(wh, static_a).collect()
    )
    # replayed post-state of B: 1 -> 1.5, 2 -> 2.5, 4 -> 4.0 (3 deleted)
    b_final = spark.createDataFrame(
        [(1, 1.5), (2, 2.5), (4, 4.0)], "id long, v double"
    )
    want = sorted(
        (r["id"], r["av"], r["v"], 1)
        for r in static_a.join(b_final, "id", "left").collect()
    )
    assert got == want
    # the never-matched key 5 and the deleted key 3 are null-extended
    assert [r for r in got if r[0] == 3] == [(3, 103, None, 1)]
    assert [r for r in got if r[0] == 5] == [(5, 105, None, 1)]
    # key 2's fan-out rows both carry the updated value exactly once
    assert [r for r in got if r[0] == 2] == [(2, 102, 2.5, 1), (2, 202, 2.5, 1)]


def test_streaming_rollup_cdc_minmax_distinct(spark, tmp_path):
    """Three CDC changelog batches through stream_rollup_cdc: count/sum
    stay signed-incremental, min/max re-derive from the maintained base
    when a group's extremum is DELETED, the distinct-v count drops only
    on last-occurrence deletes, and the served rollup equals a one-shot
    aggregate over the maintained base (serve ≡ scratch)."""
    import json

    from pyspark.sql import functions as F

    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        JV_STATE_SCHEMA,
        read_cdc_rollup,
        stream_rollup_cdc,
    )

    landing = str(tmp_path / "rc_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "rc_wh")
    ckpt = str(tmp_path / "rc_ckpt")

    # g = id % 3. Group 0 = ids {3, 6, 9}: values 5.0 (twice: ids 3, 6)
    # and 9.0 (id 9, the max).
    batches = [
        # batch 1: inserts
        [(3, 10, "U", 5.0), (6, 10, "U", 5.0), (9, 10, "U", 9.0),
         (1, 10, "U", 1.5), (4, 10, "U", 2.5)],
        # batch 2: DELETE group 0's max (id 9) and ONE of its two 5.0
        # rows (id 3) — min/max must re-derive, distinct keeps 5.0
        [(9, 20, "D", None), (3, 20, "D", None)],
        # batch 3: update id 4 (1 % 3 group): 2.5 -> 7.25
        [(4, 30, "U", 7.25)],
    ]

    def run_batch(i, rows):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps({"id": r[0], "seq": r[1], "op": r[2], "v": r[3]})
                    + "\n"
                )
        q = stream_rollup_cdc(spark, landing, wh_root, ckpt)
        q.awaitTermination(120)
        q.stop()

    for i, rows in enumerate(batches):
        run_batch(i, rows)

    wh = ParquetWarehouse(spark, wh_root)
    got = {
        r["g"]: (
            r["n_rows"],
            r["total_value"],
            r["min_value"],
            r["max_value"],
            r["n_distinct_values"],
        )
        for r in read_cdc_rollup(wh).collect()
    }
    # group 0: only id 6 (5.0) survives; group 1: ids 1 (1.5), 4 (7.25)
    assert got == {
        0: (1, 5.0, 5.0, 5.0, 1),
        1: (2, 8.75, 1.5, 7.25, 2),
    }
    # serve ≡ scratch: one-shot aggregate over the maintained base
    base = wh.read("rc_base", JV_STATE_SCHEMA)
    qv = F.round(F.col("v"), 2).cast("decimal(18,2)")
    scratch = {
        r["g"]: (r["n"], float(r["t"]), float(r["lo"]), float(r["hi"]), r["d"])
        for r in base.withColumn("g", F.pmod("id", F.lit(3)))
        .groupBy("g")
        .agg(
            F.sum("sign").cast("long").alias("n"),
            F.sum(qv).alias("t"),
            F.min(qv).alias("lo"),
            F.max(qv).alias("hi"),
            F.countDistinct("v").cast("long").alias("d"),
        )
        .collect()
    }
    assert scratch == got


def test_streaming_scd2_multi_versions_across_batches(spark, tmp_path):
    """Two change-feed batches through stream_scd2_dim_multi: several
    ordered versions per key inside one batch each become intervals, a
    later batch extends the chain (expiring the stored current row at
    the new version's ordinal), no-op repeats create no version, and a
    REPLAYED batch no-ops (exactly-once by batch id)."""
    import json

    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        read_scd2_dim_multi,
        stream_scd2_dim_multi,
    )

    landing = str(tmp_path / "scd2m_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "scd2m_wh")
    ckpt = str(tmp_path / "scd2m_ckpt")
    EOT = 253402300800000000

    batches = [
        # batch 1: key a takes two versions; key b one
        [("a", "x", 100, 1), ("a", "y", 200, 2), ("b", "q", 150, 3)],
        # batch 2: key a repeats current (no-op) then changes; key c new
        [("a", "y", 300, 4), ("a", "z", 400, 5), ("c", "n", 350, 6)],
    ]

    def run_batch(i, rows):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps(
                        {"name": r[0], "attr": r[1], "ord": r[2], "seq": r[3]}
                    )
                    + "\n"
                )
        q = stream_scd2_dim_multi(spark, landing, wh_root, ckpt)
        q.awaitTermination(120)
        q.stop()

    for i, rows in enumerate(batches):
        run_batch(i, rows)

    wh = ParquetWarehouse(spark, wh_root)
    got = {
        (r["name"], r["start_ord"]): (r["attr"], r["current_flag"], r["end_ord"])
        for r in read_scd2_dim_multi(wh).collect()
    }
    assert got == {
        ("a", 100): ("x", "N", 200),
        ("a", 200): ("y", "N", 400),  # no-op at 300 left it current to 400
        ("a", 400): ("z", "Y", EOT),
        ("b", 150): ("q", "Y", EOT),
        ("c", 350): ("n", "Y", EOT),
    }
    # exactly one current version per key; dense skeys survive restarts
    rows = read_scd2_dim_multi(wh).collect()
    assert sorted(r["name"] for r in rows if r["current_flag"] == "Y") == [
        "a", "b", "c",
    ]
    assert sorted(r["skey"] for r in rows) == list(range(5))
    # replay: re-running over the same landing dir with a fresh stream
    # checkpoint must not change the dim (merged batch-id ledger)
    q = stream_scd2_dim_multi(
        spark, landing, wh_root, str(tmp_path / "scd2m_ckpt2")
    )
    q.awaitTermination(120)
    q.stop()
    again = {
        (r["name"], r["start_ord"]): (r["attr"], r["current_flag"], r["end_ord"])
        for r in read_scd2_dim_multi(wh).collect()
    }
    assert again == got


def test_streaming_text_index_matches_one_shot_build(spark, tmp_path):
    """Document changelog batches streamed through stream_text_index_cdc
    yield an index whose BM25 scores equal a from-scratch build of the
    replayed corpus — rewrites shift tf/df/avgdl, deletes shrink the
    corpus, and a replayed batch (same stream restarted on the same
    checkpoint+landing) must not double-apply."""
    import json

    from etl__project_spark.datapipe.text_index import (
        bm25_from_index,
        build_text_index,
    )
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        read_text_index,
        stream_text_index_cdc,
    )

    landing = str(tmp_path / "tx_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "tx_wh")
    ckpt = str(tmp_path / "tx_ckpt")

    batches = [
        [
            (1, "spark merge window", "U", 1),
            (2, "merge merge delta", "U", 1),
            (3, "spark spark", "U", 1),
        ],
        # rewrite doc 2, delete doc 3, insert doc 4
        [
            (2, "window window spark", "U", 2),
            (3, None, "D", 2),
            (4, "delta merge", "U", 2),
        ],
    ]

    def run_batch(i, rows):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps(
                        {"doc_id": r[0], "text": r[1], "op": r[2], "seq": r[3]}
                    )
                    + "\n"
                )
        q = stream_text_index_cdc(spark, landing, wh_root, ckpt)
        q.awaitTermination(120)
        q.stop()

    for i, rows in enumerate(batches):
        run_batch(i, rows)
    # restart with no new files: must no-op (exactly-once)
    q = stream_text_index_cdc(spark, landing, wh_root, ckpt)
    q.awaitTermination(120)
    q.stop()

    wh = ParquetWarehouse(spark, wh_root)
    got_index = read_text_index(wh)
    final = spark.createDataFrame(
        [(1, "spark merge window"), (2, "window window spark"), (4, "delta merge")],
        "doc_id long, text string",
    )
    want_index = build_text_index(final)
    terms = ["spark", "merge", "window"]
    got = sorted(
        (r["doc_id"], r["s_micro"])
        for r in bm25_from_index(got_index, terms).collect()
    )
    want = sorted(
        (r["doc_id"], r["s_micro"])
        for r in bm25_from_index(want_index, terms).collect()
    )
    assert got == want and len(got) == 3


def test_streaming_phrase_index_matches_one_shot_build(spark, tmp_path):
    """Document changelog batches streamed through stream_phrase_index_cdc
    (VERDICT r9 #4) yield positional postings equal to
    positional_postings() of the replayed corpus — rewrites move phrase
    positions, deletes drop docs — and a phrase query served FROM the
    streamed index returns the right occurrences. A replayed batch (same
    stream restarted on the same checkpoint+landing) must not
    double-apply."""
    import json

    from etl__project_spark.datapipe.text_index import (
        phrase_match,
        positional_postings,
    )
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        read_positional_postings,
        stream_phrase_index_cdc,
    )

    landing = str(tmp_path / "px_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "px_wh")
    ckpt = str(tmp_path / "px_ckpt")

    batches = [
        [
            (1, "big data small data", "U", 1),
            (2, "big data big data big data", "U", 1),
            (3, "data big", "U", 1),
        ],
        # rewrite doc 1 (phrase moves), delete doc 3, insert doc 4
        [
            (1, "small data then big data", "U", 2),
            (3, None, "D", 2),
            (4, "big apple big data", "U", 2),
        ],
    ]

    def run_batch(i, rows):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps(
                        {"doc_id": r[0], "text": r[1], "op": r[2], "seq": r[3]}
                    )
                    + "\n"
                )
        q = stream_phrase_index_cdc(spark, landing, wh_root, ckpt)
        q.awaitTermination(120)
        q.stop()

    for i, rows in enumerate(batches):
        run_batch(i, rows)
    # restart with no new files: must no-op (exactly-once)
    q = stream_phrase_index_cdc(spark, landing, wh_root, ckpt)
    q.awaitTermination(120)
    q.stop()

    wh = ParquetWarehouse(spark, wh_root)
    got_post = read_positional_postings(wh)
    final = spark.createDataFrame(
        [
            (1, "small data then big data"),
            (2, "big data big data big data"),
            (4, "big apple big data"),
        ],
        "doc_id long, text string",
    )
    want_post = positional_postings(final)
    assert sorted(map(tuple, got_post.collect())) == sorted(
        map(tuple, want_post.collect())
    )
    # phrase query served from the streamed index
    got = sorted(
        (r["doc_id"], r["n_occ"])
        for r in phrase_match(got_post, ["big", "data"]).collect()
    )
    assert got == [(1, 1), (2, 3), (4, 1)]


def test_streaming_ivf_cells_match_one_shot_assignment(spark, tmp_path):
    """Embedding changelog batches streamed through stream_ivf_cdc yield
    posting lists equal to assign_cells() of the replayed corpus against
    the same frozen seeds — re-embeddings (negated vectors) provably
    move cells, deletes drop postings — and a restarted stream on the
    same checkpoint+landing must not double-apply."""
    import json

    from etl__project_spark.datapipe.similarity import assign_cells
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        IVF_SEEDS_SCHEMA,
        read_ivf_cells,
        stream_ivf_cdc,
    )

    landing = str(tmp_path / "ivf_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "ivf_wh")
    ckpt = str(tmp_path / "ivf_ckpt")

    # frozen quantizer: two well-separated centroids, published once
    wh = ParquetWarehouse(spark, wh_root)
    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], IVF_SEEDS_SCHEMA
    )
    wh.publish("ivf_seeds", seeds)

    batches = [
        [
            (10, [0.9, 0.1], "I", 1),
            (11, [0.2, 0.8], "I", 1),
            (12, [0.7, 0.3], "I", 1),
        ],
        # re-embed 10 to its negation (cosine flips -> moves cell),
        # delete 12, insert 13
        [
            (10, [-0.9, -0.1], "U", 2),
            (12, None, "D", 2),
            (13, [0.1, 0.9], "I", 2),
        ],
    ]

    def run_batch(i, rows):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(
                    json.dumps(
                        {"vec_id": r[0], "embedding": r[1], "op": r[2], "seq": r[3]}
                    )
                    + "\n"
                )
        q = stream_ivf_cdc(spark, landing, wh_root, ckpt)
        q.awaitTermination(120)
        q.stop()

    for i, rows in enumerate(batches):
        run_batch(i, rows)
    # restart with no new files: must no-op (exactly-once)
    q = stream_ivf_cdc(spark, landing, wh_root, ckpt)
    q.awaitTermination(120)
    q.stop()

    got = sorted(
        (r["cand_id"], r["centroid_id"])
        for r in read_ivf_cells(wh).collect()
    )
    final = spark.createDataFrame(
        [(10, [-0.9, -0.1]), (11, [0.2, 0.8]), (13, [0.1, 0.9])],
        "vec_id long, embedding array<double>",
    )
    want = sorted(
        (r["cand_id"], r["centroid_id"])
        for r in assign_cells(final, seeds).collect()
    )
    assert got == want and len(got) == 3
    # the re-embedding provably moved vec 10 out of centroid 0
    assert (10, 0) not in got


def test_streaming_ivf_without_seeds_fails_loudly_then_replays(spark, tmp_path):
    """Starting the IVF posting stream BEFORE the quantizer is published
    must fail the batch, not silently absorb it (round-11 advisory: with
    no seeds, assign_cells drops every post-image row while the
    exactly-once ledger still marked the batch merged — a replay then
    no-oped and the postings were permanently lost). The batch must stay
    UNMARKED so a restart after the seeds land replays it in full."""
    import json

    from etl__project_spark.datapipe.similarity import assign_cells
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        IVF_SEEDS_SCHEMA,
        read_ivf_cells,
        stream_ivf_cdc,
    )

    landing = str(tmp_path / "ivfns_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "ivfns_wh")
    ckpt = str(tmp_path / "ivfns_ckpt")
    wh = ParquetWarehouse(spark, wh_root)

    rows = [(10, [0.9, 0.1], "I", 1), (11, [0.2, 0.8], "I", 1)]
    with open(os.path.join(landing, "b0.jsonl"), "w") as fh:
        for r in rows:
            fh.write(
                json.dumps(
                    {"vec_id": r[0], "embedding": r[1], "op": r[2], "seq": r[3]}
                )
                + "\n"
            )

    # no seeds published: the stream must FAIL, not record the batch
    q = stream_ivf_cdc(spark, landing, wh_root, ckpt)
    with pytest.raises(Exception, match="ivf_seeds"):
        q.awaitTermination(120)
        raise AssertionError("stream absorbed a batch with no quantizer")
    q.stop()
    assert wh._merged_ids("ivf_cells") == set()  # batch NOT marked merged

    # publish the quantizer, restart on the same checkpoint: full replay
    seeds = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], IVF_SEEDS_SCHEMA
    )
    wh.publish("ivf_seeds", seeds)
    q = stream_ivf_cdc(spark, landing, wh_root, ckpt)
    q.awaitTermination(120)
    q.stop()

    got = sorted(
        (r["cand_id"], r["centroid_id"]) for r in read_ivf_cells(wh).collect()
    )
    final = spark.createDataFrame(
        [(10, [0.9, 0.1]), (11, [0.2, 0.8])],
        "vec_id long, embedding array<double>",
    )
    want = sorted(
        (r["cand_id"], r["centroid_id"])
        for r in assign_cells(final, seeds).collect()
    )
    assert got == want and len(got) == 2


def test_streaming_value_histogram_matches_one_shot(spark, tmp_path):
    """Event changelog batches streamed through stream_value_histogram_cdc
    yield a histogram (and quantile reads) equal to a one-shot sketch of
    the replayed post state — updates move mass between buckets via
    before-images, deletes drain buckets, and a restarted stream on the
    same checkpoint+landing must not double-apply."""
    import json

    from pyspark.sql import functions as F

    from etl__project_spark.operators.rollup import (
        hist_quantiles,
        partial_hist_signed,
    )
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        read_value_histogram,
        read_value_quantiles,
        stream_value_histogram_cdc,
    )

    landing = str(tmp_path / "vh_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "vh_wh")
    ckpt = str(tmp_path / "vh_ckpt")

    # (event_id, event_type, value, old_value, op, seq)
    batches = [
        [
            (1, "a", 5.0, None, "I", 1),
            (2, "a", 15.0, None, "I", 1),
            (3, "b", 25.0, None, "I", 1),
            (4, "b", 25.5, None, "I", 1),
        ],
        # update 2 across a bucket edge, delete 4, insert 5; plus an
        # intra-batch I-then-U of event 6 (must net to the U image)
        [
            (2, "a", 31.0, 15.0, "U", 2),
            (4, "b", None, 25.5, "D", 2),
            (5, "b", 45.0, None, "I", 2),
            (6, "a", 7.0, None, "I", 2),
            (6, "a", 55.0, 7.0, "U", 3),
        ],
    ]

    def run_batch(i, rows):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for e, t, v, ov, op, seq in rows:
                fh.write(
                    json.dumps(
                        {
                            "event_id": e,
                            "event_type": t,
                            "value": v,
                            "old_value": ov,
                            "op": op,
                            "seq": seq,
                        }
                    )
                    + "\n"
                )
        q = stream_value_histogram_cdc(spark, landing, wh_root, ckpt)
        q.awaitTermination(120)
        q.stop()

    for i, rows in enumerate(batches):
        run_batch(i, rows)
    # restart with no new files: must no-op (exactly-once)
    q = stream_value_histogram_cdc(spark, landing, wh_root, ckpt)
    q.awaitTermination(120)
    q.stop()

    wh = ParquetWarehouse(spark, wh_root)
    post = spark.createDataFrame(
        [("a", 5.0), ("a", 31.0), ("b", 25.0), ("b", 45.0), ("a", 55.0)],
        "event_type string, value double",
    )
    want_hist = partial_hist_signed(
        post.withColumn("sign", F.lit(1)), ["event_type"]
    )
    got_hist = read_value_histogram(wh).filter(F.col("n") != 0).select(
        "event_type", "bucket", "n"
    )
    assert {tuple(r) for r in got_hist.collect()} == {
        tuple(r) for r in want_hist.collect()
    }
    assert {tuple(r) for r in read_value_quantiles(wh).collect()} == {
        tuple(r) for r in hist_quantiles(want_hist, ["event_type"]).collect()
    }


def test_streaming_cms_matches_one_shot_sketch(spark, tmp_path):
    """Key changelog batches streamed through stream_cms_cdc yield a CMS
    grid equal to a one-shot sketch of the replayed post state — key
    remaps move mass via before-images, deletes drain cells, estimates
    never underestimate, and a restarted stream must not double-apply."""
    import json

    from pyspark.sql import functions as F

    from etl__project_spark.datapipe.sketches import cms_cells_signed
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        read_cms_cells,
        read_cms_estimates,
        stream_cms_cdc,
    )

    landing = str(tmp_path / "cms_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "cms_wh")
    ckpt = str(tmp_path / "cms_ckpt")

    # (event_id, key, old_key, op, seq)
    batches = [
        [(i, "hot", None, "I", 1) for i in range(6)]
        + [(100, "cold1", None, "I", 1), (101, "cold2", None, "I", 1)],
        # remap one hot row to cold2, delete cold1
        [
            (0, "cold2", "hot", "U", 2),
            (100, None, "cold1", "D", 2),
        ],
    ]

    def run_batch(i, rows):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for e, k, ok, op, seq in rows:
                fh.write(
                    json.dumps(
                        {"event_id": e, "key": k, "old_key": ok, "op": op,
                         "seq": seq}
                    )
                    + "\n"
                )
        q = stream_cms_cdc(spark, landing, wh_root, ckpt)
        q.awaitTermination(120)
        q.stop()

    for i, rows in enumerate(batches):
        run_batch(i, rows)
    q = stream_cms_cdc(spark, landing, wh_root, ckpt)  # replay: no-op
    q.awaitTermination(120)
    q.stop()

    wh = ParquetWarehouse(spark, wh_root)
    post = {"hot": 5, "cold2": 2}
    post_rows = spark.createDataFrame(
        [(k,) for k, n in post.items() for _ in range(n)], "key string"
    )
    want = {
        (r["r"], r["b"]): r["c"]
        for r in cms_cells_signed(
            post_rows.withColumn("sign", F.lit(1)), "key"
        ).collect()
    }
    got = {
        (r["r"], r["b"]): r["c"]
        for r in read_cms_cells(wh).filter(F.col("c") != 0).collect()
    }
    assert got == want
    est = {
        r["key"]: r["est_count"]
        for r in read_cms_estimates(
            wh, spark.createDataFrame([(k,) for k in post], "key string"), "key"
        ).collect()
    }
    assert all(est[k] >= n for k, n in post.items())


def test_lossy_fold_fails_loudly_on_null_before_image(spark, tmp_path):
    """A U/D changelog row with a null before-image must FAIL the batch,
    not be silently skipped (ADVICE r8): histogram buckets and CMS cells
    are lossy state, so a skipped retraction diverges the sketch forever.
    The foreachBatch fold raises, the streaming query surfaces the error,
    and the batch-id ledger records nothing — a corrected replay of the
    same file then applies cleanly."""
    import json

    from pyspark.sql import functions as F

    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        read_value_histogram,
        stream_value_histogram_cdc,
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    landing = str(tmp_path / "bad_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "bad_wh")
    ckpt = str(tmp_path / "bad_ckpt")

    with open(os.path.join(landing, "b0.jsonl"), "w") as fh:
        for row in [
            {"event_id": 1, "event_type": "a", "value": 5.0,
             "old_value": None, "op": "I", "seq": 1},
            # malformed: update with no before-image
            {"event_id": 1, "event_type": "a", "value": 9.0,
             "old_value": None, "op": "U", "seq": 2},
        ]:
            fh.write(json.dumps(row) + "\n")

    q = stream_value_histogram_cdc(spark, landing, wh_root, ckpt)
    try:
        q.awaitTermination(120)
        raised = None
    except StreamingQueryException as exc:
        raised = str(exc)
    finally:
        q.stop()
    assert raised is not None and "null old_value" in raised
    # nothing folded: the failed batch left no state behind
    wh = ParquetWarehouse(spark, wh_root)
    assert read_value_histogram(wh).count() == 0


def test_streaming_column_stats_cdc_match_one_shot(spark, tmp_path):
    """Row changelog batches streamed through stream_column_stats_cdc
    yield ANALYZE stats equal to a one-shot column_stats of the replayed
    post state — an update NULLs a value (null count up), a delete
    removes the current max(q) and the last 'c' (extremum + NDV
    re-balance), and a restarted stream must not double-apply."""
    import json

    from pyspark.sql import functions as F

    from etl__project_spark.operators.quality import column_stats
    from etl__project_spark.plans.star_load import ParquetWarehouse
    from etl__project_spark.streaming.pipeline import (
        read_column_stats_cdc,
        stream_column_stats_cdc,
    )

    landing = str(tmp_path / "cs_landing")
    os.makedirs(landing)
    wh_root = str(tmp_path / "cs_wh")
    ckpt = str(tmp_path / "cs_ckpt")

    batches = [
        [
            {"id": 1, "q": 10.0, "f": "a", "old_q": None, "old_f": None, "op": "I", "seq": 1},
            {"id": 2, "q": 20.0, "f": "b", "old_q": None, "old_f": None, "op": "I", "seq": 1},
            {"id": 3, "q": 30.0, "f": "b", "old_q": None, "old_f": None, "op": "I", "seq": 1},
            {"id": 4, "q": 40.0, "f": "c", "old_q": None, "old_f": None, "op": "I", "seq": 1},
        ],
        [
            # delete the max(q) / last-'c' row
            {"id": 4, "q": None, "f": None, "old_q": 40.0, "old_f": "c", "op": "D", "seq": 2},
            # NULL out f on id=2 (null count, NDV re-balance)
            {"id": 2, "q": 20.0, "f": None, "old_q": 20.0, "old_f": "b", "op": "U", "seq": 2},
        ],
    ]

    for i, rows in enumerate(batches):
        with open(os.path.join(landing, f"b{i}.jsonl"), "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
        q = stream_column_stats_cdc(spark, landing, wh_root, ckpt)
        q.awaitTermination(120)
        q.stop()
    # replay: no-op
    q = stream_column_stats_cdc(spark, landing, wh_root, ckpt)
    q.awaitTermination(120)
    q.stop()

    wh = ParquetWarehouse(spark, wh_root)
    post = spark.createDataFrame(
        [(10.0, "a"), (20.0, None), (30.0, "b")], "q double, f string"
    )
    want = column_stats(post, "t", ["q", "f"])
    assert sorted(map(tuple, read_column_stats_cdc(wh).collect())) == sorted(
        map(tuple, want.collect())
    )

    # END-TO-END planner loop (VERDICT r9 #6): the STREAMED ANALYZE state
    # feeds join_stats_from_warehouse, and the maintained NDV flips
    # build_fact's plan — producer to plan with no hand-built state.
    from etl__project_spark.operators.fact import build_fact
    from etl__project_spark.plans.star_load import join_stats_from_warehouse

    stats = join_stats_from_warehouse(
        wh, analyze_ndv={"sk": ("col_stats_state", "q")}
    )
    assert stats["sk"] == 3  # three live distinct q values maintained above
    staging = spark.createDataFrame(
        [(f"k{i % 3}", i) for i in range(20)], "nk string, payload int"
    )
    dim = spark.createDataFrame(
        [(f"k{i}", i) for i in range(3)], "dim_nk string, sk long"
    )
    dims = {"sk": (dim, "nk", "dim_nk")}
    flipped = build_fact(staging, dims, join_stats=stats, broadcast_row_limit=2)
    p = flipped._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" not in p, (
        "streamed NDV stat above the limit did not flip the plan"
    )


def test_streaming_recluster_trigger_maintains_fact_layout(spark, tmp_path):
    """The measured-maintenance composition (round 10): stream_star_load
    with recluster=(probe_col, layout, threshold) watches the fact's
    parquet-footer clustering health after every micro-batch and runs a
    Z-ordered compaction only when a typical point predicate would open
    more than the threshold fraction of files. Wide-title batches write
    overlapping files (health ~1), the trigger fires, and the table
    ends compacted with per-file title zones tight enough to read
    pruned — with exactly-once row counts preserved through the
    maintenance."""
    import os as _os

    from etl__project_spark.operators.layout import ZOrderLayout
    from etl__project_spark.plans.star_load import should_recluster

    landing = str(tmp_path / "rc_landing")
    _os.makedirs(landing)
    wh_root = str(tmp_path / "rc_wh")
    ckpt = str(tmp_path / "rc_ckpt")

    # two files x 64 rows spanning 8 titles each -> every written fact
    # file covers most of the title domain (health ~1.0)
    for f in range(2):
        _write_csv(
            _os.path.join(landing, f"f{f}.csv"),
            [
                f"2017-01-1{1 + f}T{i % 24:02d}:{i % 60:02d}:31.000Z,"
                f"Android App|video {i % 8},206"
                for i in range(64)
            ],
        )

    layout = ZOrderLayout(
        dim_a="title_skey", dim_b="platform_skey", bits=8, n_files=8
    )
    q = stream_star_load(
        spark,
        landing,
        wh_root,
        ckpt,
        available_now=True,
        max_files_per_trigger=1,
        recluster=("title_skey", layout, 0.5),
    )
    q.awaitTermination(120)
    q.stop()

    wh = ParquetWarehouse(spark, wh_root)
    # the trigger fired: batch dirs were absorbed into a layout compaction
    tdir = _os.path.join(wh_root, "factvideostart")
    assert [d for d in _os.listdir(tdir) if d.startswith("compact-")]
    # post-maintenance health is below the trigger threshold
    trig, stats = should_recluster(wh, "factvideostart", "title_skey", 0.5)
    assert not trig and stats["mean_read_fraction"] < 0.5, stats
    # and the maintenance lost/duplicated nothing
    assert audit(wh)["factvideostart"] == 128

    # replay on a fresh checkpoint: exactly-once holds through absorbed ids
    q = stream_star_load(
        spark,
        landing,
        wh_root,
        str(tmp_path / "rc_ckpt2"),
        available_now=True,
        max_files_per_trigger=1,
        recluster=("title_skey", layout, 0.5),
    )
    q.awaitTermination(120)
    q.stop()
    assert audit(wh)["factvideostart"] == 128
