"""Structured-Streaming folds — the Snowpipe → CDC stream → task-DAG
path (SURVEY.md §2.8 T1-T5, §3 entry point 3) collapsed into one
idiomatic ``readStream → foreachBatch`` pipeline per maintained table.

Reference mapping:

- T1 Snowpipe auto-ingest  → file-source stream over a landing directory
  (exactly-once file tracking via the checkpoint)
- T2 CDC stream            → each micro-batch IS the delta
- T3 scheduled+gated task  → trigger(availableNow) for catch-up semantics
  (every fold); ``stream_star_load`` also takes processingTime for the
  reference's cadence; the has-data gate is inherent
- T4 task DAG              → parse → dedup-merge → dim upsert → fact
  append chained as plain function calls inside the batch fn
- T5 MERGE dedup           → within-batch dropDuplicates + left-anti vs
  already-landed raw rows, then idempotent batch-id fact append

Fold contract (every ``stream_*`` below):

- ``_fold_stream`` is the one place a stream starts: file source,
  ``foreachBatch``, checkpoint and trigger. Each ``stream_*`` supplies
  only its source schema and its per-batch ``apply``.
- Exactly-once comes from the ``publish_merged`` batch-id ledger: each
  table records the batch ids merged into it, in the same commit as the
  data, so a replayed batch no-ops on every table it already reached.
  A single-table fold declares its table, delta and merge through
  ``_fold_into``.
- In a multi-table fold every delta is a function of the PRE-batch
  state, so derived tables publish before the state they derive from: a
  crash between two publishes replays to identical deltas, the done
  merges no-op on their batch id, and the state catches up last.
  Publishing the state first would poison the replayed deltas.
- Ordered-transport folds (cursors, CDC compaction, postings) assume
  per-key order ACROSS batches, the file-source / Kafka-partition norm;
  within a batch any order is fine.

At scale: foreachBatch writes are the only state mutation; the raw
'CREDIT' table (landed rows) enables cross-batch dedup exactly like the
reference's MERGE destination (snow pipe.sql:96-109, with its intended
full-row-match semantics — SURVEY.md §2.12 bug 5).

'credit' is APPEND-ONLY (one batch directory per micro-batch, the same
pattern as the fact table): each batch writes only its own fresh rows,
so per-batch write cost is O(batch) regardless of warehouse size. The
anti-join probes the landed history on the READ side only — and when a
bounded dedup horizon is acceptable, ``dropDuplicatesWithinWatermark``
(streaming/windows.py) replaces the history probe entirely with
watermark-bounded state.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl__project_spark.operators.ivm import consolidate
from etl__project_spark.operators.merge import cdc_apply
from etl__project_spark.operators.rollup import merge_rollups
from etl__project_spark.session import empty_frame, state_checkpoint
from etl__project_spark.plans.star_load import (
    ConcurrentWriteError,
    ParquetWarehouse,
    gc_fact,
    index_fact_batch,
    join_stats_from_warehouse,
    load_batch,
    should_recluster,
)
from etl__project_spark.sources.readers import RAW_SCHEMA


def _fold_stream(
    spark: SparkSession,
    schema: T.StructType,
    landing_dir: str,
    checkpoint_dir: str,
    apply,
    *,
    max_files_per_trigger: int | None = None,
    processing_time: str | None = None,
    csv: bool = False,
):
    """Start ``apply(batch, batch_id)`` over the files landing in
    ``landing_dir`` (JSON lines, or headed CSV with ``csv``) and return
    the StreamingQuery. The trigger is ``processingTime=processing_time``
    when given, else ``availableNow``: drain the backlog, then stop.
    ``max_files_per_trigger`` is the file source's backpressure knob:
    ``availableNow`` honors it, so a backlog drains as several bounded
    micro-batches instead of one giant one."""
    reader = spark.readStream.schema(schema)
    if csv:
        reader = (
            reader.option("header", True)
            .option("quote", '"')
            .option("escape", "\\")
        )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    source = reader.csv(landing_dir) if csv else reader.json(landing_dir)
    writer = source.writeStream.foreachBatch(apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if processing_time is None:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime=processing_time).start()


def _fold_into(
    wh: ParquetWarehouse, table: str, schema: T.StructType, delta_fn, merge_fn
):
    """The ``apply`` of a single-table fold: merge ``delta_fn(batch)``
    into ``table`` via ``merge_fn(existing, delta)``, once per batch id."""

    def apply(batch: DataFrame, batch_id: int) -> None:
        wh.publish_merged(table, delta_fn(batch), schema, str(batch_id), merge_fn)

    return apply


def _sum(c: str) -> Column:
    return F.sum(c).alias(c)


def _min(c: str) -> Column:
    return F.min(c).alias(c)


def _max(c: str) -> Column:
    return F.max(c).alias(c)


def _agg_merge(keys: list[str], **merges):
    """Per-key merge of mergeable partial state, e.g.
    ``_agg_merge(["day"], x=_sum)``; every non-key column needs a rule."""
    return lambda existing, delta: merge_rollups(existing, delta, keys, merges)


def _consolidate_merge(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge of signed state: net multiplicity per row, zeros dropped."""
    return consolidate(existing.unionByName(delta))


def _latest_per_key(
    batch: DataFrame, key: str, seq_cols: tuple[str, ...] = ("seq",)
) -> DataFrame:
    """Each key's highest-``seq_cols`` row, tombstones KEPT (a stored
    tombstone must outlive its key so a late lower-seq update cannot
    resurrect it)."""
    return cdc_apply(
        batch, key_cols=[key], seq_cols=list(seq_cols), drop_deletes=False
    )


def _latest_wins_merge(key: str, seq_cols: tuple[str, ...] = ("seq",)):
    """Merge that keeps each key's latest row across state and delta —
    associative, so the two-level (batch, then state) plan is exact."""
    return lambda existing, delta: _latest_per_key(
        existing.unionByName(delta), key, seq_cols
    )


def _signed_images(
    batch: DataFrame, cols: list[str], before: dict[str, str]
) -> DataFrame:
    """A Debezium-shaped changelog as signed rows over ``cols``: U/D
    rows retract their before-image (``before`` maps a column to its
    before-image column) at −1, non-D rows assert their after-image at
    +1."""
    retract = batch.filter(F.col("op").isin("U", "D")).select(
        *[F.col(before.get(c, c)).alias(c) for c in cols],
        F.lit(-1).cast("long").alias("sign"),
    )
    assert_ = batch.filter(F.col("op") != "D").select(
        *cols, F.lit(1).cast("long").alias("sign")
    )
    return retract.unionByName(assert_)


# streaming-maintained serving aggregate: VideoStart rows per minute.
# Partial state is just (minute, n) — counts merge by sum.
ROLLUP_SCHEMA = T.StructType(
    [T.StructField("minute", T.StringType()), T.StructField("n", T.LongType())]
)


def _maintain_rollup(
    wh: ParquetWarehouse, spark: SparkSession, batch_id: str
) -> None:
    """Fold this batch's landed rows into the per-minute rollup table —
    the streaming face of ``operators/rollup.py``: O(batch + rollup) per
    micro-batch, never a recompute over raw history. Reads the batch's
    OWN credit directory (not the in-memory frame), so a foreachBatch
    retry that crashed between the raw append and this merge still
    catches up."""
    bdir = wh.fact_batch_dir("credit", batch_id)
    if not os.path.exists(os.path.join(bdir, "_SUCCESS")):
        return
    part = (
        spark.read.schema(RAW_SCHEMA)
        .parquet(bdir)
        .groupBy(F.substring("DateTime", 1, 16).alias("minute"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wh.publish_merged(
        "rollup_minute",
        part,
        ROLLUP_SCHEMA,
        batch_id,
        _agg_merge(["minute"], n=_sum),
    )


def _maintain_hll(wh: ParquetWarehouse, spark: SparkSession, batch_id: str) -> None:
    """Fold this batch's landed rows into a persistent HLL register table
    (distinct VideoTitle sketch) — streaming observability at fixed cost:
    per-batch state is <= 64 (reg, rho) longs and the combine is a
    register-wise max, so replays/out-of-order merges are harmless by
    algebra (``datapipe/sketches.py``). Same retry-catchup read-from-
    batch-dir discipline as ``_maintain_rollup``. The maintained sketch
    hash-equals a one-shot sketch of all landed rows (mergeability —
    pinned by test), so downstream reads one tiny table instead of
    re-scanning raw history for a COUNT(DISTINCT)."""
    from etl__project_spark.datapipe.sketches import (
        HLL_SCHEMA,
        hll_merge,
        hll_registers,
    )

    bdir = wh.fact_batch_dir("credit", batch_id)
    if not os.path.exists(os.path.join(bdir, "_SUCCESS")):
        return
    part = hll_registers(spark.read.schema(RAW_SCHEMA).parquet(bdir), "VideoTitle")
    wh.publish_merged(
        "hll_videotitle",
        part,
        HLL_SCHEMA,
        batch_id,
        hll_merge,
    )


def _process_batch(
    batch: DataFrame,
    batch_id: int,
    wh: ParquetWarehouse,
    spark: SparkSession,
    compact_every: int | None = None,
    quality_checks: dict | None = None,
    recluster: tuple | None = None,
    join_stats_sources: tuple[dict, dict] | None = None,
    broadcast_row_limit: int | None = None,
) -> None:
    # T5: dedup within the batch, then against every already-landed row
    # (re-delivered files insert nothing the second time). The landed
    # history is only READ here; the write below is the fresh rows alone.
    landed = wh.read_fact("credit", RAW_SCHEMA)
    fresh = batch.dropDuplicates().join(landed, list(batch.columns), "left_anti")
    fresh = fresh.persist()
    if fresh.count() > 0:
        # Optional per-batch quality gate (operators/quality.py): every
        # check evaluates in ONE fused aggregate pass over the cached
        # batch; a failing batch is QUARANTINED — written idempotently
        # to its own quarantine batch dir for inspection/replay — and
        # never reaches the raw table, the star load, or the serving
        # rollup (the gate is the streaming face of K5's precondition
        # discipline: bad input halts the batch, not the stream).
        if quality_checks is not None:
            from etl__project_spark.operators.quality import fused_checks

            report = fused_checks(fresh, "stream_batch", quality_checks)
            if report.filter(~F.col("passed")).limit(1).count() > 0:
                wh.fact_append("quarantine", fresh, batch_id=str(batch_id))
                fresh.unpersist()
                return
        wh.fact_append("credit", fresh, batch_id=str(batch_id))
        # Maintained planner statistics (VERDICT r10 #4): the batch path
        # (load_batch callers) already consults join_stats_from_warehouse;
        # the streaming star load must too, re-reading the maintained
        # state EVERY micro-batch — a dim that outgrows broadcast
        # mid-stream flips the very next batch's fact plan to the salted
        # shuffle instead of OOMing a hardcoded broadcast. Bounded cost:
        # one 1-row aggregate per tracked dim over KB-to-MB stats state.
        join_stats = None
        if join_stats_sources is not None:
            cms_grids, analyze_ndv = join_stats_sources
            join_stats = join_stats_from_warehouse(
                wh, cms_grids=cms_grids, analyze_ndv=analyze_ndv
            )
        load_batch(
            fresh,
            wh,
            batch_id=str(batch_id),
            spark=spark,
            join_stats=join_stats,
            broadcast_row_limit=broadcast_row_limit,
        )
        # bloom-index the landed raw batch at ingest (point-lookup file
        # skipping: "which batch dirs hold VideoTitle X" without reading
        # them). Advisory by design — if the process dies between the
        # append above and this index write, the unindexed dir is simply
        # always read; a retried batch re-indexes idempotently.
        index_fact_batch(wh, "credit", str(batch_id), "VideoTitle", schema=RAW_SCHEMA)
    fresh.unpersist()
    # incremental serving-aggregate maintenance (runs even when fresh is
    # empty: a retried batch whose append landed pre-crash catches up here)
    _maintain_rollup(wh, spark, str(batch_id))
    _maintain_hll(wh, spark, str(batch_id))
    # periodic small-files maintenance: fold accumulated batch dirs into
    # one compacted dir (manifest-committed; absorbed ids stay idempotent),
    # then reclaim any crash garbage a previous cycle's best-effort
    # deletes left behind (gc_fact — safe here precisely because
    # foreachBatch serializes micro-batches: no concurrent writer).
    if compact_every and (batch_id + 1) % compact_every == 0:
        wh.compact_fact("credit")
        wh.compact_fact("factvideostart")
        gc_fact(wh, "credit")
        gc_fact(wh, "factvideostart")
    # MEASURED maintenance (round 10): instead of a blind cadence, probe
    # the fact's clustering health from parquet footers and re-cluster
    # only when a typical point predicate would open more than the
    # threshold fraction of files — the lakehouse OPTIMIZE scheduler as
    # a streaming callback. Footer-only, O(files) per batch.
    if recluster is not None:
        probe_col, layout, threshold = recluster
        trig, _stats = should_recluster(
            wh, "factvideostart", probe_col, threshold
        )
        if trig:
            wh.compact_fact("factvideostart", layout=layout)


def stream_star_load(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: str | None = None,
    compact_every: int | None = None,
    max_files_per_trigger: int | None = None,
    quality_checks: dict | None = None,
    recluster: tuple | None = None,
    join_stats_sources: tuple[dict, dict] | None = None,
    broadcast_row_limit: int | None = None,
):
    """Start the streaming star load over a CSV landing directory.

    Returns the StreamingQuery. With ``available_now`` (the default) it
    drains the backlog and stops; ``awaitTermination()`` waits for that.
    ``available_now=False`` with ``processing_time`` (e.g. ``"60
    minutes"``, SURVEY.md T3's schedule) runs on that cadence until
    stopped; ``available_now=True`` wins when both are given.
    ``compact_every=N`` folds the append-only tables' batch directories
    into one compacted directory every N micro-batches (long-running
    streams otherwise accumulate one small dir per batch).
    ``max_files_per_trigger`` is the file source's backpressure knob: a
    burst of landed files is paced into bounded micro-batches instead of
    one giant catch-up batch — at scale this is what keeps executor
    memory and per-batch state flat through a backlog drain
    (``availableNow`` still drains everything; it just takes several
    batches to do it). ``quality_checks`` (name → violation-count
    aggregate, see ``operators/quality.py``) gates every micro-batch:
    a batch failing any check is quarantined instead of loaded.
    ``recluster=(probe_col, ZOrderLayout, threshold)`` replaces the
    blind compaction cadence with the MEASURED trigger: after each
    batch, ``should_recluster`` probes the fact's parquet footers and a
    Z-ordered compaction runs only when clustering health has actually
    eroded past ``threshold``.
    ``join_stats_sources=(cms_grids, analyze_ndv)`` (VERDICT r10 #4)
    feeds the maintained planner statistics
    (``plans/star_load.py:join_stats_from_warehouse`` — CMS join-size
    bounds max-combined with ANALYZE NDV state) into every
    micro-batch's fact build, so a dim growing past
    ``broadcast_row_limit`` mid-stream flips that batch's plan from
    broadcast to the salted shuffle, exactly as the batch path does
    (pinned by ``tests/test_streaming.py``).
    """
    wh = ParquetWarehouse(spark, warehouse_root)
    return _fold_stream(
        spark,
        RAW_SCHEMA,
        landing_dir,
        checkpoint_dir,
        lambda df, bid: _process_batch(
            df,
            bid,
            wh,
            spark,
            compact_every,
            quality_checks,
            recluster,
            join_stats_sources,
            broadcast_row_limit,
        ),
        max_files_per_trigger=max_files_per_trigger,
        processing_time=None if available_now else processing_time,
        csv=True,
    )


# --- streaming CDC view ----------------------------------------------------

CDC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("seq", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ]
)


def read_cdc_view(wh: ParquetWarehouse) -> DataFrame:
    """The live post-image of the streamed CDC table: tombstones are
    retained in storage (see ``stream_cdc_apply``) and filtered only
    here, at read time."""
    return wh.read("cdc_view", CDC_SCHEMA).filter(F.col("op") != "D")


def stream_cdc_apply(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
):
    """Maintain an upsert/delete CDC view from a JSON-lines changelog
    stream — the streaming face of ``operators/merge.py:cdc_apply``.

    Per micro-batch: (1) compact the batch to its latest change per key
    KEEPING tombstones, (2) merge against the stored state by re-running
    the same latest-wins rank over state ∪ delta — correct because
    latest-wins is associative.

    The state table retains winning tombstones rather than erasing
    their keys, so a late lower-sequence update for a deleted key
    cannot resurrect it across batch boundaries (Kafka-compaction
    tombstone retention; a production deployment ages tombstones out
    past the source's max disorder horizon). Readers use
    :func:`read_cdc_view`, which filters tombstones at read time.

    Scale shape per batch: one key exchange over the DELTA for the
    compaction, then a merge whose cost is O(state ∩ touched keys) when
    the state table is bucketed by key.
    """
    wh = ParquetWarehouse(spark, warehouse_root)
    apply = _fold_into(
        wh,
        "cdc_view",
        CDC_SCHEMA,
        lambda batch: _latest_per_key(batch, "id"),
        _latest_wins_merge("id"),
    )
    return _fold_stream(spark, CDC_SCHEMA, landing_dir, checkpoint_dir, apply)


# --- streaming transition-matrix maintenance --------------------------------

TM_EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ]
)
TM_COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("from_type", T.StringType()),
        T.StructField("to_type", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)
TM_CURSOR_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
    ]
)


def stream_transition_matrix(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
):
    """Incrementally maintain the Markov transition matrix
    (``ev_transition_matrix``'s counts) over a JSON-lines event stream —
    the interesting part is the BOUNDARY: a user's last event of batch
    N and first event of batch N+1 form a transition no single batch
    sees, so per-batch state is a (user → last event) CURSOR table.

    Per micro-batch: (1) within-batch transitions via the same
    user-keyed ``lead`` window as the batch operator; (2) boundary
    transitions by joining each user's batch-FIRST event against the
    cursor; (3) fold both into the counts table (merge = sum per cell —
    associative, so replays and shard merges are safe) and advance the
    cursor (merge = latest-wins per user, the ``cdc_apply`` rank).
    Publish order: counts → cursor.

    Out-of-order sources first run the stream through
    ``dedup_within_watermark``/a sort buffer, or accept that a
    boundary-late event attributes its transition to arrival order —
    the same trade a Flink CEP pipeline makes without an event-time
    buffer. Cursor state is one row per user (bounded); counts are
    |types|² cells.
    """
    wh = ParquetWarehouse(spark, warehouse_root)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ranked = batch.withColumn(
            "next_type", F.lead("event_type").over(w)
        ).withColumn("rn", F.row_number().over(w))
        within = (
            ranked.filter(F.col("next_type").isNotNull())
            .groupBy(
                F.col("event_type").alias("from_type"),
                F.col("next_type").alias("to_type"),
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )
        cursor = wh.read("tm_cursor", TM_CURSOR_SCHEMA)
        firsts = ranked.filter(F.col("rn") == 1).select(
            "user_id", F.col("event_type").alias("first_type")
        )
        boundary = (
            firsts.join(
                cursor.select("user_id", F.col("event_type").alias("from_type")),
                "user_id",
            )
            .groupBy("from_type", F.col("first_type").alias("to_type"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        delta = within.unionByName(boundary).groupBy("from_type", "to_type").agg(
            F.sum("n").alias("n")
        )
        wh.publish_merged(
            "tm_counts",
            delta,
            TM_COUNTS_SCHEMA,
            f"{batch_id}:counts",
            _agg_merge(["from_type", "to_type"], n=_sum),
        )
        # latest-wins within the batch first: the cursor fold merges one
        # candidate per user, not the whole batch (review finding r6)
        seq = ("ts", "event_id")
        wh.publish_merged(
            "tm_cursor",
            _latest_per_key(batch, "user_id", seq).select(TM_CURSOR_SCHEMA.names),
            TM_CURSOR_SCHEMA,
            f"{batch_id}:cursor",
            _latest_wins_merge("user_id", seq),
        )

    return _fold_stream(spark, TM_EVENT_SCHEMA, landing_dir, checkpoint_dir, _apply)


# --- streaming signed join-view maintenance ---------------------------------

JV_STATE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("sign", T.LongType()),
    ]
)


def _jv_view_schema(static_a: DataFrame) -> T.StructType:
    return T.StructType(
        list(static_a.schema.fields)
        + [
            T.StructField("v", T.DoubleType()),
            T.StructField("sign", T.LongType()),
        ]
    )


def read_join_view(wh: ParquetWarehouse, static_a: DataFrame) -> DataFrame:
    """The maintained A ⋈ B view: consolidated rows with their net
    multiplicity (``sign`` ≥ 1 — fully-retracted rows are already
    absent from storage)."""
    return wh.read("jv_view", _jv_view_schema(static_a))


def _join_view_apply(
    spark: SparkSession, static_a: DataFrame, warehouse_root: str, how: str
):
    """The per-batch ``apply`` of a CDC-maintained join view
    ``static_a ⋈ B`` (``how="inner"``, tables ``jv_*``) or
    ``static_a ⟕ B`` (``how="left"``, tables ``ljv_*``).

    Per micro-batch: compact latest-wins per key KEEPING tombstones
    (``_latest_per_key``); translate to signed row deltas against B's
    CURRENT stored state (``cdc_to_signed_delta`` — old images retract,
    post-images assert); derive the view delta; fold the view and B's
    state through ``publish_merged`` consolidations. Publish order:
    view → state.

    The inner delta signed-joins B's delta against the static side (A
    never re-joins B's history — two of the three delta terms vanish when
    only B churns). The left delta adds the null-extension transitions
    (keys crossing 0→>0 retract their placeholders, >0→0 re-assert
    them), and the left view is SEEDED here, once (exactly-once batch id
    "seed"), with every A row null-extended: B starts empty, so the LEFT
    join of the initial states is exactly NE(A); a restart no-ops the
    seed by id."""
    from etl__project_spark.operators.ivm import (
        _signed_join,
        cdc_to_signed_delta,
        leftjoin_delta_signed,
        leftjoin_init_signed,
    )

    prefix = {"inner": "jv", "left": "ljv"}[how]
    view, state = f"{prefix}_view", f"{prefix}_state_b"
    wh = ParquetWarehouse(spark, warehouse_root)
    a_signed = state_checkpoint(
        static_a.select("*", F.lit(1).cast("long").alias("sign")),
        table_sized=True,
    )
    view_schema = _jv_view_schema(static_a)
    if how == "left":
        empty_b = empty_frame(spark, JV_STATE_SCHEMA)
        wh.publish_merged(
            view,
            leftjoin_init_signed(a_signed, empty_b, ["id"]),
            view_schema,
            "seed",
            _consolidate_merge,
        )

    def _apply(batch: DataFrame, batch_id: int) -> None:
        compact = _latest_per_key(batch, "id")
        state_b = wh.read(state, JV_STATE_SCHEMA)
        delta_b = state_checkpoint(
            cdc_to_signed_delta(
                state_b, compact.select("id", "op", "v"), ["id"]
            ),
            table_sized=False,
        )
        if how == "left":
            delta_v = leftjoin_delta_signed(a_signed, state_b, delta_b, ["id"])
        else:
            delta_v = _signed_join(a_signed, delta_b, ["id"], "sign")
        bid = str(batch_id)
        wh.publish_merged(view, delta_v, view_schema, bid, _consolidate_merge)
        wh.publish_merged(state, delta_b, JV_STATE_SCHEMA, bid, _consolidate_merge)

    return _apply


def stream_join_view_cdc(
    spark: SparkSession,
    static_a: DataFrame,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
):
    """Maintain the join view ``static_a ⋈ B`` while B arrives as a CDC
    changelog stream (JSON lines of ``CDC_SCHEMA``: id/seq/op/v) — the
    streaming face of ``operators/ivm.py``'s signed-delta IVM. The fold
    is ``_join_view_apply(how="inner")``.

    The batch twin ``tpch_join_cdc_incremental`` and the property tests
    pin the algebra, this pins the production shape. Per-batch cost: one
    key exchange to compact the delta, one broadcast/bucketed probe of
    A, and consolidations that touch only keys the delta touched when
    the state tables are bucketed by key.
    """
    return _fold_stream(
        spark,
        CDC_SCHEMA,
        landing_dir,
        checkpoint_dir,
        _join_view_apply(spark, static_a, warehouse_root, "inner"),
    )


def read_leftjoin_view(wh: ParquetWarehouse, static_a: DataFrame) -> DataFrame:
    """The maintained A ⟕ B view: consolidated signed rows; unmatched
    A keys carry a NULL B payload (the null-extension rows)."""
    return wh.read("ljv_view", _jv_view_schema(static_a))


def stream_leftjoin_view_cdc(
    spark: SparkSession,
    static_a: DataFrame,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
):
    """Maintain the LEFT-OUTER join view ``static_a ⟕ B`` while B
    arrives as a CDC changelog stream — the streaming face of
    ``operators/ivm.py:leftjoin_delta_signed`` (the batch twin is
    ``tpch_leftjoin_cdc_incremental``), completing the
    ``stream_join_view_cdc`` family with null-extension maintenance.
    The fold is ``_join_view_apply(how="left")``, which seeds the view.

    Per-batch cost adds one touched-keys probe of B's state and one
    signed probe of A to the inner job's plan — O(|Δ| × fan-out).
    """
    return _fold_stream(
        spark,
        CDC_SCHEMA,
        landing_dir,
        checkpoint_dir,
        _join_view_apply(spark, static_a, warehouse_root, "left"),
    )


# --- streaming retractable-rollup maintenance --------------------------------

RC_ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("g", T.LongType()),
        T.StructField("n", T.LongType()),
        # what merge_rollups_signed writes: Σ sign·v over decimal(18,2)
        # factors is decimal(38,4), and the merge keeps that type
        T.StructField("total", T.DecimalType(38, 4)),
        T.StructField("vmin", T.DecimalType(18, 2)),
        T.StructField("vmax", T.DecimalType(18, 2)),
    ]
)
RC_DISTINCT_SCHEMA = T.StructType(
    [
        T.StructField("g", T.LongType()),
        T.StructField("v", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def read_cdc_rollup(wh: ParquetWarehouse) -> DataFrame:
    """The maintained per-group rollup (count/sum/min/max + distinct-v
    count) over the CDC-churned base table."""
    from etl__project_spark.operators.rollup import finalize_distinct

    rollup = wh.read("rc_rollup", RC_ROLLUP_SCHEMA)
    nd = finalize_distinct(wh.read("rc_distinct", RC_DISTINCT_SCHEMA), ["g"])
    return rollup.join(nd, "g").select(
        "g",
        F.col("n").alias("n_rows"),
        F.col("total").cast("double").alias("total_value"),
        F.col("vmin").cast("double").alias("min_value"),
        F.col("vmax").cast("double").alias("max_value"),
        F.col("n_distinct").alias("n_distinct_values"),
    )


def stream_rollup_cdc(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
):
    """Maintain a (count, sum, MIN, MAX, DISTINCT-count) rollup while the
    base table receives CDC churn — the streaming face of the round-7
    retraction operators, and the production shape their batch twins
    (``ev_rollup_cdc_minmax`` / ``ev_rollup_cdc_distinct``) document:
    the base-consulting min/max re-derivation probes the BASE STATE
    TABLE this same job maintains, restricted to touched groups.

    Per micro-batch (group key g = id % 3, measure v): (1) compact the
    changelog latest-wins keeping tombstones; (2) translate to signed
    row deltas against the stored base; (3) merge the rollup —
    count/sum through the signed algebra, min/max re-derived from the
    post-batch base restricted to touched groups
    (``merge_rollups_minmax_cdc``); (4) merge the (g, v)-grain distinct
    state (``merge_distinct_signed``); (5) advance the base. Publish
    order: rollup → distinct → base.

    Per-batch cost: one delta-keyed compaction exchange, one probe of
    the key-bucketed base for old images, one touched-group probe for
    the extremes, and bounded-keyspace merges.
    """
    from etl__project_spark.operators.ivm import cdc_to_signed_delta
    from etl__project_spark.operators.rollup import (
        merge_distinct_signed,
        merge_rollups_minmax_cdc,
        partial_distinct_signed,
    )

    wh = ParquetWarehouse(spark, warehouse_root)

    def _with_g(df: DataFrame) -> DataFrame:
        return df.withColumn("g", F.pmod(F.col("id"), F.lit(3)))

    def _apply(batch: DataFrame, batch_id: int) -> None:
        compact = _latest_per_key(batch, "id")
        base = wh.read("rc_base", JV_STATE_SCHEMA)
        delta = state_checkpoint(
            cdc_to_signed_delta(
                base, compact.select("id", "op", "v"), ["id"]
            ),
            table_sized=False,
        )
        post_base = state_checkpoint(
            _consolidate_merge(base, delta), table_sized=True
        )
        delta_g = _with_g(delta)
        bid = str(batch_id)
        wh.publish_merged(
            "rc_rollup",
            delta_g,
            RC_ROLLUP_SCHEMA,
            bid,
            lambda ex, d: merge_rollups_minmax_cdc(
                ex, d, _with_g(post_base), ["g"], value_col="v"
            ),
        )
        wh.publish_merged(
            "rc_distinct",
            partial_distinct_signed(delta_g, ["g"], "v"),
            RC_DISTINCT_SCHEMA,
            bid,
            lambda ex, d: merge_distinct_signed(ex, d, ["g"], "v"),
        )
        wh.publish_merged("rc_base", delta, JV_STATE_SCHEMA, bid, _consolidate_merge)

    return _fold_stream(spark, CDC_SCHEMA, landing_dir, checkpoint_dir, _apply)


# --- streaming dedup-index maintenance ---------------------------------------

DOC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
    ]
)
LSH_INDEX_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("band_id", T.IntegerType()),
        T.StructField("band_hash", T.StringType()),
    ]
)
LSH_PAIRS_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
    ]
)


def read_dedup_pairs(wh: ParquetWarehouse) -> DataFrame:
    """All candidate near-dup pairs discovered so far (id_a < id_b)."""
    return wh.read("lsh_pairs", LSH_PAIRS_SCHEMA)


def stream_dedup_index(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
):
    """Continuous-ingest near-dup detection: documents arrive as a JSON-
    lines stream and the MinHash-LSH index is maintained per micro-batch
    — the streaming face of ``datapipe/dedup.py:lsh_index_increment``
    (batch twin: ``doc_lsh_incremental``), and the operational core of
    a training-corpus intake pipeline: every new document is checked
    against EVERYTHING ingested so far, at probe cost, the moment it
    lands.

    Per micro-batch: shingle + MinHash-sign ONLY the batch, probe the
    stored band table for cross-batch candidates, self-join within the
    batch, then publish pairs → index (index-first would make a replayed
    probe see the batch's own bands and double-report within-batch pairs
    as cross-batch).

    At 100 TB the band table is stored bucketed by (band_id, band_hash)
    so the probe is bucket-pruned; corpus history is never re-signed.
    """
    from etl__project_spark.datapipe.dedup import (
        char_shingles,
        lsh_index_increment,
        minhash_signature,
    )

    wh = ParquetWarehouse(spark, warehouse_root)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        sig = state_checkpoint(
            minhash_signature(char_shingles(batch, distinct=False), n_hashes=8),
            table_sized=False,
        )
        index = wh.read("lsh_index", LSH_INDEX_SCHEMA)
        pairs, new_bands = lsh_index_increment(index, sig)
        wh.publish_merged(
            "lsh_pairs",
            pairs,
            LSH_PAIRS_SCHEMA,
            str(batch_id),
            lambda ex, d: ex.unionByName(d).distinct(),
        )
        wh.publish_merged(
            "lsh_index",
            new_bands,
            LSH_INDEX_SCHEMA,
            str(batch_id),
            lambda ex, d: ex.unionByName(d),
        )

    return _fold_stream(spark, DOC_SCHEMA, landing_dir, checkpoint_dir, _apply)


# --- streaming SCD Type-2 dimension maintenance -----------------------------

SCD2_DELTA_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("attr", T.StringType()),
        T.StructField("load_date", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)

SCD2_DIM_SCHEMA = T.StructType(
    [
        T.StructField("skey", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("attr", T.StringType()),
        T.StructField("current_flag", T.StringType()),
        T.StructField("start_date", T.DateType()),
        T.StructField("end_date", T.DateType()),
    ]
)


def read_scd2_dim(wh: ParquetWarehouse) -> DataFrame:
    """The maintained SCD2 dimension (all versions; filter
    ``current_flag = 'Y'`` for the serving view)."""
    return wh.read("scd2_dim", SCD2_DIM_SCHEMA)


def stream_scd2_dim(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
):
    """Maintain an SCD Type-2 dimension from a streaming feed of
    attribute-change records — the streaming face of
    ``operators/dims.py:scd2_upsert`` (batch twin: ``vs_scd2_upsert``),
    and the missing operational half of the reference's warehouse
    design (summary.pdf p.8 documents SCD2; the reference never coded
    even the batch version). Each change record carries
    (natural key, attrs, load_date, seq); per micro-batch the current
    dim versions are expired and new versions inserted via the exact
    batch algorithm, folded through one merged publish — the batch-id
    ledger is what keeps redelivery from double-expiring a row or
    burning surrogate keys, not the algorithm.

    Batches are expected key-disjoint-per-day (the daily-dim-delta
    shape); a batch spanning several load dates applies under its
    LATEST date — one bounded 1-row driver read per batch, documented
    the same way the d²-cell covariance read is. Within-batch conflict
    collapse (several versions of one key in one batch) is
    ``scd2_upsert``'s last-writer-wins on ``seq``.

    At 100 TB the dim is orders of magnitude smaller than the facts
    (publish_merged's documented small-state contract); the upsert's
    joins stay broadcast on the delta side, and surrogate-key density
    survives restarts because keys come from the PUBLISHED dim's max,
    never from in-memory state.
    """
    from etl__project_spark.operators.dims import scd2_upsert

    wh = ParquetWarehouse(spark, warehouse_root)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        b = state_checkpoint(batch, table_sized=False)
        first = b.agg(F.max("load_date").alias("ld")).first()
        if first["ld"] is None:
            return
        load_date = first["ld"]

        def merge(existing: DataFrame, delta: DataFrame) -> DataFrame:
            return scd2_upsert(
                existing,
                delta.select("name", "attr", "seq"),
                natural_key="name",
                attr_cols=["attr"],
                skey_col="skey",
                load_date=load_date,
                order_col="seq",
            ).select(SCD2_DIM_SCHEMA.names)

        wh.publish_merged("scd2_dim", b, SCD2_DIM_SCHEMA, str(batch_id), merge)

    return _fold_stream(spark, SCD2_DELTA_SCHEMA, landing_dir, checkpoint_dir, _apply)


SCD2M_DELTA_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType()),
        T.StructField("attr", T.StringType()),
        T.StructField("ord", T.LongType()),
        T.StructField("seq", T.LongType()),
    ]
)

SCD2M_DIM_SCHEMA = T.StructType(
    [
        T.StructField("skey", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("attr", T.StringType()),
        T.StructField("current_flag", T.StringType()),
        T.StructField("start_ord", T.LongType()),
        T.StructField("end_ord", T.LongType()),
    ]
)


def read_scd2_dim_multi(wh: ParquetWarehouse) -> DataFrame:
    """The maintained multi-version SCD2 dimension (half-open
    [start_ord, end_ord) validity; filter ``current_flag = 'Y'`` for
    the serving view)."""
    return wh.read("scd2m_dim", SCD2M_DIM_SCHEMA)


def stream_scd2_dim_multi(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
):
    """Maintain a MULTI-VERSION SCD2 dimension from a streaming change
    feed — the streaming face of ``operators/dims.py:
    scd2_upsert_multi`` (batch twin: ``ev_scd2_multiversion``), for
    CDC-grade feeds where one micro-batch may carry several ordered
    changes per key and every distinct consecutive state must become
    its own validity interval — what :func:`stream_scd2_dim`'s daily
    one-winner collapse cannot express.

    Each record carries (name, attr, ord, seq): ``ord`` is the
    effective ordinal (epoch micros / change sequence) that becomes the
    version interval bound, ``seq`` the unique tiebreak. Per
    micro-batch the whole one-pass multi-version algorithm runs inside
    ONE merged publish — consecutive-dup collapse, no-op-vs-current
    detection, interval chaining, expiry of the stored current row at
    the first new version's ordinal — so redelivery can neither
    double-expire nor burn surrogate keys. Assumes per-key ordinal
    monotonicity ACROSS batches.

    Scale shape per batch: the operator's two delta-keyed window
    stages + broadcast dim probes, inside publish_merged's small-state
    contract (dims ≪ facts).
    """
    from etl__project_spark.operators.dims import scd2_upsert_multi

    def merge(existing: DataFrame, delta: DataFrame) -> DataFrame:
        return scd2_upsert_multi(
            existing,
            delta.select("name", "attr", "ord", "seq"),
            natural_key="name",
            attr_cols=["attr"],
            skey_col="skey",
            order_col="ord",
            tiebreak_cols=["seq"],
        ).select(SCD2M_DIM_SCHEMA.names)

    apply = _fold_into(
        ParquetWarehouse(spark, warehouse_root),
        "scd2m_dim",
        SCD2M_DIM_SCHEMA,
        lambda batch: state_checkpoint(batch, table_sized=False),
        merge,
    )
    return _fold_stream(spark, SCD2M_DELTA_SCHEMA, landing_dir, checkpoint_dir, apply)


# --- streaming incremental table statistics ---------------------------------

COLSTATS_SCHEMA = T.StructType(
    [
        T.StructField("column_name", T.StringType()),
        T.StructField("n_rows", T.LongType()),
        T.StructField("n_nulls", T.LongType()),
        T.StructField("min_d", T.DoubleType()),
        T.StructField("max_d", T.DoubleType()),
    ]
)

COLNDV_SCHEMA = T.StructType(
    [
        T.StructField("column_name", T.StringType()),
        T.StructField("reg", T.LongType()),
        T.StructField("rho", T.LongType()),
    ]
)


def read_column_stats(wh: ParquetWarehouse) -> DataFrame:
    return wh.read("col_stats", COLSTATS_SCHEMA)


def read_column_ndv(wh: ParquetWarehouse) -> DataFrame:
    return wh.read("col_ndv", COLNDV_SCHEMA)


def stream_column_stats(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    schema: T.StructType,
    cols: list[str],
):
    """ANALYZE maintained AT INGEST: per micro-batch, fold the batch's
    contribution into a persistent per-column statistics table — the
    incremental face of ``operators/quality.py:column_stats`` (batch
    twin: ``tpch_column_stats``), and how table stats stay fresh on a
    100 TB table nobody can afford to re-scan: every statistic kept is
    MERGEABLE (row/null counts sum, min/max combine by min/max, and
    NDV is the keyed HLL register table whose combine is register-wise
    max — the exact-NDV column of the batch operator is the one
    non-mergeable statistic, so the sketch replaces it here, the swap
    the batch operator's docstring promises).

    Per batch, ONE fused aggregate computes every scalar stat and ONE
    explode pass feeds all columns' HLL registers; publish order is
    col_stats → col_ndv (both derive from the batch alone, and the
    register max is idempotent even across ledger resets). State is
    |cols| scalar rows + |cols|·64 register rows — KBs forever.
    """
    from etl__project_spark.datapipe.sketches import hll_registers_keyed

    wh = ParquetWarehouse(spark, warehouse_root)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        b = state_checkpoint(batch, table_sized=False)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for c in cols:
            aggs += [
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nulls_{c}"),
                F.min(F.col(c).cast("double")).alias(f"__min_{c}"),
                F.max(F.col(c).cast("double")).alias(f"__max_{c}"),
            ]
        one = b.agg(*aggs)
        picks = [
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("__n").alias("n_rows"),
                F.col(f"__nulls_{c}").alias("n_nulls"),
                F.col(f"__min_{c}").alias("min_d"),
                F.col(f"__max_{c}").alias("max_d"),
            )
            for c in cols
        ]
        scalar = one.select(F.explode(F.array(*picks)).alias("s")).select("s.*")
        wh.publish_merged(
            "col_stats",
            scalar,
            COLSTATS_SCHEMA,
            str(batch_id),
            _agg_merge(
                ["column_name"], n_rows=_sum, n_nulls=_sum, min_d=_min, max_d=_max
            ),
        )

        vals = (
            b.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("column_name"),
                                F.col(c).cast("string").alias("v"),
                            )
                            for c in cols
                        ]
                    )
                ).alias("x")
            )
            .select("x.column_name", "x.v")
            .filter(F.col("v").isNotNull())
        )
        wh.publish_merged(
            "col_ndv",
            hll_registers_keyed(vals, "column_name", "v"),
            COLNDV_SCHEMA,
            str(batch_id),
            _agg_merge(["column_name", "reg"], rho=_max),
        )

    return _fold_stream(spark, schema, landing_dir, checkpoint_dir, _apply)


# --- streaming ANN (PQ) index maintenance -----------------------------------

EMB_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ]
)

ANN_CODES_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("s", T.IntegerType()),
        T.StructField("cw_id", T.LongType()),
    ]
)

ANN_CODEBOOKS_SCHEMA = T.StructType(
    [
        T.StructField("s", T.IntegerType()),
        T.StructField("cw_id", T.LongType()),
        T.StructField("c", T.ArrayType(T.DoubleType())),
    ]
)


def read_ann_codebooks(wh: ParquetWarehouse) -> DataFrame:
    return wh.read("ann_codebooks", ANN_CODEBOOKS_SCHEMA)


def ann_lookup(wh: ParquetWarehouse, query: DataFrame, k: int = 10) -> DataFrame:
    """Serve a nearest-neighbour query from the STORED index: 8-byte
    codes + broadcast codebooks/LUT — the raw vectors are never read."""
    from etl__project_spark.datapipe.similarity import pq_adc_topk

    codes = wh.read_fact("ann_codes", ANN_CODES_SCHEMA)
    return pq_adc_topk(codes, read_ann_codebooks(wh), query, k=k)


def stream_ann_index(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
):
    """Similarity search over a GROWING corpus: embeddings arrive as a
    stream and the PQ index is maintained per micro-batch — train
    codebooks ONCE on the first batch (2 Lloyd rounds,
    ``pq_codebooks``), freeze and publish them, then every batch is
    encoded against the frozen codebooks and its 8-byte codes appended
    — history is never re-encoded, exactly how FAISS-style services
    index a stream (codebooks from a training sample; retraining is a
    rebuild, not an increment). ``ann_lookup`` then serves queries
    from codes + codebooks alone: at 100 TB of vectors the serving
    scan is 32× smaller than the raw corpus and the query work is one
    broadcast LUT join + a top-k.

    Exactly-once: the codebook publish is guarded by the versioned
    CAS (first writer wins; a replay sees the table exists and skips
    training), and code appends are idempotent per batch id
    (``fact_append``). A crash between them replays cleanly because
    encoding reads the PUBLISHED codebooks, never in-memory state.
    """
    from etl__project_spark.datapipe.similarity import pq_codebooks, pq_encode

    wh = ParquetWarehouse(spark, warehouse_root)

    def _apply(batch: DataFrame, batch_id: int) -> None:
        b = state_checkpoint(batch, table_sized=False)
        if b.isEmpty():
            return
        if wh._current("ann_codebooks") is None:
            # pq_codebooks seeds with vec_id < n_codewords — re-index the
            # training batch to dense 0..N-1 ids (by vec_id order) so a
            # first batch with offset/sparse ids still yields full
            # codebooks instead of silently publishing an empty table
            # (the single-partition window is fine: the training batch
            # is a bounded sample by design)
            from pyspark.sql import Window

            wtrain = Window.orderBy("vec_id")
            train = b.select(
                (F.row_number().over(wtrain) - 1).cast("long").alias("vec_id"),
                "embedding",
            )
            cb = pq_codebooks(train, train_iters=2).select("s", "cw_id", "c")
            try:
                wh.publish("ann_codebooks", cb)
            except ConcurrentWriteError:
                pass  # a racing writer already trained them — use theirs
        codes = pq_encode(b, read_ann_codebooks(wh))
        wh.fact_append("ann_codes", codes, str(batch_id))

    return _fold_stream(spark, EMB_SCHEMA, landing_dir, checkpoint_dir, _apply)


# --- streaming daily-series monitor maintenance -----------------------------

DAILY_COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("day", T.DateType()),
        T.StructField("x", T.LongType()),
    ]
)


def read_daily_counts(wh: ParquetWarehouse) -> DataFrame:
    """The maintained daily event-count series."""
    return wh.read("daily_counts", DAILY_COUNTS_SCHEMA)


def read_daily_anomaly(wh: ParquetWarehouse) -> DataFrame:
    """EWMA anomaly flags served from the MAINTAINED daily series —
    the at-ingest face of the batch ``ev_ewma_anomaly`` query. Calls
    the same ``operators/series.py:ewma_flags`` fold, so serve ≡
    one-shot is a property of shared code, not a re-implementation."""
    from etl__project_spark.operators.series import ewma_flags

    return ewma_flags(read_daily_counts(wh))


def stream_daily_counts(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    schema: T.StructType,
    ts_col: str = "ts",
):
    """The daily-series monitors maintained AT INGEST: per micro-batch,
    fold the batch's per-day event counts into a persistent daily
    series — the table ``ev_ewma_anomaly`` / ``ev_cusum_changepoint`` /
    ``ev_autocorr_daily`` actually need, kept fresh without ever
    re-scanning the event history (on a 100 TB stream the daily series
    is the ONLY thing those monitors touch, and it is <= |days| rows
    forever).

    Per-day counts are the simplest mergeable statistic (counts sum),
    so the fold is one bounded groupBy per batch; late rows for an
    already-seen day just add to that day's count on their own batch's
    fold.
    """
    apply = _fold_into(
        ParquetWarehouse(spark, warehouse_root),
        "daily_counts",
        DAILY_COUNTS_SCHEMA,
        lambda batch: batch.groupBy(F.to_date(ts_col).alias("day")).agg(
            F.count(F.lit(1)).alias("x")
        ),
        _agg_merge(["day"], x=_sum),
    )
    return _fold_stream(spark, schema, landing_dir, checkpoint_dir, apply)


# --- streaming survival-curve (per-user conversion) maintenance -------------

USER_CONVERSION_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("first_day", T.DateType()),
        T.StructField("conv_day", T.DateType()),
        T.StructField("last_day", T.DateType()),
    ]
)


def read_user_conversion(wh: ParquetWarehouse) -> DataFrame:
    """The maintained per-user conversion table (first event day,
    first big-ticket purchase day or null, last event day)."""
    return wh.read("user_conversion", USER_CONVERSION_SCHEMA)


def read_survival_curve(wh: ParquetWarehouse) -> DataFrame:
    """Kaplan-Meier time-to-conversion curve served from the MAINTAINED
    per-user table — the at-ingest face of the batch ``ev_survival_km``
    query. Calls the same ``operators/series.py:survival_curve`` fold,
    so serve ≡ one-shot is a property of shared code."""
    from etl__project_spark.operators.series import survival_curve

    return survival_curve(read_user_conversion(wh))


def stream_user_conversion(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    schema: T.StructType,
    ts_col: str = "ts",
):
    """The survival-curve inputs maintained AT INGEST: per micro-batch,
    fold each user's (min first event day, min conversion day, max
    last event day) into a persistent per-user table — the ONLY state
    the Kaplan-Meier curve needs, |users|-sized (dimension-class)
    rather than event-history-sized, kept fresh without re-scanning
    the stream.

    All three statistics are mergeable min/max folds, so the merge is
    one per-user aggregate: a user whose first sighting and conversion
    arrive in DIFFERENT batches converges to the same row as a one-shot
    fold (mins and maxes commute across batch boundaries). The
    conversion predicate is the shared
    ``operators/series.py:big_ticket``, the same expression the batch
    query and the A/B tests use.
    """
    from etl__project_spark.operators.series import big_ticket

    day = F.to_date(ts_col)
    apply = _fold_into(
        ParquetWarehouse(spark, warehouse_root),
        "user_conversion",
        USER_CONVERSION_SCHEMA,
        lambda batch: batch.groupBy("user_id").agg(
            F.min(day).alias("first_day"),
            F.min(F.when(big_ticket(), day)).alias("conv_day"),
            F.max(day).alias("last_day"),
        ),
        _agg_merge(["user_id"], first_day=_min, conv_day=_min, last_day=_max),
    )
    return _fold_stream(spark, schema, landing_dir, checkpoint_dir, apply)


# --- streaming privacy-gate (QI band-count) maintenance ---------------------

QI_COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("dow", T.LongType()),
        T.StructField("hour_band", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value_band", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)

_QI_KEYS = ["dow", "hour_band", "event_type", "value_band"]


def read_qi_counts(wh: ParquetWarehouse) -> DataFrame:
    """The maintained quasi-identifier × sensitive-band count table."""
    return wh.read("qi_counts", QI_COUNTS_SCHEMA)


def read_k_anonymity(wh: ParquetWarehouse) -> DataFrame:
    """k-anonymity release gate served from the MAINTAINED QI counts —
    the at-ingest face of the batch ``ev_k_anonymity`` query, through
    the same ``operators/quality.py:k_anonymity_gate`` coded path."""
    from etl__project_spark.operators.quality import k_anonymity_gate

    return k_anonymity_gate(read_qi_counts(wh), k=5)


def read_l_diversity(wh: ParquetWarehouse) -> DataFrame:
    """l-diversity release gate served from the same maintained table
    (the sensitive band is part of the grain, so l per QI group is a
    row count — no event re-scan), via ``l_diversity_gate``."""
    from etl__project_spark.operators.quality import l_diversity_gate

    return l_diversity_gate(read_qi_counts(wh), l_min=2)


def read_t_closeness(wh: ParquetWarehouse) -> DataFrame:
    """t-closeness release gate served from the same maintained table
    (group and global band distributions are both ratios of the
    maintained counts), via ``t_closeness_gate`` — the third gate of
    the trio, same serve path as the batch ``ev_t_closeness``."""
    from etl__project_spark.operators.quality import t_closeness_gate

    return t_closeness_gate(read_qi_counts(wh), t=0.5)


def stream_qi_counts(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    schema: T.StructType,
):
    """The privacy release gates maintained AT INGEST: per micro-batch,
    fold the batch's (weekday, hour band, event type, spend band)
    counts into a persistent table bounded by the QI domain (7 x 4 x
    |event types| x |spend bands| rows forever) — both
    ``read_k_anonymity`` and ``read_l_diversity`` serve from it
    without ever re-scanning event history, so a release decision is
    always current.

    Counts are the simplest mergeable statistic (sums), so the fold is
    one bounded groupBy per batch — the ``stream_daily_counts`` pattern
    at QI grain. The banding is the shared
    ``operators/quality.py:qi_band_counts``, the same expression the
    batch queries aggregate with."""
    from etl__project_spark.operators.quality import qi_band_counts

    apply = _fold_into(
        ParquetWarehouse(spark, warehouse_root),
        "qi_counts",
        QI_COUNTS_SCHEMA,
        qi_band_counts,
        _agg_merge(_QI_KEYS, n=_sum),
    )
    return _fold_stream(spark, schema, landing_dir, checkpoint_dir, apply)


# --- streaming word-co-occurrence-graph maintenance --------------------------

WORD_EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType()),
        T.StructField("dst", T.StringType()),
    ]
)


def read_word_graph(wh: ParquetWarehouse) -> DataFrame:
    """The maintained symmetric word co-occurrence edge list; feed it
    to ``datapipe/graph.py:textrank`` / ``triangle_stats`` for
    serve-time graph analytics over everything ingested so far."""
    return wh.read("word_edges", WORD_EDGES_SCHEMA)


def stream_word_graph(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
):
    """The word co-occurrence graph maintained AT INGEST: per
    micro-batch, tokenize ONLY the batch's documents into distinct
    adjacent-word edges (``datapipe/graph.py:word_cooccur_edges`` —
    the same expression the batch queries use) and fold them into a
    persistent edge table via set-union. Serve-time TextRank /
    triangle counting (``doc_textrank_keywords`` /
    ``doc_cooccur_triangles`` semantics) then runs on the maintained
    vocabulary-sized graph WITHOUT ever re-tokenizing corpus history —
    the iteration cost was already independent of corpus size, and
    this makes the edge-building cost incremental too.

    Edges don't cross document boundaries, so per-batch edge sets
    union-distinct to exactly the one-shot graph regardless of how
    documents were batched (pinned by test). At 100 TB the edge table
    is vocabulary-bounded, the merge is one vocab-sized distinct per
    batch, and storage would be bucketed by src for the downstream
    joins."""
    from etl__project_spark.datapipe.graph import word_cooccur_edges

    apply = _fold_into(
        ParquetWarehouse(spark, warehouse_root),
        "word_edges",
        WORD_EDGES_SCHEMA,
        lambda batch: word_cooccur_edges(batch, checkpoint=False),
        lambda ex, d: ex.unionByName(d).distinct(),
    )
    return _fold_stream(spark, DOC_SCHEMA, landing_dir, checkpoint_dir, apply)


# --- streaming behavioral-bot-screen maintenance -----------------------------

BOT_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_gaps", T.LongType()),
        T.StructField("span_us", T.LongType()),
        T.StructField("d2", T.DecimalType(38, 0)),
    ]
)
BOT_CURSOR_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_id", T.LongType()),
    ]
)


def read_bot_stats(wh: ParquetWarehouse) -> DataFrame:
    """The maintained per-user inter-arrival sufficient statistics."""
    return wh.read("bot_stats", BOT_STATS_SCHEMA)


def read_bot_screen(wh: ParquetWarehouse) -> DataFrame:
    """The bot scorecard served from the MAINTAINED stats — the
    at-ingest face of ``ev_bot_detection``, finalized through the same
    ``operators/quality.py:bot_scorecard`` coded path. Users still
    under the 20-event floor stay in the stats table and start scoring
    the moment they cross it."""
    from etl__project_spark.operators.quality import bot_scorecard

    return bot_scorecard(read_bot_stats(wh), min_gaps=19)


def stream_bot_screen(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
):
    """The behavioral bot screen maintained AT INGEST: per micro-batch,
    fold each user's inter-arrival-gap sufficient statistics
    (n_gaps, Σd, Σd² — exact additive integers) into a persistent
    per-user table, so abuse filtering is always current without ever
    re-scanning event history. The boundary problem and its fix are
    ``stream_transition_matrix``'s: the gap between a user's last
    event of batch N and first event of batch N+1 exists in no single
    batch, so a (user → last event) CURSOR supplies exactly that one
    extra gap per user per batch. Within-chunk gaps + chunk-boundary
    gaps = ALL consecutive gaps, so the folded stats equal the
    one-shot scan exactly (pinned by test) and the serve path
    finalizes through the shared ``bot_scorecard``.

    Publish order: stats → cursor (stats: per-user sums; cursor:
    latest-wins). State is one stats row + one cursor row per user."""
    from pyspark.sql import Window

    wh = ParquetWarehouse(spark, warehouse_root)

    def dec(c):
        return c.cast("decimal(18,0)")

    def _apply(batch: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy("user_id").orderBy(
            F.unix_micros("ts"), F.col("event_id")
        )
        us = F.unix_micros("ts")
        ranked = batch.withColumn("d", us - F.lag(us).over(w)).withColumn(
            "rn", F.row_number().over(w)
        )
        within = ranked.filter(F.col("d").isNotNull()).select("user_id", "d")
        cursor = wh.read("bot_cursor", BOT_CURSOR_SCHEMA)
        firsts = ranked.filter(F.col("rn") == 1).select(
            "user_id", us.alias("first_us")
        )
        boundary = firsts.join(
            cursor.select("user_id", F.unix_micros("ts").alias("cur_us")),
            "user_id",
        ).select("user_id", (F.col("first_us") - F.col("cur_us")).alias("d"))
        # Σd² over decimal(18,0) squares sums to decimal(38,0), exactly
        delta = (
            within.unionByName(boundary)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_gaps"),
                F.sum("d").alias("span_us"),
                F.sum(dec(F.col("d")) * dec(F.col("d"))).alias("d2"),
            )
        )
        wh.publish_merged(
            "bot_stats",
            delta,
            BOT_STATS_SCHEMA,
            f"{batch_id}:stats",
            _agg_merge(["user_id"], n_gaps=_sum, span_us=_sum, d2=_sum),
        )
        # latest-wins WITHIN the batch first (one row per user), so the
        # cursor fold merges |users| candidates, not |batch| rows
        seq = ("ts", "event_id")
        wh.publish_merged(
            "bot_cursor",
            _latest_per_key(batch, "user_id", seq).select(BOT_CURSOR_SCHEMA.names),
            BOT_CURSOR_SCHEMA,
            f"{batch_id}:cursor",
            _latest_wins_merge("user_id", seq),
        )

    return _fold_stream(spark, TM_EVENT_SCHEMA, landing_dir, checkpoint_dir, _apply)


# --- streaming text-index (BM25 postings) maintenance ------------------------

TEXT_CDC_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)
TEXT_POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("term", T.StringType()),
        T.StructField("tf", T.LongType()),
        T.StructField("sign", T.LongType()),
    ]
)


def read_text_index(wh: ParquetWarehouse):
    """Rebuild a :class:`~etl__project_spark.datapipe.text_index.TextIndex`
    view over the streamed postings state: doc lengths, per-term df,
    and corpus totals all DERIVE from the one stored table (len = Σ tf
    per doc; df = live docs per term), so the stream needs exactly-once
    on a single table while the expensive step — tokenization — stays
    incremental. The trade vs the batch fold's incrementally-maintained
    df/stats: these read-time aggregates rescan the postings state,
    which is the already-tokenized index, not the corpus."""
    from etl__project_spark.datapipe.text_index import TextIndex

    postings = wh.read("text_postings", TEXT_POSTINGS_SCHEMA)
    lengths = (
        postings.groupBy("doc_id")
        .agg(F.sum(F.col("tf") * F.col("sign")).cast("long").alias("len"))
        .filter(F.col("len") > 0)
        .select("doc_id", "len", F.lit(1).cast("long").alias("sign"))
    )
    df = (
        postings.filter(F.col("sign") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    stats = lengths.agg(
        F.sum("sign").cast("long").alias("n_docs"),
        F.sum(F.col("len") * F.col("sign")).cast("long").alias("n_toks"),
    )
    return TextIndex(postings, lengths, df, stats)


def stream_text_index_cdc(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Maintain the BM25 postings index from a JSON-lines document
    changelog stream — the streaming face of
    ``datapipe/text_index.py:maintain_text_index_cdc``. Per micro-batch:
    latest-wins compaction by doc (tombstones kept), then a
    ``publish_merged`` whose merge callback computes the signed posting
    delta against the PRE-batch stored state (one doc-key probe; only
    the batch's post-images tokenize) and consolidates. The delta is
    derived INSIDE the merge from that table's own pre-state, so there
    is no cross-table partial state to resurrect (the dl/df/stats views
    derive at read time, :func:`read_text_index`).

    Because retractions derive from the pre-batch state (not from
    before-images), cross-batch delivery must follow changelog order:
    the file source orders by mtime, so producers must not tie (see the
    text-index soak). The per-doc ``seq`` resolves order only WITHIN a
    micro-batch. The commutative sketch folds below have no such
    requirement."""
    from etl__project_spark.datapipe.text_index import _doc_parts

    def _merge(existing: DataFrame, batch: DataFrame) -> DataFrame:
        touched = batch.select("doc_id").distinct()
        retract = existing.join(touched, ["doc_id"]).select(
            "doc_id", "term", "tf", (-F.col("sign")).alias("sign")
        )
        post = batch.filter(F.col("op") != "D").select("doc_id", "text")
        new_post, _ = _doc_parts(post, "doc_id", "text")
        delta = retract.unionByName(
            new_post.select("*", F.lit(1).cast("long").alias("sign"))
        )
        return _consolidate_merge(existing, delta)

    apply = _fold_into(
        ParquetWarehouse(spark, warehouse_root),
        "text_postings",
        TEXT_POSTINGS_SCHEMA,
        lambda batch: _latest_per_key(batch, "doc_id"),
        _merge,
    )
    return _fold_stream(
        spark,
        TEXT_CDC_SCHEMA,
        landing_dir,
        checkpoint_dir,
        apply,
        max_files_per_trigger=max_files_per_trigger,
    )


# --- streaming positional phrase-index maintenance ----------------------------

POSITIONAL_POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("pos", T.IntegerType()),
        T.StructField("term", T.StringType()),
        T.StructField("sign", T.LongType()),
    ]
)


def read_positional_postings(wh: ParquetWarehouse):
    """The live (doc_id, pos, term) positional index maintained by
    :func:`stream_phrase_index_cdc` — net multiplicity collapsed out (a
    position holds one term), ready for
    ``datapipe/text_index.py:phrase_match`` / ``proximity_match``."""
    return (
        wh.read("positional_postings", POSITIONAL_POSTINGS_SCHEMA)
        .filter(F.col("sign") > 0)
        .select("doc_id", "pos", "term")
    )


def stream_phrase_index_cdc(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Maintain the POSITIONAL phrase index from a JSON-lines document
    changelog stream — the streaming face of
    ``datapipe/text_index.py:maintain_positional_postings_cdc``
    (VERDICT r9 #4), mirroring :func:`stream_text_index_cdc` over the
    same changelog contract at the (doc_id, pos, term) grain phrase
    adjacency needs. Per micro-batch: latest-wins compaction by doc
    (tombstones kept), then a ``publish_merged`` whose merge callback
    derives the signed positional delta against the PRE-batch stored
    state (one doc-key probe retracts the touched docs' rows; ONLY the
    batch's post-images re-tokenize) and consolidates. Same
    ordered-transport contract as :func:`stream_text_index_cdc`. State
    is the versioned warehouse parquet table itself — durable on disk,
    never driver memory; at 100 TB it is a table bucketed by doc_id
    (co-locating ``phrase_match``'s adjacency joins) and
    partition-pruned by term."""
    from etl__project_spark.datapipe.text_index import positional_index_delta

    apply = _fold_into(
        ParquetWarehouse(spark, warehouse_root),
        "positional_postings",
        POSITIONAL_POSTINGS_SCHEMA,
        lambda batch: _latest_per_key(batch, "doc_id"),
        lambda existing, batch: _consolidate_merge(
            existing, positional_index_delta(existing, batch)
        ),
    )
    return _fold_stream(
        spark,
        TEXT_CDC_SCHEMA,
        landing_dir,
        checkpoint_dir,
        apply,
        max_files_per_trigger=max_files_per_trigger,
    )


# --- streaming IVF posting maintenance -----------------------------------------

EMB_CDC_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("op", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)
IVF_SEEDS_SCHEMA = T.StructType(
    [
        T.StructField("centroid_id", T.LongType()),
        T.StructField("cv", T.ArrayType(T.DoubleType())),
    ]
)
IVF_CELLS_SCHEMA = T.StructType(
    [
        T.StructField("cand_id", T.LongType()),
        T.StructField("cand_vec", T.ArrayType(T.DoubleType())),
        T.StructField("centroid_id", T.LongType()),
        T.StructField("sign", T.LongType()),
    ]
)


def read_ivf_cells(wh: ParquetWarehouse) -> DataFrame:
    """The live IVF posting lists maintained by :func:`stream_ivf_cdc` —
    (cand_id, cand_vec, centroid_id), ready for ``ivf_topk``-shaped
    probe/score/rank reads."""
    return (
        wh.read("ivf_cells", IVF_CELLS_SCHEMA)
        .filter(F.col("sign") > 0)
        .select("cand_id", "cand_vec", "centroid_id")
    )


def stream_ivf_cdc(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Maintain IVF posting lists from a JSON-lines embedding changelog
    stream — the streaming face of
    ``datapipe/similarity.py:maintain_ivf_cells_cdc``, extending the
    index-stream family (text, phrase) to the similarity surface.
    Centroids are a FROZEN trained artifact read from the warehouse
    (``ivf_seeds``, published once per retrain; KB-sized, broadcast) —
    exactly how production IVF behaves between retrains. Per
    micro-batch: latest-wins compaction by vec, then a
    ``publish_merged`` whose merge callback retracts the touched
    vectors' postings from the PRE-batch state (one id probe) and
    scores ONLY the batch's post-images against the broadcast
    centroids; unchanged vectors are never re-scored. Same
    ordered-transport contract as :func:`stream_text_index_cdc`.
    At 100 TB the cells table is bucketed by centroid_id so a top-k
    probe reads only the probed cells' buckets."""
    from etl__project_spark.datapipe.similarity import ivf_cells_delta

    wh = ParquetWarehouse(spark, warehouse_root)

    def _merge(existing: DataFrame, batch: DataFrame) -> DataFrame:
        seeds = wh.read("ivf_seeds", IVF_SEEDS_SCHEMA)
        # The quantizer is a REQUIRED trained artifact: with no seeds,
        # assign_cells drops every post-image row, yet publish_merged
        # would still record the batch as merged — a replay then no-ops
        # and the batch's postings are silently and permanently lost
        # (round-11 advisory). Raise BEFORE the merge commits so the
        # batch stays unmarked: the stream fails loudly, and a restart
        # after the seeds are published replays it in full. The check
        # is one job over a KB-sized table (count bounded at 1 row).
        if wh._current("ivf_seeds") is None or seeds.limit(1).count() == 0:
            raise RuntimeError(
                "stream_ivf_cdc: ivf_seeds is missing or empty — publish "
                "the trained quantizer before starting the posting stream "
                "(merging now would silently drop this batch's postings)"
            )
        return _consolidate_merge(existing, ivf_cells_delta(existing, batch, seeds))

    apply = _fold_into(
        wh,
        "ivf_cells",
        IVF_CELLS_SCHEMA,
        lambda batch: _latest_per_key(batch, "vec_id"),
        _merge,
    )
    return _fold_stream(
        spark,
        EMB_CDC_SCHEMA,
        landing_dir,
        checkpoint_dir,
        apply,
        max_files_per_trigger=max_files_per_trigger,
    )


# --- streaming retractable-histogram maintenance ------------------------------

VALUE_HIST_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("bucket", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)
# Debezium-shaped changelog: updates/deletes carry the BEFORE image
# (old_value) — the histogram state is lossy (bucket counts, not rows),
# so retractions cannot be derived from it the way the postings index
# derives doc retractions; the before-image is the standard CDC answer.
VALUE_CDC_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("old_value", T.DoubleType()),
        T.StructField("op", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)


def _fold_lossy_into(
    wh: ParquetWarehouse,
    table: str,
    schema: T.StructType,
    before_col: str,
    delta_fn,
    merge_fn,
):
    """:func:`_fold_into` for a sketch fed by before-images, which first
    fails a changelog batch that carries U/D rows with a null
    ``before_col``.

    The sketch states these folds maintain (histogram buckets, CMS cells)
    are lossy: a retraction that cannot be derived now can never be derived
    later, so a malformed producer row would silently diverge the state
    forever. Loud failure at the offending batch is the only recoverable
    posture (ADVICE r8) — never a skip. The batch is persisted for the
    check and the fold, and released after: one driver-side count."""
    fold = _fold_into(wh, table, schema, delta_fn, merge_fn)

    def apply(batch: DataFrame, batch_id: int) -> None:
        batch = batch.persist()
        try:
            bad = batch.filter(
                F.col("op").isin("U", "D") & F.col(before_col).isNull()
            ).count()
            if bad:
                raise ValueError(
                    f"{table}: {bad} U/D changelog row(s) with null {before_col} — "
                    "cannot derive retractions; refusing to fold a lossy batch"
                )
            fold(batch, batch_id)
        finally:
            batch.unpersist()

    return apply


def read_value_histogram(wh: ParquetWarehouse) -> DataFrame:
    """The maintained per-(event_type, bucket) signed count table."""
    return wh.read("value_hist", VALUE_HIST_SCHEMA)


def read_value_quantiles(wh: ParquetWarehouse) -> DataFrame:
    """Quantile serve path over the maintained histogram — the streaming
    face of the batch ``ev_quantile_cdc`` read, through the same
    ``operators/rollup.py:hist_quantiles`` coded path. O(live buckets),
    never the event history."""
    from etl__project_spark.operators.rollup import hist_quantiles

    return hist_quantiles(
        read_value_histogram(wh).filter(F.col("n") != 0), ["event_type"]
    )


def stream_value_histogram_cdc(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Maintain the retractable value histogram from a JSON-lines event
    changelog stream — the streaming face of the batch
    ``ev_quantile_cdc`` maintenance. The histogram is LINEAR in the
    changelog (bucket counts are signed sums), so unlike the SCD2 or
    postings streams there is no compaction and no state probe at all:
    every changelog row contributes its signed rows (before-image −1,
    after-image +1) and the fold is one bounded hash-agg per batch,
    order-independent even within a batch (I then U of the same event
    nets to the U's after-image). Quantiles serve from the maintained
    table (:func:`read_value_quantiles`) at O(buckets).

    State is bounded by (event types × live buckets) FOREVER — the
    streaming sketch posture of ``stream_qi_counts``, extended from
    counts to order statistics under full CDC churn."""
    from etl__project_spark.operators.rollup import (
        merge_hist_signed,
        partial_hist_signed,
    )

    apply = _fold_lossy_into(
        ParquetWarehouse(spark, warehouse_root),
        "value_hist",
        VALUE_HIST_SCHEMA,
        "old_value",
        lambda batch: partial_hist_signed(
            _signed_images(batch, ["event_type", "value"], {"value": "old_value"}),
            ["event_type"],
        ),
        lambda ex, d: merge_hist_signed(ex, d, ["event_type"]),
    )
    # max_files_per_trigger paces a soak: one availableNow run replays
    # the landing dir as many real micro-batches (tests/test_soak.py)
    return _fold_stream(
        spark,
        VALUE_CDC_SCHEMA,
        landing_dir,
        checkpoint_dir,
        apply,
        max_files_per_trigger=max_files_per_trigger,
    )


# --- streaming turnstile-CMS maintenance --------------------------------------

CMS_CELLS_SCHEMA = T.StructType(
    [
        T.StructField("r", T.IntegerType()),
        T.StructField("b", T.LongType()),  # hash_bucket's pmod is LONG
        T.StructField("c", T.LongType()),
    ]
)
# Debezium-shaped key changelog: updates/deletes carry the BEFORE key
# (old_key) — like the histogram, the CMS state is lossy, so
# retractions ride the changelog's before-image.
KEY_CDC_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("key", T.StringType()),
        T.StructField("old_key", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)


def read_cms_cells(wh: ParquetWarehouse) -> DataFrame:
    """The maintained d×w count-min grid (fixed KB forever)."""
    return wh.read("cms_cells", CMS_CELLS_SCHEMA)


def read_cms_estimates(wh: ParquetWarehouse, keys_df: DataFrame, key_col: str) -> DataFrame:
    """Point-estimate serve path over the maintained grid — the
    streaming face of ``ev_heavy_hitters_cdc``'s pruning read, through
    the same ``datapipe/sketches.py:cms_estimate_keys`` coded path
    (broadcast grid, no shuffle of the probe side). Downstream exact
    verification joins the surviving candidates against the base
    table, exactly as the batch query does."""
    from etl__project_spark.datapipe.sketches import cms_estimate_keys

    return cms_estimate_keys(keys_df, read_cms_cells(wh), key_col)


def stream_cms_cdc(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = None,
):
    """Maintain the turnstile count-min sketch from a JSON-lines key
    changelog stream — the streaming face of ``ev_heavy_hitters_cdc``'s
    maintenance. Like the histogram stream the sketch is LINEAR in the
    changelog (cells are signed sums), so there is no compaction and no
    state probe: before-images contribute −1 cells, after-images +1,
    one bounded hash-agg per batch folded into the fixed d×w grid. The
    no-underestimate pruning guarantee survives any prefix of the
    stream whose net per-key counts are non-negative."""
    from etl__project_spark.datapipe.sketches import (
        cms_cells_signed,
        cms_merge_signed,
    )

    apply = _fold_lossy_into(
        ParquetWarehouse(spark, warehouse_root),
        "cms_cells",
        CMS_CELLS_SCHEMA,
        "old_key",
        lambda batch: cms_cells_signed(
            _signed_images(batch, ["key"], {"key": "old_key"}), "key"
        ),
        cms_merge_signed,
    )
    return _fold_stream(
        spark,
        KEY_CDC_SCHEMA,
        landing_dir,
        checkpoint_dir,
        apply,
        max_files_per_trigger=max_files_per_trigger,
    )


# --- streaming ANALYZE-statistics maintenance ---------------------------------

COLSTATS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("column_name", T.StringType()),
        T.StructField("v", T.StringType()),
        T.StructField("n", T.LongType()),
    ]
)
# Debezium-shaped row changelog carrying FULL before-images (old_q/old_f).
# Unlike the histogram/CMS streams, a NULL before-image is NOT malformed
# here: NULL is a counted statistic (n_nulls), so old_* = NULL means "the
# value was NULL" — producers must emit complete before rows for U/D, and
# the op column (never the image) is what distinguishes an insert from an
# update.
COLSTATS_CDC_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("q", T.DoubleType()),
        T.StructField("f", T.StringType()),
        T.StructField("old_q", T.DoubleType()),
        T.StructField("old_f", T.StringType()),
        T.StructField("op", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)


def read_column_stats_cdc(wh: ParquetWarehouse, table_name: str = "t") -> DataFrame:
    """column_stats-shaped read over the maintained (column, value)
    state — the streaming face of the batch ``tpch_stats_analyze_cdc``
    read, through the same coded path
    (``operators/quality.py:column_stats_from_state``).

    (Renamed from ``read_column_stats`` in round 10: it silently
    SHADOWED the earlier scalar-stats reader of the same name — a
    same-file redefinition pytest could not see because the test that
    covered the old reader was itself shadowed by a same-name test.
    Both collisions are now resolved and both tests run.)"""
    from etl__project_spark.operators.quality import column_stats_from_state

    return column_stats_from_state(
        wh.read("col_stats_state", COLSTATS_STATE_SCHEMA),
        table_name,
        [("q", "double"), ("f", "string")],
    )


def stream_column_stats_cdc(
    spark: SparkSession,
    landing_dir: str,
    warehouse_root: str,
    checkpoint_dir: str,
):
    """Maintain ANALYZE statistics from a JSON-lines row changelog — the
    streaming face of ``tpch_stats_analyze_cdc``: the (column, value)
    multiplicity state is LINEAR in the changelog (before-image −1,
    after-image +1 per tracked column), so like the histogram/CMS
    streams the fold is one explode + hash-agg per batch with no state
    probe; deletes that remove a column's extremum or a value's last
    occurrence re-balance at read time by construction. Stats serve
    from :func:`read_column_stats_cdc` at O(state)."""
    from etl__project_spark.operators.quality import (
        column_value_partial,
        merge_column_values,
    )

    cols = ["q", "f"]
    apply = _fold_into(
        ParquetWarehouse(spark, warehouse_root),
        "col_stats_state",
        COLSTATS_STATE_SCHEMA,
        lambda batch: column_value_partial(
            _signed_images(batch, cols, {"q": "old_q", "f": "old_f"}), cols
        ),
        merge_column_values,
    )
    return _fold_stream(spark, COLSTATS_CDC_SCHEMA, landing_dir, checkpoint_dir, apply)
