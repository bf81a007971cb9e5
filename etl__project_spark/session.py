"""SparkSession factory.

Local test mode runs one JVM with N threads; the configs below are chosen so
the same code is correct on a real multi-executor cluster:

- AQE on: runtime partition coalescing, skew-join splitting, and adaptive
  broadcast decisions replace hand-tuned partition counts at scale.
- ``spark.sql.session.timeZone=UTC``: deterministic timestamp semantics and
  parity with the DuckDB oracle (UTC-naive timestamps).
- Arrow on: vectorized Pandas-UDF / toPandas path for the few operators that
  genuinely need Python (datapipe.multimodal).
- shuffle.partitions defaults to the local core count; on a cluster AQE
  coalesces from a deliberately high initial number, so this knob is safe to
  raise via SPARK_GRAFT_SHUFFLE_PARTITIONS.
- ``spark.sql.codegen.cache.maxEntries=2000``: the compiled-class cache
  must hold a recurring job's whole working set. A steady
  ``stream_star_load`` micro-batch generates ~90 classes and the same
  ones come back every batch; behind Spark's default LRU of 100 each
  batch evicted its own classes and recompiled all of them. Counted with
  an unbounded cache on 4-core local mode, one process generated 142
  distinct classes for a 6-batch stream load with one compaction
  (perfbench ``stream_ingest``) and 512 with the 17 ``bench.py``
  headline queries at sf0.1 added; 2000 leaves ~4x headroom for the
  rest of the catalog in a long-lived session.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

# Compiled-class cache size; sized in the module docstring. A static
# conf, read once at JVM start. A generated class averaged 2.5 KB of
# bytecode (max 11 KB) in the sizing runs, so a full cache holds ~5 MB.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "etl__project_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Parameters are env-overridable so the bench driver can steer scale:
    ``SPARK_GRAFT_CPUS`` → ``local[N]``, ``SPARK_GRAFT_SHUFFLE_PARTITIONS``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # Default shuffle partitions to the DRIVER-REQUESTED core count
        # (VERDICT r11 #2): an 8-core run (`SPARK_GRAFT_CPUS=8`) used to
        # keep 32 shuffle partitions from os.cpu_count(), so the scaling
        # probe read the env as ignored. Precedence: explicit
        # SPARK_GRAFT_SHUFFLE_PARTITIONS (the cluster-side knob) >
        # numeric SPARK_GRAFT_CPUS > local core count.
        default_parts = str(os.cpu_count() or 8)
        if cpus.isdigit() and int(cpus) > 0:
            default_parts = cpus
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", default_parts)
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Exploit subset co-partitioning: a join whose keys are a
        # SUPERSET of a bucketed/partitioned child's keys (e.g. the
        # positional index's (doc_id, pos−i) adjacency join over
        # doc_id-bucketed postings) runs shuffle-free; Spark's
        # conservative default reshuffles both sides (measured: 3
        # exchanges vs 0 — pinned in tests/test_connectors.py). Skewed
        # subset keys are AQE skew-join's job, enabled above.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # events.parquet stores TIMESTAMP(NANOS) which the Spark reader
        # rejects; read as long and convert in sources.tables.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # no-timezone parquet timestamps (fixture vintage 2) read as plain
        # TIMESTAMP, not TIMESTAMP_NTZ — NTZ breaks unix_micros/watermarks
        # and, with the session tz pinned UTC, TIMESTAMP is value-identical.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def empty_frame(spark: SparkSession, schema):
    """An empty DataFrame as a JVM-side ``LocalTableScan <empty>`` —
    the zero-cost empty relation every cold-start path should use.

    ``spark.createDataFrame([], schema)`` builds a PYTHON-parallelized
    RDD with ``defaultParallelism`` partitions: a fresh warehouse's four
    empty dims union to 128 empty partitions whose tasks each launch a
    Python worker — measured ~1.7 s of pure empty-task scheduling per
    consumer inside ``load_batch``'s first batch (guide §4: the Python
    boundary, §2.4: remove work nobody needs). The trailing
    ``WHERE false`` lets Catalyst's PruneFilters rewrite the relation to
    an empty ``LocalRelation``, which ``PropagateEmptyRelation`` then
    folds through unions/joins/aggregates — first-batch plans collapse
    to the non-empty branches instead of scheduling hundreds of empty
    tasks. Result-identical: empty is empty, schema unchanged.
    """
    from pyspark.sql import functions as F

    return spark.createDataFrame([], schema).where(F.lit(False))


def stats_barrier(df, eager: bool = True):
    """Checkpoint ``df`` AND reset its plan statistics — the
    materialization primitive for ITERATIVE folds whose body joins.

    Spark 4's ``localCheckpoint`` truncates lineage but PRESERVES the
    optimized plan's statistics on the new leaf
    (``LogicalRDD.rewriteStatsAndConstraints``). Catalyst's
    size-in-bytes estimate for a join is the PRODUCT of its children,
    so in a loop whose body self-joins the estimate SQUARES every
    round, survives each checkpoint, and compounds across rounds and
    batches — digit counts grow exponentially until the driver spends
    minutes per plan inside ``BigInteger.multiplyToomCook3`` in
    ``SizeInBytesOnlyStatsPlanVisitor.visitJoin`` (caught by jstack on
    the round-8 incremental-components fold at sf0.1; minimal repro
    and numbers in SCALE.md §9n).

    The reset rebuilds the checkpointed RDD as a fresh ``LogicalRDD``
    leaf without origin stats via ``internalCreateDataFrame`` — zero
    I/O, zero recomputation; the leaf reports the neutral
    ``defaultSizeInBytes`` exactly like a Spark 3.x checkpoint did
    (side effect: a barriered frame is never auto-broadcast, which is
    the pre-Spark-4 behavior the surrounding code already assumes —
    broadcast-worthy frames use an explicit ``F.broadcast``). If the
    private JVM API moves, degrades to the plain checkpoint.
    """
    return _strip_leaf_stats(df.localCheckpoint(eager=eager))


_STATS_BARRIER_DEGRADED = False


def _strip_leaf_stats(c):
    """Rebuild a checkpointed frame as a fresh stats-neutral LogicalRDD
    leaf (see :func:`stats_barrier`). Degrades to the plain checkpoint if
    the private JVM API moves, and says so once per process: a silent
    fallback would bring back the compounding join estimates unnoticed."""
    global _STATS_BARRIER_DEGRADED
    from pyspark.sql import DataFrame

    try:
        jdf = c._jdf
        jspark = c.sparkSession._jsparkSession
        ds = jspark.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(ds, c.sparkSession)
    except Exception as exc:
        if not _STATS_BARRIER_DEGRADED:
            _STATS_BARRIER_DEGRADED = True
            # a Py4JJavaError's str() is the whole JVM stack; its
            # exception's toString() is the one line that names the error
            java = getattr(exc, "java_exception", None)
            reason = java.toString() if java is not None else f"{type(exc).__name__}: {exc}"
            warnings.warn(
                "stats barrier degraded to a plain checkpoint (leaf "
                f"statistics kept): internalCreateDataFrame failed with {reason}",
                RuntimeWarning,
                stacklevel=2,
            )
        return c


def state_checkpoint(df, table_sized: bool, eager: bool = True):
    """THE checkpoint primitive for iterative-fold state — one helper
    encoding two hard-won lesson classes so the next fold can't re-learn
    them (VERDICT r8 #3):

    * **storage posture** (SCALE.md §9m ×2, §9o — three OOMs, one class):
      a frame proportional to a BASE TABLE (signed relation state, key
      sets, accumulated views) must checkpoint ``table_sized=True`` →
      ``DISK_ONLY``; at 100 TB that state is a bucketed table on disk,
      and memory-backed checkpoints of it are an OOM at every sweep.
      Churn-sized frames (per-batch deltas, group-grain aggregates,
      KB sketches) stay ``table_sized=False`` → Spark's default
      memory-with-spill level.
    * **planner-statistics barrier** (SCALE.md §9n): Spark 4's
      ``localCheckpoint`` preserves inflated join-size estimates on the
      new leaf, so un-barriered iterative folds compound them
      exponentially until the driver spends minutes per plan in
      BigInteger math. Every state checkpoint therefore strips leaf
      stats; a barriered frame is never auto-broadcast, so
      broadcast-worthy frames must use an explicit ``F.broadcast`` —
      the standing convention of the fold code.

    ``tests/test_plans.py`` greps the fold modules: no fold may call
    bare ``localCheckpoint`` — the fourth instance of the OOM class is
    unwritable by construction.
    """
    if table_sized:
        from pyspark.storagelevel import StorageLevel

        c = df.localCheckpoint(eager=eager, storageLevel=StorageLevel.DISK_ONLY)
    else:
        c = df.localCheckpoint(eager=eager)
    return _strip_leaf_stats(c)
