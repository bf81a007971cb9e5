"""CSV round-trip parity (S1/K1): quote/escape edge cases from
FIXTURES.md §A1 item 6 — embedded commas, double quotes, backslashes,
pipes, non-ASCII."""

from __future__ import annotations

import math
import os
import tempfile

import pytest

from etl__project_spark.sources import TABLES, read_raw_csv, write_csv

SF_DIR = "/root/testdata/sf0.001"


def test_csv_round_trip(spark):
    rows = [
        ("2017-01-11T00:00:31.000Z", 'title with "quotes"|video', "206"),
        ("2017-01-11T00:00:32.000Z", "commas, inside|video", "206,100"),
        ("2017-01-11T00:00:33.000Z", "back\\slash|video", "206"),
        ("2017-01-11T00:00:34.000Z", "píp€|unicodé vidéo", "206"),
        ("2017-01-11T00:00:35.000Z", None, "100"),
    ]
    df = spark.createDataFrame(rows, "DateTime string, VideoTitle string, events string")
    with tempfile.TemporaryDirectory() as tmp:
        path = os.path.join(tmp, "out")
        write_csv(df, path)
        back = read_raw_csv(spark, path)
        orig = {(r[0], r[1], r[2]) for r in df.collect()}
        rt = {(r[0], r[1], r[2]) for r in back.collect()}
        assert rt == orig


def test_csv_rejects_quarantine(spark, tmp_path):
    """Corrupt lines land verbatim in the reject frame; good rows parse;
    counts stay auditable (good + rejects == data lines)."""
    from etl__project_spark.sources.readers import read_csv_with_rejects
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("a", T.LongType(), True),
            T.StructField("b", T.LongType(), True),
        ]
    )
    p = tmp_path / "in.csv"
    p.write_text("a,b\n1,2\nnot_a_number,5\n3,4\n")
    spark.catalog.clearCache()
    good, rejects = read_csv_with_rejects(spark, str(p), schema=schema)
    assert sorted(map(tuple, good.select("a", "b").collect())) == [(1, 2), (3, 4)]
    rej = [r["_corrupt_record"] for r in rejects.collect()]
    assert rej == ["not_a_number,5"]
    assert good.count() + rejects.count() == 3
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_normalize_timestamps_is_session_tz_independent(spark):
    """ADVICE r4: normalize_timestamps must neither mutate the session
    timezone nor depend on it — an NTZ wall clock becomes the identical
    UTC instant whether the caller's session runs UTC or New York, and
    the caller's tz survives the call."""
    from pyspark.sql import functions as F

    from etl__project_spark.sources.tables import normalize_timestamps

    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        df = spark.createDataFrame([("2020-01-01 00:00:00",)], "w string").select(
            F.col("w").cast("timestamp_ntz").alias("ts")
        )
        out = normalize_timestamps(df)
        assert (
            spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
        ), "load must not mutate the caller's session timezone"
        assert out.schema["ts"].dataType.simpleString() == "timestamp"
        [row] = out.select(F.unix_micros("ts").alias("us")).collect()
        assert row["us"] == 1577836800000000  # 2020-01-01T00:00:00Z
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)


def test_jsonl_round_trip_with_explicit_schema(spark, tmp_path):
    from pyspark.sql import types as T

    from etl__project_spark.sources import read_jsonl, write_jsonl

    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, "a", 0.5), (2, 'quote " inside', -3.25), (3, None, None)], schema
    )
    out = str(tmp_path / "jl")
    write_jsonl(df, out)
    back = read_jsonl(spark, out, schema)
    assert back.schema == schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_jsonl_permissive_nulls_malformed_dropmalformed_drops(spark, tmp_path):
    from pyspark.sql import types as T

    from etl__project_spark.sources import read_jsonl

    p = tmp_path / "in.jsonl"
    p.write_text('{"id": 1, "name": "ok"}\n{not json at all}\n{"id": 2}\n')
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )
    perm = read_jsonl(spark, str(p), schema).collect()
    assert len(perm) == 3  # malformed row kept as all-null under PERMISSIVE
    dropped = read_jsonl(spark, str(p), schema, mode="DROPMALFORMED").collect()
    assert sorted(r["id"] for r in dropped) == [1, 2]


def test_orc_round_trip_preserves_types(spark, tmp_path):
    from etl__project_spark.sources import read_orc, write_orc

    df = spark.createDataFrame(
        [(1, "x", [1.0, 2.0]), (2, "y", [])],
        "id long, s string, arr array<double>",
    )
    out = str(tmp_path / "orc")
    write_orc(df, out)
    back = read_orc(spark, out)
    assert back.schema == df.schema
    assert sorted((r["id"], r["s"], r["arr"]) for r in back.collect()) == [
        (1, "x", [1.0, 2.0]),
        (2, "y", []),
    ]


def test_orc_scan_pushes_filters(spark, tmp_path):
    from etl__project_spark.sources import read_orc, write_orc

    df = spark.range(100).selectExpr("id", "id % 7 as k")
    out = str(tmp_path / "orc2")
    write_orc(df, out)
    plan = (
        read_orc(spark, out)
        .filter("k = 3")
        .select("id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(k), EqualTo(k,3)]" in plan


def test_schema_cache_reinfers_after_part_file_overwritten_in_place(spark, tmp_path):
    """A directory table's cached schema is keyed on its files, not on
    the directory's own stat: overwriting a part file in place (which
    leaves the directory's mtime alone) must re-infer, never serve the
    stale schema. A re-inferred schema replaces the path's entry, so
    the cache holds one entry per path however often it changes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etl__project_spark.sources.tables import _SCHEMA_CACHE, load_table

    tdir = tmp_path / "t.parquet"
    tdir.mkdir()
    part = tdir / "part-0.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), part)
    dir_mtime = os.stat(tdir).st_mtime_ns
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]

    pq.write_table(pa.table({"a": [3], "b": ["x"]}), part)
    os.utime(tdir, ns=(dir_mtime, dir_mtime))  # only the part file changed
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]

    pq.write_table(pa.table({"a": [4], "b": ["y"], "c": [1.5]}), part)
    os.utime(tdir, ns=(dir_mtime, dir_mtime))
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b", "c"]
    assert [tuple(r) for r in df.collect()] == [(4, "y", 1.5)]
    assert sum(str(tdir) in repr(k) for k in _SCHEMA_CACHE) == 1


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", TABLES)
def test_fixture_scan_has_no_round_robin_exchange(spark, name):
    """A fixture scan keeps Spark's own file split. A core-count
    round-robin in front of every scan is a sorted shuffle per query
    that only per-row-heavy operators can use; those fan out
    themselves, by rows (``fan_out_by_rows``)."""
    from etl__project_spark.sources.tables import load_table

    assert "RoundRobinPartitioning" not in _plan(load_table(spark, SF_DIR, name))


def test_fan_out_by_rows_sizes_tasks_by_footer_rows(spark, tmp_path):
    """At or below the threshold (and with no footer to read) the input
    frame comes back as it went in, with no exchange; above it the
    frame has ``min(defaultParallelism, ceil(rows / rows_per_task))``
    partitions. A table whose row groups already cover that count keeps
    its scan split."""
    from etl__project_spark.sources.tables import fan_out_by_rows, load_table

    sf = "/root/testdata/sf0.01"  # events: 10,000 rows in one row group
    ev = load_table(spark, sf, "events")
    rows = 10_000
    assert ev.rdd.getNumPartitions() == 1
    for rows_per_task in (rows, rows * 10):
        assert fan_out_by_rows(ev, sf, "events", rows_per_task) is ev
    assert fan_out_by_rows(ev, str(tmp_path), "events", 1) is ev

    cores = spark.sparkContext.defaultParallelism
    for rows_per_task in (rows - 1, rows // 3, 1):
        out = fan_out_by_rows(ev, sf, "events", rows_per_task)
        want = min(cores, math.ceil(rows / rows_per_task))
        assert out.rdd.getNumPartitions() == want, rows_per_task
        assert "RoundRobinPartitioning" in _plan(out)
        assert out.count() == rows

    spark.range(1000).repartition(cores).write.parquet(str(tmp_path / "t.parquet"))
    t = load_table(spark, str(tmp_path), "t")
    assert fan_out_by_rows(t, str(tmp_path), "t", 1) is t
