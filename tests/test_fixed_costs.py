"""Per-micro-batch fixed costs, pinned with structural counters that host
steal cannot move: Spark jobs launched (``statusTracker``) and classes
compiled by whole-stage codegen (``CodegenMetrics``).

- Building a warehouse read whose schema the caller already holds must
  launch no job: a bare ``spark.read.parquet`` runs a 1-task footer job
  to infer the schema, once per read, every batch.
- A steady ``stream_star_load`` micro-batch must reuse the classes the
  previous batches compiled: its working set has to fit the codegen
  cache (``session.CODEGEN_CACHE_ENTRIES``).
"""

from __future__ import annotations

import contextlib
import os
import uuid

from pyspark.sql.readwriter import DataFrameReader

from etl__project_spark.plans.star_load import (
    FACT_SCHEMA,
    ParquetWarehouse,
    index_fact_batch,
    read_fact_point,
)
from etl__project_spark.sources.readers import RAW_SCHEMA
from etl__project_spark.streaming import pipeline, stream_star_load

BUILD_GROUP = f"parquet-read-build-{uuid.uuid4().hex}"


@contextlib.contextmanager
def _parquet_builds_in_own_group(spark, monkeypatch):
    """Run every ``DataFrameReader.parquet`` call (the building of a read,
    which is where schema inference happens) under its own job group, so
    the jobs it launches are counted apart from the actions around it.
    Yields the list of built paths, to show the reads really ran."""
    sc = spark.sparkContext
    built: list[tuple] = []
    orig = DataFrameReader.parquet

    def parquet(self, *paths, **kw):
        prev = sc.getLocalProperty("spark.jobGroup.id")
        sc.setJobGroup(BUILD_GROUP, "parquet read build")
        try:
            return orig(self, *paths, **kw)
        finally:
            built.append(paths)
            if prev is None:
                sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                sc.setJobGroup(prev, "")

    with monkeypatch.context() as m:
        m.setattr(DataFrameReader, "parquet", parquet)
        yield built


def _build_jobs(spark) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(BUILD_GROUP))


def test_schema_bound_reads_launch_no_jobs(spark, tmp_path, monkeypatch):
    """Warehouse snapshot reads, the rollup/HLL batch-dir reads and the
    bloom index's read are built with no Spark job; a bare read of the
    same directory launches one (so the counter can see inference)."""
    from pyspark.sql import types as T

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    wh.publish("t", spark.createDataFrame([(1, "a"), (2, "b")], schema))
    rows = [
        ("2017-01-11T00:00:31.000Z", "Android App|video A", "206"),
        ("2017-01-11T00:01:01.000Z", "news|video B", "206"),
    ]
    wh.fact_append("credit", spark.createDataFrame(rows, RAW_SCHEMA), "0")

    with _parquet_builds_in_own_group(spark, monkeypatch) as built:
        snap = wh.read("t", schema)
        index_fact_batch(wh, "credit", "0", "VideoTitle", schema=RAW_SCHEMA)
        # the 4-positional form reads the key type from a footer
        index_fact_batch(wh, "credit", "0", "VideoTitle")
        pipeline._maintain_rollup(wh, spark, "0")
        pipeline._maintain_hll(wh, spark, "0")
        point = read_fact_point(wh, "credit", RAW_SCHEMA, "VideoTitle", "news|video B")
        n_schema_bound = len(built)
        assert _build_jobs(spark) == []
        spark.read.parquet(wh.fact_batch_dir("credit", "0"))
        assert len(_build_jobs(spark)) >= 1

    # the six reads above really went through the instrumented reader
    assert n_schema_bound == 6
    assert sorted(r["k"] for r in snap.collect()) == [1, 2]
    assert [r["DateTime"] for r in point.collect()] == ["2017-01-11T00:01:01.000Z"]
    rollup = wh.read("rollup_minute", pipeline.ROLLUP_SCHEMA).collect()
    assert {r["minute"]: r["n"] for r in rollup} == {
        "2017-01-11T00:00": 1,
        "2017-01-11T00:01": 1,
    }


def _codegen_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _micro_batch(path: str, b: int, n: int = 40) -> None:
    """One raw file of the steady shape: ``n`` fresh rows over new
    minutes, titles and a new platform, plus one re-sent row."""
    with open(path, "w") as fh:
        fh.write("DateTime,VideoTitle,events\n")
        for i in range(n):
            fh.write(
                f"2017-02-{b + 1:02d}T{i // 60:02d}:{i % 60:02d}:00.000Z,"
                f"App{b}|site{i % 3}|video {b}-{i},\"127,206\"\n"
            )
        fh.write("2017-02-01T00:00:00.000Z,App0|site0|video 0-0,\"127,206\"\n")


def test_steady_micro_batch_reuses_compiled_classes(spark, tmp_path):
    """After warm-up micro-batches, a batch of the same shape compiles
    almost nothing: its generated classes are still in the codegen cache.
    Behind Spark's default 100-entry cache the same batch recompiled
    ~90 classes every time."""
    landing = tmp_path / "landing"
    landing.mkdir()
    wh_root, ckpt = str(tmp_path / "wh"), str(tmp_path / "ckpt")

    def run_batch(b: int) -> None:
        tmp = str(tmp_path / f"f{b}.csv")
        _micro_batch(tmp, b)
        os.rename(tmp, str(landing / f"f{b}.csv"))
        q = stream_star_load(spark, str(landing), wh_root, ckpt, available_now=True)
        q.awaitTermination(120)
        q.stop()

    for b in range(3):
        run_batch(b)
    before = _codegen_compiles(spark)
    run_batch(3)
    compiled = _codegen_compiles(spark) - before

    assert compiled <= 10, f"steady micro-batch compiled {compiled} classes"
    wh = ParquetWarehouse(spark, wh_root)
    assert wh.read_fact("factvideostart", FACT_SCHEMA).count() == 4 * 40
