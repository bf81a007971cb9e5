"""Table layouts beyond a plain parquet write: Hive partitions,
range-clustered and Z-ordered files, bucketed tables, and reads over
evolving schemas. JSON-lines and ORC sources/sinks live in
``sources/readers.py``.

Bucketing is the co-located-join scale tool: two tables bucketed on the
same key by the same bucket count join WITHOUT a shuffle
(``tests/test_connectors.py`` asserts the Exchange-free plan).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Hive-style partitioned parquet — the layout that makes partition
    pruning (WHERE on partition_cols never touches other directories)
    work at 100 TB."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def read_parquet_evolved(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """Read a parquet table whose files were written under EVOLVING
    schemas (columns added over time — the normal life of a 100 TB
    table).

    With ``schema``: the declared schema wins — files missing a column
    yield nulls for it, no footer scan. Without: ``mergeSchema`` unions
    the schemas from every file's footer (a metadata pass across files —
    costly on huge tables, so prefer the explicit schema in production;
    real table formats track this in their own metadata instead).
    """
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    return spark.read.option("mergeSchema", True).parquet(path)


def write_clustered(
    df: DataFrame,
    path: str,
    range_col: str,
    sort_cols: list[str] | None = None,
    num_files: int = 8,
    mode: str = "overwrite",
) -> None:
    """Range-clustered layout: ``repartitionByRange`` on ``range_col``
    then sort within each file — every output file covers a narrow,
    pairwise-disjoint slice of the column's range, so its parquet
    row-group min/max statistics become tight and a range predicate
    skips whole files at scan time (data skipping on top of — and
    orthogonal to — Hive partition pruning, and the single-column case
    of what Z-ordering does for several columns).

    Use for the columns queries actually range-filter on (timestamps,
    ids). At 100 TB this is the difference between a scan touching a
    few files and touching all of them; the write costs one range
    shuffle (sampling-based, skew-tolerant) plus per-partition sorts.
    """
    out = df.repartitionByRange(num_files, range_col).sortWithinPartitions(
        range_col, *(sort_cols or [])
    )
    out.write.mode(mode).parquet(path)


def write_zordered(
    df: DataFrame,
    path: str,
    col1: str,
    col2: str,
    bits: int = 16,
    num_files: int = 16,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet write on two columns: scale each column
    to ``[0, 2^bits)`` by its min/max (one tiny metadata aggregate — the
    only driver-side scalar, same as what a table format stores), derive
    the interleaved key (``operators/layout.py:zorder_key``, exact
    shift/mask over the non-negative scaled ints), then range-partition
    + sort by it. Row-group stats become tight on BOTH columns, so range
    predicates on either (or both) skip most files."""
    from etl__project_spark.operators.layout import zorder_key

    lo1, hi1, lo2, hi2 = df.agg(
        F.min(col1), F.max(col1), F.min(col2), F.max(col2)
    ).first()
    span = 2**bits - 1

    def scaled(c, lo, hi):
        rng = (hi - lo) or 1
        return ((F.col(c) - F.lit(lo)) / F.lit(rng) * span).cast("long")

    keyed = df.withColumn(
        "__z", zorder_key(scaled(col1, lo1, hi1), scaled(col2, lo2, hi2), bits)
    )
    (
        keyed.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def write_bucketed(
    df: DataFrame, table: str, bucket_col: str, n_buckets: int, mode: str = "overwrite"
) -> None:
    """Bucketed + sorted managed table: joins/aggregations on bucket_col
    between same-bucketed tables need no shuffle."""
    (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
        .saveAsTable(table)
    )
