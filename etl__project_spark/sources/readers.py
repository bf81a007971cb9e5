"""Sources & sinks — SURVEY.md §2.1 (S1/S2/S4/S6, K1).

The reference reads raw CSV with ``quotechar='"'``, ``escapechar='\\'``,
header row (lambda_function_s3.py:65; Snowflake file format
snow pipe.sql:16-21) and also ships the same data as parquet
(``source data/video_data.gz.parquet``). Redshift COPY (S4) is just a
distributed scan + append in Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from etl__project_spark.session import state_checkpoint

# Raw video_data schema (summary.pdf p.2; snow pipe.sql:6-11). Explicit —
# never inferred — so malformed files fail loudly and scans prune correctly.
RAW_SCHEMA = T.StructType(
    [
        T.StructField("DateTime", T.StringType(), True),
        T.StructField("VideoTitle", T.StringType(), True),
        T.StructField("events", T.StringType(), True),
    ]
)


def read_raw_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """S1/S6 — CSV scan with the reference's quote/escape semantics.

    ``mode='DROPMALFORMED'`` approximates Snowpipe's
    ``on_error='skip_file'`` policy at row granularity
    (snow pipe.sql:35-39); PERMISSIVE (default) nulls unparseable fields.
    """
    return (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("escape", "\\")
        .option("multiLine", False)
        .option("mode", mode)
        .schema(schema or RAW_SCHEMA)
        .csv(path)
    )


def read_csv_with_rejects(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Quarantine-pattern CSV ingest: returns (good_rows, rejects).

    PERMISSIVE parsing with ``columnNameOfCorruptRecord`` captures each
    unparseable line verbatim instead of silently nulling or dropping it
    — the production ingest contract: bad rows land in a reject table
    for triage, good rows flow on, and ``count(good) + count(rejects) ==
    input lines`` stays auditable (the O1 record-count audit applies to
    both sides). The parsed batch is materialized by a local checkpoint
    before the split — Spark disallows corrupt-column-only queries over
    a raw file scan (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN;
    its documented remedy is to materialize the parse), and the
    checkpoint also makes the two sides one parse instead of two. The
    checkpoint lives in the block manager, not the session cache, so
    nothing is left to unpersist; its blocks go when both sides are
    garbage-collected. O(batch) memory, matching the per-batch ingest
    pattern.
    """
    base = schema or RAW_SCHEMA
    with_corrupt = T.StructType(
        list(base.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("escape", "\\")
        .option("multiLine", False)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(with_corrupt)
        .csv(path)
    )
    df = state_checkpoint(df, table_sized=False)
    good = df.filter(df["_corrupt_record"].isNull()).drop("_corrupt_record")
    rejects = df.filter(df["_corrupt_record"].isNotNull()).select("_corrupt_record")
    return good, rejects


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K1 — CSV sink with the reference's writer options
    (lambda_function_s3.py:114-118: header, ``escapechar='\\'``, LF)."""
    (
        df.write.mode(mode)
        .option("header", True)
        .option("quote", '"')
        .option("escape", "\\")
        .csv(path)
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "PERMISSIVE",
) -> DataFrame:
    """JSON-lines scan with a MANDATORY explicit schema.

    Schema inference on JSON is a full extra pass over the data — at
    100 TB that is a second 100 TB scan before the first real one — and
    it type-drifts with the payload (an all-null day turns a column to
    string). Requiring the schema keeps ingestion one-pass and stable,
    and lets Catalyst prune unreferenced fields at the scan.
    ``mode='PERMISSIVE'`` nulls unparseable documents;
    ``'DROPMALFORMED'`` drops them (same policy knob as the CSV path).
    """
    return (
        spark.read.option("mode", mode)
        .option("multiLine", False)
        .schema(schema)
        .json(path)
    )


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one document per line — the splittable layout;
    multiline JSON arrays are not parallelizable on read)."""
    df.write.mode(mode).json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar/pushdown properties as parquet (S2);
    provided so warehouses standardized on ORC can be read natively."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink (columnar, predicate-pushdown-capable twin of parquet)."""
    df.write.mode(mode).orc(path)
