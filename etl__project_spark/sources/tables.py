"""Test-table loader for the driver fixtures (TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# No scan is repartitioned here. A fixture file is one parquet row group,
# so its scan is ONE partition; at real scale a table is many files and
# row groups, and Spark's own file split spreads the scan over the cores.
# A shuffle in front of every scan costs a sorted exchange per query for
# parallelism that only per-row-heavy operators can use; those call
# ``fan_out_by_rows``, sized by the table's row count, not the core count.


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make any caller-provided SparkSession (e.g. the driver's) safe for
    the fixtures: nanos timestamps readable, UTC semantics for oracle
    parity, and no-timezone parquet timestamps surfacing as plain
    TIMESTAMP rather than TIMESTAMP_NTZ. All are runtime-settable SQL
    confs."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Fixture vintage 2 stores timestamp[us] WITHOUT a timezone; Spark 4
    # infers TIMESTAMP_NTZ for those by default, and NTZ is rejected by
    # unix_micros / withWatermark / session_window internals. With the
    # session tz pinned to UTC above, reading them as TIMESTAMP is
    # value-identical to what DuckDB sees.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Defensive vintage normalization, generic over the schema:

    - TIMESTAMP_NTZ → TIMESTAMP (exact under the UTC session tz; occurs
      only if the frame was created before ``_ensure_session_confs`` ran,
      e.g. by a caller reading parquet directly).
    - legacy TIMESTAMP(NANOS)-as-bigint columns are handled per-table in
      ``load_table`` (a bigint is only a timestamp if we know it is one).

    The conversion is session-timezone-INDEPENDENT (ADVICE r4: a plain
    ``cast('timestamp')`` is lazy and interpreted in whatever the
    session tz is at execution time, and pinning the session tz here
    mutated shared session state as a load side effect — a non-UTC
    caller resetting its tz between load and action still got shifted
    values, plus changed rendering for unrelated queries). Instead the
    NTZ wall clock is measured against the NTZ epoch with pure
    timestamp arithmetic (no tz anywhere) and rebuilt as an instant
    with ``timestamp_micros``, which has fixed epoch semantics: the
    resulting TIMESTAMP's UTC rendering equals the NTZ wall clock, no
    matter the caller's session tz, at analysis time or execution
    time.
    """
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(
            c,
            F.expr(
                "timestamp_micros(timestampdiff("
                f"MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', `{c}`))"
            ),
        )
    return df


# Per-path schema cache: path → (fingerprint, inferred StructType).
# Every bare ``spark.read.parquet`` pays a footer-read JOB for schema
# inference; a query like tpch_q5 loads six tables, so ~0.5 s of its
# warm wall was schema jobs alone (event-log profile, round 12). The
# fixture files are immutable, so the schema inferred once (under the
# pinned session confs _ensure_session_confs establishes before every
# read) is the schema forever — exactly the metadata a metastore or
# table format would hand the planner for free. The fingerprint is
# (mtime, size), so a regenerated scratch fixture at the same path
# re-infers and REPLACES its entry: one entry per path, never more. A
# directory of part files is fingerprinted by its files' sorted (relative
# path, mtime, size) list, not by the directory's own stat: overwriting a
# part file in place leaves the directory's mtime alone. This caches
# METADATA only — never rows, never results; every load still scans the
# parquet.
_SCHEMA_CACHE: dict[str, tuple[tuple, T.StructType]] = {}


def _schema_key(path: str) -> tuple:
    """Fingerprint of ``path``'s files; raises OSError when absent."""
    import os
    import stat

    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (path, st.st_mtime, st.st_size)
    files = []
    for parent, _dirs, names in os.walk(path):
        for n in names:
            fp = os.path.join(parent, n)
            fst = os.stat(fp)
            files.append((os.path.relpath(fp, path), fst.st_mtime, fst.st_size))
    return (path, tuple(sorted(files)))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Fixture table ``name`` under ``sf_dir`` as a plain parquet scan,
    split the way Spark splits the files (one partition per
    single-row-group fixture file), with both timestamp vintages
    normalized. No exchange: callers whose per-row compute wants more
    tasks than the split gives use ``fan_out_by_rows``."""
    _ensure_session_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    key = None
    try:
        key = _schema_key(path)
    except OSError:
        pass  # directory-less/remote path: fall through to plain inference
    cached = _SCHEMA_CACHE.get(path)
    if key is not None and cached is not None and cached[0] == key:
        df = spark.read.schema(cached[1]).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key is not None:
            _SCHEMA_CACHE[path] = (key, df.schema)
    # Fixture vintage 1: events.ts is TIMESTAMP(NANOS) in parquet; with
    # spark.sql.legacy.parquet.nanosAsLong it surfaces as a long of epoch
    # nanos. Truncate to micros (DuckDB's native precision, so the oracle
    # sees identical values) and restore TimestampType.
    for field in df.schema.fields:
        if name == "events" and field.name == "ts" and field.dataType.simpleString() == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # Fixture vintage 2: timestamp[us] with no tz → TIMESTAMP_NTZ unless
    # the inferTimestampNTZ conf above was set before the read; normalize
    # unconditionally so both vintages load identically.
    return normalize_timestamps(df)


def _footer_counts(sf_dir: str, name: str) -> tuple[int, int] | None:
    """(rows, row groups) of table ``name`` from its parquet footers —
    metadata only, no Spark job. None when there is no readable file
    (a substituted fixture, a remote path)."""
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"
    try:
        if os.path.isdir(path):
            files = sorted(
                os.path.join(parent, n)
                for parent, _dirs, names in os.walk(path)
                for n in names
                if n.endswith(".parquet")
            )
        else:
            files = [path]
        metas = [pq.read_metadata(f) for f in files]
    except (OSError, ValueError):
        return None
    if not metas:
        return None
    return sum(m.num_rows for m in metas), sum(m.num_row_groups for m in metas)


def fan_out_by_rows(
    df: DataFrame, sf_dir: str, name: str, rows_per_task: int
) -> DataFrame:
    """``df`` (a scan of table ``name``) spread over
    ``min(defaultParallelism, ceil(rows / rows_per_task))`` tasks, for
    operators whose per-row compute outweighs a shuffle stage.

    ``rows`` comes from the parquet footers. ``df`` is returned
    unchanged, with no exchange at all, when that count is at most 1,
    when the scan already has at least that many row groups (Spark's file
    split cannot cut a row group, but does spread row groups over the
    cores), or when there is no footer to read. ``rows_per_task`` is the
    caller's measured crossover: below it one task finishes before a
    shuffle pays for itself."""
    counts = _footer_counts(sf_dir, name)
    if counts is None:
        return df
    rows, row_groups = counts
    n = min(
        df.sparkSession.sparkContext.defaultParallelism,
        -(-rows // rows_per_task),
    )
    if n <= 1 or row_groups >= n:
        return df
    return df.repartition(n)
