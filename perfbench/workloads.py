"""The benchmark workloads. Each is a closed loop with one client: the
next op starts only after the previous one returned.

A workload function receives the run context and returns a ``Result``
with per-op wall and CPU seconds (``metrics.FAILED`` for a failed op), the
output check, and the counters the end-to-end metrics are computed from.
"""

from __future__ import annotations

import os
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import probe
from gen import ZIPF_S, StreamFiles, catalog_fixture, warehouse_batches
from metrics import FAILED

CATALOG_SF = 0.01
# The headline queries a catalog_headline run measures, one op each: the
# paper's video-start parse (catalog), TPC-H (sources.tables fixture read),
# an operator (operators.asof) and two datapipe kernels (datapipe.dedup,
# datapipe.similarity). Taken from ``bench.HEADLINE`` by name.
CATALOG_QUERIES = (
    "vs_fact_rollup", "tpch_q1_pricing", "ev_asof_signup", "doc_simhash", "emb_cosine_topk",
)
# Set-up runs the warm-up passes and a run measures at least the measured
# passes, all whole: a query stays several times slower than its final
# cost for its first few runs in a young JVM.
CATALOG_WARMUP_PASSES = 2
CATALOG_MIN_PASSES = 4
# A reference run of the stream pipeline split the sf0.1 ``events`` fixture
# (100,000 rows) into 30 raw micro-batch files; a file here carries as many
# fresh rows.
STREAM_ROWS_PER_FILE = 100_000 // 30
# Micro-batches 0..STREAM_WARMUP-1 are the warm-up, so a run measures the
# next STREAM_MIN_OPS (more if --seconds allows). The pipeline compacts
# after batch b when (b + 1) % compact_every == 0, so the last of them
# compacts and collects garbage: every run times exactly one compaction.
STREAM_WARMUP = 2
STREAM_MIN_OPS = 4
STREAM_COMPACT_EVERY = STREAM_WARMUP + STREAM_MIN_OPS
# Two batch loads: the older half is Z-order compacted, the newer half stays
# a live batch directory.
WAREHOUSE_BATCHES = 2
FACT = "factvideostart"
# The sample of an op that failed: slower than any success.
FAILED_OP = (FAILED, FAILED, 0.0, 1.0)


@dataclass
class Result:
    latencies: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)  # CPU seconds per op
    jit_cpu: list[float] = field(default_factory=list)  # of which the JIT's
    host: list[float] = field(default_factory=list)  # host factor during the op
    kinds: list[str] = field(default_factory=list)  # the op's kind
    setup_cpu_s: float = 0.0
    setup_host: float = 1.0
    setup_wall_s: float = 0.0
    wall_s: float = 0.0
    correct: bool = True
    problems: list[str] = field(default_factory=list)
    committed_rows: int | None = None
    input_bytes: int | None = None
    disk_bytes: int | None = None
    disk: list[dict] = field(default_factory=list)
    peak_rss_mb: float = 0.0
    files_skipped: list[float] = field(default_factory=list)

    def add(self, sample: tuple[float, float, float, float], kind: str) -> None:
        self.latencies.append(sample[0])
        self.cpu.append(sample[1])
        self.jit_cpu.append(sample[2])
        self.host.append(sample[3])
        self.kinds.append(kind)


# --- stream_ingest -------------------------------------------------------------


class _Stream:
    """One landing directory, one warehouse, one stream checkpoint."""

    def __init__(self, ctx, files: StreamFiles):
        self.ctx = ctx
        self.files = files
        base = os.path.join(ctx.work, "stream")
        self.landing = os.path.join(base, "landing")
        self.staging = os.path.join(base, "staging")
        self.warehouse = os.path.join(base, "warehouse")
        self.checkpoint = os.path.join(base, "checkpoint")
        for d in (self.landing, self.staging):
            os.makedirs(d, exist_ok=True)
        self.input_bytes = 0
        self.last_file = ""
        self.warmup_files: list[str] = []

    def op(self) -> tuple[float, float, float, float]:
        """Land one file and drain it; returns the op's stopwatch sample."""
        from etl__project_spark.streaming.pipeline import stream_star_load

        tracer = self.ctx.tracer
        watch = self.ctx.stopwatch()
        with tracer.span("op"):
            self.last_file, size = self.files.land(self.landing, self.staging)
            self.input_bytes += size
            try:
                with tracer.span("streaming.stream_star_load"):
                    query = stream_star_load(
                        self.ctx.spark,
                        self.landing,
                        self.warehouse,
                        self.checkpoint,
                        available_now=True,
                        compact_every=STREAM_COMPACT_EVERY,
                    )
                    query.awaitTermination()
            except Exception as exc:  # noqa: BLE001 - a failed op is data
                print(f"op failed: {str(exc).splitlines()[0][:300]}", file=sys.stderr)
                return FAILED_OP
        return watch()


def _parsed_model(csv_globs: list[str]) -> str:
    """DuckDB SQL for the package's parse model (its oracle CTE) over the
    distinct raw rows of the CSV files matching ``csv_globs``."""
    from etl__project_spark.plans.catalog._shared import PARSED_CTE
    from etl__project_spark.refdata import VIDEO_DATA_CTE

    return (
        "WITH video_data AS (SELECT *, 0::BIGINT AS event_id FROM (SELECT DISTINCT "
        f"DateTime, VideoTitle, events FROM read_csv({csv_globs!r}, header=true, "
        "all_varchar=true, quote='\"', escape='\\')))"
        + PARSED_CTE[len(VIDEO_DATA_CTE) :]
        + " SELECT datetime, platform, site, video FROM parsed"
    )


def _stream_check(ctx, stream: _Stream) -> tuple[list[str], int]:
    """Compare the warehouse's fact and dims with a DuckDB model of the
    distinct landed rows; returns (problems, fact rows committed after the
    warm-up file)."""
    import duckdb

    from etl__project_spark.plans.star_load import (
        DIM_SPECS,
        FACT_SCHEMA,
        ParquetWarehouse,
        _dim_schema,
    )

    wh = ParquetWarehouse(ctx.spark, stream.warehouse)
    con = duckdb.connect()
    con.register("fact", wh.read_fact("factvideostart", FACT_SCHEMA).toPandas())
    for table, nk, skey in DIM_SPECS:
        con.register(table, wh.read(table, _dim_schema(nk, skey)).toPandas())
    con.execute(
        f"CREATE TABLE model AS {_parsed_model([os.path.join(stream.landing, '*.csv')])}"
    )
    con.execute(
        "CREATE TABLE got AS SELECT d.datetime, p.platform, s.site, t.video FROM fact f "
        "LEFT JOIN dimdate d USING (datetime_skey) LEFT JOIN dimplatform p USING (platform_skey) "
        "LEFT JOIN dimsite s USING (site_skey) LEFT JOIN dimtitle t USING (title_skey)"
    )
    problems = []
    n_fact = con.execute("SELECT count(*) FROM got").fetchone()[0]
    n_model = con.execute("SELECT count(*) FROM model").fetchone()[0]
    if n_fact != n_model:
        problems.append(f"fact rows {n_fact} != {n_model} distinct landed rows parsed")
    missing = con.execute(
        "SELECT count(*) FROM (SELECT * FROM model EXCEPT ALL SELECT * FROM got)"
    ).fetchone()[0]
    extra = con.execute(
        "SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM model)"
    ).fetchone()[0]
    if missing or extra:
        problems.append(f"fact rows missing {missing}, unexpected {extra}")
    for table, nk, skey in DIM_SPECS:
        bad = con.execute(
            f"SELECT count(*) - count(DISTINCT {skey}), count(*) - count(DISTINCT {nk}) "
            f"FROM {table}"
        ).fetchone()
        if any(bad):
            problems.append(f"{table}: duplicate skeys or keys {bad}")
        diff = con.execute(
            f"SELECT count(*) FROM ((SELECT DISTINCT {nk} FROM model WHERE {nk} IS NOT NULL "
            f"EXCEPT SELECT {nk} FROM {table}) UNION ALL (SELECT {nk} FROM {table} "
            f"EXCEPT SELECT DISTINCT {nk} FROM model))"
        ).fetchone()[0]
        if diff:
            problems.append(f"{table}: {diff} natural keys differ from the model")
    # the warm-up files land first, so all their distinct rows are their own
    (n_warmup,) = con.execute(
        f"SELECT count(*) FROM ({_parsed_model(stream.warmup_files)})"
    ).fetchone()
    con.close()
    return problems, n_fact - n_warmup


def stream_ingest(ctx) -> Result:
    res = Result()
    files = StreamFiles(ctx.seed, STREAM_ROWS_PER_FILE)
    ctx.start_spark()
    stream = _Stream(ctx, files)
    # warm-up: the first, cold micro-batches belong to set-up; their rows
    # are checked with the rest
    for _ in range(STREAM_WARMUP):
        if stream.op()[0] == FAILED:
            res.problems.append("warm-up micro-batch failed")
        stream.warmup_files.append(stream.last_file)
    ctx.end_setup(res)
    begin = time.perf_counter()
    while True:
        res.add(stream.op(), "batch")
        res.disk.append(probe.disk_probe(stream.warehouse))
        if ctx.done(begin, len(res.latencies), STREAM_MIN_OPS):
            break
    res.wall_s = time.perf_counter() - begin
    res.peak_rss_mb = ctx.peak_rss_mb()
    problems, res.committed_rows = _stream_check(ctx, stream)
    res.problems += problems
    res.input_bytes = stream.input_bytes
    res.disk_bytes = res.disk[-1]["bytes"]
    res.correct = not res.problems
    return res


# --- catalog_headline ----------------------------------------------------------


class _Collected:
    """What ``compare_query`` receives from the query function: the
    query's DataFrame, collected to pandas inside the op's spans, so one
    execution is both the timed op and the checked result."""

    def __init__(self, ctx, build, name):
        self.ctx, self.build, self.name = ctx, build, name
        self.sample = FAILED_OP

    def toPandas(self):  # noqa: N802 - the DataFrame method compare_query calls
        watch = self.ctx.stopwatch()
        with self.ctx.tracer.span("op"), self.ctx.tracer.span(f"catalog.{self.name}"):
            out = self.build().toPandas()
        self.sample = watch()
        return out


def _catalog_op(
    ctx, con, sf_dir: str, name: str, res: Result
) -> tuple[float, float, float, float]:
    """Run one headline query and check it against its DuckDB oracle."""
    from check_correctness import compare_query

    from etl__project_spark.plans import ORACLES, QUERIES

    spark = ctx.spark
    op = _Collected(ctx, lambda: QUERIES[name](spark, sf_dir), name)
    try:
        problems = compare_query(spark, con, sf_dir, name, lambda _s, _d: op, ORACLES.get(name))
    except Exception as exc:  # noqa: BLE001 - a failed op is data
        problems = [f"error: {str(exc).splitlines()[0][:300]}"]
    spark.catalog.clearCache()
    if problems:
        res.problems.append(f"{name}: {'; '.join(map(str, problems))[:300]}")
        return FAILED_OP
    return op.sample


def catalog_headline(ctx) -> Result:
    from bench import HEADLINE
    from check_correctness import oracle_views

    queries = [q for q in HEADLINE if q in CATALOG_QUERIES]
    if len(queries) != len(CATALOG_QUERIES):
        raise RuntimeError(f"not all of {CATALOG_QUERIES} are in bench.HEADLINE")
    res = Result()
    sf_dir = os.path.join(ctx.work, f"sf{CATALOG_SF}")
    res.input_bytes = catalog_fixture(sf_dir, ctx.seed, CATALOG_SF)
    ctx.start_spark()
    con = oracle_views(sf_dir)
    # warm-up passes, checked like the measured ones
    for _ in range(CATALOG_WARMUP_PASSES):
        for name in queries:
            _catalog_op(ctx, con, sf_dir, name, res)
    ctx.end_setup(res)
    begin = time.perf_counter()
    while True:  # whole passes over the measured queries
        for name in queries:
            res.add(_catalog_op(ctx, con, sf_dir, name, res), name)
        if ctx.done(begin, len(res.latencies), CATALOG_MIN_PASSES * len(queries)):
            break
    res.wall_s = time.perf_counter() - begin
    res.peak_rss_mb = ctx.peak_rss_mb()
    res.correct = not res.problems
    return res


# --- warehouse_read ------------------------------------------------------------

# One cycle of the op mix: each kind of analyst read once (no source gives
# their proportions, so the mix is uniform). A run measures whole cycles, at
# least READ_MIN_OPS ops, so every run measures the same mix whatever the
# seed; the seed draws the keys.
READ_CYCLE = ["point", "range", "rect", "rollup", "travel"]
READ_MIN_OPS = 6 * len(READ_CYCLE)
# Windows span one day: the generated events cover 30 days, so a day is
# about 1/30 of the date keys.
READ_DAYS = 30
# Assumptions: half the keys are Zipf-skewed with exponent ZIPF_S (see
# gen.py), half uniform; a rectangle spans half the title keys.
READ_SKEWED_SHARE = 0.5


def _build_warehouse(ctx, root: str) -> int:
    """Load the batches through the public batch path: ``load_batch`` and
    a bloom index per batch, with a Z-ordered compaction of the older half
    before the newer half lands. Returns raw CSV bytes loaded."""
    from etl__project_spark.operators.layout import ZOrderLayout
    from etl__project_spark.plans.star_load import (
        ParquetWarehouse,
        index_fact_batch,
        load_batch,
    )
    from etl__project_spark.sources.readers import read_raw_csv

    paths = warehouse_batches(os.path.join(ctx.work, "raw"), ctx.seed, WAREHOUSE_BATCHES)
    wh = ParquetWarehouse(ctx.spark, root)
    for b, path in enumerate(paths):
        load_batch(read_raw_csv(ctx.spark, path), wh, str(b), ctx.spark)
        index_fact_batch(wh, FACT, str(b), "datetime_skey")
        if b + 2 == WAREHOUSE_BATCHES:
            wh.compact_fact(
                FACT, layout=ZOrderLayout("datetime_skey", "title_skey", bits=16, n_files=16)
            )
    return sum(os.path.getsize(p) for p in paths)


class _Reads:
    """Seeded read ops and their DuckDB twins over the same parquet files."""

    def __init__(self, ctx, root: str):
        import duckdb

        from etl__project_spark.plans.star_load import (
            DIM_SPECS,
            FACT_SCHEMA,
            ParquetWarehouse,
            _dim_schema,
        )

        self.ctx, self.root = ctx, root
        self.wh = ParquetWarehouse(ctx.spark, root)
        self.fact_schema = FACT_SCHEMA
        self.dims = {t: _dim_schema(nk, sk) for t, nk, sk in DIM_SPECS}
        self.rng = np.random.default_rng([ctx.seed, 6])
        tdir = os.path.join(root, FACT)
        self.fact_files = sorted(
            os.path.join(dp, f)
            for dp, _d, fs in os.walk(tdir)
            if os.path.basename(dp).startswith(("batch=", "compact-"))
            for f in fs
            if f.endswith(".parquet")
        )
        self.con = duckdb.connect()
        self.con.execute(f"CREATE VIEW fact AS SELECT * FROM read_parquet({self.fact_files!r}, hive_partitioning=false)")
        for table in self.dims:
            self.con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{self._vdir(table)}/*.parquet')"
            )
        n_dates, n_titles, self.dim_versions = self.con.execute(
            "SELECT (SELECT max(datetime_skey) + 1 FROM dimdate), "
            "(SELECT max(title_skey) + 1 FROM dimtitle), "
            f"{self.wh._current('dimtitle')}"
        ).fetchone()
        self.dates = self.rng.permutation(n_dates)  # Zipf rank -> key
        self.window = max(1, n_dates // READ_DAYS)
        self.n_ops = 0
        self.n_titles = n_titles

    def _vdir(self, table: str, version: int | None = None) -> str:
        v = self.wh._current(table) if version is None else version
        return os.path.join(self.root, table, f"v{v}")

    def _date(self) -> int:
        if self.rng.random() < READ_SKEWED_SHARE:
            rank = min(int(self.rng.zipf(ZIPF_S)), len(self.dates)) - 1
        else:
            rank = int(self.rng.integers(0, len(self.dates)))
        return int(self.dates[rank])

    def next_op(self):
        """(kind, build Spark frame, DuckDB SQL) for the next op."""
        from pyspark.sql import functions as F

        from etl__project_spark.plans.star_load import (
            read_fact_point,
            read_fact_range,
            read_fact_rect,
        )

        kind = READ_CYCLE[self.n_ops % len(READ_CYCLE)]
        self.n_ops += 1
        wh, schema = self.wh, self.fact_schema
        d = self._date()
        lo, hi = d, d + self.window - 1
        t_lo = int(self.rng.integers(0, self.n_titles))
        t_hi = t_lo + max(1, self.n_titles // 2) - 1
        if kind == "point":
            return kind, lambda: read_fact_point(wh, FACT, schema, "datetime_skey", d), (
                f"SELECT * FROM fact WHERE datetime_skey = {d}"
            )
        if kind == "range":
            return kind, lambda: read_fact_range(
                wh, FACT, schema, "datetime_skey", lo, hi
            ).groupBy("platform_skey").agg(F.count(F.lit(1)).alias("n")), (
                "SELECT platform_skey, count(*) AS n FROM fact "
                f"WHERE datetime_skey BETWEEN {lo} AND {hi} GROUP BY 1"
            )
        if kind == "rect":
            ranges = {"datetime_skey": (lo, hi), "title_skey": (t_lo, t_hi)}
            return kind, lambda: read_fact_rect(wh, FACT, schema, ranges).groupBy(
                "title_skey"
            ).agg(F.count(F.lit(1)).alias("n")), (
                "SELECT title_skey, count(*) AS n FROM fact WHERE datetime_skey "
                f"BETWEEN {lo} AND {hi} AND title_skey BETWEEN {t_lo} AND {t_hi} GROUP BY 1"
            )
        if kind == "rollup":

            def rollup():
                f = read_fact_range(wh, FACT, schema, "datetime_skey", lo, hi)
                return (
                    f.join(wh.read("dimplatform", self.dims["dimplatform"]), "platform_skey")
                    .join(wh.read("dimtitle", self.dims["dimtitle"]), "title_skey")
                    .groupBy("platform", "video")
                    .agg(F.count(F.lit(1)).alias("n"))
                )

            return kind, rollup, (
                "SELECT platform, video, count(*) AS n FROM fact "
                "JOIN dimplatform USING (platform_skey) JOIN dimtitle USING (title_skey) "
                f"WHERE datetime_skey BETWEEN {lo} AND {hi} GROUP BY 1, 2"
            )
        v = int(self.rng.integers(1, self.dim_versions + 1))
        table = ("dimdate", "dimtitle")[int(self.rng.integers(0, 2))]
        return kind, lambda: wh.read(table, self.dims[table], version=v), (
            f"SELECT * FROM read_parquet('{self._vdir(table, v)}/*.parquet')"
        )

    def op(self, res: Result) -> tuple[float, float, float, float]:
        from check_correctness import value_hash

        kind, build, sql = self.next_op()
        watch = self.ctx.stopwatch()
        try:
            with self.ctx.tracer.span("op"):
                df = build()
                got = df.toPandas()
            sample = watch()
            want = self.con.execute(sql).fetchdf()
            if len(got) != len(want) or value_hash(got) != value_hash(want):
                res.problems.append(f"{kind}: {len(got)} rows differ from DuckDB's {len(want)}")
                return FAILED_OP
            if self.ctx.traced and kind in ("point", "range", "rect"):
                opened = len(df.inputFiles())
                res.files_skipped.append(1 - opened / len(self.fact_files))
            return sample
        except Exception as exc:  # noqa: BLE001 - a failed op is data
            res.problems.append(f"{kind}: error {str(exc).splitlines()[0][:300]}")
            return FAILED_OP


def warehouse_read(ctx) -> Result:
    res = Result()
    ctx.start_spark()
    root = os.path.join(ctx.work, "warehouse")
    res.input_bytes = _build_warehouse(ctx, root)
    reads = _Reads(ctx, root)
    res.disk.append(probe.disk_probe(root))
    ctx.end_setup(res)
    begin = time.perf_counter()
    while True:
        kind = READ_CYCLE[len(res.latencies) % len(READ_CYCLE)]
        res.add(reads.op(res), kind)
        res.disk.append(probe.disk_probe(root))
        n = len(res.latencies)
        if ctx.done(begin, n, READ_MIN_OPS) and n % len(READ_CYCLE) == 0:
            break
    res.wall_s = time.perf_counter() - begin
    res.peak_rss_mb = ctx.peak_rss_mb()
    res.disk_bytes = res.disk[-1]["bytes"]
    res.correct = not res.problems
    return res


WORKLOADS = {
    "stream_ingest": stream_ingest,
    "warehouse_read": warehouse_read,
    "catalog_headline": catalog_headline,
}
