"""VideoStart reference-pipeline queries (filters, parse, dims, star fact, SCD, audits).

Split out of the monolithic catalog.py in round 9 (VERDICT r8 #7);
query bodies and oracle SQL unchanged — the 256-query oracle gate is
the safety net."""

from __future__ import annotations

from pyspark.sql import functions as F
from etl__project_spark.operators import (
    build_fact,
    derive_dim,
    derive_dim_time,
    filter_videostart,
    filter_videostart_like,
    filter_well_formed_title,
    max_lengths,
    merge_insert_new,
    record_count,
    scd1_upsert,
    with_dense_ids,
    scd2_upsert,
)
from etl__project_spark.refdata import VIDEO_DATA_CTE
from etl__project_spark.session import state_checkpoint
from etl__project_spark.plans.catalog._registry import ORACLES, QUERIES, query
from etl__project_spark.plans.catalog._shared import (
    _video,
    _parsed,
    PARSED_CTE,
    DIMS_CTE,
    _int,
    _vs_fact_dims,
)


@query(
    "vs_filter_token",
    f"""WITH {VIDEO_DATA_CTE}
SELECT event_id, DateTime, VideoTitle, events FROM video_data
WHERE list_contains(string_split(events, ','), '206')""",
)
def vs_filter_token(spark, sf_dir):
    """F1 — canonical VideoStart filter: exact token '206' membership."""
    return filter_videostart(_video(spark, sf_dir))


@query(
    "vs_filter_like",
    f"""WITH {VIDEO_DATA_CTE}
SELECT event_id, DateTime, VideoTitle, events FROM video_data
WHERE events LIKE '%206%'""",
)
def vs_filter_like(spark, sf_dir):
    """F1b — Snowflake-path substring variant (documented divergence)."""
    return filter_videostart_like(_video(spark, sf_dir))


@query(
    "vs_filter_title",
    f"""WITH {VIDEO_DATA_CTE}
SELECT event_id, DateTime, VideoTitle, events FROM video_data
WHERE len(string_split(VideoTitle, '|')) > 1""",
)
def vs_filter_title(spark, sf_dir):
    """F2 — malformed-title filter (title must contain a pipe)."""
    return filter_well_formed_title(_video(spark, sf_dir))


@query(
    "vs_parse",
    f"""WITH {PARSED_CTE}
SELECT datetime, datetime_key, year, month, day, hour, minute,
       platform, site, video
FROM parsed""",
)
def vs_parse(spark, sf_dir):
    """C1-C8 over F1+F2 — the complete transform-Lambda stage."""
    df = _parsed(spark, sf_dir)
    return df.select(
        "datetime",
        "datetime_key",
        *[_int(F.col(c)).alias(c) for c in ["year", "month", "day", "hour", "minute"]],
        "platform",
        "site",
        "video",
    )


@query(
    "vs_dim_time",
    f"""WITH {PARSED_CTE}
SELECT datetime,
       year(__t)::BIGINT AS year, month(__t)::BIGINT AS month,
       day(__t)::BIGINT AS day, hour(__t)::BIGINT AS hour,
       minute(__t)::BIGINT AS minute
FROM (SELECT DISTINCT datetime, strptime(datetime, '%Y-%m-%dT%H:%M') AS __t
      FROM parsed)""",
)
def vs_dim_time(spark, sf_dir):
    """A1+C8 — minute-grain time dimension delta."""
    d = derive_dim_time(_parsed(spark, sf_dir))
    return d.select(
        "datetime",
        *[_int(F.col(c)).alias(c) for c in ["year", "month", "day", "hour", "minute"]],
    )


@query(
    "vs_dim_platform",
    f"WITH {PARSED_CTE}\nSELECT DISTINCT platform FROM parsed",
)
def vs_dim_platform(spark, sf_dir):
    """A1 — platform dimension delta (expect the 4-value domain)."""
    return derive_dim(_parsed(spark, sf_dir), "platform")


@query(
    "vs_dim_site",
    f"WITH {PARSED_CTE}\nSELECT DISTINCT site FROM parsed WHERE site IS NOT NULL",
)
def vs_dim_site(spark, sf_dir):
    """A1 — site dimension delta (NULL = platform-headed titles excluded)."""
    return derive_dim(_parsed(spark, sf_dir), "site")


@query(
    "vs_dim_title",
    f"WITH {PARSED_CTE}\nSELECT DISTINCT video FROM parsed",
)
def vs_dim_title(spark, sf_dir):
    """A1 — video/title dimension delta."""
    return derive_dim(_parsed(spark, sf_dir), "video")


@query(
    "vs_dim_date_skey",
    f"""WITH {DIMS_CTE}
SELECT datetime_skey::BIGINT AS datetime_skey, datetime FROM dimdate""",
)
def vs_dim_date_skey(spark, sf_dir):
    """I1 — dense insertion-ordered surrogate keys on the date dimension
    (scalable range-partitioned row_number, oracle = global row_number)."""
    dim = derive_dim(_parsed(spark, sf_dir), "datetime")
    return with_dense_ids(dim, "datetime", id_col="datetime_skey").select(
        _int(F.col("datetime_skey")).alias("datetime_skey"), "datetime"
    )


@query(
    "vs_fact",
    f"""WITH {DIMS_CTE}
SELECT d.datetime_skey::BIGINT AS datetime_skey,
       p.platform_skey::BIGINT AS platform_skey,
       s.site_skey::BIGINT AS site_skey,
       t.title_skey::BIGINT AS title_skey
FROM parsed f
LEFT JOIN dimdate d ON f.datetime = d.datetime
LEFT JOIN dimplatform p ON f.platform = p.platform
LEFT JOIN dimsite s ON f.site = s.site
LEFT JOIN dimtitle t ON f.video = t.video""",
)
def vs_fact(spark, sf_dir):
    """J2 — star fact build: staging LEFT JOIN 4 dims → surrogate keys.

    Every dim side is broadcast (explicit hints — never stats-driven);
    the fact never shuffles. The parsed staging frame feeds 5 consumers
    (4 dims + the probe side), so it parses once into a lazy local
    checkpoint: the block manager's per-partition loading lock makes
    concurrent broadcast builds compute each partition exactly once,
    and unlike ``persist()`` nothing is left in the session cache. At
    sf0.1 on 4 cores (5 interleaved pairs, median of 3 runs each) it
    read 0.99-1.44 s, against 1.24-2.07 s persisted and 1.50-1.99 s
    re-parsed per consumer.

    ``small=True`` (single-task global row_number) is used ONLY for the
    dims with a known tiny domain: platform (4 values) and site (dozens).
    datetime and title are unbounded dimensions (the reference saw
    ever-growing title sets), so they take the default range-partitioned
    dense-id path."""
    parsed = state_checkpoint(_parsed(spark, sf_dir), table_sized=False, eager=False)
    fact = build_fact(parsed, _vs_fact_dims(parsed))
    return fact.select(*[_int(F.col(c)).alias(c) for c in fact.columns])


@query(
    "vs_fact_rollup",
    f"""WITH {DIMS_CTE}
SELECT p.platform, f.datetime_key, count(*)::BIGINT AS n_starts
FROM parsed f JOIN dimplatform p ON f.platform = p.platform
GROUP BY p.platform, f.datetime_key""",
)
def vs_fact_rollup(spark, sf_dir):
    """Flagship — video-starts per (platform, minute): the reference's
    business question ("track VideoStart events over time")."""
    parsed = _parsed(spark, sf_dir)
    return parsed.groupBy("platform", "datetime_key").agg(
        F.count(F.lit(1)).alias("n_starts")
    )


@query(
    "vs_scd1_upsert",
    f"""WITH {PARSED_CTE},
initial AS (SELECT DISTINCT datetime FROM parsed WHERE event_id % 10 < 5),
dim0 AS (
  SELECT row_number() OVER (ORDER BY datetime) - 1 AS datetime_skey, datetime
  FROM initial
),
delta AS (SELECT DISTINCT datetime FROM parsed WHERE event_id % 10 >= 5),
newk AS (
  SELECT datetime FROM delta
  WHERE datetime NOT IN (SELECT datetime FROM initial)
)
SELECT datetime_skey::BIGINT AS datetime_skey, datetime FROM dim0
UNION ALL
SELECT ((SELECT count(*) FROM initial)
        + row_number() OVER (ORDER BY datetime) - 1)::BIGINT, datetime
FROM newk""",
)
def vs_scd1_upsert(spark, sf_dir):
    """J1 — SCD Type-1 anti-join upsert: two half-batches; the second only
    inserts unseen natural keys, with surrogate keys continuing densely."""
    parsed = _parsed(spark, sf_dir, keep_id=True)
    initial = derive_dim(parsed.filter(F.col("event_id") % 10 < 5), "datetime")
    dim0 = with_dense_ids(initial, "datetime", id_col="datetime_skey")
    delta = parsed.filter(F.col("event_id") % 10 >= 5).select("datetime")
    out = scd1_upsert(dim0, delta, "datetime", "datetime_skey")
    return out.select(_int(F.col("datetime_skey")).alias("datetime_skey"), "datetime")


@query(
    "vs_merge_dedup",
    f"""WITH {VIDEO_DATA_CTE},
b1 AS (SELECT DateTime, VideoTitle, events FROM video_data WHERE event_id % 3 <= 1),
b2 AS (SELECT DateTime, VideoTitle, events FROM video_data WHERE event_id % 3 >= 1)
SELECT DISTINCT DateTime, VideoTitle, events FROM (
  SELECT * FROM b1 UNION ALL SELECT * FROM b2
)""",
)
def vs_merge_dedup(spark, sf_dir):
    """J3/T5 — MERGE insert-if-not-matched: re-delivered overlapping batches
    land exactly once (full-row dedup against the destination)."""
    raw = _video(spark, sf_dir)
    b1 = raw.filter(F.col("event_id") % 3 <= 1).select("DateTime", "VideoTitle", "events")
    b2 = raw.filter(F.col("event_id") % 3 >= 1).select("DateTime", "VideoTitle", "events")
    dest = b1.dropDuplicates()
    return merge_insert_new(dest, b2)


@query(
    "vs_audit_count",
    f"WITH {VIDEO_DATA_CTE}\nSELECT count(*)::BIGINT AS n_records FROM video_data",
)
def vs_audit_count(spark, sf_dir):
    """A3 — record-count audit (the reference's CloudWatch count log)."""
    return record_count(_video(spark, sf_dir))


@query(
    "vs_audit_maxlen",
    f"""WITH {VIDEO_DATA_CTE}
SELECT max(len(DateTime))::BIGINT AS max_len_DateTime,
       max(len(VideoTitle))::BIGINT AS max_len_VideoTitle,
       max(len(events))::BIGINT AS max_len_events
FROM video_data""",
)
def vs_audit_maxlen(spark, sf_dir):
    """A4 — per-column max-length audit (drove the reference's VARCHAR
    sizing; one single-pass distributed aggregate here)."""
    out = max_lengths(_video(spark, sf_dir), ["DateTime", "VideoTitle", "events"])
    return out.select(*[_int(F.col(c)).alias(c) for c in out.columns])


@query(
    "vs_scd2_upsert",
    f"""WITH {PARSED_CTE},
initial AS (
  SELECT datetime, max(platform) AS attr FROM parsed
  WHERE event_id % 10 < 5 GROUP BY datetime
),
dim0 AS (
  SELECT row_number() OVER (ORDER BY datetime) - 1 AS skey, datetime, attr
  FROM initial
),
delta AS (
  SELECT datetime, max(platform) AS attr FROM parsed
  WHERE event_id % 10 >= 5 GROUP BY datetime
),
changed AS (
  SELECT d.datetime, d.attr FROM delta d
  JOIN dim0 c ON d.datetime = c.datetime AND d.attr <> c.attr
),
brand_new AS (
  SELECT d.datetime, d.attr FROM delta d
  WHERE d.datetime NOT IN (SELECT datetime FROM dim0)
),
inserts AS (
  SELECT datetime, attr FROM brand_new
  UNION ALL SELECT datetime, attr FROM changed
),
ins AS (
  SELECT (SELECT count(*) FROM initial) + row_number() OVER (ORDER BY datetime) - 1 AS skey,
         datetime, attr
  FROM inserts
)
SELECT skey::BIGINT AS skey, datetime, attr,
       CASE WHEN datetime IN (SELECT datetime FROM changed) THEN 'N' ELSE 'Y' END AS current_flag,
       '2020-01-01' AS start_date,
       CASE WHEN datetime IN (SELECT datetime FROM changed) THEN '2021-06-14'
            ELSE '9999-12-31' END AS end_date
FROM dim0
UNION ALL
SELECT skey::BIGINT, datetime, attr, 'Y', '2021-06-15', '9999-12-31' FROM ins""",
)
def vs_scd2_upsert(spark, sf_dir):
    """SCD Type-2 upsert (summary.pdf p.8 design, SURVEY.md §2.9): two
    half-batches where the per-minute max(platform) attribute may change —
    changed keys expire the old version and insert a new current one."""
    parsed = _parsed(spark, sf_dir, keep_id=True)
    initial = (
        parsed.filter(F.col("event_id") % 10 < 5)
        .groupBy("datetime")
        .agg(F.max("platform").alias("attr"))
    )
    dim0 = (
        with_dense_ids(initial, "datetime", id_col="skey")
        .withColumn("current_flag", F.lit("Y"))
        .withColumn("start_date", F.lit("2020-01-01").cast("date"))
        .withColumn("end_date", F.lit("9999-12-31").cast("date"))
    )
    delta = (
        parsed.filter(F.col("event_id") % 10 >= 5)
        .groupBy("datetime")
        .agg(F.max("platform").alias("attr"))
    )
    out = scd2_upsert(dim0, delta, "datetime", ["attr"], "skey", load_date="2021-06-15")
    return out.select(
        _int(F.col("skey")).alias("skey"),
        "datetime",
        "attr",
        "current_flag",
        F.col("start_date").cast("string").alias("start_date"),
        F.col("end_date").cast("string").alias("end_date"),
    )


@query(
    "vs_parse_variant_snowflake",
    f"""WITH {VIDEO_DATA_CTE},
kept AS (
  SELECT * FROM video_data
  WHERE events LIKE '%206%'
    AND len(string_split(VideoTitle, '|')) > 1
),
p AS (
  SELECT event_id, string_split(VideoTitle, '|')[1] AS head, VideoTitle
  FROM kept
)
SELECT event_id,
  CASE WHEN regexp_matches(lower(trim(head)), 'iphone|android|ipad|app') THEN trim(head)
       WHEN regexp_matches(lower(trim(head)), 'news') THEN 'Desktop'
       ELSE 'unknow' END AS platform_sf,
  CASE WHEN regexp_matches(lower(trim(head)), 'news') THEN trim(head)
       ELSE 'unkknow' END AS site_sf,
  string_split(VideoTitle, '|')[-1] AS video
FROM p""",
)
def vs_parse_variant_snowflake(spark, sf_dir):
    """C3b/C4-variant (documented divergence, NOT canonical): the
    Snowflake path's parse — lowercased-regex platform rule that keeps the
    raw head token, 'news'→Desktop, else the reference's literal 'unknow'/
    'unkknow' buckets (snow pipe.sql:83-92, incl. its misspellings —
    SURVEY.md §2.12 bug 6). Registered so the semantic divergence from
    vs_parse stays visible and tested."""
    raw = _video(spark, sf_dir)
    kept = filter_well_formed_title(filter_videostart_like(raw))
    head = F.split("VideoTitle", r"\|").getItem(0)
    head_n = F.lower(F.trim(head))
    return kept.select(
        "event_id",
        F.when(head_n.rlike("iphone|android|ipad|app"), F.trim(head))
        .when(head_n.rlike("news"), F.lit("Desktop"))
        .otherwise(F.lit("unknow"))
        .alias("platform_sf"),
        F.when(head_n.rlike("news"), F.trim(head))
        .otherwise(F.lit("unkknow"))
        .alias("site_sf"),
        F.element_at(F.split("VideoTitle", r"\|"), -1).alias("video"),
    )


@query(
    "vs_warehouse_load",
    f"""WITH {PARSED_CTE},
dimdate_1 AS (
  SELECT row_number() OVER (ORDER BY datetime) - 1 AS datetime_skey, datetime
  FROM (SELECT DISTINCT datetime FROM parsed WHERE event_id % 10 < 5)
),
dimdate_new AS (
  SELECT datetime FROM (SELECT DISTINCT datetime FROM parsed WHERE event_id % 10 >= 5)
  WHERE datetime NOT IN (SELECT datetime FROM dimdate_1)
),
dimdate_f AS (
  SELECT datetime_skey, datetime FROM dimdate_1
  UNION ALL
  SELECT (SELECT count(*) FROM dimdate_1) + row_number() OVER (ORDER BY datetime) - 1, datetime
  FROM dimdate_new
),
dimplatform_1 AS (
  SELECT row_number() OVER (ORDER BY platform) - 1 AS platform_skey, platform
  FROM (SELECT DISTINCT platform FROM parsed WHERE event_id % 10 < 5)
),
dimplatform_new AS (
  SELECT platform FROM (SELECT DISTINCT platform FROM parsed WHERE event_id % 10 >= 5)
  WHERE platform NOT IN (SELECT platform FROM dimplatform_1)
),
dimplatform_f AS (
  SELECT platform_skey, platform FROM dimplatform_1
  UNION ALL
  SELECT (SELECT count(*) FROM dimplatform_1) + row_number() OVER (ORDER BY platform) - 1, platform
  FROM dimplatform_new
),
dimsite_1 AS (
  SELECT row_number() OVER (ORDER BY site) - 1 AS site_skey, site
  FROM (SELECT DISTINCT site FROM parsed WHERE event_id % 10 < 5 AND site IS NOT NULL)
),
dimsite_new AS (
  SELECT site FROM (SELECT DISTINCT site FROM parsed WHERE event_id % 10 >= 5 AND site IS NOT NULL)
  WHERE site NOT IN (SELECT site FROM dimsite_1)
),
dimsite_f AS (
  SELECT site_skey, site FROM dimsite_1
  UNION ALL
  SELECT (SELECT count(*) FROM dimsite_1) + row_number() OVER (ORDER BY site) - 1, site
  FROM dimsite_new
),
dimtitle_1 AS (
  SELECT row_number() OVER (ORDER BY video) - 1 AS title_skey, video
  FROM (SELECT DISTINCT video FROM parsed WHERE event_id % 10 < 5)
),
dimtitle_new AS (
  SELECT video FROM (SELECT DISTINCT video FROM parsed WHERE event_id % 10 >= 5)
  WHERE video NOT IN (SELECT video FROM dimtitle_1)
),
dimtitle_f AS (
  SELECT title_skey, video FROM dimtitle_1
  UNION ALL
  SELECT (SELECT count(*) FROM dimtitle_1) + row_number() OVER (ORDER BY video) - 1, video
  FROM dimtitle_new
)
SELECT d.datetime_skey::BIGINT AS datetime_skey,
       p.platform_skey::BIGINT AS platform_skey,
       s.site_skey::BIGINT AS site_skey,
       t.title_skey::BIGINT AS title_skey
FROM parsed f
LEFT JOIN dimdate_f d ON f.datetime = d.datetime
LEFT JOIN dimplatform_f p ON f.platform = p.platform
LEFT JOIN dimsite_f s ON f.site = s.site
LEFT JOIN dimtitle_f t ON f.video = t.video""",
)
def vs_warehouse_load(spark, sf_dir):
    """END-TO-END warehouse execution, oracle-verified: the synth raw
    split into two half-batches is loaded through the REAL
    ParquetWarehouse (SCD1 dim upserts with skey continuity across
    batches, versioned publishes, append-only fact) and the resulting
    fact table is read back and hash-compared against a pure-SQL model of
    two sequential loads. This is entry point 2 (SURVEY.md §3) as one
    verifiable operator."""
    import tempfile

    from etl__project_spark.plans.star_load import (
        FACT_SCHEMA,
        ParquetWarehouse,
        load_batch,
    )

    raw = _video(spark, sf_dir)
    wh = ParquetWarehouse(spark, tempfile.mkdtemp(prefix="vs_wh_"))
    load_batch(raw.filter(F.col("event_id") % 10 < 5), wh, "b1", spark)
    load_batch(raw.filter(F.col("event_id") % 10 >= 5), wh, "b2", spark)
    fact = wh.read_fact("factvideostart", FACT_SCHEMA)
    return fact.select(*[_int(F.col(c)).alias(c) for c in fact.columns])


@query(
    "vs_fact_late_dims",
    f"""WITH {PARSED_CTE},
p0 AS (
  SELECT row_number() OVER (ORDER BY platform) - 1 AS platform_skey, platform
  FROM (SELECT DISTINCT platform FROM parsed WHERE platform <> 'iPad')
),
pnew AS (
  SELECT (SELECT count(*) FROM p0) + row_number() OVER (ORDER BY platform) - 1
             AS platform_skey, platform
  FROM (SELECT DISTINCT platform FROM parsed WHERE platform = 'iPad')
),
dimp AS (SELECT * FROM p0 UNION ALL SELECT * FROM pnew)
SELECT d.platform_skey::BIGINT AS platform_skey, d.platform,
       count(*)::BIGINT AS n_rows
FROM parsed f JOIN dimp d ON f.platform = d.platform
GROUP BY 1, 2""",
)
def vs_fact_late_dims(spark, sf_dir):
    """Late-arriving dimension handling — the warehouse pattern the
    reference's nightly design never needed but any streaming star load
    does: the platform dim feed lags (the 'iPad' member is withheld
    when the fact batch loads), so ``build_fact_unknown_member`` gives
    those rows the UNKNOWN surrogate (-1) instead of stalling or
    nulling the load; once the dim catches up (SCD1 upsert appends
    'iPad' with the next dense skey), ``repair_unknown_facts``
    re-resolves ONLY the -1 slice via the same broadcast probe. The
    returned per-skey rollup must equal the one-shot build against the
    caught-up dim — the oracle proves repair converges and that
    unknown-member bookkeeping never double-counts.

    Note the skey ORDER is the upsert order, not alphabetical: the
    withheld member lands at max(skey)+1 (here iPad > Desktop despite
    sorting earlier) — exactly what a real late member looks like, and
    the oracle reproduces it structurally (p0 + pnew)."""
    from etl__project_spark.operators.fact import (
        build_fact_unknown_member,
        repair_unknown_facts,
    )

    parsed = _parsed(spark, sf_dir)
    # dim at fact-load time: iPad missing
    early = with_dense_ids(
        derive_dim(parsed.filter(F.col("platform") != "iPad"), "platform"),
        "platform",
        "platform_skey",
        small=True,
    )
    fact = build_fact_unknown_member(
        parsed,
        {"platform_skey": (early, "platform", "platform")},
        keep_cols=["platform"],
    )
    # the dim catches up; repair the quarantined -1 slice
    caught_up = scd1_upsert(
        early, derive_dim(parsed, "platform"), "platform", "platform_skey"
    )
    repaired = repair_unknown_facts(
        fact, caught_up, "platform", "platform", "platform_skey"
    )
    return repaired.groupBy("platform_skey", "platform").agg(
        F.count(F.lit(1)).alias("n_rows")
    )


@query(
    "vs_scd2_asof_lookup",
    f"""WITH scd2 AS ({ORACLES["vs_scd2_upsert"]}),
probes AS (SELECT * FROM (VALUES ('2021-01-01'), ('2021-07-01')) p(probe_date))
SELECT p.probe_date, s.datetime, s.skey, s.attr
FROM scd2 s JOIN probes p
  ON s.start_date <= p.probe_date AND p.probe_date <= s.end_date""",
)
def vs_scd2_asof_lookup(spark, sf_dir):
    """Point-in-time (AS OF) dimension lookup — the query SCD Type-2
    exists to serve, closing the loop on ``vs_scd2_upsert`` (which
    builds the versioned dim but never reads it temporally): for each
    probe date, the version of every key valid on that date via
    ``start_date <= probe <= end_date``. One probe before the round-2
    load returns the original attributes (including rows since
    expired); one after returns the post-change versions plus the
    brand-new keys — so the hash match proves version routing, expiry
    dating, and the exactly-one-valid-version-per-(key, instant)
    invariant all at once.

    Distributed shape: the probe frame is tiny and BROADCAST; the
    range predicate evaluates as a nested-loop against 2 rows (never a
    shuffle of the dim). In a warehouse the same predicate is the
    fact-to-dim temporal join condition, with the dim side broadcast
    exactly like this."""
    probes = spark.createDataFrame(
        [("2021-01-01",), ("2021-07-01",)], "probe_date string"
    )
    dim = QUERIES["vs_scd2_upsert"](spark, sf_dir)
    d = F.col("probe_date").cast("date")
    return (
        dim.crossJoin(F.broadcast(probes))
        .filter((F.col("start_date") <= d) & (d <= F.col("end_date")))
        .select("probe_date", "datetime", "skey", "attr")
    )


@query(
    "vs_dim_calendar_spine",
    """SELECT d::DATE AS cal_date,
       year(d)::BIGINT AS year, quarter(d)::BIGINT AS quarter,
       month(d)::BIGINT AS month, dayofmonth(d)::BIGINT AS day,
       isodow(d)::BIGINT AS iso_dow, weekofyear(d)::BIGINT AS iso_week,
       (isodow(d) >= 6) AS is_weekend,
       (d = last_day(d)) AS is_month_end
FROM generate_series(DATE '2017-01-01', DATE '2017-12-31',
                     INTERVAL 1 DAY) t(d)""",
)
def vs_dim_calendar_spine(spark, sf_dir):
    """GENERATED calendar dimension — the warehouse dim that comes from
    no scan at all: a date spine via ``sequence`` + ``explode`` with
    the standard attribute kit (ISO dow/week, quarter, weekend and
    month-end flags). The reference derives its date dim only from
    observed data (A2/``vs_dim_time``), which silently drops dates with
    no events — joins against a generated spine are how reports show
    the zero rows. 365 rows are generated per executor-free projection;
    at scale the spine is the canonical broadcast side of every
    fill-the-gaps join."""
    spine = spark.sql(
        "SELECT explode(sequence(DATE'2017-01-01', DATE'2017-12-31',"
        " interval 1 day)) AS cal_date"
    )
    d = F.col("cal_date")
    iso_dow = F.dayofweek(d) - 1
    iso_dow = F.when(iso_dow == 0, 7).otherwise(iso_dow)
    return spine.select(
        d,
        F.year(d).cast("long").alias("year"),
        F.quarter(d).cast("long").alias("quarter"),
        F.month(d).cast("long").alias("month"),
        F.dayofmonth(d).cast("long").alias("day"),
        iso_dow.cast("long").alias("iso_dow"),
        F.weekofyear(d).cast("long").alias("iso_week"),
        (iso_dow >= 6).alias("is_weekend"),
        (d == F.last_day(d)).alias("is_month_end"),
    )
