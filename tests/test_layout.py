"""Z-order as a PHYSICAL write path (VERDICT r9 #3).

``ev_zorder_layout`` / ``ev_zorder_prune_audit`` model the layout and
score modeled zone maps; these tests make the claim physical: the
warehouse writes actual Z-ordered parquet files, and the audit reads
back the files' FOOTER min/max (pyarrow metadata-only — the statistic a
reader's pruning consults) under the same user-range predicate.

The headline assertion: with the equal-width layout (one file per
fixed-width Z-bucket — exactly the zone model the catalog audit
scores), the physically measured files-read count equals the modeled
``ev_zorder_prune_audit`` numbers bit-for-bit. The production
equal-count layout (repartitionByRange on the Z-value) is asserted to
deliver the same order of pruning, and round-trips through
``read_fact`` with a stable schema either way.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl__project_spark.operators.layout import (
    ZOrderLayout,
    files_read_under_range,
    parquet_file_zone_maps,
)
from etl__project_spark.plans import QUERIES
from etl__project_spark.plans.star_load import ParquetWarehouse
from etl__project_spark.sources import load_table

SF = "/root/testdata/sf0.001"


def _quantize(ev):
    """The exact (ub, vb) quantization ev_zorder_layout/prune_audit use."""
    return ev.select(
        F.least(F.col("user_id"), F.lit(255)).cast("long").alias("ub"),
        F.least(
            F.expr("cast(floor(value * 100 + 0.5) as long) div 256"), F.lit(255)
        )
        .cast("long")
        .alias("vb"),
    )


def _quantized_events(spark):
    return _quantize(load_table(spark, SF, "events").select("user_id", "value"))


# Files per append-ordered churn batch. should_recluster's statistic is
# weighted by files, so how far three batches erode a 64-file layout
# depends on how many files each batch writes; the count is pinned here
# rather than left to the scan's split. 32 is the count of the
# documented measured cycle (SCALE.md: 0.058 -> 0.269 -> 0.058, taken on
# a 32-core local run): 64 + 3 x 32 = 160 files, reading 0.2689.
CHURN_FILES = 32


def _churn_batch(spark, i):
    """Append-ordered churn batch ``i`` (one third of the quantized rows,
    by ``crc32 % 3``) as exactly CHURN_FILES round-robin partitions. The
    full event row is repartitioned before the select: the sort Spark
    runs ahead of a round-robin repartition orders by the whole row, so
    that is what fixes which rows land in which file."""
    ev = load_table(spark, SF, "events").repartition(CHURN_FILES)
    q = _quantize(ev)
    h = F.crc32(F.concat_ws("|", "ub", "vb"))
    return q.filter(h % 3 == i % 3)


def _modeled(spark):
    rows = {
        r["layout"]: r
        for r in QUERIES["ev_zorder_prune_audit"](spark, SF).collect()
    }
    return rows["zorder"], rows["value_sorted"]


def test_equal_width_zorder_write_matches_modeled_prune_audit(spark, tmp_path):
    """The physical files-read count under ub BETWEEN 8 AND 15 equals
    the modeled audit: same bucket assignment (fixed-width Z-buckets,
    one file per non-empty bucket), same zone rectangles, so the footer
    audit and the modeled audit must agree exactly."""
    zorder_model, value_model = _modeled(spark)

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    layout = ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64, equal_width=True)
    assert wh.fact_append("ev_z", q, "b0", layout=layout)

    audit = files_read_under_range(wh.fact_batch_dir("ev_z", "b0"), "ub", 8, 15)
    assert audit["n_files"] == zorder_model["n_files"]
    assert audit["n_read"] == zorder_model["n_read"]
    assert abs(audit["skip_ratio"] - zorder_model["skip_ratio"]) < 1e-9
    # and the layout is doing real work: far fewer files read than the
    # single-column value-sorted baseline's modeled count
    assert audit["n_read"] < value_model["n_read"]

    # one file per non-empty fixed-width bucket — the model's file unit
    zones = parquet_file_zone_maps(wh.fact_batch_dir("ev_z", "b0"), "ub")
    assert len(zones) == audit["n_files"]

    # read-back: stable schema (no layout helper column), same rows
    got = wh.read_fact("ev_z", q.schema)
    assert got.columns == ["ub", "vb"]
    assert got.count() == q.count()


def test_equal_count_zorder_write_prunes_and_roundtrips(spark, tmp_path):
    """The production layout (repartitionByRange on the Z-value): file
    rectangles are data-dependent (sampled quantile boundaries), so the
    assertion is pruning POWER, not bucket identity — the measured skip
    ratio must be in the modeled Z-order league and strictly better
    than the modeled value-sorted baseline."""
    zorder_model, value_model = _modeled(spark)

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    layout = ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64)
    assert wh.fact_append("ev_z", q, "b0", layout=layout)

    audit = files_read_under_range(wh.fact_batch_dir("ev_z", "b0"), "ub", 8, 15)
    assert audit["n_files"] > 1
    assert audit["skip_ratio"] > value_model["skip_ratio"]
    assert audit["skip_ratio"] >= zorder_model["skip_ratio"] - 0.15

    got = wh.read_fact("ev_z", q.schema)
    assert got.columns == ["ub", "vb"]
    assert got.count() == q.count()


def test_compact_fact_relayouts_append_ordered_batches(spark, tmp_path):
    """Compaction is where re-clustering happens: two append-ordered
    batch dirs (no layout — the streaming hot path) compact under a
    Z-order layout, and the compacted files prune where the raw batches
    did not."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    h = F.crc32(F.concat_ws("|", "ub", "vb"))
    wh.fact_append("ev_z", q.filter(h % 2 == 0), "b0")
    wh.fact_append("ev_z", q.filter(h % 2 == 1), "b1")

    layout = ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64, equal_width=True)
    absorbed = wh.compact_fact("ev_z", layout=layout)
    assert absorbed == 2

    zorder_model, _ = _modeled(spark)
    tdir = wh._tdir("ev_z")
    import os

    compacts = [d for d in os.listdir(tdir) if d.startswith("compact-")]
    assert len(compacts) == 1
    audit = files_read_under_range(os.path.join(tdir, compacts[0]), "ub", 8, 15)
    assert audit["n_files"] == zorder_model["n_files"]
    assert audit["n_read"] == zorder_model["n_read"]

    got = wh.read_fact("ev_z", q.schema)
    assert got.columns == ["ub", "vb"]
    assert got.count() == q.count()


def test_publish_with_layout_roundtrips(spark, tmp_path):
    """Snapshot publishes accept the layout too; read() strips the
    helper partition column so the table's schema is layout-independent."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    layout = ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64, equal_width=True)
    v = wh.publish("ev_snap", q, layout=layout)
    assert v == 1
    got = wh.read("ev_snap", q.schema)
    assert got.columns == ["ub", "vb"]
    assert got.count() == q.count()


def test_three_dim_layout_bounds_all_dimensions(spark, tmp_path):
    """N-dim generalization (extra_dims): a 3-column Z-order write
    produces files whose footer zone maps are bounded in ALL THREE
    dimensions, and the per-file rectangles match the modeled
    ev_zorder3_layout buckets exactly in equal-width mode."""
    modeled = {
        r["bucket"]: (r["u_min"], r["u_max"], r["t_min"], r["t_max"])
        for r in QUERIES["ev_zorder3_layout"](spark, SF).collect()
    }

    ev = load_table(spark, SF, "events").select("user_id", "value", "ts")
    q = ev.select(
        F.least(F.col("user_id"), F.lit(255)).cast("long").alias("ub"),
        F.least(
            F.expr("cast(floor(value * 100 + 0.5) as long) div 256"), F.lit(255)
        )
        .cast("long")
        .alias("vb"),
        F.hour("ts").cast("long").alias("tb"),
    )
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    layout = ZOrderLayout(
        dim_a="ub", dim_b="vb", bits=8, n_files=64, equal_width=True,
        extra_dims=("tb",),
    )
    assert wh.fact_append("ev_z3", q, "b0", layout=layout)
    path = wh.fact_batch_dir("ev_z3", "b0")

    u_zones = {f: (lo, hi) for f, lo, hi in parquet_file_zone_maps(path, "ub")}
    t_zones = {f: (lo, hi) for f, lo, hi in parquet_file_zone_maps(path, "tb")}
    assert len(u_zones) == len(modeled)
    # one file per fixed-width bucket: its (u, t) rectangle equals the model's
    got = sorted(
        (u_zones[f][0], u_zones[f][1], t_zones[f][0], t_zones[f][1])
        for f in u_zones
    )
    want = sorted(modeled.values())
    assert got == want

    # round-trip: stable schema, same rows
    back = wh.read_fact("ev_z3", q.schema)
    assert back.columns == ["ub", "vb", "tb"]
    assert back.count() == q.count()


def test_recluster_trigger_degrades_with_appends_and_restores_on_compaction(
    spark, tmp_path
):
    """The full layout MAINTENANCE loop: a Z-ordered table reads pruned;
    append-ordered batches (the streaming hot path) erode the measured
    clustering health monotonically until should_recluster trips; a
    layout compaction restores both the health statistic and the
    trigger. All measurements are parquet-footer-only. Probes run on vb
    (the fixture's wide-domain dimension: sf0.001 has only 15 distinct
    user ids, so ub cannot differentiate 64 files); the production
    equal-count layout keeps every file populated at 1 000 rows where
    fixed-width Z-buckets would collapse to 4."""
    from etl__project_spark.plans.star_load import should_recluster

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    layout = ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64)

    # clustered start: near the 1/n_files floor (measured 0.058 at 64 files)
    wh.fact_append("ev_z", q, "b0", layout=layout)
    trig0, stats0 = should_recluster(wh, "ev_z", "vb", threshold=0.2)
    assert not trig0 and stats0["mean_read_fraction"] < 0.1

    # append-ordered churn: each batch is CHURN_FILES round-robin files,
    # each spanning the whole vb domain (why the count is pinned: see
    # CHURN_FILES)
    frac = stats0["mean_read_fraction"]
    for i in range(1, 4):
        wh.fact_append("ev_z", _churn_batch(spark, i), f"b{i}")
        _, stats_i = should_recluster(wh, "ev_z", "vb", threshold=0.2)
        assert stats_i["mean_read_fraction"] >= frac  # monotone erosion
        frac = stats_i["mean_read_fraction"]
    trig1, stats1 = should_recluster(wh, "ev_z", "vb", threshold=0.2)
    assert trig1, stats1

    # the re-cluster moment: compact under the layout, health restored
    assert wh.compact_fact("ev_z", layout=layout) == 4
    trig2, stats2 = should_recluster(wh, "ev_z", "vb", threshold=0.2)
    assert not trig2 and stats2["mean_read_fraction"] < 0.1
    # and the data survived intact
    assert wh.read_fact("ev_z", q.schema).count() == q.count() * 2


def test_modeled_health_equals_physical_footer_health(spark, tmp_path):
    """The capstone parity: ev_zorder_health's ORACLE-PINNED model of
    read amplification equals zone_read_amplification's pyarrow-footer
    measurement of an actual equal-width Z-ordered write — same
    buckets, same probe formula, same number. This equality is what
    lets should_recluster trust footer probes as the OPTIMIZE trigger:
    the statistic it acts on is the one the oracle verifies."""
    from etl__project_spark.operators.layout import zone_read_amplification

    modeled = {
        r["layout"]: r for r in QUERIES["ev_zorder_health"](spark, SF).collect()
    }

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    layout = ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64, equal_width=True)
    wh.fact_append("ev_z", q, "b0", layout=layout)
    physical = zone_read_amplification(
        wh.fact_batch_dir("ev_z", "b0"), "ub", n_probes=64
    )

    assert physical["n_files"] == modeled["zorder"]["n_files"]
    assert (
        abs(physical["mean_read_fraction"] - modeled["zorder"]["mean_read_fraction"])
        < 1e-4
    )
    # (No cross-layout assertion here: sf0.001's user domain is 15
    # values over 4 non-empty Z-buckets — degenerate for a health
    # comparison. The layout's benefit is pinned by the prune-audit
    # tests above and the sf10 sweep; THIS test pins model ≡ physical.)


def test_mixed_layout_dirs_stay_readable(spark, tmp_path):
    """One equal-width (directory-partitioned) append alongside plain
    appends must leave the table readable AND compactable: Spark's
    one-shot multi-path partition discovery throws
    CONFLICTING_DIRECTORY_STRUCTURES on that mix, which previously made
    the table unreadable and unrepairable through the API (round-11
    advisory — the streaming recluster hook hits exactly this on the
    first plain append after an equal-width compaction). read_fact and
    compact_fact now go per-directory when any live dir is partitioned."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    n = q.count()
    ew = ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64, equal_width=True)
    assert wh.fact_append("ev_z", q, "b0", layout=ew)
    assert wh.fact_append("ev_z", q, "b1")  # plain append — the hazard
    got = wh.read_fact("ev_z", q.schema)
    assert got.columns == ["ub", "vb"]
    assert got.count() == 2 * n
    # compaction (the "unrepairable" half): absorbs both, stays correct
    assert wh.compact_fact("ev_z") == 2
    assert wh.read_fact("ev_z", q.schema).count() == 2 * n
    # and the equal-width dir + plain mix works for snapshots' read too
    # (publish path shares _strip_layout_cols; nothing more to pin here)


def test_read_fact_range_opens_exactly_the_audit_files(spark, tmp_path):
    """The read-side half of the Z-order feature (VERDICT r10 #2):
    read_fact_range's pruned file listing IS the footer audit —
    df.inputFiles() == prune_files_for_rect's survivors, and their
    count equals files_read_under_range's modeled n_read. And the
    pruned read returns exactly the rows the unpruned read + filter
    returns (the oracle twin of ev_zorder_range_read, pinned physically
    here)."""
    from etl__project_spark.operators.layout import prune_files_for_rect
    from etl__project_spark.plans.star_load import read_fact_range

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    layout = ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64)
    assert wh.fact_append("ev_z", q, "b0", layout=layout)
    bdir = wh.fact_batch_dir("ev_z", "b0")

    # probe on vb (the fixture's wide-domain dimension; see the
    # recluster test's note on sf0.001's 15-value user domain)
    lo, hi = 32, 63
    audit = files_read_under_range(bdir, "vb", lo, hi)
    must, skipped = prune_files_for_rect([bdir], {"vb": (lo, hi)})
    assert audit["n_files"] == len(must) + len(skipped)
    assert audit["n_read"] == len(must)
    assert audit["skip_ratio"] > 0  # the layout actually prunes here

    pruned = read_fact_range(wh, "ev_z", q.schema, "vb", lo, hi)
    opened = {f.removeprefix("file://") for f in pruned.inputFiles()}
    assert opened == set(must)  # files actually scheduled == the audit

    want = sorted(
        map(str, wh.read_fact("ev_z", q.schema)
            .filter(F.col("vb").between(lo, hi)).collect())
    )
    got = sorted(map(str, pruned.collect()))
    assert got == want


def test_read_fact_range_handles_empty_and_missing(spark, tmp_path):
    """No live dirs → empty frame with the contract schema; a range
    beyond every zone → empty frame without scheduling any scan."""
    from etl__project_spark.plans.star_load import read_fact_range

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    empty = read_fact_range(wh, "absent", q.schema, "ub", 0, 10)
    assert empty.columns == ["ub", "vb"] and empty.count() == 0

    wh.fact_append("ev_z", q, "b0",
                   layout=ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64))
    beyond = read_fact_range(wh, "ev_z", q.schema, "vb", 10_000, 20_000)
    assert beyond.count() == 0


def test_equal_count_recluster_trigger_parity(spark, tmp_path):
    """VERDICT r10 #5: the production (equal-count) layout's
    should_recluster semantics, pinned against an INDEPENDENT model of
    the probe formula computed from the written footers themselves —
    the sampled-quantile file rectangles are data-dependent, but once
    written their zone maps are facts, so the trigger statistic must
    equal floor-rounded mean coverage over the 64-probe grid exactly,
    and the trigger must be (n_files > 1) AND (fraction > threshold) in
    BOTH the fresh and the eroded state — same threshold meaning as the
    audited equal-width mode."""
    import math

    from etl__project_spark.plans.star_load import should_recluster

    def model_fraction(dirs):
        zones = []
        for d in dirs:
            zones.extend(parquet_file_zone_maps(d, "vb"))
        lo = min(mn for _f, mn, _mx in zones)
        hi = max(mx for _f, _mn, mx in zones)
        span = max(hi - lo, 1)
        total = 0
        for k in range(64):
            p = lo + (span * k) // 63
            total += sum(1 for _f, mn, mx in zones if mn <= p <= mx)
        return len(zones), math.floor(total / (64 * len(zones)) * 10000 + 0.5) / 10000

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    layout = ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64)  # equal-count

    wh.fact_append("ev_z", q, "b0", layout=layout)
    n0, frac0 = model_fraction(wh._live_dirs("ev_z"))
    trig0, stats0 = should_recluster(wh, "ev_z", "vb", threshold=0.2)
    assert stats0["n_files"] == n0
    assert stats0["mean_read_fraction"] == frac0  # exact parity, floor-rounded
    assert trig0 == (n0 > 1 and frac0 > 0.2)
    assert not trig0  # fresh equal-count layout sits near 1/n_files

    # erode with append-ordered churn, then re-check the same contract
    for i in range(1, 4):
        wh.fact_append("ev_z", _churn_batch(spark, i), f"b{i}")
    n1, frac1 = model_fraction(wh._live_dirs("ev_z"))
    trig1, stats1 = should_recluster(wh, "ev_z", "vb", threshold=0.2)
    assert stats1["n_files"] == n1
    assert stats1["mean_read_fraction"] == frac1
    assert trig1 == (n1 > 1 and frac1 > 0.2)
    assert trig1  # erosion past the threshold actually trips it


def test_compaction_rebuilds_zone_map_sidecars_in_commit(spark, tmp_path):
    """A compaction over range-read-indexed dirs must carry the zone-map
    sidecar cache forward INSIDE its commit (like the bloom sidecars):
    the compacted directory has the _ZONEMAP_ file the moment it becomes
    visible, so the first range read after a compaction never pays a
    footer scan — and the pruned read over the compacted table is still
    exactly the filtered read."""
    import os

    from etl__project_spark.plans.star_load import read_fact_range

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    layout = ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64)
    wh.fact_append("ev_z", q, "b0", layout=layout)
    wh.fact_append("ev_z", q, "b1", layout=layout)
    # first range read builds the per-dir sidecars
    read_fact_range(wh, "ev_z", q.schema, "vb", 32, 63).count()
    for b in ("b0", "b1"):
        assert os.path.exists(
            os.path.join(wh.fact_batch_dir("ev_z", b), "_ZONEMAP_vb.json")
        )

    assert wh.compact_fact("ev_z", layout=layout) == 2
    tdir = wh._tdir("ev_z")
    compacts = [d for d in os.listdir(tdir) if d.startswith("compact-")]
    assert len(compacts) == 1
    # the sidecar is already there — committed with the data
    assert os.path.exists(os.path.join(tdir, compacts[0], "_ZONEMAP_vb.json"))

    got = sorted(
        map(str, read_fact_range(wh, "ev_z", q.schema, "vb", 32, 63).collect())
    )
    want = sorted(
        map(
            str,
            wh.read_fact("ev_z", q.schema)
            .filter(F.col("vb").between(32, 63))
            .collect(),
        )
    )
    assert got == want


def test_read_range_on_versioned_snapshot(spark, tmp_path):
    """read_range — the read_fact_range twin for pointer-swapped
    snapshot tables: prunes the CURRENT version's file listing from
    footer zone maps, returns exactly the filtered snapshot; absent
    table and out-of-domain ranges return empty frames with the
    contract schema."""
    from etl__project_spark.plans.star_load import read_range

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    layout = ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64)

    empty = read_range(wh, "absent", q.schema, "vb", 0, 10)
    assert empty.columns == ["ub", "vb"] and empty.count() == 0

    wh.publish("ev_snap", q, layout=layout)
    got = sorted(
        map(str, read_range(wh, "ev_snap", q.schema, "vb", 32, 63).collect())
    )
    want = sorted(
        map(
            str,
            wh.read("ev_snap", q.schema)
            .filter(F.col("vb").between(32, 63))
            .collect(),
        )
    )
    assert got == want and len(got) > 0
    assert read_range(wh, "ev_snap", q.schema, "vb", 10_000, 20_000).count() == 0


def test_read_fact_rect_multiplies_the_skips(spark, tmp_path):
    """The rectangle read's pruned set is exactly the INTERSECTION of
    the per-dimension survivors (a conjunct excludes a file when its
    zone provably misses), it opens exactly those files, and it returns
    exactly the doubly-filtered unpruned rows. On the Z-layout the
    rectangle prunes at least as hard as either dimension alone. The
    per-dimension reference is computed from the footers directly
    (uncached ``parquet_file_zone_maps``), independently of the
    pruner and its sidecar cache."""
    from etl__project_spark.operators.layout import prune_files_for_rect
    from etl__project_spark.plans.star_load import read_fact_rect

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    layout = ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64)
    wh.fact_append("ev_z", q, "b0", layout=layout)
    dirs = wh._live_dirs("ev_z")
    ranges = {"ub": (4, 11), "vb": (32, 95)}

    def footer_survivors(col):
        lo, hi = ranges[col]
        return [
            fp
            for d in dirs
            for fp, mn, mx in parquet_file_zone_maps(d, col)
            if mx >= lo and mn <= hi
        ]

    must_u, must_v = footer_survivors("ub"), footer_survivors("vb")
    must_rect, skipped_rect = prune_files_for_rect(dirs, ranges)
    assert set(must_rect) == set(must_u) & set(must_v)
    assert len(must_rect) <= min(len(must_u), len(must_v))
    assert len(skipped_rect) > 0

    rect = read_fact_rect(wh, "ev_z", q.schema, ranges)
    opened = {f.removeprefix("file://") for f in rect.inputFiles()}
    assert opened == set(must_rect)

    want = sorted(
        map(
            str,
            wh.read_fact("ev_z", q.schema)
            .filter(F.col("ub").between(4, 11) & F.col("vb").between(32, 95))
            .collect(),
        )
    )
    assert sorted(map(str, rect.collect())) == want


def test_range_prune_is_safe_under_schema_evolution(spark, tmp_path):
    """The no-false-negative contract under evolution: a batch written
    BEFORE the probe column existed has no zone maps for it, so the
    pruner must always read it (its rows surface null-filled through
    the explicit schema and are then dropped by the pushed filter —
    never silently excluded by a stats-less prune). And a batch that
    HAS the column still prunes normally alongside it."""
    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import read_fact_range

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    # pre-evolution batch: ub only
    wh.fact_append("ev_z", q.select("ub"), "old")
    # post-evolution batch: (ub, vb), Z-ordered
    wh.fact_append(
        "ev_z", q, "new",
        layout=ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64),
    )
    schema = T.StructType(
        [T.StructField("ub", T.LongType()), T.StructField("vb", T.LongType())]
    )
    got = read_fact_range(wh, "ev_z", schema, "vb", 32, 63)
    # every old-batch file was opened (no stats -> must read)...
    old_files = {
        f.removeprefix("file://") for f in got.inputFiles()
        if "batch=old" in f
    }
    import os

    old_dir = wh.fact_batch_dir("ev_z", "old")
    n_old = sum(1 for f in os.listdir(old_dir) if f.endswith(".parquet"))
    assert len(old_files) == n_old and n_old > 0
    # ...and the result equals the evolved unpruned read + filter
    want = sorted(
        map(
            str,
            wh.read_fact("ev_z", schema)
            .filter(F.col("vb").between(32, 63))
            .collect(),
        )
    )
    assert sorted(map(str, got.collect())) == want


def test_layout_write_primes_zone_map_sidecars(spark, tmp_path):
    """A layouted write primes the zone-map sidecar for each plain-
    column layout dimension at WRITE time — the stats land with the
    data, so the first range read pays one JSON per directory instead
    of one footer per file."""
    import os

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    layout = ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64)
    wh.fact_append("ev_z", q, "b0", layout=layout)
    bdir = wh.fact_batch_dir("ev_z", "b0")
    for col in ("ub", "vb"):
        assert os.path.exists(os.path.join(bdir, f"_ZONEMAP_{col}.json"))
    # plain (un-layouted) appends prime nothing
    wh.fact_append("ev_z", q, "b1")
    b1 = wh.fact_batch_dir("ev_z", "b1")
    assert not any(f.startswith("_ZONEMAP_") for f in os.listdir(b1))


def test_compaction_primed_sidecar_survives_the_rename(spark, tmp_path):
    """The compaction protocol primes zone-map sidecars inside the
    `compacting-N` staging dir, then renames it into place — the
    sidecar's entries are stored directory-RELATIVE precisely so that
    rename does not self-invalidate the cache. Pin it: after
    compaction, a range read must SERVE the primed sidecar (its bytes
    untouched), not silently recompute and rewrite it."""
    import os

    from etl__project_spark.plans.star_load import read_fact_range

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    layout = ZOrderLayout(dim_a="ub", dim_b="vb", bits=8, n_files=64)
    wh.fact_append("ev_z", q, "b0", layout=layout)
    wh.fact_append("ev_z", q, "b1", layout=layout)
    assert wh.compact_fact("ev_z", layout=layout) == 2

    tdir = wh._tdir("ev_z")
    compacts = [d for d in os.listdir(tdir) if d.startswith("compact-")]
    sidecar = os.path.join(tdir, compacts[0], "_ZONEMAP_vb.json")
    assert os.path.exists(sidecar)
    before = (os.stat(sidecar).st_mtime_ns, open(sidecar).read())

    got = read_fact_range(wh, "ev_z", q.schema, "vb", 32, 63)
    n = got.count()
    after = (os.stat(sidecar).st_mtime_ns, open(sidecar).read())
    assert after == before, "primed sidecar was recomputed after the rename"
    want = (
        wh.read_fact("ev_z", q.schema).filter(F.col("vb").between(32, 63)).count()
    )
    assert n == want


def test_read_fact_rect_rejects_empty_ranges(spark, tmp_path):
    """An empty conjunction must fail loudly, not silently return zero
    rows (the rect pruner derives its file listing from the predicate
    columns, so {} would prune everything)."""
    import pytest

    from etl__project_spark.plans.star_load import read_fact_rect

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    q = _quantized_events(spark)
    wh.fact_append("ev_z", q, "b0")
    with pytest.raises(ValueError, match="at least one column range"):
        read_fact_rect(wh, "ev_z", q.schema, {})
