"""Batch warehouse load (entry point 2): SKEY continuity across batches,
transactional publish, idempotent fact append."""

from __future__ import annotations

import pytest

from etl__project_spark.plans.star_load import (
    FACT_SCHEMA,
    ParquetWarehouse,
    audit,
    load_batch,
)


@pytest.fixture()
def batch1(spark):
    rows = [
        ("2017-01-11T00:00:31.000Z", "Android App|video A", "206"),
        ("2017-01-11T00:01:01.000Z", "news|video B", "206"),
    ]
    return spark.createDataFrame(rows, "DateTime string, VideoTitle string, events string")


@pytest.fixture()
def batch2(spark):
    rows = [
        # same minute+platform as batch1 row 1 → no new dim keys
        ("2017-01-11T00:00:45.000Z", "Android App|video A", "206"),
        # new everything
        ("2017-01-12T09:30:00.000Z", "iPad|video C", "206"),
    ]
    return spark.createDataFrame(rows, "DateTime string, VideoTitle string, events string")


def test_two_batch_load(spark, tmp_path, batch1, batch2):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    info1 = load_batch(batch1, wh, "b1", spark)
    assert info1 == {"n_staged": 2, "fact_appended": 1}
    counts1 = audit(wh)
    assert counts1 == {
        "dimdate": 2,
        "dimplatform": 2,  # Android, Desktop
        "dimsite": 1,  # news
        "dimtitle": 2,
        "factvideostart": 2,
    }
    dimdate_v1 = {
        r["datetime"]: r["datetime_skey"]
        for r in wh.read("dimdate", None).collect()  # type: ignore[arg-type]
    }

    load_batch(batch2, wh, "b2", spark)
    counts2 = audit(wh)
    assert counts2 == {
        "dimdate": 3,  # one new minute
        "dimplatform": 3,  # + iPad
        "dimsite": 1,  # unchanged
        "dimtitle": 3,  # + video C
        "factvideostart": 4,
    }
    # SCD1: existing skeys unchanged, new key continues past the max
    dimdate_v2 = {
        r["datetime"]: r["datetime_skey"]
        for r in wh.read("dimdate", None).collect()  # type: ignore[arg-type]
    }
    for k, v in dimdate_v1.items():
        assert dimdate_v2[k] == v
    assert set(dimdate_v2.values()) == {0, 1, 2}

    # facts resolve all skeys except NULL sites
    fact = wh.read_fact("factvideostart", FACT_SCHEMA)
    assert fact.filter("datetime_skey IS NULL").count() == 0
    assert fact.filter("site_skey IS NULL").count() == 3  # platform-headed rows


def test_replay_is_idempotent(spark, tmp_path, batch1):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    load_batch(batch1, wh, "b1", spark)
    n1 = audit(wh)
    info = load_batch(batch1, wh, "b1", spark)  # same batch id re-delivered
    assert info["fact_appended"] == 0
    assert audit(wh) == n1


def test_time_travel_reads_prior_snapshot(spark, tmp_path):
    """Versioned publishes retain immutable snapshots: read(version=N)
    returns the table exactly as of publish N, versions() lists them,
    and an unknown version raises."""
    import pytest as _pytest
    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import ParquetWarehouse

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    schema = T.StructType([T.StructField("x", T.LongType())])
    v1 = wh.publish("t", spark.range(3).selectExpr("id AS x"))
    v2 = wh.publish("t", spark.range(5).selectExpr("id AS x"))
    assert wh.versions("t") == [v1, v2]
    assert wh.read("t", schema).count() == 5
    assert wh.read("t", schema, version=v1).count() == 3
    with _pytest.raises(ValueError, match="no retained version"):
        wh.read("t", schema, version=99)


def test_concurrent_publish_loser_fails_cleanly(spark, tmp_path):
    """The single-writer assumption is now ENFORCED, not asserted: a
    second writer racing the same table's publish loses the O_EXCL
    version claim and gets ConcurrentWriteError before touching data —
    no silent last-writer-wins snapshot, no duplicated SCD keys."""
    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import ConcurrentWriteError

    wh = ParquetWarehouse(spark, str(tmp_path))
    schema = T.StructType([T.StructField("id", T.LongType())])
    df = spark.range(3).select("id")
    assert wh.publish("t", df) == 1

    # writer B (in flight, crashed or still writing) holds the claim on v2
    wh._claim_version("t", 2, 1)
    with pytest.raises(ConcurrentWriteError):
        wh.publish("t", df)
    # the loser changed nothing: pointer still v1, snapshot intact
    assert wh._current("t") == 1
    assert wh.read("t", schema).count() == 3

    # crash recovery: release the dead writer's claim, publish proceeds
    wh.force_release("t", 2)
    assert wh.publish("t", df) == 2


def test_concurrent_publish_two_threads_exactly_one_wins(spark, tmp_path):
    """True interleave: two threads race publish() on the same table
    from the same base version; exactly one commits v1, the other
    raises, and the committed snapshot is internally consistent."""
    import threading

    from etl__project_spark.plans.star_load import ConcurrentWriteError

    wh = ParquetWarehouse(spark, str(tmp_path))
    barrier = threading.Barrier(2)
    results: list = [None, None]

    def writer(i):
        df = spark.range(10 * (i + 1)).select("id")
        barrier.wait()
        try:
            results[i] = ("ok", wh.publish("race", df))
        except ConcurrentWriteError:
            results[i] = ("conflict", None)

    ts = [threading.Thread(target=writer, args=(i,)) for i in range(2)]
    [t.start() for t in ts]
    [t.join() for t in ts]

    outcomes = sorted(r[0] for r in results)
    # both may serialize cleanly (ok, ok) only if they saw different
    # bases — impossible from the same start: the claim serializes them
    assert outcomes == ["conflict", "ok"]
    winner = next(r for r in results if r[0] == "ok")
    assert winner[1] == 1
    assert wh._current("race") == 1
    n = wh.spark.read.parquet(str(tmp_path / "race" / "v1")).count()
    assert n in (10, 20)


def test_snapshot_diff_classifies_changes(spark, tmp_path):
    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import ParquetWarehouse, snapshot_diff

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    v1 = wh.publish(
        "t", spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], schema)
    )
    v2 = wh.publish(
        "t", spark.createDataFrame([(2, "b"), (3, "C"), (4, "d")], schema)
    )
    diff = {
        r["id"]: (r["change"], r["old_v"], r["new_v"])
        for r in snapshot_diff(wh, "t", schema, v1, v2, ["id"]).collect()
    }
    assert diff == {
        1: ("delete", "a", None),
        3: ("update", "c", "C"),
        4: ("insert", None, "d"),
    }  # id 2 unchanged -> absent


def test_snapshot_diff_null_key_presence(spark, tmp_path):
    """ADVICE r5: presence must come from marker columns, not key
    isNotNull — the join is eqNullSafe, so a NULL-keyed row present in
    only one snapshot is an insert/delete, never a phantom update."""
    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import ParquetWarehouse, snapshot_diff

    wh = ParquetWarehouse(spark, str(tmp_path / "whn"))
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.StringType()),
        ]
    )
    v1 = wh.publish("t", spark.createDataFrame([(1, "a")], schema))
    v2 = wh.publish(
        "t", spark.createDataFrame([(1, "a"), (None, "n")], schema)
    )
    fwd = snapshot_diff(wh, "t", schema, v1, v2, ["id"]).collect()
    assert [(r["change"], r["id"], r["new_v"]) for r in fwd] == [
        ("insert", None, "n")
    ]
    rev = snapshot_diff(wh, "t", schema, v2, v1, ["id"]).collect()
    assert [(r["change"], r["id"], r["old_v"]) for r in rev] == [
        ("delete", None, "n")
    ]
    # a NULL-keyed row present in BOTH with a changed value is an update
    v3 = wh.publish(
        "t", spark.createDataFrame([(1, "a"), (None, "N")], schema)
    )
    upd = snapshot_diff(wh, "t", schema, v2, v3, ["id"]).collect()
    assert [(r["change"], r["id"], r["old_v"], r["new_v"]) for r in upd] == [
        ("update", None, "n", "N")
    ]


def test_snapshot_diff_empty_for_identical_versions(spark, tmp_path):
    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import ParquetWarehouse, snapshot_diff

    wh = ParquetWarehouse(spark, str(tmp_path / "wh2"))
    schema = T.StructType([T.StructField("id", T.LongType())])
    df = spark.createDataFrame([(1,), (2,)], schema)
    v1 = wh.publish("t", df)
    v2 = wh.publish("t", df)
    assert snapshot_diff(wh, "t", schema, v1, v2, ["id"]).count() == 0


def _mini_fact(spark, rows):
    return spark.createDataFrame(rows, "id long, v string")


def test_replace_batch_swaps_rows_and_blocks_replay(spark, tmp_path):
    import os

    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import ParquetWarehouse

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.fact_append("f", _mini_fact(spark, [(1, "a"), (2, "BAD")]), "b1")
    wh.fact_append("f", _mini_fact(spark, [(3, "c")]), "b2")
    # backfill: replace b1 with corrected rows
    wh.replace_batch("f", "b1", _mini_fact(spark, [(1, "a"), (2, "b")]))
    got = sorted(map(tuple, wh.read_fact("f", schema).collect()))
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    # the original batch's re-delivery is still a no-op
    assert wh.fact_append("f", _mini_fact(spark, [(2, "BAD")]), "b1") is False
    assert sorted(map(tuple, wh.read_fact("f", schema).collect())) == got
    # the old directory is gone (best-effort delete succeeded here)
    assert not os.path.exists(wh.fact_batch_dir("f", "b1"))
    # replacing an absorbed batch is refused with guidance
    wh.compact_fact("f")
    with pytest.raises(ValueError, match="absorbed"):
        wh.replace_batch("f", "b2", _mini_fact(spark, [(3, "x")]))


def test_crash_mid_delete_does_not_resurrect_absorbed_batch(spark, tmp_path):
    """Compaction/replacement delete absorbed dirs best-effort AFTER the
    manifest commit; a surviving absorbed directory must be invisible to
    readers (the round-5 fix: the manifest, not the listing, is truth)."""
    import os

    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import ParquetWarehouse

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.fact_append("f", _mini_fact(spark, [(1, "a")]), "b1")
    wh.fact_append("f", _mini_fact(spark, [(2, "b")]), "b2")
    assert wh.compact_fact("f") == 2
    # simulate the crash window: an absorbed batch dir survives deletion
    ghost = wh.fact_batch_dir("f", "b1")
    os.makedirs(ghost, exist_ok=True)
    _mini_fact(spark, [(1, "a")]).write.mode("overwrite").parquet(ghost)
    assert os.path.exists(os.path.join(ghost, "_SUCCESS"))
    got = sorted(map(tuple, wh.read_fact("f", schema).collect()))
    assert got == [(1, "a"), (2, "b")]  # NOT duplicated
    # and a further compaction doesn't re-absorb the ghost's rows either
    wh.fact_append("f", _mini_fact(spark, [(3, "c")]), "b3")
    wh.compact_fact("f")
    got2 = sorted(map(tuple, wh.read_fact("f", schema).collect()))
    assert got2 == [(1, "a"), (2, "b"), (3, "c")]


def test_vacuum_drops_old_versions_keeps_current(spark, tmp_path):
    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import ParquetWarehouse, vacuum

    schema = T.StructType([T.StructField("id", T.LongType())])
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    for n in range(1, 5):
        wh.publish("t", spark.createDataFrame([(i,) for i in range(n)], schema))
    assert wh.versions("t") == [1, 2, 3, 4]
    removed = vacuum(wh, "t", keep_last=2)
    assert removed == [1, 2]
    assert wh.versions("t") == [3, 4]
    # current still reads; retained older version still time-travels
    assert wh.read("t", schema).count() == 4
    assert wh.read("t", schema, version=3).count() == 3
    with pytest.raises(ValueError, match="no retained version"):
        wh.read("t", schema, version=1)
    # vacuum again is a no-op
    assert vacuum(wh, "t", keep_last=2) == []


def test_vacuum_retains_claims_so_stale_writer_fails_at_cas_half1(
    spark, tmp_path
):
    """ADVICE r5: vacuum keeps v{N}.claim markers — a writer holding a
    stale view of CURRENT must fail at the O_EXCL claim (CAS half 1),
    BEFORE creating a spurious claim file, even after retention ran."""
    import os

    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import (
        ConcurrentWriteError,
        ParquetWarehouse,
        vacuum,
    )

    schema = T.StructType([T.StructField("id", T.LongType())])
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    for n in range(1, 5):
        wh.publish("t", spark.createDataFrame([(i,) for i in range(n)], schema))
    assert vacuum(wh, "t", keep_last=2) == [1, 2]
    # claims for vacuumed versions are retained
    for v in (1, 2, 3, 4):
        assert os.path.exists(wh._claim_path("t", v)), v
    # a stale writer that read CURRENT=1 long ago targets v2: it must
    # die at the claim (FileExists), not get as far as the CURRENT
    # re-read after littering a new claim file
    with pytest.raises(ConcurrentWriteError, match="already claimed"):
        wh._claim_version("t", 2, base=1)


# --- crash-point matrix for load_batch (VERDICT r5 #8) ---------------------
#
# load_batch publishes 4 dims then appends the fact; these tests inject a
# crash at each distinct point in that sequence and prove the documented
# recovery invariant: re-running the same (raw, batch_id) converges to the
# clean one-shot warehouse (identical dim contents, identical fact rows,
# no duplicates) — except the claim-held case, which must fail LOUDLY and
# converge after force_release.


class _CrashPoint(RuntimeError):
    pass


class _CrashingWarehouse(ParquetWarehouse):
    """Injects a crash at a chosen step of load_batch."""

    def __init__(
        self,
        spark,
        root,
        crash_on_publish=None,
        crash_mid_publish=None,
        crash_before_fact=False,
    ):
        super().__init__(spark, root)
        self.crash_on_publish = crash_on_publish
        self.crash_mid_publish = crash_mid_publish
        self.crash_before_fact = crash_before_fact

    def _maybe_crash(self, table):
        if table == self.crash_on_publish:
            raise _CrashPoint(f"before publish of {table}")
        if table == self.crash_mid_publish:
            base = self._current(table)
            self._claim_version(table, (base or 0) + 1, base)
            raise _CrashPoint(f"mid publish of {table} (claim held)")

    def publish(self, table, df):
        self._maybe_crash(table)
        return super().publish(table, df)

    def publish_delta(self, table, delta):
        # load_batch publishes dims via the O(churn) delta path; the
        # crash points (before commit / claim held) are the same.
        self._maybe_crash(table)
        return super().publish_delta(table, delta)

    def fact_append(self, table, df, batch_id):
        if self.crash_before_fact:
            raise _CrashPoint("before fact append")
        return super().fact_append(table, df, batch_id)


def _wh_state(spark, wh):
    """Comparable warehouse content: per-dim natural-key→skey maps +
    sorted fact rows (version numbers deliberately excluded — content
    convergence is the invariant, not version-counter equality)."""
    from etl__project_spark.plans.star_load import DIM_SPECS, _dim_schema

    dims = {}
    for table, nk, skey in DIM_SPECS:
        rows = wh.read(table, _dim_schema(nk, skey)).collect()
        dims[table] = {r[nk]: r[skey] for r in rows}
    fact = sorted(map(tuple, wh.read_fact("factvideostart", FACT_SCHEMA).collect()))
    return dims, fact


@pytest.mark.parametrize(
    "crash_kwargs",
    [
        {"crash_on_publish": "dimplatform"},  # before any commit of that dim
        {"crash_before_fact": True},  # all dims in, fact missing
    ],
    ids=["dim-publish", "pre-fact"],
)
def test_load_batch_crash_then_rerun_converges(
    spark, tmp_path, batch1, crash_kwargs
):
    root = str(tmp_path / "wh")
    crashing = _CrashingWarehouse(spark, root, **crash_kwargs)
    with pytest.raises(_CrashPoint):
        load_batch(batch1, crashing, "b1", spark)
    # recovery: plain re-run of the same batch on the same root
    wh = ParquetWarehouse(spark, root)
    info = load_batch(batch1, wh, "b1", spark)
    assert info["fact_appended"] == 1
    # converged to the clean one-shot result
    ref = ParquetWarehouse(spark, str(tmp_path / "ref"))
    load_batch(batch1, ref, "b1", spark)
    assert _wh_state(spark, wh) == _wh_state(spark, ref)
    # and a further replay of the batch is still a no-op
    assert load_batch(batch1, wh, "b1", spark)["fact_appended"] == 0
    assert _wh_state(spark, wh) == _wh_state(spark, ref)


def test_load_batch_crash_with_claim_held_fails_loudly_then_converges(
    spark, tmp_path, batch1
):
    from etl__project_spark.plans.star_load import ConcurrentWriteError

    root = str(tmp_path / "wh")
    crashing = _CrashingWarehouse(spark, root, crash_mid_publish="dimtitle")
    with pytest.raises(_CrashPoint, match="claim held"):
        load_batch(batch1, crashing, "b1", spark)
    # the dead writer's claim blocks the retry LOUDLY (the snapshot may
    # be half-written; silent takeover would be wrong)
    wh = ParquetWarehouse(spark, root)
    with pytest.raises(ConcurrentWriteError):
        load_batch(batch1, wh, "b1", spark)
    # recovery protocol: confirm writer dead, release, re-run
    wh.force_release("dimtitle", 1)
    load_batch(batch1, wh, "b1", spark)
    ref = ParquetWarehouse(spark, str(tmp_path / "ref"))
    load_batch(batch1, ref, "b1", spark)
    assert _wh_state(spark, wh) == _wh_state(spark, ref)


def test_load_batch_partial_fact_dir_is_invisible_and_overwritten(
    spark, tmp_path, batch1
):
    import os
    import shutil

    root = str(tmp_path / "wh")
    wh = ParquetWarehouse(spark, root)
    load_batch(batch1, wh, "b1", spark)
    # simulate a crash mid fact write of batch 2: data files, no _SUCCESS
    ghost = wh.fact_batch_dir("factvideostart", "b2")
    shutil.copytree(wh.fact_batch_dir("factvideostart", "b1"), ghost)
    os.remove(os.path.join(ghost, "_SUCCESS"))
    # invisible to readers
    assert audit(wh)["factvideostart"] == 2
    # the retry treats the batch as not landed and overwrites the dir
    info = load_batch(batch1, wh, "b2", spark)
    assert info["fact_appended"] == 1
    assert audit(wh)["factvideostart"] == 4


def test_bloom_batch_index_prunes_without_false_negatives(spark, tmp_path):
    """Three indexed batches with disjoint key ranges: a point lookup
    reads only the batch(es) whose bloom admits the key (typically 1 of
    3), NEVER skips a directory containing the key (no false negatives,
    checked for every key), treats unindexed directories as must-read,
    and stays correct through compaction."""
    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import (
        ParquetWarehouse,
        index_fact_batch,
        prune_dirs_for_key,
        read_fact_point,
    )

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    ranges = {"b1": range(0, 30), "b2": range(30, 60), "b3": range(60, 90)}
    for bid, ids in ranges.items():
        wh.fact_append("f", _mini_fact(spark, [(i, bid) for i in ids]), bid)
        n_bits = index_fact_batch(wh, "f", bid, "id")
        assert 0 < n_bits <= 4096

    # no false negatives: every key's own directory is always read
    for bid, ids in ranges.items():
        bdir = wh.fact_batch_dir("f", bid)
        for i in ids:
            must, _ = prune_dirs_for_key(wh, "f", "id", i)
            assert bdir in must, (bid, i)

    # pruning actually skips: at 4096 bits / ~120 set bits per batch,
    # a foreign key's 4 probes all-colliding is ~1e-6 — every lookup
    # here must skip both foreign directories
    must, skipped = prune_dirs_for_key(wh, "f", "id", 42)
    assert len(must) == 1 and len(skipped) == 2
    got = read_fact_point(wh, "f", schema, "id", 42).collect()
    assert [(r["id"], r["v"]) for r in got] == [(42, "b2")]

    # absent key: all three directories provably exclude it
    must, skipped = prune_dirs_for_key(wh, "f", "id", 1_000_000)
    assert must == [] and len(skipped) == 3
    assert read_fact_point(wh, "f", schema, "id", 1_000_000).count() == 0

    # an unindexed batch is always read (advisory index, never required)
    wh.fact_append("f", _mini_fact(spark, [(500, "b4")]), "b4")
    must, _ = prune_dirs_for_key(wh, "f", "id", 42)
    assert wh.fact_batch_dir("f", "b4") in must
    assert [(r["id"], r["v"]) for r in read_fact_point(
        wh, "f", schema, "id", 42
    ).collect()] == [(42, "b2")]

    # compaction re-indexes inside the same commit (VERDICT r6 #6) —
    # here via the RECOMPUTE path, since unindexed b4 is among the
    # sources (a metadata union would miss key 500): present keys are
    # admitted, absent keys are provably excluded, exactly as before
    # compaction
    wh.compact_fact("f")
    must, skipped = prune_dirs_for_key(wh, "f", "id", 42)
    assert len(must) == 1 and skipped == []
    assert [(r["id"], r["v"]) for r in read_fact_point(
        wh, "f", schema, "id", 42
    ).collect()] == [(42, "b2")]
    for present in (0, 59, 89, 500):  # incl. the previously-unindexed key
        must, _ = prune_dirs_for_key(wh, "f", "id", present)
        assert len(must) == 1, present
    must, skipped = prune_dirs_for_key(wh, "f", "id", 1_000_000)
    assert must == [] and len(skipped) == 1  # skips as well as before
    assert read_fact_point(wh, "f", schema, "id", 1_000_000).count() == 0


def test_compaction_sidecar_union_path(spark, tmp_path):
    """When EVERY compaction source is indexed, the compacted sidecar is
    the pure metadata union of the source bit sets (no data rescan):
    bit-for-bit equal to re-indexing the merged data, so skipping power
    is unchanged through compaction."""
    import json
    import os

    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import (
        ParquetWarehouse,
        _bloom_positions_py,
        index_fact_batch,
        prune_dirs_for_key,
        read_fact_point,
    )

    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
    )
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    src_bits: set[int] = set()
    for bid, ids in {"b1": range(0, 30), "b2": range(30, 60)}.items():
        wh.fact_append("f", _mini_fact(spark, [(i, bid) for i in ids]), bid)
        index_fact_batch(wh, "f", bid, "id")
        with open(
            os.path.join(wh.fact_batch_dir("f", bid), "_BLOOM_id.json")
        ) as fh:
            src_bits |= set(json.load(fh)["bits"])
    assert wh.compact_fact("f") == 2
    [cdir] = wh._live_dirs("f")
    with open(os.path.join(cdir, "_BLOOM_id.json")) as fh:
        got = json.load(fh)
    assert got["bits"] == sorted(src_bits)  # exact union, not a rescan
    # every key still admitted, absent keys still excluded
    for i in (0, 29, 30, 59):
        assert set(_bloom_positions_py(str(i))) <= set(got["bits"])
        must, _ = prune_dirs_for_key(wh, "f", "id", i)
        assert must == [cdir]
    must, skipped = prune_dirs_for_key(wh, "f", "id", 1_000_000)
    assert must == [] and skipped == [cdir]
    assert read_fact_point(wh, "f", schema, "id", 30).count() == 1


def test_vacuum_vs_pinned_reader_completes_or_fails_cleanly(spark, tmp_path):
    """VERDICT r7 #6 chaos test: a reader DataFrame created BEFORE a
    concurrent vacuum either completes from a KEPT version with full
    data, or fails cleanly when its version was removed — it never
    silently returns a row subset. The deletion lands in the only racy
    window local immutable snapshots have: between plan creation (file
    listing) and action execution."""
    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import ParquetWarehouse, vacuum

    schema = T.StructType([T.StructField("id", T.LongType())])
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    for n in range(1, 5):
        wh.publish(
            "t",
            spark.range(100 * n).select("id").repartition(8),
        )
    reader_kept = wh.read("t", schema, version=3)  # survives keep_last=2
    reader_gone = wh.read("t", schema, version=2)  # vacuum target
    assert vacuum(wh, "t", keep_last=2) == [1, 2]
    # kept version: completes with FULL data
    assert reader_kept.count() == 300
    # removed version: the pinned plan fails loudly at execution —
    # FileNotFound surfaces through the scan, no partial result
    with pytest.raises(Exception, match="(?i)file|exist|path"):
        reader_gone.count()


def test_reader_never_returns_partial_data_after_file_loss(spark, tmp_path):
    """The sharpest 'never partial' case: only SOME of a pinned
    version's files disappear mid-flight (half a snapshot vacuumed out
    from under a running scan). The scan must raise, not return the
    surviving subset — which holds exactly because the engine session
    keeps spark.sql.files.ignoreMissingFiles=false; this test pins that
    load-bearing conf alongside the behavior."""
    import glob
    import os

    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import ParquetWarehouse

    assert (
        spark.conf.get("spark.sql.files.ignoreMissingFiles", "false")
        == "false"
    ), "ignoreMissingFiles=true would turn vacuum races into silent row loss"

    schema = T.StructType([T.StructField("id", T.LongType())])
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.publish("t", spark.range(400).select("id").repartition(8))
    reader = wh.read("t", schema)
    v = wh._current("t")
    files = sorted(
        glob.glob(os.path.join(wh._tdir("t"), f"v{v}", "*.parquet"))
    )
    assert len(files) >= 4
    for path in files[: len(files) // 2]:
        os.remove(path)
    with pytest.raises(Exception, match="(?i)file|exist|path"):
        reader.count()


def test_fact_schema_evolution_null_fills_and_never_drops(spark, tmp_path):
    """Schema evolution on the append-only fact: a column added mid-
    stream null-fills for pre-existing batches instead of being DROPPED
    by first-file schema inference (the order-dependent data loss
    read_fact now guards against), and readers pinned to the OLD schema
    keep working against new-schema directories."""
    from pyspark.sql import types as T

    wh = ParquetWarehouse(spark, str(tmp_path / "evo_wh"))
    wh.fact_append("f", spark.createDataFrame([(1, 10)], "a long, b long"), "b0")
    wh.fact_append(
        "f", spark.createDataFrame([(2, 20, 99)], "a long, b long, c long"), "b1"
    )

    wide = T.StructType([T.StructField(c, T.LongType()) for c in ("a", "b", "c")])
    got = {r["a"]: (r["b"], r["c"]) for r in wh.read_fact("f", wide).collect()}
    assert got == {1: (10, None), 2: (20, 99)}

    narrow = T.StructType([T.StructField(c, T.LongType()) for c in ("a", "b")])
    old_reader = wh.read_fact("f", narrow)
    assert old_reader.columns == ["a", "b"]
    assert {r["a"] for r in old_reader.collect()} == {1, 2}

    # evolution survives compaction (the compacted dir unions both shapes)
    assert wh.compact_fact("f") == 2
    got2 = {r["a"]: (r["b"], r["c"]) for r in wh.read_fact("f", wide).collect()}
    assert got2 == got


def test_read_fact_point_null_fills_added_column_in_any_listing_order(
    spark, tmp_path, monkeypatch
):
    """A point lookup reads with the caller's schema, like read_fact:
    on a fact that gained a column mid-stream the new column null-fills
    for the old batch whichever directory is listed first (first-file
    inference dropped it or kept it depending on that order), and a
    reader pinned to the old schema never sees it."""
    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import read_fact_point

    wh = ParquetWarehouse(spark, str(tmp_path / "evo_wh"))
    wh.fact_append("f", spark.createDataFrame([(1, 10)], "a long, b long"), "b0")
    wh.fact_append(
        "f", spark.createDataFrame([(1, 20, 99)], "a long, b long, c long"), "b1"
    )
    wide = T.StructType([T.StructField(c, T.LongType()) for c in ("a", "b", "c")])
    narrow = T.StructType([T.StructField(c, T.LongType()) for c in ("a", "b")])
    dirs = [wh.fact_batch_dir("f", "b0"), wh.fact_batch_dir("f", "b1")]
    for order in (dirs, dirs[::-1]):
        monkeypatch.setattr(wh, "_live_dirs", lambda table, order=order: list(order))
        got = read_fact_point(wh, "f", wide, "a", 1)
        assert got.columns == ["a", "b", "c"]
        assert sorted(tuple(r) for r in got.collect()) == [(1, 10, None), (1, 20, 99)]
        old_reader = read_fact_point(wh, "f", narrow, "a", 1)
        assert old_reader.columns == ["a", "b"]
        assert sorted(tuple(r) for r in old_reader.collect()) == [(1, 10), (1, 20)]


def test_read_honours_schema_on_non_empty_tables(spark, tmp_path):
    """``ParquetWarehouse.read`` binds the caller's schema for a
    non-empty snapshot too: a column the snapshot lacks null-fills, a
    column the caller does not name never leaks, and the column order
    is the schema's — the contract empty tables already had."""
    from pyspark.sql import types as T

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.publish("t", spark.createDataFrame([(1, "x", 7)], "k long, v string, extra long"))
    schema = T.StructType(
        [
            T.StructField("v", T.StringType()),
            T.StructField("k", T.LongType()),
            T.StructField("added", T.LongType()),
        ]
    )
    got = wh.read("t", schema)
    assert got.columns == ["v", "k", "added"]
    assert [tuple(r) for r in got.collect()] == [("x", 1, None)]
    # schema=None reads the snapshot as written
    assert wh.read("t", None).columns == ["k", "v", "extra"]


def test_gc_fact_reclaims_crash_garbage_only(spark, tmp_path):
    """gc_fact removes exactly the three dead classes — staging dirs a
    crash orphaned, absorbed batch dirs whose best-effort delete never
    ran, and superseded compaction outputs — and nothing else; reads
    are identical before and after."""
    import os
    import shutil

    from etl__project_spark.plans.star_load import (
        ParquetWarehouse,
        gc_fact,
    )
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("v", T.LongType())])
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    df = spark.range(100).select(F.col("id").alias("v"))
    wh.fact_append("t", df, "b0")
    wh.fact_append("t", df, "b1")
    assert wh.compact_fact("t") == 2
    wh.fact_append("t", df, "b2")  # live post-compaction batch

    tdir = wh._tdir("t")
    # simulate the crash modes: an orphaned staging dir, and an
    # absorbed batch dir whose delete never happened (recreate b0 —
    # the manifest already marks it absorbed, so readers ignore it)
    os.makedirs(os.path.join(tdir, "compacting-99"))
    absorbed_dir = wh.fact_batch_dir("t", "b0")
    os.makedirs(absorbed_dir, exist_ok=True)
    with open(os.path.join(absorbed_dir, "_SUCCESS"), "w"):
        pass

    before = wh.read_fact("t", schema).count()
    assert before == 300  # 2 compacted batches + the live one

    removed = gc_fact(wh, "t")
    assert sorted(removed) == ["batch=b0", "compacting-99"]
    assert wh.read_fact("t", schema).count() == before
    # live batch + referenced compaction output untouched
    assert os.path.exists(os.path.join(wh.fact_batch_dir("t", "b2"), "_SUCCESS"))
    m = wh._manifest("t")
    for d in m["dirs"]:
        assert os.path.isdir(os.path.join(tdir, d))
    # idempotent
    assert gc_fact(wh, "t") == []
    # replay of the absorbed batch stays a no-op after gc (exactly-once
    # survives garbage collection — the manifest, not the dir, is truth)
    assert wh.fact_append("t", df, "b0") is False


def test_publish_delta_links_base_and_appends_only_churn(spark, tmp_path):
    """publish_delta must be content-identical to publishing
    current ∪ delta while REUSING the base snapshot's files (O(churn)
    publish): the new version directory hardlinks the base's parquet
    files and adds only the delta's rows; time travel to the base
    version still reads the old content; a held claim still fails the
    next publish loudly."""
    import os

    from pyspark.sql import types as T

    from etl__project_spark.plans.star_load import ConcurrentWriteError

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    schema = T.StructType(
        [
            T.StructField("skey", T.LongType(), False),
            T.StructField("nk", T.StringType(), True),
        ]
    )
    v1 = wh.publish_delta(
        "dim", spark.createDataFrame([(0, "a"), (1, "b")], schema)
    )
    v2 = wh.publish_delta("dim", spark.createDataFrame([(2, "c")], schema))
    assert (v1, v2) == (1, 2)
    assert sorted(
        (r["skey"], r["nk"]) for r in wh.read("dim", schema).collect()
    ) == [(0, "a"), (1, "b"), (2, "c")]
    # time travel: the base snapshot is untouched
    assert sorted(
        (r["skey"], r["nk"]) for r in wh.read("dim", schema, version=1).collect()
    ) == [(0, "a"), (1, "b")]
    # the v2 directory reuses v1's files by link, not by rewrite
    v2_dir = os.path.join(str(tmp_path / "wh"), "dim", "v2")
    v1_dir = os.path.join(str(tmp_path / "wh"), "dim", "v1")
    v1_files = [f for f in os.listdir(v1_dir) if f.endswith(".parquet")]
    assert v1_files
    for f in v1_files:
        assert os.path.samefile(os.path.join(v2_dir, f), os.path.join(v1_dir, f))
    # CAS: a held claim on the next version fails the publish loudly
    wh._claim_version("dim", 3, 2)
    with pytest.raises(ConcurrentWriteError):
        wh.publish_delta("dim", spark.createDataFrame([(3, "d")], schema))


# --- the one commit protocol: long horizons and failed commits --------------


def test_thirty_delta_publishes_keep_every_row_and_short_names(spark, tmp_path):
    """The load path publishes every dim on every batch, so one table
    sees a publish_delta per batch. Over 30 of them every row stays
    readable, inherited files keep their own names (no name longer than
    one Spark itself writes), and no claim is left above CURRENT."""
    import os
    import re

    from pyspark.sql import types as T

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    schema = T.StructType(
        [
            T.StructField("skey", T.LongType(), False),
            T.StructField("nk", T.StringType(), True),
        ]
    )
    for i in range(30):
        delta = spark.createDataFrame([(i, f"k{i:02d}")], schema)
        assert wh.publish_delta("dim", delta) == i + 1
    got = sorted((r["skey"], r["nk"]) for r in wh.read("dim", schema).collect())
    assert got == [(i, f"k{i:02d}") for i in range(30)]
    tdir = tmp_path / "wh" / "dim"
    spark_name_max = max(len(f) for f in os.listdir(tdir / "v1"))
    names = [f for _dir, _subdirs, files in os.walk(tdir) for f in files]
    assert max(map(len, names)) <= spark_name_max
    claims = [
        int(m.group(1))
        for f in os.listdir(tdir)
        if (m := re.fullmatch(r"v(\d+)\.claim", f))
    ]
    assert max(claims) == wh._current("dim") == 30


@pytest.mark.parametrize("point", ["write", "swap"])
@pytest.mark.parametrize("method", ["publish", "publish_delta", "publish_merged"])
def test_failed_commit_leaves_no_trace_and_next_publish_commits(
    spark, tmp_path, monkeypatch, method, point
):
    """A commit that raises before the CURRENT swap — in the data write,
    or at the swap itself after data and .meta are on disk — leaves
    CURRENT unchanged, no v2/, no v2.meta and no held claim, so the next
    publish commits v2 without a force_release."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from etl__project_spark.plans import star_load

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    schema = T.StructType([T.StructField("x", T.LongType())])

    def commit(df, batch_id):
        if method == "publish_merged":
            return wh.publish_merged(
                "t", df, schema, batch_id, lambda old, new: old.unionByName(new)
            )
        return getattr(wh, method)("t", df)

    commit(spark.range(2).selectExpr("id AS x"), "b1")
    good = spark.range(2, 5).selectExpr("id AS x")
    if point == "write":
        bad = spark.range(2).select(
            F.raise_error(F.lit("injected write failure")).cast("long").alias("x")
        )
    else:
        bad = good
        real_write = star_load._atomic_write

        def failing_swap(path, text):
            if os.path.basename(path) == "CURRENT":
                raise OSError("injected swap failure")
            real_write(path, text)

        monkeypatch.setattr(star_load, "_atomic_write", failing_swap)
    with pytest.raises(Exception, match="injected"):
        commit(bad, "b2")
    monkeypatch.undo()

    tdir = tmp_path / "wh" / "t"
    assert wh._current("t") == 1
    assert not (tdir / "v2").exists()
    assert not (tdir / "v2.meta").exists()
    assert not (tdir / "v2.claim").exists()
    assert wh._merged_ids("t") == ({"b1"} if method == "publish_merged" else set())

    commit(good, "b2")
    assert wh._current("t") == 2
    want = [2, 3, 4] if method == "publish" else [0, 1, 2, 3, 4]
    assert sorted(r["x"] for r in wh.read("t", schema).collect()) == want


def test_publish_merged_rejects_a_merge_that_drifts_the_declared_type(
    spark, tmp_path
):
    """A merge whose output type differs from the declared schema raises
    ValueError before claiming (read-time casts used to hide the drift):
    CURRENT stays, no v2/, no v2.meta, no held claim, and the batch id
    stays unmerged so a fixed merge can still fold it."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    schema = T.StructType(
        [T.StructField("g", T.LongType()), T.StructField("total", T.DecimalType(18, 2))]
    )
    seed = spark.createDataFrame([(1, 1)], "g long, total long").select(
        "g", F.col("total").cast("decimal(18,2)").alias("total")
    )
    assert wh.publish_merged(
        "t", seed, schema, "b1", lambda old, new: old.unionByName(new)
    )

    def drifting(old, new):  # Σ decimal(18,2) · decimal(18,2) → decimal(38,4)
        return old.unionByName(new).groupBy("g").agg(
            F.sum(F.col("total") * F.col("total")).alias("total")
        )

    with pytest.raises(ValueError, match=r"decimal\(38,4\).*decimal\(18,2\)"):
        wh.publish_merged("t", seed, schema, "b2", drifting)
    tdir = tmp_path / "wh" / "t"
    assert wh._current("t") == 1
    assert not (tdir / "v2").exists()
    assert not (tdir / "v2.meta").exists()
    assert not (tdir / "v2.claim").exists()
    assert wh._merged_ids("t") == {"b1"}


def test_publish_delta_refuses_directory_partitioned_base(spark, tmp_path):
    """A base published under an equal-width Z-order layout keeps its
    rows in partition subdirectories; a flat delta beside them would make
    the version unreadable (and the top-level link loop would drop them).
    publish_delta raises before claiming: no claim, no version dir."""
    import os

    from pyspark.sql import types as T

    from etl__project_spark.operators.layout import ZBUCKET_COL, ZOrderLayout

    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    schema = T.StructType(
        [
            T.StructField("x", T.LongType()),
            T.StructField("a", T.LongType()),
            T.StructField("b", T.LongType()),
        ]
    )
    layout = ZOrderLayout(dim_a="a", dim_b="b", bits=3, n_files=4, equal_width=True)
    base = spark.range(64).selectExpr("id AS x", "id % 8 AS a", "id % 5 AS b")
    assert wh.publish("t", base, layout=layout) == 1
    tdir = tmp_path / "wh" / "t"
    assert any(d.startswith(f"{ZBUCKET_COL}=") for d in os.listdir(tdir / "v1"))

    delta = spark.createDataFrame([(64, 0, 0)], schema)
    with pytest.raises(ValueError, match="partitioned"):
        wh.publish_delta("t", delta)
    assert wh._current("t") == 1
    assert not (tdir / "v2").exists()
    assert not (tdir / "v2.claim").exists()
    assert wh.read("t", schema).count() == 64


def _soak_raw(spark, i):
    """Batch ``i`` of the long-horizon load: a new minute, site and video
    every batch, a new platform at batches 0, 10 and 20, and a re-sent
    row of batch i-1. New natural keys always sort after the ones already
    loaded, so incremental SCD1 numbering equals a one-shot load's."""
    head = "Android App" if i < 10 else "iPad" if i < 20 else "iPhone App"
    rows = [
        (f"2017-01-11T00:{i:02d}:05.000Z", f"site{i:02d}|video {i:03d}", "206"),
        (f"2017-01-11T00:{i:02d}:35.000Z", f"{head}|clips|video {i:03d}", "206"),
    ]
    if i:
        rows.append(
            (f"2017-01-11T00:{i - 1:02d}:07.000Z", f"site{i - 1:02d}|video {i - 1:03d}", "206")
        )
    return spark.createDataFrame(rows, "DateTime string, VideoTitle string, events string")


@pytest.mark.soak
def test_fifty_load_batches_equal_one_shot_load(spark, tmp_path):
    """200 dim publishes (4 dims x 50 load_batch calls) through the one
    commit protocol end with the same dims and fact as one load of all
    50 batches' rows, every dim at version 50."""
    from functools import reduce

    from etl__project_spark.plans.star_load import DIM_SPECS

    n = 50
    raws = [_soak_raw(spark, i) for i in range(n)]
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    for i, raw in enumerate(raws):
        assert load_batch(raw, wh, f"b{i:02d}", spark)["fact_appended"] == 1
    assert {wh._current(t) for t, _nk, _skey in DIM_SPECS} == {n}
    ref = ParquetWarehouse(spark, str(tmp_path / "ref"))
    load_batch(reduce(lambda a, b: a.unionByName(b), raws), ref, "all", spark)
    assert _wh_state(spark, wh) == _wh_state(spark, ref)
