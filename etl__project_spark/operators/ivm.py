"""Incremental view maintenance (IVM) for join views.

``operators/rollup.py`` maintains AGGREGATE views incrementally (partial
rollups merged per batch); this module completes the story for JOIN
views with the classic delta-join decomposition:

    Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB

so a maintained join view advances per micro-batch at cost
O(|Δ| × match fan-out) instead of re-joining the full history — the
difference between joining today's 100 GB of deltas against a bucketed
100 TB state and re-shuffling the whole 100 TB every refresh.

At scale the three delta terms are all small-probe joins: ΔA ⋈ B_old
and A_old ⋈ ΔB probe the big accumulated state with a broadcast (or
bucket-pruned) delta, and ΔA ⋈ ΔB is tiny×tiny. The accumulated state
is stored partitioned/bucketed on the join key, so the probes touch
only matching buckets; nothing in the per-batch plan scales with the
total history except the pruned state scan itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl__project_spark.session import empty_frame, state_checkpoint


def delta_join(
    state_a: DataFrame,
    state_b: DataFrame,
    delta_a: DataFrame,
    delta_b: DataFrame,
    on: list[str],
) -> DataFrame:
    """The delta of an inner-join view when batch (ΔA, ΔB) arrives.

    Correctness contract (pinned by test and the catalog oracle):
    appending the returned rows to the maintained view gives exactly
    ``(A_old ∪ ΔA) ⋈ (B_old ∪ ΔB)`` — inner-join IVM is append-only, so
    the maintained view needs no retraction machinery. Deletions take
    the signed path below (:func:`delta_join_signed`); outer joins add
    null-extension maintenance on top
    (:func:`maintain_leftjoin_view_cdc` /
    :func:`maintain_fulljoin_view_cdc`).
    """
    return (
        delta_a.join(state_b, on)
        .unionByName(state_a.join(delta_b, on))
        .unionByName(delta_a.join(delta_b, on))
    )


def maintain_join_view(
    batches_a: list[DataFrame],
    batches_b: list[DataFrame],
    on: list[str],
    checkpoint: bool = False,
) -> DataFrame:
    """Fold a sequence of (ΔA, ΔB) batches into the final join view by
    repeated :func:`delta_join` — the batch-loop driver used by tests
    and the catalog entry. Returns the union of all per-batch deltas,
    which must equal the one-shot join of the full inputs.

    Each iteration unions the new delta into the running state
    DataFrames — lazily by default, so Catalyst sees the whole lineage
    (fine for the oracle-proof entry, but the source scans re-run once
    per batch). ``checkpoint=True`` is the production shape:
    ``localCheckpoint`` materializes the accumulated state after each
    batch, so batch N's plan probes a materialized table instead of
    re-deriving N-1 unions of scans — O(1) plans per batch, the same
    move as the ``kmeans_iterate`` / ``connected_components`` loops (a
    real foreachBatch writes state to a bucketed table, same effect
    durable).
    """
    assert len(batches_a) == len(batches_b)
    spark = batches_a[0].sparkSession
    state_a = empty_frame(spark, batches_a[0].schema)
    state_b = empty_frame(spark, batches_b[0].schema)
    view: DataFrame | None = None
    for da, db in zip(batches_a, batches_b):
        delta = delta_join(state_a, state_b, da, db, on)
        view = delta if view is None else view.unionByName(delta)
        state_a = state_a.unionByName(da)
        state_b = state_b.unionByName(db)
        if checkpoint:
            state_a = state_checkpoint(state_a, table_sized=True)
            state_b = state_checkpoint(state_b, table_sized=True)
    return view


# --- signed-delta IVM: retractions -----------------------------------------
#
# ``delta_join`` above is append-only: inner-join IVM needs no retraction
# machinery as long as rows are only ever inserted. CDC-fed views break
# that assumption — an upstream UPDATE retracts the old row and asserts a
# new one, a DELETE retracts without replacement. The classic fix
# (differential dataflow / DBSP / Materialize) is to give every delta row
# a signed multiplicity: +1 insert, -1 retraction. The same algebra
#
#     Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB
#
# then maintains the view under arbitrary churn, with the sign of each
# joined output row the PRODUCT of its inputs' signs, and the view itself
# the per-row SUM of signs (net multiplicity; rows at 0 have been fully
# retracted). Downstream linear aggregates consume the signs directly:
# count = Σ sign, sum(x) = Σ sign·x — no diffing against the previous
# view materialization is ever needed.
#
# Scale shape is unchanged from the append-only path: the three delta
# terms are small-probe joins against key-bucketed state, and
# consolidation is one hash aggregate keyed by the row — at 100 TB the
# state tables are bucketed on the join key so probes and consolidation
# co-locate without reshuffling history.


def _signed_join(
    a: DataFrame, b: DataFrame, on: list[str], sign_col: str
) -> DataFrame:
    """Inner join of two signed relations; output sign = sign_a · sign_b."""
    aa = a.withColumnRenamed(sign_col, "__sign_a")
    bb = b.withColumnRenamed(sign_col, "__sign_b")
    return (
        aa.join(bb, on)
        .withColumn(sign_col, F.col("__sign_a") * F.col("__sign_b"))
        .drop("__sign_a", "__sign_b")
    )


def delta_join_signed(
    state_a: DataFrame,
    state_b: DataFrame,
    delta_a: DataFrame,
    delta_b: DataFrame,
    on: list[str],
    sign_col: str = "sign",
) -> DataFrame:
    """Signed delta of an inner-join view when batch (ΔA, ΔB) arrives.

    All four inputs carry ``sign_col`` (BIGINT multiplicity: +1 rows,
    -1 retractions; state rows may hold any accumulated net). Appending
    the returned signed rows to the maintained view and consolidating
    gives exactly ``consolidate(A ∪ ΔA) ⋈ consolidate(B ∪ ΔB)`` — i.e.
    the view absorbs updates and deletes, which plain ``delta_join``
    (append-only) cannot.
    """
    return (
        _signed_join(delta_a, state_b, on, sign_col)
        .unionByName(_signed_join(state_a, delta_b, on, sign_col))
        .unionByName(_signed_join(delta_a, delta_b, on, sign_col))
    )


def consolidate(signed: DataFrame, sign_col: str = "sign") -> DataFrame:
    """Net multiplicity per distinct row: group by every payload column,
    sum signs, drop rows whose net is 0 (fully retracted). One hash
    aggregate; at scale it runs per key-bucket of the stored view."""
    cols = [c for c in signed.columns if c != sign_col]
    return (
        signed.groupBy(*cols)
        .agg(F.sum(sign_col).alias(sign_col))
        .filter(F.col(sign_col) != 0)
    )


def cdc_to_signed_delta(
    state: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    sign_col: str = "sign",
) -> DataFrame:
    """Translate one CDC micro-batch into signed row deltas against the
    current consolidated ``state`` (which carries ``sign_col``, normally
    all +1): every touched key that exists in state emits its old row
    with NEGATED sign (the retraction); every non-delete change emits
    its post-image with sign +1. ``batch`` must already be latest-wins
    within itself (``merge.cdc_apply`` with ``drop_deletes=False``).

    This is the adapter that lets ``delta_join_signed`` maintain a join
    view over tables that receive updates/deletes — the retraction story
    VERDICT r5 #4 asked for; the tombstone-retention subtleties stay in
    the CDC layer where they belong.

    Shape: one key-equi semi/inner join of the (small) batch against the
    key-bucketed state to fetch old images — O(|batch| × fan-in), never
    a state rescan.
    """
    payload = [c for c in state.columns if c != sign_col]
    touched = batch.select(*key_cols).distinct()
    retractions = state.join(touched, key_cols).select(
        *payload, (-F.col(sign_col)).alias(sign_col)
    )
    inserts = (
        batch.filter(F.col(op_col) != delete_op)
        .select(*payload)
        .withColumn(sign_col, F.lit(1).cast("long"))
    )
    return retractions.unionByName(inserts)


def touched_users_cdc(
    initial: DataFrame,
    cdc_batches: list[DataFrame],
    user_col: str,
    key_cols: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint: bool = True,
):
    """The per-user "re-derive per touched group" front half: fold each
    CDC batch into the signed event log and yield ``(touched,
    touched_events)`` — the distinct users the batch touched, and those
    users' post-batch events (payload columns, no sign). ``checkpoint``
    materializes the log and each delta so batch N's plan is O(1) in N."""
    state = initial.select("*", F.lit(1).cast("long").alias("sign"))
    if checkpoint:
        state = state_checkpoint(state, table_sized=True)
    for batch in cdc_batches:
        delta = cdc_to_signed_delta(
            state, batch, key_cols, op_col=op_col, delete_op=delete_op
        )
        if checkpoint:
            delta = state_checkpoint(delta, table_sized=False)
        touched = delta.select(user_col).distinct()
        state = consolidate(state.unionByName(delta))
        if checkpoint:
            state = state_checkpoint(state, table_sized=True)
        payload = [c for c in state.columns if c != "sign"]
        yield touched, state.join(touched, [user_col], "left_semi").select(*payload)


def maintain_join_view_cdc(
    initial_a: DataFrame,
    initial_b: DataFrame,
    cdc_batches_b: list[DataFrame],
    on: list[str],
    key_cols_b: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint: bool = True,
) -> DataFrame:
    """Maintain A ⋈ B incrementally while B receives CDC batches
    (inserts, updates, deletes). Returns the CONSOLIDATED signed view:
    payload columns + ``sign`` (net multiplicity, ≥1). Linear aggregates
    downstream weight by ``sign``.

    Per batch: translate CDC rows to signed deltas against B's state
    (one probe join), run the signed delta-join (ΔB side only — A is
    static here, so two of the three terms vanish), fold into the view
    log, and advance B's consolidated state. ``checkpoint`` materializes
    B's state and each batch's view DELTA (both O(|Δ| × fan-out)) so
    batch N's plan is O(1) regardless of N — the accumulated VIEW is
    deliberately NEVER materialized here: checkpointing it would pin
    O(|A ⋈ B|) rows in memory per batch (measured: OOM at the 100×
    fixture), where production stores the view as a bucketed TABLE and
    appends deltas; the in-memory twin keeps the view a lazy union of
    checkpointed deltas, so only the final consolidation ever touches
    the full view, as one disk-spillable shuffle.
    """
    spark = initial_a.sparkSession
    sign1 = F.lit(1).cast("long").alias("sign")
    state_a = initial_a.select("*", sign1)
    state_b = initial_b.select("*", sign1)
    empty_a = empty_frame(spark, state_a.schema)
    view = _signed_join(state_a, state_b, on, "sign")
    if checkpoint:
        state_b = state_checkpoint(state_b, table_sized=True)
    for batch in cdc_batches_b:
        delta_b = cdc_to_signed_delta(
            state_b, batch, key_cols_b, op_col=op_col, delete_op=delete_op
        )
        delta_v = delta_join_signed(
            state_a, state_b, empty_a, delta_b, on, "sign"
        )
        if checkpoint:
            delta_v = state_checkpoint(delta_v, table_sized=False)
        view = view.unionByName(delta_v)
        state_b = consolidate(state_b.unionByName(delta_b))
        if checkpoint:
            state_b = state_checkpoint(state_b, table_sized=True)
    return consolidate(view)


# --- left-outer-join IVM: null-extension maintenance ------------------------
#
# The signed algebra above maintains INNER joins under churn. A LEFT
# OUTER view A ⟕ B adds the non-monotone null-extension part:
#
#     A ⟕ B = (A ⋈ B)  ∪  NE       where NE = null-extended A-rows whose
#                                   join key has net B multiplicity 0
#
# NE is anti-monotone in B — inserting B rows can RETRACT view rows (the
# null-extended placeholder disappears when a key's first match arrives)
# and deleting B rows can ASSERT them (when a key's last match retracts).
# The standard IVM treatment (DBSP outer-join lowering; Materialize's
# LEFT JOIN plans do the same) maintains a per-key B match count and
# emits NE deltas exactly at the 0 ↔ >0 transitions. Everything stays
# signed, so downstream consolidation/aggregation is unchanged.
#
# Per-batch cost shape: the inner delta is the usual small-probe join;
# the transition detection aggregates ONLY the keys ΔB touches (one probe
# of the key-bucketed B state, never a full rescan), and each NE delta is
# a probe of bucketed A by the (few) transitioning keys.


def _ne_project(
    rows: DataFrame,
    state_a_cols: list[str],
    b_payload_fields,
    sign_col: str = "sign",
) -> DataFrame:
    """Null-extend signed A rows on B's payload columns (sign kept)."""
    return rows.select(
        *[c for c in state_a_cols if c != sign_col],
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in b_payload_fields],
        F.col(sign_col),
    )


def _payload_fields(state: DataFrame, on: list[str], sign_col: str = "sign"):
    """A signed state's fields other than the join keys and the sign."""
    return [
        f
        for f in state.schema.fields
        if f.name not in on and f.name != sign_col
    ]


def leftjoin_init_signed(
    state_a: DataFrame, state_b: DataFrame, on: list[str], sign_col: str = "sign"
) -> DataFrame:
    """The signed LEFT-join view of the initial states: the inner join
    plus null-extensions for A rows whose key has no B match. The
    unmatched set is a direct anti-join of A against B's key set —
    never a distinct over A's keys (A is the big side; B's key set
    broadcasts, so this is one pass over A with no A-sized shuffle)."""
    unmatched = state_a.join(state_b.select(*on).distinct(), on, "left_anti")
    return _signed_join(state_a, state_b, on, sign_col).unionByName(
        _ne_project(unmatched, state_a.columns, _payload_fields(state_b, on))
    )


def _ne_transition_keys(
    state: DataFrame, delta: DataFrame, on: list[str], sign_col: str = "sign"
) -> DataFrame:
    """Keys whose net multiplicity in ``state`` crosses **0 ↔ >0** under
    ``delta``, with ``__ne_mult`` = −1 for 0 → >0 (first match arrives:
    the other side's null-extensions RETRACT) and +1 for >0 → 0 (last
    match leaves: they ASSERT). Counts are computed only for the keys
    the delta touches — one probe of the key-bucketed state, never a
    full rescan. Shared by the left-join delta (B-side transitions) and
    the both-sides full-outer delta (each side's transitions drive the
    OTHER side's null-extension bookkeeping)."""
    touched = delta.select(*on).distinct()
    old_cnt = (
        state.join(touched, on)
        .groupBy(*on)
        .agg(F.sum(sign_col).alias("__old"))
    )
    trans = (
        delta.groupBy(*on)
        .agg(F.sum(sign_col).alias("__d"))
        .join(old_cnt, on, "left")
        .select(
            *on,
            F.coalesce(F.col("__old"), F.lit(0)).alias("__old"),
            F.col("__d"),
        )
    )
    new_cnt = F.col("__old") + F.col("__d")
    return trans.select(
        *on,
        F.when((F.col("__old") == 0) & (new_cnt > 0), -1)
        .when((F.col("__old") > 0) & (new_cnt == 0), 1)
        .cast("long")
        .alias("__ne_mult"),
    ).filter(F.col("__ne_mult").isNotNull())


def leftjoin_delta_signed(
    state_a: DataFrame,
    state_b: DataFrame,
    delta_b: DataFrame,
    on: list[str],
    sign_col: str = "sign",
) -> DataFrame:
    """One CDC batch's signed delta of the LEFT-join view A ⟕ B (B
    churns, A static): the inner delta (A ⋈ ΔB, sign products) plus the
    null-extension transitions — keys whose net B count crosses
    **0 → >0** retract their null-extended A rows, keys crossing
    **>0 → 0** assert them. Counts are computed only for the keys ΔB
    touches (one probe of the key-bucketed B state), and both
    transition directions share ONE signed A-probe. ``state_b`` must be
    the PRE-batch state. Used by both the batch fold
    (:func:`maintain_leftjoin_view_cdc`) and the streaming job
    (``streaming/pipeline.py:stream_leftjoin_view_cdc``)."""
    inner_delta = _signed_join(state_a, delta_b, on, sign_col)
    ne_keys = _ne_transition_keys(state_b, delta_b, on, sign_col)
    ne_delta = (
        state_a.join(ne_keys, on)
        .withColumn(sign_col, F.col(sign_col) * F.col("__ne_mult"))
        .drop("__ne_mult")
    )
    return inner_delta.unionByName(
        _ne_project(ne_delta, state_a.columns, _payload_fields(state_b, on))
    )


def _ne_project_b(
    rows: DataFrame,
    on: list[str],
    a_fields,
    sign_col: str = "sign",
) -> DataFrame:
    """Null-extend signed B rows on A's payload columns (sign kept)."""
    b_cols = [c for c in rows.columns if c not in on and c != sign_col]
    return rows.select(
        *on,
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in a_fields],
        *b_cols,
        F.col(sign_col),
    )


def fulljoin_delta_signed(
    state_a: DataFrame,
    state_b: DataFrame,
    delta_b: DataFrame,
    on: list[str],
    sign_col: str = "sign",
    a_keys: DataFrame | None = None,
) -> DataFrame:
    """One CDC batch's signed delta of the FULL-outer view A ⟗ B with A
    static: the LEFT-join delta (:func:`leftjoin_delta_signed` — inner
    term + A-side null-extension transitions) plus the B-side
    null-extensions, which are trivial precisely BECAUSE A is static —
    whether a key has A matches never changes, so a ΔB row on a key
    absent from A enters (or leaves, by its own sign) the view
    null-extended on A's payload, with no transition detection at all:
    one anti-join of the delta against A's (static) key set. Pass
    ``a_keys`` (the distinct key frame, ideally materialized once —
    A never changes) to keep the per-batch plan from re-deriving the
    distinct over the big side; the batch driver and streaming job do.
    """
    if a_keys is None:
        a_keys = state_a.select(*on).distinct()
    left = leftjoin_delta_signed(state_a, state_b, delta_b, on, sign_col)
    ne_b = _ne_project_b(
        delta_b.join(a_keys, on, "left_anti"),
        on,
        _payload_fields(state_a, on, sign_col),
        sign_col,
    )
    return left.unionByName(ne_b.select(left.columns))


def fulljoin_init_signed(
    state_a: DataFrame,
    state_b: DataFrame,
    on: list[str],
    sign_col: str = "sign",
    a_keys: DataFrame | None = None,
) -> DataFrame:
    """Signed FULL-outer view of the initial states: the LEFT-join init
    plus initial B rows whose key has no A match, null-extended."""
    if a_keys is None:
        a_keys = state_a.select(*on).distinct()
    left = leftjoin_init_signed(state_a, state_b, on, sign_col)
    ne_b = _ne_project_b(
        state_b.join(a_keys, on, "left_anti"),
        on,
        _payload_fields(state_a, on, sign_col),
        sign_col,
    )
    return left.unionByName(ne_b.select(left.columns))


def maintain_fulljoin_view_cdc(
    initial_a: DataFrame,
    initial_b: DataFrame,
    cdc_batches_b: list[DataFrame],
    on: list[str],
    key_cols_b: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint: bool = True,
) -> DataFrame:
    """Maintain A ⟗ B (full outer) incrementally while B receives CDC
    batches — completing the outer-join IVM family
    (:func:`maintain_leftjoin_view_cdc` adds the A-side null
    extensions; this adds the B-side ones, which need no transition
    machinery while A is static). Returns the consolidated signed view;
    oracle-pinned by ``tpch_fulljoin_cdc_incremental`` against a
    one-shot FULL JOIN of the post-CDC state."""
    sign1 = F.lit(1).cast("long").alias("sign")
    state_a = initial_a.select("*", sign1)
    state_b = initial_b.select("*", sign1)
    # A is static: derive its key set ONCE and materialize it — without
    # this the final consolidation plan re-derives the big-side distinct
    # once per batch plus once for the init, and the concurrent distinct
    # subtrees OOMed the 100× sweep (same lesson as SCALE.md §9g).
    a_keys = state_a.select(*on).distinct()
    if checkpoint:
        a_keys = state_checkpoint(a_keys, table_sized=True)
    view = fulljoin_init_signed(state_a, state_b, on, a_keys=a_keys)
    if checkpoint:
        state_b = state_checkpoint(state_b, table_sized=True)
    for batch in cdc_batches_b:
        delta_b = cdc_to_signed_delta(
            state_b, batch, key_cols_b, op_col=op_col, delete_op=delete_op
        )
        if checkpoint:
            delta_b = state_checkpoint(delta_b, table_sized=False)
        delta_v = fulljoin_delta_signed(
            state_a, state_b, delta_b, on, a_keys=a_keys
        )
        if checkpoint:
            delta_v = state_checkpoint(delta_v, table_sized=False)
        view = view.unionByName(delta_v)
        state_b = consolidate(state_b.unionByName(delta_b))
        if checkpoint:
            state_b = state_checkpoint(state_b, table_sized=True)
    return consolidate(view)


def maintain_leftjoin_view_cdc(
    initial_a: DataFrame,
    initial_b: DataFrame,
    cdc_batches_b: list[DataFrame],
    on: list[str],
    key_cols_b: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint: bool = True,
) -> DataFrame:
    """Maintain A ⟕ B (left outer) incrementally while B receives CDC
    batches — the retraction case VERDICT r6 #2 asked for, extending the
    inner-only scope documented on :func:`delta_join`. Returns the
    CONSOLIDATED signed view: A payload + B payload (null for unmatched
    keys) + ``sign`` (net multiplicity ≥ 1). Appending each batch's
    delta and consolidating equals the one-shot LEFT join against the
    post-CDC B state (pinned by the ``tpch_leftjoin_cdc_incremental``
    oracle and a replay property test).

    Per batch, beyond the inner delta (A ⋈ ΔB with sign products):

    * keys whose net B count transitions **0 → >0** (first match
      arrives, including late inserts of a withheld dimension row)
      RETRACT their null-extended A rows (sign −1 · sign_a);
    * keys transitioning **>0 → 0** (last match deleted) ASSERT the
      null-extensions (sign +1 · sign_a).

    Counts are computed only for the keys ΔB touches: one probe join of
    the key-bucketed B state, then two tiny key frames probe bucketed A
    for the null-extension deltas — O(|Δ| × fan-out) per batch, same
    bound as the inner path. ``checkpoint`` materializes ΔB (it feeds
    three consumers), the per-batch view delta, and B's state; the
    accumulated view stays a lazy union of checkpointed deltas (the
    SCALE.md §9g OOM lesson), consolidated once at the end.
    """
    sign1 = F.lit(1).cast("long").alias("sign")
    state_a = initial_a.select("*", sign1)
    state_b = initial_b.select("*", sign1)
    view = leftjoin_init_signed(state_a, state_b, on)
    if checkpoint:
        state_b = state_checkpoint(state_b, table_sized=True)
    for batch in cdc_batches_b:
        delta_b = cdc_to_signed_delta(
            state_b, batch, key_cols_b, op_col=op_col, delete_op=delete_op
        )
        if checkpoint:
            delta_b = state_checkpoint(delta_b, table_sized=False)
        delta_v = leftjoin_delta_signed(state_a, state_b, delta_b, on)
        if checkpoint:
            delta_v = state_checkpoint(delta_v, table_sized=False)
        view = view.unionByName(delta_v)
        state_b = consolidate(state_b.unionByName(delta_b))
        if checkpoint:
            state_b = state_checkpoint(state_b, table_sized=True)
    return consolidate(view)


# --- full-outer IVM with BOTH sides churning ---------------------------------
#
# ``maintain_fulljoin_view_cdc`` exploits a static A: whether a key has A
# matches never changes, so B-side null-extensions need no transition
# machinery (§9j). When BOTH inputs take CDC (VERDICT r7 #5) that shortcut
# dies — each side's null-extension set is anti-monotone in the OTHER
# side, so both directions need incremental transition bookkeeping.
# Writing V = (A ⋈ B) ∪ NE_A ∪ NE_B with NE_A = A ⊗ z (z(key) = 1 iff B's
# net count at key is 0) and NE_B = B ⊗ w (w from A's counts), the exact
# per-batch delta is bilinear:
#
#     Δ(A ⋈ B) = ΔA ⋈ B_old ∪ A_old ⋈ ΔB ∪ ΔA ⋈ ΔB      (signed products)
#     Δ(NE_A)  = ΔA ⊗ z_new  ∪  A_old ⊗ Δz
#     Δ(NE_B)  = ΔB ⊗ w_new  ∪  B_old ⊗ Δw
#
# where z_new/w_new are evaluated against the POST-batch other side and
# Δz/Δw are the 0 ↔ >0 transition indicators (±1) of the other side's net
# count — nonzero only at keys the other delta touches. Every term is a
# small probe of key-bucketed state: per-batch cost stays O(|ΔA| + |ΔB|)
# × fan-out with no history re-join and, unlike the §9j path, no
# once-materialized big-side key set to go stale.


def fulljoin_delta_signed_bothsides(
    state_a: DataFrame,
    state_b: DataFrame,
    delta_a: DataFrame,
    delta_b: DataFrame,
    on: list[str],
    sign_col: str = "sign",
) -> DataFrame:
    """One batch's signed delta of A ⟗ B when BOTH sides take signed
    deltas. ``state_a``/``state_b`` are the PRE-batch consolidated
    states. Appending the result to the maintained view and
    consolidating equals the one-shot FULL join of the post-batch
    states (pinned by the ``tpch_fulljoin_cdc_bothsides`` oracle and a
    replay property test).

    The same-batch cross terms are where naive approaches break; the
    bilinear decomposition handles them exactly — e.g. a key whose
    first A rows insert while its only B row updates in the SAME batch:
    the inner cross term ΔA ⋈ ΔB cancels the stale a⋈b_old pairs, and
    B_old ⊗ Δw retracts the old null-extended B row even though the
    B-side's own delta lands matched (w_new = 0).
    """
    b_fields = _payload_fields(state_b, on, sign_col)
    a_fields = _payload_fields(state_a, on, sign_col)
    inner = delta_join_signed(state_a, state_b, delta_a, delta_b, on, sign_col)

    # Δ(NE_A) term 1: ΔA rows whose key has zero POST-batch B matches.
    da_keys = delta_a.select(*on).distinct()
    b_matched_new = (
        state_b.join(da_keys, on)
        .select(*on, sign_col)
        .unionByName(delta_b.join(da_keys, on).select(*on, sign_col))
        .groupBy(*on)
        .agg(F.sum(sign_col).alias("__c"))
        .filter(F.col("__c") > 0)
        .select(*on)
    )
    ne_a_from_da = _ne_project(
        delta_a.join(b_matched_new, on, "left_anti"),
        delta_a.columns,
        b_fields,
        sign_col,
    )
    # Δ(NE_A) term 2: pre-batch A rows at keys where B's count transitions.
    b_trans = _ne_transition_keys(state_b, delta_b, on, sign_col)
    ne_a_from_db = _ne_project(
        state_a.join(b_trans, on)
        .withColumn(sign_col, F.col(sign_col) * F.col("__ne_mult"))
        .drop("__ne_mult"),
        state_a.columns,
        b_fields,
        sign_col,
    )

    # Δ(NE_B) term 1: ΔB rows whose key has zero POST-batch A matches.
    db_keys = delta_b.select(*on).distinct()
    a_matched_new = (
        state_a.join(db_keys, on)
        .select(*on, sign_col)
        .unionByName(delta_a.join(db_keys, on).select(*on, sign_col))
        .groupBy(*on)
        .agg(F.sum(sign_col).alias("__c"))
        .filter(F.col("__c") > 0)
        .select(*on)
    )
    ne_b_from_db = _ne_project_b(
        delta_b.join(a_matched_new, on, "left_anti"), on, a_fields, sign_col
    )
    # Δ(NE_B) term 2: pre-batch B rows at keys where A's count transitions.
    a_trans = _ne_transition_keys(state_a, delta_a, on, sign_col)
    ne_b_from_da = _ne_project_b(
        state_b.join(a_trans, on)
        .withColumn(sign_col, F.col(sign_col) * F.col("__ne_mult"))
        .drop("__ne_mult"),
        on,
        a_fields,
        sign_col,
    )

    return (
        inner.unionByName(ne_a_from_da)
        .unionByName(ne_a_from_db)
        .unionByName(ne_b_from_db.select(inner.columns))
        .unionByName(ne_b_from_da.select(inner.columns))
    )


def maintain_fulljoin_view_cdc_bothsides(
    initial_a: DataFrame,
    initial_b: DataFrame,
    cdc_batches_a: list[DataFrame | None],
    cdc_batches_b: list[DataFrame | None],
    on: list[str],
    key_cols_a: list[str],
    key_cols_b: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint: bool = True,
) -> DataFrame:
    """Maintain A ⟗ B while BOTH inputs receive CDC batches (VERDICT r7
    #5 — the §9j assumption "A static, keys materialized once" removed).
    Batch i applies ``cdc_batches_a[i]`` and ``cdc_batches_b[i]``
    atomically (either may be ``None`` for a side that idles that
    batch). Returns the consolidated signed view.

    Each side's null-extension bookkeeping is maintained incrementally
    per side via :func:`fulljoin_delta_signed_bothsides` — no
    re-derivation of either side's key set, ever: transition detection
    probes only batch-touched keys of the key-bucketed states.
    ``checkpoint`` materializes both deltas (each feeds five terms) and
    both consolidated states; the accumulated view stays a lazy union
    of checkpointed deltas (the SCALE.md §9g OOM lesson), consolidated
    once at the end. Checkpoint storage is DISK_ONLY: with both sides
    churning, a batch's deltas are churn-rate × table-sized — at sf10
    (~27 M-row deltas) the default MEMORY_AND_DISK level OOMed the 8 g
    local heap mid-spill, and on a real cluster this state lives in
    bucketed tables on disk anyway, so the in-memory copy is pure
    exposure (SCALE.md §9m).
    """
    assert len(cdc_batches_a) == len(cdc_batches_b)
    spark = initial_a.sparkSession
    sign1 = F.lit(1).cast("long").alias("sign")
    state_a = initial_a.select("*", sign1)
    state_b = initial_b.select("*", sign1)
    empty_a = empty_frame(spark, state_a.schema)
    empty_b = empty_frame(spark, state_b.schema)
    view = fulljoin_init_signed(state_a, state_b, on)
    if checkpoint:
        state_a = state_checkpoint(state_a, table_sized=True)
        state_b = state_checkpoint(state_b, table_sized=True)
    for batch_a, batch_b in zip(cdc_batches_a, cdc_batches_b):
        delta_a = (
            cdc_to_signed_delta(
                state_a, batch_a, key_cols_a, op_col=op_col, delete_op=delete_op
            )
            if batch_a is not None
            else empty_a
        )
        delta_b = (
            cdc_to_signed_delta(
                state_b, batch_b, key_cols_b, op_col=op_col, delete_op=delete_op
            )
            if batch_b is not None
            else empty_b
        )
        if checkpoint:
            delta_a = state_checkpoint(delta_a, table_sized=True)
            delta_b = state_checkpoint(delta_b, table_sized=True)
        delta_v = fulljoin_delta_signed_bothsides(
            state_a, state_b, delta_a, delta_b, on
        )
        if checkpoint:
            delta_v = state_checkpoint(delta_v, table_sized=True)
        view = view.unionByName(delta_v)
        state_a = consolidate(state_a.unionByName(delta_a))
        state_b = consolidate(state_b.unionByName(delta_b))
        if checkpoint:
            state_a = state_checkpoint(state_a, table_sized=True)
            state_b = state_checkpoint(state_b, table_sized=True)
    return consolidate(view)


# --- aggregate-over-join maintenance: the composed view ----------------------
#
# The folds above return the consolidated JOIN view — the right artifact
# when downstream consumers need rows. But the most common production
# IVM target is an AGGREGATE over a join ("revenue by priority while
# orders churn"), and for that the view need never exist: each batch's
# signed join delta feeds the signed rollup algebra directly, so the
# stored state is only the (tiny) aggregate table. Per-batch cost drops
# to O(|Δ| × fan-out + touched groups), and — unlike the view folds —
# the FINAL read is a bounded table scan with no O(|A ⋈ B|)
# consolidation anywhere. This is the composition DBSP/Materialize
# lower "SELECT k, sum(x) FROM a JOIN b ... GROUP BY k" to.


def maintain_agg_over_join_cdc(
    initial_a: DataFrame,
    initial_b: DataFrame,
    cdc_batches_b: list[DataFrame],
    on: list[str],
    key_cols_b: list[str],
    partial_fn,
    agg_keys: list[str],
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint: bool = True,
    how: str = "inner",
) -> DataFrame:
    """Maintain an aggregate over ``A ⋈ B`` (or ``A ⟕ B`` with
    ``how="left"``) while B receives CDC batches, WITHOUT materializing
    the join view. ``partial_fn`` maps a signed joined frame (A payload
    + B payload + ``sign``; B payload NULL on the left join's
    null-extension rows) to its signed partial state
    ``(agg_keys…, n, total)`` — n = Σ sign and total = Σ sign·measure,
    the ``merge_rollups_signed`` contract; groups retracted to net-zero
    vanish. Returns the maintained state.

    The per-batch plan is one probe join (ΔB against static A — plus
    the null-extension transition probes for ``how="left"``) and two
    bounded hash aggregates; the aggregate state is checkpointed each
    fold so batch N's plan is O(1) in N, and — the point — nothing in
    the whole maintenance ever scales with |A ⋈ B|, only with the delta
    and the group keyspace. The left mode composes the round's two
    algebras: null-extension deltas carry signs like any other rows, so
    the rollup absorbs a placeholder's retraction (first match arrives)
    and re-assertion (last match deleted) with no special casing."""
    from etl__project_spark.operators.rollup import merge_rollups_signed

    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")
    sign1 = F.lit(1).cast("long").alias("sign")
    state_a = initial_a.select("*", sign1)
    state_b = initial_b.select("*", sign1)
    init = (
        _signed_join(state_a, state_b, on, "sign")
        if how == "inner"
        else leftjoin_init_signed(state_a, state_b, on)
    )
    state = partial_fn(init)
    if checkpoint:
        state = state_checkpoint(state, table_sized=False)
        state_b = state_checkpoint(state_b, table_sized=True)
    for batch in cdc_batches_b:
        delta_b = cdc_to_signed_delta(
            state_b, batch, key_cols_b, op_col=op_col, delete_op=delete_op
        )
        if checkpoint:
            delta_b = state_checkpoint(delta_b, table_sized=False)
        delta_v = (
            _signed_join(state_a, delta_b, on, "sign")
            if how == "inner"
            else leftjoin_delta_signed(state_a, state_b, delta_b, on)
        )
        state = merge_rollups_signed(state, partial_fn(delta_v), agg_keys)
        state_b = consolidate(state_b.unionByName(delta_b))
        if checkpoint:
            state = state_checkpoint(state, table_sized=False)
            state_b = state_checkpoint(state_b, table_sized=True)
    return state


# --- semi/anti-join IVM: EXISTS via maintained support counts -----------------
#
# EXISTS / NOT EXISTS (semi/anti join) is non-monotone the same way the
# left join's null-extension is: inserting a B row can RETRACT an
# anti-join member, and deleting one can ASSERT it. But unlike the outer
# join the view never carries B payload — membership is all that matters
# — so the classical IVM state is one grain coarser than the join's:
# a per-key SUPPORT COUNT of qualifying B rows. Transitions 0 ↔ >0 are
# the only events that change the semi/anti view; everything in between
# (support 3 → 2) is invisible to readers. This is the "count algorithm"
# of Gupta–Mumick's duplicate-counting view maintenance, specialized to
# projection-onto-keys.
#
# The support state absorbs signed deltas natively (counts are sums), so
# unlike min/max/median there is NO base-state consultation: maintenance
# is one filtered hash-agg of the delta plus a key-equi merge into the
# bucketed support table — O(|Δ|), independent of both |A| and |B|.


def maintain_semijoin_support_cdc(
    initial_b: DataFrame,
    cdc_batches_b: list[DataFrame],
    on: list[str],
    key_cols_b: list[str],
    qualifies,
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint: bool = True,
) -> DataFrame:
    """Maintain per-join-key support counts for EXISTS(B WHERE pred)
    while B receives CDC batches. ``qualifies`` is a boolean Column over
    B's columns; updates that move a row ACROSS the predicate are the
    interesting case (old image qualified, post-image doesn't, or vice
    versa) and fall out of the signed algebra for free: the retraction
    and the insert are filtered independently.

    Returns the live support state (join keys + ``n_support`` ≥ 1).
    Semi view = A ⋉ state (key-equi join); anti view = A rows whose key
    is absent — both reads are plain joins against a table that is
    bucketed on the join key in production.

    Per batch: one probe of B's key-bucketed state for old images, one
    filtered hash-agg of the signed delta, one merge into the support
    table. B's full state is kept (and checkpointed) only because CDC
    old images must be fetched from somewhere — in production that is
    the base table the CDC merge just wrote, not extra state. That
    state is TABLE-SIZED, so its checkpoints are DISK_ONLY (the
    SCALE.md §9m posture: the default MEMORY_AND_DISK level keeps
    deserialized partitions heap-resident and OOMed the 8 g local heap
    at the 100× fixture — caught by this round's sweep; on a cluster
    this state lives in bucketed tables on disk anyway). The support
    table itself is O(live keys) and stays at the default level.
    """
    sign1 = F.lit(1).cast("long").alias("sign")
    state_b = initial_b.select("*", sign1)
    support = (
        state_b.filter(qualifies)
        .groupBy(*on)
        .agg(F.sum("sign").cast("long").alias("n_support"))
    )
    if checkpoint:
        state_b = state_checkpoint(state_b, table_sized=True)
        support = state_checkpoint(support, table_sized=False)
    for batch in cdc_batches_b:
        delta_b = cdc_to_signed_delta(
            state_b, batch, key_cols_b, op_col=op_col, delete_op=delete_op
        )
        if checkpoint:
            # deltas are churn-rate × table-sized too: disk-only
            delta_b = state_checkpoint(delta_b, table_sized=True)
        delta_support = (
            delta_b.filter(qualifies)
            .groupBy(*on)
            .agg(F.sum("sign").cast("long").alias("n_support"))
        )
        support = (
            support.unionByName(delta_support)
            .groupBy(*on)
            .agg(F.sum("n_support").cast("long").alias("n_support"))
            .filter(F.col("n_support") != 0)
        )
        state_b = consolidate(state_b.unionByName(delta_b))
        if checkpoint:
            state_b = state_checkpoint(state_b, table_sized=True)
            support = state_checkpoint(support, table_sized=False)
    return support
