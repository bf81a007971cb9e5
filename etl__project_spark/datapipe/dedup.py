"""Deduplication operators for training-data pipelines: exact,
MinHash + LSH, SimHash, and n-gram Jaccard near-dup detection.

Scale design
------------
- Exact dedup is a hash groupBy on md5(text) — 16-byte keys shuffle
  instead of full documents.
- MinHash/LSH follows the standard shingle → signature → band → bucket-join
  pipeline: candidate generation is a self-join on (band_id, band_hash),
  so cost is bounded by bucket collisions, never all-pairs. At 100 TB the
  band join is the only shuffle and its keys are uniformly-distributed
  hashes (no skew).
- Hashes are md5-based (not Spark's internal ``hash()``) so results are
  engine-portable and oracle-checkable; min over md5 hex strings is a
  valid uniform min-hash order statistic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl__project_spark.session import state_checkpoint

# Universal-hash family for MinHash: h_j(x) = (a_j x + b_j) mod p over the
# Mersenne prime p = 2^31 - 1. Coefficients are fixed (Weyl-sequence
# derived, forced odd/nonzero) so signatures are reproducible across
# engines and runs.
MINHASH_P = 2_147_483_647


def minhash_coeffs(n: int) -> list[tuple[int, int]]:
    coeffs = []
    for j in range(n):
        a = ((j + 1) * 2_654_435_761) % MINHASH_P | 1
        b = ((j + 1) * 1_779_033_703) % MINHASH_P
        coeffs.append((a, b))
    return coeffs


def dedup_exact(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup via content-hash groupBy: one keeper (min id) per
    distinct text, with the duplicate count."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).cast("long").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def char_shingles(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """Character k-gram shingles per document, exploded to (id, shingle)
    rows. Documents shorter than k yield no rows.

    ``distinct=False`` skips the per-row ``array_distinct`` (quadratic in
    shingle count) — correct for MinHash consumers, where duplicate
    shingles cannot change a min."""
    # transform+substring with a dynamic start needs the expr form (python
    # F.substring takes a literal start). Guard length < k explicitly:
    # sequence(1, 0) would count DOWN, not produce an empty array.
    arr = (
        f"transform(sequence(1, length({text_col}) - {k - 1}),"
        f" i -> substring({text_col}, i, {k}))"
    )
    if distinct:
        arr = f"array_distinct({arr})"
    shingle_arr = F.expr(
        f"case when length({text_col}) >= {k} then {arr} "
        f"else cast(array() as array<string>) end"
    )
    return (
        df.select(F.col(id_col), F.explode(shingle_arr).alias("shingle"))
    )


def minhash_signature(
    shingled: DataFrame, n_hashes: int = 8, id_col: str = "doc_id"
) -> DataFrame:
    """MinHash signature: for seed j, h_j = min over shingles of the first
    60 bits of md5(j || '|' || shingle), as a BIGINT. One groupBy computes
    all hashes (single shuffle of the exploded shingles, partial min
    map-side).

    Implementation: ONE md5 per shingle (the expensive part), reduced to a
    60-bit BIGINT, then ``n_hashes`` universal-hash mixes
    ``(a_j * x + b_j) mod p`` (p = 2^31-1; products stay < 2^62 so 64-bit
    arithmetic never overflows — DuckDB BIGINT overflow would error).
    BIGINT (not the hex string) also matters for the plan: min(long)
    aggregates in Spark's fast codegen HashAggregate, while min(string)
    falls back to SortAggregate — a full per-partition sort of the
    exploded shingles.
    """
    base = (
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("long")
        % MINHASH_P
    )
    aggs = [
        F.min((F.lit(a) * base + F.lit(b)) % MINHASH_P).alias(f"h{j}")
        for j, (a, b) in enumerate(minhash_coeffs(n_hashes))
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def lsh_bands(
    signatures: DataFrame,
    n_bands: int = 2,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """The LSH band table (id, band_id, band_hash): each signature's
    ``n_bands`` row-groups hashed to one bucket key each. This IS the
    stored dedup index — candidate pairs are whatever meets in a
    bucket, whether via self-join (``lsh_candidate_pairs``) or via a
    new batch probing the accumulated table
    (``lsh_index_increment``)."""
    return signatures.select(
        F.col(id_col),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                "",
                                *[
                                    F.col(f"h{b * rows_per_band + r}")
                                    for r in range(rows_per_band)
                                ],
                            )
                        ).alias("band_hash"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def lsh_candidate_pairs(
    signatures: DataFrame,
    n_bands: int = 2,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
) -> DataFrame:
    """LSH banding: hash each band of the signature, self-join on
    (band_id, band_hash) → candidate near-dup pairs (a < b).

    Probability a pair with Jaccard s collides ≥ 1 band:
    1 - (1 - s^r)^b. The self-join is the scale path: only same-bucket
    pairs are ever materialized.
    """
    bands = lsh_bands(signatures, n_bands, rows_per_band, id_col)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def lsh_index_increment(
    index_bands: DataFrame,
    new_signatures: DataFrame,
    n_bands: int = 2,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
) -> tuple[DataFrame, DataFrame]:
    """Dedup AT INGEST — incremental maintenance of the LSH index: a new
    batch of signatures probes the accumulated band table instead of
    re-self-joining the whole corpus. Returns ``(new_pairs,
    new_bands)``: the candidate pairs this batch creates (new-vs-index
    plus new-vs-new, normalized to id_a < id_b) and the band rows to
    append to the index.

    Correctness contract (oracle-pinned by ``doc_lsh_incremental``):
    folding batches through this function and unioning the per-batch
    pairs yields EXACTLY the one-shot ``lsh_candidate_pairs`` set —
    each pair materializes when its LATER member arrives, the earlier
    member found by the index probe.

    This is the plan a 100 TB ingest actually runs: per batch, cost is
    O(|batch bands| × bucket fan-in) probes against a band-bucketed
    stored table (bucket pruning makes the probe touch only matching
    buckets), never a rescan of corpus history — the same
    delta-vs-state discipline as ``operators/ivm.py``, applied to the
    dedup index.
    """
    new_bands = lsh_bands(new_signatures, n_bands, rows_per_band, id_col)
    i = index_bands.select(
        F.col(id_col).alias("__old_id"), "band_id", "band_hash"
    )
    n = new_bands.select(
        F.col(id_col).alias("__new_id"), "band_id", "band_hash"
    )
    cross = (
        n.join(i, ["band_id", "band_hash"])
        .filter(F.col("__old_id") != F.col("__new_id"))
        .select(
            F.least("__old_id", "__new_id").alias("id_a"),
            F.greatest("__old_id", "__new_id").alias("id_b"),
        )
    )
    a = new_bands.alias("a")
    b = new_bands.alias("b")
    within = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
    )
    return cross.unionByName(within).distinct(), new_bands


def simhash(
    df: DataFrame,
    n_bits: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash over whitespace tokens, ``n_bits`` wide (md5 hex digits
    of each token supply the bit source; ``n_bits/4`` digits used).

    bit_i(doc) = sign of Σ_tokens (±1 depending on bit_i(md5(token))).
    Near-dup docs differ in few bits (compare via hamming distance).
    16 bits keeps the expression tree tiny for the default signature;
    60 bits (used by ``doc_simhash_wide_pairs``) is the Manku et al.
    (WWW 2007) web-scale regime, where banding has enough bucket
    entropy to keep candidate pairs collision-driven rather than
    bucket-count-driven. Capped at 60 so the signature (and every band
    arithmetic) stays inside a signed 64-bit long.
    """
    assert n_bits <= 60
    tok = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("tok")
    )
    h = F.md5(F.col("tok"))
    # One hex→long conversion per token supplies every bit; extracting
    # bit i of hex digit i//4 as bit (4*ceil(n/4)-1-i) of that integer
    # is value-identical to the old per-bit substring + strpos chain
    # but replaces n_bits string ops per token with shift/mask
    # arithmetic (guide §1.3: cheaper expressions inside the hot
    # aggregate; interleaved A/B at sf0.1: ~3% at 16 bits and at 60
    # bits — the md5 itself dominates, this trims the rest).
    n_digits = -(-n_bits // 4)
    val = F.conv(F.substring(h, 1, n_digits), 16, 10).cast("long")
    bit_sums = []
    for i in range(n_bits):
        bit = F.shiftright(val, 4 * n_digits - 1 - i).bitwiseAND(F.lit(1))
        bit_sums.append(
            F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"s{i}")
        )
    sums = tok.groupBy(id_col).agg(*bit_sums)
    sig = F.lit(0).cast("long")
    for i in range(n_bits):
        sig = sig + F.when(F.col(f"s{i}") > 0, F.lit(2 ** (n_bits - 1 - i))).otherwise(0)
    return sums.select(F.col(id_col), sig.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    k: int = 5,
    bucket_width: int = 50,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """n-gram Jaccard near-dup pairs, bucketed by document length so the
    pair space stays bounded (near-dups have near-equal lengths).

    Candidate generation unions ADJACENT buckets so a near-dup pair
    straddling a bucket boundary (len 99 vs len 101) is not missed: two
    disjoint equi-join branches — same bucket (ordered ids) plus strictly
    next bucket (ids normalized with least/greatest) — so no pair is
    produced twice and no dedup shuffle is needed. Both branches are
    equi-joins on the bucket key; pair cost stays bounded by bucket
    populations, never all-pairs.

    HONEST COST MODEL (measured, SCALE.md §5): candidates = Σ_b n_b² over
    length buckets — QUADRATIC in per-bucket population. Length is a weak
    blocking key: growing a corpus 10× grows every bucket ~10× and the
    candidate space ~100× (measured 1.23 M → 123 M candidates, 27 s →
    1954 s, for 5 k → 50 k docs; output pairs grew only linearly). At
    100 TB, millions of documents share any given length bucket, so this
    operator is an exact-verification AUDIT for bounded inputs (a sampled
    slice, a candidate cluster), not a corpus-scale pipeline stage — the
    scale path for Jaccard near-dup is ``lsh_candidate_pairs`` +
    ``minhash_jaccard_estimate``, whose candidate space is driven by
    actual signature collisions rather than length coincidence.

    Returns (id_a, id_b, jaccard) for candidate pairs with similarity
    ≥ threshold.
    """
    sets = df.select(
        F.col(id_col),
        F.floor(F.length(F.col(text_col)) / bucket_width).alias("len_bucket"),
        F.expr(
            f"case when length({text_col}) >= {k} then "
            f"array_distinct(transform(sequence(1, length({text_col}) - {k - 1}),"
            f" i -> substring({text_col}, i, {k}))) "
            f"else cast(array() as array<string>) end"
        ).alias("shingles"),
    )
    a, b = sets.alias("a"), sets.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = F.size(F.array_union(F.col("a.shingles"), F.col("b.shingles")))
    jac = F.round(inter / union, 4).alias("jaccard")
    same_bucket = a.join(
        b,
        (F.col("a.len_bucket") == F.col("b.len_bucket"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        jac,
    )
    next_bucket = a.join(
        b, F.col("a.len_bucket") + 1 == F.col("b.len_bucket")
    ).select(
        F.least(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_a"),
        F.greatest(F.col(f"a.{id_col}"), F.col(f"b.{id_col}")).alias("id_b"),
        jac,
    )
    return same_bucket.unionByName(next_bucket).filter(
        F.col("jaccard") >= threshold
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    k: int = 5,
    threshold: float = 0.35,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-recall Jaccard self-join via prefix filtering (the
    AllPairs/PPJoin candidate scheme) — the scalable replacement for
    length-bucket blocking when LOSSLESS output is required.

    Guarantee: for a global total order on shingles, if J(A,B) >= t then
    the first ``|S| - ceil(t*|S|) + 1`` shingles of each side (its
    *prefix*) share at least one element — pigeonhole on the overlap
    bound ``|A∩B| >= t*|A|``. So an equi-join on prefix shingles finds
    every qualifying pair; no recall loss, unlike ``ngram_jaccard_pairs``
    bucketing or LSH banding.

    Scale shape, in pipeline order:

    1. **Exact-dup collapse first.** Identical texts are grouped by
       content hash and represented once. Duplicate copies inflate every
       shingle's document frequency, and prefix-join candidate cost is
       Σ df² over shingles — a corpus with c-way copy clusters pays c²
       before this collapse (observed: the 10x-replicated sf1 fixture
       OOMs the naive formulation, and finishes in seconds with it).
       This is the standard composition: exact dedup, then near-dup.
    2. Shingles of the distinct texts are ordered by ascending document
       frequency (one map-side-combined groupBy), so each text's prefix
       holds its RAREST shingles; ubiquitous shingles that would blow up
       the pair space sit in the pruned suffix. A size filter
       (``t*|A| <= |B|`` both ways) prunes inside the join. Exact
       Jaccard is verified only on surviving candidates.
    3. Qualifying representative pairs are expanded back to document
       pairs (every copy of A x every copy of B, plus all within-cluster
       pairs, which have J = 1.0 by construction) — equi-joins on the
       content hash, cost bounded by OUTPUT size, which is inherent.

    All stages are equi-join/groupBy shuffles on hash/shingle keys — no
    all-pairs, no per-bucket quadratics. Returns (id_a, id_b, jaccard)
    for every pair with J >= threshold — byte-identical to the
    brute-force all-pairs result (the catalog oracle).

    Cost model (be honest about it): candidate enumeration is
    Σ over prefix shingles of df², so the method shines when the corpus
    vocabulary is large relative to its size (real text: most shingles
    are rare) and/or the threshold is high (short prefixes). On a
    degenerate corpus whose entire vocabulary is tiny — the synthetic
    word-soup fixture has ~2k distinct 5-grams per replica, so even the
    rarest prefix shingle has df in the hundreds — the enumeration is
    large no matter the ordering; for such data, or for thresholds much
    below ~0.5, route through the LSH path (``lsh_candidate_pairs`` →
    ``minhash_jaccard_estimate``) and accept its tunable recall instead.
    """
    docs = df.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__th"), F.col(text_col)
    ).filter(F.length(text_col) >= k)
    members = docs.select(id_col, "__th")
    reps = (
        docs.groupBy("__th")
        .agg(F.min(id_col).alias("rid"), F.first(text_col).alias(text_col))
    )
    sets = reps.select(
        "rid",
        "__th",
        F.expr(
            f"array_distinct(transform(sequence(1, length({text_col}) - {k - 1}),"
            f" i -> substring({text_col}, i, {k})))"
        ).alias("shingles"),
    ).withColumn("sz", F.size("shingles"))
    tokens = sets.select("rid", "sz", F.explode("shingles").alias("shingle"))
    dfreq = tokens.groupBy("shingle").agg(F.count(F.lit(1)).alias("freq"))
    from pyspark.sql import Window

    # rn = the shingle's position in its document's full frequency-ordered
    # set (1-based); the prefix filter keeps rn <= |S| - ceil(t*|S|) + 1.
    # The join key is a 64-bit shingle hash: collisions can only ADD
    # candidates (removed at verification), never drop one, and the join
    # rows slim to four numeric columns.
    rn = F.row_number().over(Window.partitionBy("rid").orderBy("freq", "shingle"))
    prefix = (
        tokens.join(dfreq, "shingle")
        .withColumn("rn", rn)
        .filter(F.col("rn") <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1)
        .select("rid", "sz", "rn", F.xxhash64("shingle").alias("hkey"))
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    # Positional filter (PPJoin): a qualifying pair's overlap needs
    # |A∩B| >= ceil(t/(1+t) * (|A|+|B|)); met via its FIRST common token
    # in the global order, all other common tokens lie after positions
    # (rn_a, rn_b), so 1 + min(sz_a - rn_a, sz_b - rn_b) bounds the
    # overlap. Enumerations through later common tokens may be pruned by
    # this bound, but the first-token enumeration always survives —
    # lossless, and it cuts the shuffle feeding the distinct.
    min_overlap = F.ceil(
        F.lit(threshold / (1.0 + threshold)) * (F.col("a.sz") + F.col("b.sz"))
    )
    cand = (
        a.join(
            b,
            (F.col("a.hkey") == F.col("b.hkey"))
            & (F.col("a.rid") < F.col("b.rid"))
            & (F.col("b.sz") >= threshold * F.col("a.sz"))
            & (F.col("a.sz") >= threshold * F.col("b.sz"))
            & (
                F.lit(1)
                + F.least(
                    F.col("a.sz") - F.col("a.rn"), F.col("b.sz") - F.col("b.rn")
                )
                >= min_overlap
            ),
        )
        .select(F.col("a.rid").alias("rid_a"), F.col("b.rid").alias("rid_b"))
        .distinct()
    )
    # Verify on int-hashed shingle arrays: array_intersect/array_union on
    # longs run ~2x faster than on 5-char strings, and verification of the
    # surviving candidates dominates the runtime on high-background-
    # similarity corpora. A cross-doc xxhash64 collision could perturb a
    # reported jaccard by 1/|S|, with probability ~|S|^2/2^64 per pair —
    # negligible against the 4-decimal rounding.
    sets_int = sets.select(
        "rid",
        "__th",
        F.expr("transform(shingles, s -> xxhash64(s))").alias("shingles"),
    )
    sa = sets_int.select(
        F.col("rid").alias("rid_a"),
        F.col("__th").alias("th_a"),
        F.col("shingles").alias("sh_a"),
    )
    sb = sets_int.select(
        F.col("rid").alias("rid_b"),
        F.col("__th").alias("th_b"),
        F.col("shingles").alias("sh_b"),
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
    rep_pairs = (
        cand.join(sa, "rid_a")
        .join(sb, "rid_b")
        .select("th_a", "th_b", F.round(inter / union, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    ma = members.select(F.col(id_col).alias("__ida"), F.col("__th").alias("th_a"))
    mb = members.select(F.col(id_col).alias("__idb"), F.col("__th").alias("th_b"))
    cross = (
        rep_pairs.join(ma, "th_a")
        .join(mb, "th_b")
        .select(
            F.least("__ida", "__idb").alias("id_a"),
            F.greatest("__ida", "__idb").alias("id_b"),
            "jaccard",
        )
    )
    within = (
        members.alias("x")
        .join(
            members.alias("y"),
            (F.col("x.__th") == F.col("y.__th"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iters: int = 25
) -> DataFrame:
    """Connected components by min-label propagation — the dedup-cluster
    step after candidate-pair generation (each component keeps min id).

    ``nodes``: (id). ``edges``: (id_a, id_b) undirected. Returns
    (id, component) where component = min node id in the component.

    Iterative DataFrame algorithm: each round (a) takes the min label over
    the 1-hop neighborhood (HashToMin propagation), then (b) path-halves —
    re-resolves each node's label through the label of its label
    (``component -> labels[component]``). (a) alone needs diameter rounds
    (a 500-doc near-dup chain would not converge in 25); with (b) the
    round count drops to O(log diameter).

    Every round ends in an eager ``localCheckpoint`` — NOT just persist.
    Persist avoids recomputation but each iteration's logical plan still
    embeds the whole lineage, so Catalyst re-analysis grows without bound
    and the loop stalls after a handful of rounds (observed: minutes on a
    42-node graph). Checkpointing truncates the plan to a leaf each round,
    keeping per-round planning O(1). On a real cluster, swap
    ``localCheckpoint`` for reliable ``checkpoint`` (HDFS/S3-backed) so
    executor loss cannot drop partitions mid-loop; the loop structure is
    the same one GraphFrames' CC (large-star/small-star) uses at scale.
    """
    from etl__project_spark.session import stats_barrier

    bidir = stats_barrier(
        edges.selectExpr("id_a AS src", "id_b AS dst")
        .unionByName(edges.selectExpr("id_b AS src", "id_a AS dst"))
    )
    labels = stats_barrier(nodes.selectExpr("id", "id AS component"))
    for _ in range(max_iters):
        neighbor_min = (
            bidir.join(labels, bidir.src == labels.id)
            .groupBy("dst")
            .agg(F.min("component").alias("nbr_component"))
        )
        tentative = labels.join(
            neighbor_min, labels.id == neighbor_min.dst, "left"
        ).select(
            "id",
            F.col("component").alias("prev_component"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("component"),
        )
        tentative = stats_barrier(tentative)
        lookup = tentative.select(
            F.col("id").alias("l_id"), F.col("component").alias("l_component")
        )
        new_labels = (
            tentative.join(lookup, tentative.component == F.col("l_id"), "left")
            .select(
                "id",
                "prev_component",
                F.coalesce(F.col("l_component"), F.col("component")).alias("component"),
            )
        )
        new_labels = stats_barrier(new_labels)
        changed = new_labels.filter(
            F.col("component") != F.col("prev_component")
        ).count()
        labels = new_labels.select("id", "component")
        if changed == 0:
            break
    return labels


def contamination_check(
    train: DataFrame,
    eval_set: DataFrame,
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_frac: float | None = None,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    character ``k``-gram with an eval/benchmark set (the standard n-gram
    overlap test run before LLM training).

    Scale shape: both sides explode to distinct shingles and meet in an
    equi-join on the shingle — cost is bounded by shingle-match
    collisions, never train×eval pairs. The eval side is typically tiny
    relative to the corpus, so its distinct shingles broadcast; at 100 TB
    the join key would be a 64-bit shingle hash rather than the raw
    string (same plan, smaller shuffle rows).

    Returns every train row's (id, n_shared_shingles, contaminated).

    ``threshold_frac`` switches the verdict from ANY overlap to a
    containment fraction: contaminated iff
    shared_shingles / own_distinct_shingles >= threshold. On corpora
    with heavy background n-gram collision (small vocabularies,
    templated text — or this word-soup fixture, where the median train
    doc shares 31% of its 13-grams with the eval set by chance at
    sf0.1), any-overlap flags everything; the containment fraction
    separates near-copies of eval items (frac → 1.0) from background
    noise. The output then also carries (n_shingles, overlap_frac).
    """
    def shingled(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(
                F.expr(
                    f"case when length({text_col}) >= {k} then "
                    f"array_distinct(transform(sequence(1, length({text_col}) - {k - 1}),"
                    f" i -> substring({text_col}, i, {k}))) "
                    f"else cast(array() as array<string>) end"
                )
            ).alias("__sh"),
        )

    eval_sh = shingled(eval_set).select("__sh").distinct()
    tr_sh = shingled(train)
    hits = (
        tr_sh.join(F.broadcast(eval_sh), "__sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_shingles"))
    )
    n_shared = F.coalesce(F.col("n_shared_shingles"), F.lit(0)).cast("long")
    if threshold_frac is None:
        return (
            train.select(id_col)
            .join(hits, id_col, "left")
            .select(
                F.col(id_col),
                n_shared.alias("n_shared_shingles"),
                (n_shared > 0).alias("contaminated"),
            )
        )
    totals = tr_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    frac = n_shared.cast("double") / F.coalesce(F.col("n_shingles"), F.lit(1)).cast(
        "double"
    )
    return (
        train.select(id_col)
        .join(totals, id_col, "left")
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            n_shared.alias("n_shared_shingles"),
            F.coalesce(F.col("n_shingles"), F.lit(0)).cast("long").alias("n_shingles"),
            frac.alias("overlap_frac"),
            (frac >= F.lit(threshold_frac)).alias("contaminated"),
        )
    )


def minhash_jaccard_estimate(
    signatures: DataFrame,
    pairs: DataFrame,
    n_hashes: int = 8,
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash verification step: estimate Jaccard similarity for each
    candidate pair as the fraction of agreeing signature components
    (E[h_a = h_b] = J(a, b)). This is what turns LSH candidates into
    scored near-dup pairs WITHOUT touching the original texts — at scale
    the signatures (n_hashes longs per doc) join where the raw documents
    never could.
    """
    a = signatures.alias("a")
    b = signatures.alias("b")
    matches = sum(
        (F.col(f"a.h{j}") == F.col(f"b.h{j}")).cast("int") for j in range(n_hashes)
    )
    return (
        pairs.join(a, pairs.id_a == F.col(f"a.{id_col}"))
        .join(b, pairs.id_b == F.col(f"b.{id_col}"))
        .select(
            "id_a",
            "id_b",
            F.round(matches / F.lit(n_hashes), 4).alias("jaccard_est"),
        )
    )


def canonical_components(
    df: DataFrame,
    n_hashes: int = 8,
    n_bands: int = 2,
    rows_per_band: int = 4,
    shingle_k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup components over a corpus with exact duplicates COLLAPSED
    before signing (VERDICT r4 #4): one representative (min id) per
    distinct text is shingled/signed/banded, components run on the
    representative graph, and every member inherits its representative's
    component via the content-hash map.

    Result-identical to signing every row — exact duplicates share a
    signature, hence every band, so LSH connects them to their
    representative anyway and the component min-label is unchanged. What
    changes is the COST: the shingle explode, signature aggregate, and
    band self-join are all driven by DISTINCT texts, not rows. On a
    crawl corpus where boilerplate repeats millions of times, the
    collapse removes exactly the rows that would otherwise bucket
    together and detonate the band join (the sf10 word-soup fixture's
    618 M candidate pairs — SCALE.md §9 — fall to the distinct-text
    pair count). The collapse itself is one hash aggregate on
    md5(text); the expand is one equi-join on the 16-byte hash.

    Returns (id, component) for EVERY input row, component = min doc id
    reachable in the near-dup graph.
    """
    content_hash = F.md5(F.col(text_col)).alias("content_hash")
    members = df.select(F.col(id_col), content_hash)
    # max(text) over a group of identical texts IS the text; grouping by
    # the 16-byte hash keeps the shuffle key small.
    reps = df.groupBy(content_hash).agg(
        F.min(id_col).cast("long").alias("rep_id"),
        F.max(text_col).alias(text_col),
    )
    rep_docs = reps.select(F.col("rep_id").alias(id_col), F.col(text_col))
    sig = minhash_signature(
        char_shingles(rep_docs, k=shingle_k, distinct=False),
        n_hashes=n_hashes,
        id_col=id_col,
    )
    pairs = lsh_candidate_pairs(
        sig, n_bands=n_bands, rows_per_band=rows_per_band, id_col=id_col
    )
    nodes = rep_docs.select(F.col(id_col).alias("id"))
    comp = connected_components(nodes, pairs)
    return (
        members.join(reps.select("content_hash", "rep_id"), "content_hash")
        .join(comp, F.col("rep_id") == comp.id)
        .select(F.col(id_col).alias("id"), "component")
    )


# --- LSH index maintenance under CDC (retractions included) -------------


def lsh_bands_of_docs(
    docs: DataFrame,
    k: int = 5,
    n_hashes: int = 8,
    n_bands: int = 2,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """shingle → minhash → band rows for one document set — the only
    path that reads text, shared by the init build and the per-batch
    delta (so the maintained index can never drift from the one-shot
    pipeline's hashing)."""
    sh = char_shingles(docs, k=k, text_col=text_col, id_col=id_col, distinct=False)
    sig = minhash_signature(sh, n_hashes=n_hashes, id_col=id_col)
    return lsh_bands(sig, n_bands=n_bands, rows_per_band=rows_per_band, id_col=id_col)


def lsh_pair_count_delta(
    state_bands: DataFrame,
    delta_bands: DataFrame,
    id_col: str = "doc_id",
    sign_col: str = "sign",
) -> DataFrame:
    """Signed delta of per-pair shared-bucket COUNTS for one signed band
    delta against the PRE-batch band state — the self-join delta
    decomposition Δ(B ⋈ B) = ΔB ⋈ B_old ∪ ΔB ⋈ ΔB specialized to
    unordered pairs: the ΔB ⋈ B_old term ranges X over the delta and Y
    over the full pre-state, so for a pair {a, b} with both sides
    churning it contributes Δa·b_old AND Δb·a_old; the within-delta
    term (id_x < id_y) adds Δa·Δb once. Signs multiply, so retraction
    bands (sign −1) decrement exactly the bucket co-occurrences they
    once created. Returns (id_a, id_b, n) with id_a < id_b."""
    x = delta_bands.select(
        F.col(id_col).alias("__xid"), "band_id", "band_hash",
        F.col(sign_col).alias("__xs"),
    )
    y_old = state_bands.select(
        F.col(id_col).alias("__yid"), "band_id", "band_hash",
        F.col(sign_col).alias("__ys"),
    )
    vs_old = (
        x.join(y_old, ["band_id", "band_hash"])
        .filter(F.col("__xid") != F.col("__yid"))
        .select(
            F.least("__xid", "__yid").alias("id_a"),
            F.greatest("__xid", "__yid").alias("id_b"),
            (F.col("__xs") * F.col("__ys")).alias("n"),
        )
    )
    y_new = x.select(
        F.col("__xid").alias("__yid"), "band_id", "band_hash",
        F.col("__xs").alias("__ys"),
    )
    within = (
        x.join(y_new, ["band_id", "band_hash"])
        .filter(F.col("__xid") < F.col("__yid"))
        .select(
            F.col("__xid").alias("id_a"),
            F.col("__yid").alias("id_b"),
            (F.col("__xs") * F.col("__ys")).alias("n"),
        )
    )
    return vs_old.unionByName(within)


def maintain_lsh_pairs_cdc(
    initial: DataFrame,
    cdc_batches: list[DataFrame],
    k: int = 5,
    n_hashes: int = 8,
    n_bands: int = 2,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint: bool = True,
) -> DataFrame:
    """Maintain the LSH candidate-pair set while the corpus churns —
    the RETRACTION story ``lsh_index_increment`` (ingest-only) lacks:
    a takedown or text rewrite must also REMOVE the pairs its old
    bands created, which the insert-only probe cannot express.

    State: (1) the band table as a distinct-grain signed state — a
    doc's churn retracts its old band rows (one doc-key probe; only
    delta docs re-shingle/re-hash) and asserts its post-image rows;
    (2) per-pair shared-bucket counts, advanced by
    :func:`lsh_pair_count_delta` — a pair is a live candidate while
    its count is positive, so a pair created by band 0 survives a
    rewrite that only dissolves its band-1 bucket.

    Returns the live distinct (id_a, id_b) pairs — equal to one-shot
    ``lsh_candidate_pairs`` of the replayed post-CDC corpus (pinned by
    the ``doc_lsh_cdc`` oracle and a replay property test). Per-batch
    cost: O(|Δ| bands × bucket fan-in) probes of the bucket-keyed band
    state, never a corpus rescan."""
    from etl__project_spark.operators.ivm import consolidate

    sign1 = F.lit(1).cast("long").alias("sign")
    bands = lsh_bands_of_docs(
        initial, k, n_hashes, n_bands, rows_per_band, id_col, text_col
    ).select("*", sign1)
    pair_counts = (
        lsh_pair_count_delta(
            bands.limit(0), bands, id_col
        )  # init = delta-vs-empty + within-delta; limit(0) keeps the schema
        .groupBy("id_a", "id_b")
        .agg(F.sum("n").cast("long").alias("n"))
        .filter(F.col("n") != 0)
    )
    if checkpoint:
        bands = state_checkpoint(bands, table_sized=True)
        pair_counts = state_checkpoint(pair_counts, table_sized=True)
    for batch in cdc_batches:
        touched = batch.select(id_col).distinct()
        retract = bands.join(touched, [id_col]).select(
            id_col, "band_id", "band_hash", (-F.col("sign")).alias("sign")
        )
        post_imgs = batch.filter(F.col(op_col) != delete_op).select(
            id_col, text_col
        )
        assert_b = lsh_bands_of_docs(
            post_imgs, k, n_hashes, n_bands, rows_per_band, id_col, text_col
        ).select("*", sign1)
        delta_b = retract.unionByName(assert_b)
        if checkpoint:
            delta_b = state_checkpoint(delta_b, table_sized=False)
        d_counts = lsh_pair_count_delta(bands, delta_b, id_col)
        pair_counts = (
            pair_counts.unionByName(d_counts)
            .groupBy("id_a", "id_b")
            .agg(F.sum("n").cast("long").alias("n"))
            .filter(F.col("n") != 0)
        )
        bands = consolidate(bands.unionByName(delta_b))
        if checkpoint:
            bands = state_checkpoint(bands, table_sized=True)
            pair_counts = state_checkpoint(pair_counts, table_sized=True)
    return pair_counts.filter(F.col("n") > 0).select("id_a", "id_b")


# --- incremental connected components (insert-only edge arrivals) -------


def merge_components_delta(
    labels: DataFrame,
    new_edges: DataFrame,
    max_iters: int = 25,
    checkpoint: bool = True,
) -> DataFrame:
    """Advance a min-label component assignment when a batch of NEW
    edges arrives. ``labels``: (id, component) with component = min id
    of the component so far; ``new_edges``: (id_a, id_b), endpoints
    already present in ``labels``. Returns the updated labels — equal
    to one-shot :func:`connected_components` over the union of all
    edges seen (pinned by ``doc_components_cdc`` and a replay test).

    Insert-only is the monotone case — components only MERGE, so the
    batch reduces to components-of-the-COMPONENT-graph: map each new
    edge's endpoints through the current labels (two key probes), keep
    the distinct cross-component edges (a batch touching k components
    yields ≤ k·(k−1)/2 of them), run the iterative CC on that TINY
    graph, and apply the resulting old→new mapping back to the labels
    of AFFECTED components only (the mapping broadcasts; a
    component-bucketed label store rewrites only matching buckets).
    Edge DELETIONS are deliberately out of scope: decremental
    connectivity needs spanning-forest state (e.g. Holm et al. 2001)
    that no DataFrame composition expresses affordably — a takedown
    path should re-derive the affected component from live pairs
    (``maintain_lsh_pairs_cdc`` keeps those exact).
    """
    la = labels.select(F.col("id").alias("id_a"), F.col("component").alias("__ca"))
    lb = labels.select(F.col("id").alias("id_b"), F.col("component").alias("__cb"))
    comp_edges = (
        new_edges.join(la, "id_a")
        .join(lb, "id_b")
        .filter(F.col("__ca") != F.col("__cb"))
        .select(
            F.least("__ca", "__cb").alias("id_a"),
            F.greatest("__ca", "__cb").alias("id_b"),
        )
        .distinct()
    )
    # Checkpoint the comp graph BEFORE the iterative CC: checkpoint
    # leaves carry no stats (sizeInBytes defaults to Long.MaxValue), so
    # feeding the un-truncated multi-join lineage into the loop makes
    # Catalyst's join-size estimation multiply MaxValue-sized BigInts
    # across the compounding tree — at sf0.1 the driver burned 5+ min
    # of CPU in BigInteger.multiplyToomCook3 before any task ran
    # (caught by jstack: SizeInBytesOnlyStatsPlanVisitor.visitJoin).
    if checkpoint:
        from etl__project_spark.session import stats_barrier

        comp_edges = stats_barrier(comp_edges)
    comp_nodes = (
        comp_edges.select(F.col("id_a").alias("id"))
        .unionByName(comp_edges.select(F.col("id_b").alias("id")))
        .distinct()
    )
    mapping = connected_components(comp_nodes, comp_edges, max_iters)
    changed = mapping.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias("__old_c"), F.col("component").alias("__new_c")
    )
    if checkpoint:
        from etl__project_spark.session import stats_barrier

        changed = stats_barrier(changed)
    return labels.join(
        changed, labels.component == F.col("__old_c"), "left"
    ).select(
        "id",
        F.coalesce(F.col("__new_c"), F.col("component")).alias("component"),
    )


def maintain_components_incremental(
    doc_batches: list[DataFrame],
    k: int = 5,
    n_hashes: int = 8,
    n_bands: int = 2,
    rows_per_band: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_iters: int = 25,
    checkpoint: bool = True,
) -> DataFrame:
    """Streaming corpus canonicalization: documents arrive in batches;
    each batch is signed and probed against the accumulated LSH band
    index (:func:`lsh_index_increment` — history is never re-signed),
    and the resulting NEW candidate pairs merge into the maintained
    component labels (:func:`merge_components_delta` — history is never
    re-clustered). Returns (id, component), component = min doc id —
    equal to one-shot ``lsh_candidate_pairs`` + ``connected_components``
    over the full corpus (the ``doc_dup_components`` oracle).

    This is the composition a 100 TB ingest runs continuously: per
    batch, cost is the batch's own hashing + band-bucket probes + a
    component-graph reduction of the components the batch touches."""
    spark = doc_batches[0].sparkSession
    index_bands = None
    labels = None
    for batch in doc_batches:
        sh = char_shingles(batch, k=k, text_col=text_col, id_col=id_col, distinct=False)
        sig = minhash_signature(sh, n_hashes=n_hashes, id_col=id_col)
        if index_bands is None:
            new_pairs = lsh_candidate_pairs(
                sig, n_bands=n_bands, rows_per_band=rows_per_band, id_col=id_col
            )
            new_bands = lsh_bands(
                sig, n_bands=n_bands, rows_per_band=rows_per_band, id_col=id_col
            )
            index_bands = new_bands
        else:
            new_pairs, new_bands = lsh_index_increment(
                index_bands, sig, n_bands=n_bands,
                rows_per_band=rows_per_band, id_col=id_col,
            )
            index_bands = index_bands.unionByName(new_bands)
        new_nodes = batch.select(
            F.col(id_col).alias("id"), F.col(id_col).alias("component")
        )
        labels = (
            new_nodes if labels is None else labels.unionByName(new_nodes)
        )
        if checkpoint:
            from etl__project_spark.session import stats_barrier

            new_pairs = stats_barrier(new_pairs)
            index_bands = stats_barrier(index_bands)
            labels = stats_barrier(labels)
        labels = merge_components_delta(labels, new_pairs, max_iters)
        if checkpoint:
            labels = stats_barrier(labels)
    return labels


# --- decontamination maintained under eval-set CDC ----------------------------


def shingle_liveness_deltas(mult: DataFrame, delta_mult: DataFrame) -> DataFrame:
    """(sh, t) liveness transitions of the eval shingle set under a
    signed multiplicity delta: t = +1 where net count crosses 0 → >0
    (shingle newly in SOME eval doc), t = −1 where it crosses >0 → 0
    (last eval occurrence retracted). The same two-level split as the
    triangle fold's edge liveness: multiplicity churn folds linearly,
    and only LIVENESS transitions reach the expensive probe."""
    m = mult.select("sh", F.col("m").alias("m_old"))
    joined = delta_mult.join(m, "sh", "left").select(
        "sh",
        F.coalesce(F.col("m_old"), F.lit(0)).alias("m_old"),
        (F.coalesce(F.col("m_old"), F.lit(0)) + F.col("dm")).alias("m_new"),
    )
    return joined.select(
        "sh",
        F.when((F.col("m_old") <= 0) & (F.col("m_new") > 0), 1)
        .when((F.col("m_old") > 0) & (F.col("m_new") <= 0), -1)
        .otherwise(0)
        .cast("long")
        .alias("t"),
    ).filter(F.col("t") != 0)


def maintain_decontamination_cdc(
    train: DataFrame,
    eval_initial: DataFrame,
    eval_batches: list[DataFrame],
    k: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint: bool = True,
) -> DataFrame:
    """:func:`contamination_check` maintained while the EVAL side churns —
    the production shape of decontamination: benchmarks keep arriving
    (and occasionally get retracted) long after the training corpus is
    shingled, and re-screening 100 TB of train text per new benchmark is
    the rescan this fold avoids.

    State: (1) the train shingle postings (doc-distinct (doc, sh) rows)
    — corpus-sized, computed ONCE, DISK_ONLY; (2) the eval shingle
    multiplicity table (sh, m); (3) the per-train-doc shared-shingle
    counts. Per eval batch ('I'/'D' doc rows): the batch's shingles fold
    into (2) linearly, only the 0 ↔ >0 LIVENESS transitions probe the
    train postings (one equi-join on sh), and the resulting per-doc ±
    deltas merge into (3) — so a new benchmark costs O(its shingles ×
    matching postings), never a corpus re-shingle. Read: train docs
    left-joined to (3), same (doc_id, n_shared_shingles, contaminated)
    contract as the one-shot check (oracle-pinned by
    ``doc_decontaminate_cdc``)."""
    from etl__project_spark.session import state_checkpoint

    train_post = char_shingles(train, k=k, text_col=text_col, id_col=id_col)
    train_post = train_post.select(F.col(id_col), F.col("shingle").alias("sh"))
    if checkpoint:
        train_post = state_checkpoint(train_post, table_sized=True)
    mult = (
        char_shingles(eval_initial, k=k, text_col=text_col, id_col=id_col)
        .groupBy(F.col("shingle").alias("sh"))
        .agg(F.count(F.lit(1)).cast("long").alias("m"))
    )
    counts = (
        train_post.join(mult.filter(F.col("m") > 0).select("sh"), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    if checkpoint:
        mult = state_checkpoint(mult, table_sized=False)
        counts = state_checkpoint(counts, table_sized=True)
    for batch in eval_batches:
        # lossy-state discipline (ADVICE r8): a D row must carry the full
        # text — its shingles ARE the retraction, and a silently-empty
        # shingle set diverges mult/counts forever.
        bad = batch.filter(
            (F.col("op") == "D") & F.col(text_col).isNull()
        ).count()
        if bad:
            raise ValueError(
                f"decontamination CDC: {bad} delete row(s) with null "
                f"{text_col} — cannot derive shingle retractions"
            )
        signed = batch.select(
            id_col,
            text_col,
            F.when(F.col("op") == "D", -1).otherwise(1).cast("long").alias("s"),
        )
        delta_mult = (
            char_shingles(signed, k=k, text_col=text_col, id_col=id_col)
            .join(signed.select(id_col, "s"), id_col)
            .groupBy(F.col("shingle").alias("sh"))
            .agg(F.sum("s").cast("long").alias("dm"))
            .filter(F.col("dm") != 0)
        )
        trans = shingle_liveness_deltas(mult, delta_mult)
        counts_delta = (
            train_post.join(trans, "sh")
            .groupBy(id_col)
            .agg(F.sum("t").cast("long").alias("n"))
        )
        counts = (
            counts.unionByName(counts_delta)
            .groupBy(id_col)
            .agg(F.sum("n").cast("long").alias("n"))
            .filter(F.col("n") != 0)
        )
        mult = (
            mult.unionByName(delta_mult.select("sh", F.col("dm").alias("m")))
            .groupBy("sh")
            .agg(F.sum("m").cast("long").alias("m"))
            .filter(F.col("m") != 0)
        )
        if checkpoint:
            mult = state_checkpoint(mult, table_sized=False)
            counts = state_checkpoint(counts, table_sized=True)
    return (
        train.select(id_col)
        .join(counts, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_shared_shingles"),
            (F.coalesce(F.col("n"), F.lit(0)) > 0).alias("contaminated"),
        )
    )
