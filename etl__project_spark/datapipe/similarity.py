"""Similarity search over embedding columns (``array<float>``).

Two paths:

- ``brute_force_topk`` — exact cosine top-k against a query vector. The
  baseline; a full scan but embarrassingly parallel (no shuffle until the
  final top-k, which AQE/takeOrdered keeps tiny).
- ``bucketed_topk`` — sign-random-projection LSH: vectors are assigned to
  2^n_bits buckets by the signs of their leading components; the query
  only scans its own bucket. At 100 TB the table is written partitioned
  by bucket, so bucket pruning turns top-k into a partition-pruned scan.

All arithmetic is promoted to double before multiplication so results are
bit-comparable with the DuckDB oracle (float32 upcast is exact).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl__project_spark.session import state_checkpoint


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_components(a: Column, b: Column) -> Column:
    """Cosine similarity dot(a,b)/(|a||b|) as a single column expression."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


def brute_force_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact top-k neighbours of the (single-row) ``query`` frame.

    The query side is broadcast (one row); the scan side never shuffles.
    Ties broken by id for determinism.
    """
    q = query.select(F.col(vec_col).alias("__qvec"))
    sim = cosine_components(F.col(vec_col), F.col("__qvec"))
    return (
        embeddings.crossJoin(F.broadcast(q))
        .select(
            F.col(id_col),
            F.round(sim, 4).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def sign_bucket(vec: Column, n_bits: int = 4) -> Column:
    """Sign-random-projection bucket id from the leading ``n_bits``
    components (a fixed axis-aligned projection — deterministic and
    oracle-portable; production would use random hyperplanes)."""
    b = F.lit(0)
    for i in range(n_bits):
        b = b + F.when(F.element_at(vec, i + 1) > 0, F.lit(2**i)).otherwise(0)
    return b.cast("long")


def bucketed_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k: only the query's sign-projection bucket is scanned
    (~1/2^n_bits of the data; recall < 1.0 by design, the scale path)."""
    bucketed = embeddings.withColumn("__bucket", sign_bucket(F.col(vec_col), n_bits))
    q = query.select(
        F.col(vec_col).alias("__qvec"),
        sign_bucket(F.col(vec_col), n_bits).alias("__qbucket"),
    )
    sim = cosine_components(F.col(vec_col), F.col("__qvec"))
    return (
        bucketed.join(
            F.broadcast(q), F.col("__bucket") == F.col("__qbucket"), "inner"
        )
        .select(F.col(id_col), F.round(sim, 4).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.4,
    block_by_bucket: bool = False,
    n_bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    allow_quadratic: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) for
    every pair with cosine >= threshold, id_a < id_b.

    ``block_by_bucket=False`` is the exact O(N^2/2) baseline — correct at
    any threshold but quadratic, only for modest N or a sampled audit.
    Because pointing it at a full corpus is a scale-killer (a cartesian
    over 10^9 rows is 10^18 pairs), the quadratic path must be opted into
    explicitly with ``allow_quadratic=True``; without it the call raises
    rather than silently planning a CartesianProduct. ``block_by_bucket=
    True`` joins on sign-projection bucket equality first (equi-join,
    shuffle-partitioned by bucket — no cross join), the scale path: each
    of the 2^n_bits buckets pairs only within itself, at the cost of
    missing cross-bucket pairs (recall < 1, standard blocking/LSH
    trade-off; raise recall with multiple independent projections
    unioned, as MinHash-LSH does with bands).

    The filter compares the ROUNDED cosine (4 dp) so the threshold cut is
    identical across engines regardless of last-bit float noise.
    """
    if not block_by_bucket and not allow_quadratic:
        raise ValueError(
            "near_dup_pairs(block_by_bucket=False) plans an O(N^2) cross "
            "join — a sampled-audit baseline, not a pipeline stage. Pass "
            "allow_quadratic=True to run it on a bounded input, or use "
            "block_by_bucket=True / ivf_topk for the scale path "
            "(catalog: emb_near_dup_blocked, emb_ivf_topk)."
        )
    a = embeddings.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    b = embeddings.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    if block_by_bucket:
        a = a.withColumn("__bucket", sign_bucket(F.col("__va"), n_bits))
        b = b.withColumn("__bucket", sign_bucket(F.col("__vb"), n_bits))
        joined = a.join(b, "__bucket")
    else:
        joined = a.crossJoin(b)
    cos = F.round(cosine_components(F.col("__va"), F.col("__vb")), 4)
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def batch_topk(
    embeddings: DataFrame,
    n_queries: int = 5,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact batched retrieval: the first ``n_queries`` vectors each get
    their true top-``k`` neighbours over the whole corpus — the
    RAG-evaluation / recall-ground-truth operator (``ivf_topk`` and
    ``emb_bucketed_topk`` are its recall<1 accelerations; this is the
    recall=1 reference they're audited against).

    Distributed shape: the query batch (B×d floats — KBs to MBs) is
    BROADCAST; scoring is a map-side nested loop over each corpus
    partition producing narrow (q_id, cand_id, sim) triples, so the
    corpus vectors themselves never shuffle. The only exchange is the
    per-query top-k window keyed on q_id — ~24 B per scored row. At
    100 TB you cut that shuffle too by pre-filtering each partition to
    its local top-k per query (a partial TakeOrdered) before the
    exchange; at fixture scale Catalyst's two-phase aggregate on the
    window input is already bounded. Ties rank on 4-dp-rounded cosine
    with cand_id tiebreaks for cross-engine determinism.
    """
    from pyspark.sql import Window

    q = embeddings.filter(F.col(id_col) < n_queries).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("__qvec")
    )
    sim = F.round(cosine_components(F.col(vec_col), F.col("__qvec")), 4)
    scored = (
        embeddings.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("q_id"))
        .select("q_id", F.col(id_col).alias("cand_id"), sim.alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "cand_id", "sim")
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_clusters: int = 8,
    threshold: float = 0.4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    return_sim: bool = False,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings, then dropping any item with
    a sufficiently-similar LOWER-ID neighbour in its own cluster. The
    cluster blocking is what makes embedding dedup tractable — pair
    comparison happens only within a cluster, never corpus-wide.

    Clustering is the deterministic seed-centroid assignment shared
    with ``ivf_topk``/``emb_kmeans_assign`` (first ``n_clusters``
    vectors by id; production runs Lloyd rounds with the identical
    assignment step — ``kmeans_iterate``). The keep rule is SemDeDup's:
    within a cluster, an item is dropped iff some earlier (lower-id)
    item has 4-dp-rounded cosine >= ``threshold`` — so exactly one
    representative per ε-ball survives, deterministically.

    Returns (vec_id, cluster_id, keep): the full audit frame, not just
    the keep-list, so drop-rate per cluster is one groupBy away.

    Distributed shape: centroids broadcast (KBs), assignment is a
    narrow scan + per-vector argmax window, and the pair join is an
    EQUI-join on cluster_id — cost Σ|cluster|², the blocked-dedup
    bound, with skewed mega-clusters handled by AQE skew splitting (or
    by raising ``n_clusters``: SemDeDup at web scale uses ~10⁵
    clusters precisely to keep Σ|c|² flat). Compare
    ``near_dup_pairs(block_by_bucket=True)``: same join shape, learned
    cells instead of fixed sign-projections.
    """
    from pyspark.sql import Window

    seeds = embeddings.filter(F.col(id_col) < n_clusters).select(
        F.col(id_col).alias("cluster_id"), F.col(vec_col).alias("__cv")
    )
    sim = F.round(cosine_components(F.col(vec_col), F.col("__cv")), 4)
    w = Window.partitionBy(id_col).orderBy(F.desc("sim"), F.asc("cluster_id"))
    assigned = (
        embeddings.crossJoin(F.broadcast(seeds))
        .select(id_col, "cluster_id", sim.alias("sim"), F.col(vec_col).alias("__v"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "cluster_id", "sim", "__v")
    )
    a = assigned.select(
        F.col(id_col).alias("__ida"), "cluster_id", F.col("__v").alias("__va")
    )
    b = assigned.select(
        F.col(id_col).alias("__idb"), "cluster_id", F.col("__v").alias("__vb")
    )
    pair_cos = F.round(cosine_components(F.col("__va"), F.col("__vb")), 4)
    dropped = (
        a.join(b, "cluster_id")
        .filter(F.col("__idb") < F.col("__ida"))
        .filter(pair_cos >= threshold)
        .select(F.col("__ida").alias(id_col))
        .distinct()
        .withColumn("__drop", F.lit(True))
    )
    out_cols = [
        F.col(id_col),
        F.col("cluster_id"),
        F.coalesce(~F.col("__drop"), F.lit(True)).alias("keep"),
    ]
    if return_sim:  # assignment sim, for exemplar ranking downstream
        out_cols.append(F.col("sim"))
    return assigned.join(dropped, id_col, "left").select(*out_cols)


def ivf_topk(
    embeddings: DataFrame,
    n_centroids: int = 8,
    n_probe: int = 2,
    k: int = 3,
    n_queries: int = 5,
    train_iters: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF (inverted-file) ANN: partition vectors into centroid cells,
    then answer each query by scanning only its ``n_probe`` nearest
    cells.

    ``train_iters=0`` uses seed-selection centroids (the first
    ``n_centroids`` vectors by id — deterministic baseline);
    ``train_iters>0`` trains real centroids with :func:`kmeans_iterate`
    (integer-quantized Lloyd rounds, so the trained structure stays
    engine-deterministic and the oracle unrolls the same rounds —
    the IVF face of the ``pq_codebooks`` fix). At 100 TB the cell
    assignment is written as a partition column, so probing becomes
    partition-pruned scans; centroids are always broadcast (KB-sized).

    Returns (q_id, cand_id, sim): top-``k`` candidates per query among
    the probed cells, ranked on 4-dp-rounded cosine with id tiebreaks
    (cross-engine determinism). Recall < 1.0 by design when the true
    neighbour lives in an unprobed cell — the standard IVF trade-off.
    """
    from pyspark.sql import Window

    if train_iters > 0:
        seeds = (
            kmeans_iterate(
                embeddings,
                k=n_centroids,
                n_iter=train_iters,
                vec_col=vec_col,
                id_col=id_col,
            )
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "centroid_val"))),
                    lambda s: s.centroid_val,
                ).alias("cv")
            )
        )
    else:
        seeds = embeddings.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv")
        )
    sim_to_seed = F.round(cosine_components(F.col(vec_col), F.col("cv")), 4)
    scored_all = embeddings.crossJoin(F.broadcast(seeds)).select(
        F.col(id_col), F.col(vec_col), F.col("centroid_id"), sim_to_seed.alias("s")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("s"), F.asc("centroid_id"))
    ranked = scored_all.withColumn("rn", F.row_number().over(w))
    cells = ranked.filter(F.col("rn") == 1).select(
        F.col(id_col).alias("cand_id"),
        F.col(vec_col).alias("cand_vec"),
        "centroid_id",
    )
    probes = (
        ranked.filter((F.col(id_col) < n_queries) & (F.col("rn") <= n_probe))
        .select(
            F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_vec"), "centroid_id"
        )
    )
    pair_sim = F.round(cosine_components(F.col("q_vec"), F.col("cand_vec")), 4)
    cand = (
        cells.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("cand_id") != F.col("q_id"))
        .select("q_id", "cand_id", pair_sim.alias("sim"))
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("cand_id"))
    return (
        cand.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= k)
        .select("q_id", "cand_id", "sim")
    )


def pq_codebooks(
    embeddings: DataFrame,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codewords: int = 16,
    train_iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Train per-subspace PQ codebooks with the Lloyd loop — the k-means
    half that ``pq_topk``'s round-5 seed-selection stub deferred
    (VERDICT r5 #3). Returns (s, cw_id, c: array<double>) — ``n_sub``
    independent codebooks trained IN ONE DATAFRAME by carrying the
    subspace id ``s`` through every group key, so all subspaces train
    simultaneously per round instead of looping n_sub times.

    Initialization is the deterministic seed selection (subvectors of
    the first ``n_codewords`` vectors); ``train_iters=0`` returns
    exactly the old stub. Each round: L2-argmin assignment (broadcast
    codebooks, micro-unit integer distances, cw_id tiebreaks) then a
    (s, cw_id, dim)-keyed mean update quantized to 4 dp via exact
    BIGINT micro-unit sums — the ``kmeans_iterate`` discipline, so
    round N+1's inputs are bit-identical across engines and the DuckDB
    twin can unroll the same rounds as CTEs. A codeword that attracts
    no vectors drops out of later rounds (deterministically, hence
    identically on both engines — standard empty-cluster shrinkage).

    Distributed shape per round: codebooks are n_sub × n_codewords ×
    sub_dim doubles — KBs, always broadcast; assignment is a narrow
    scan + windowed argmin partitioned by (vector, subspace); the
    update's shuffle carries (s, cw_id, dim, BIGINT) cells — bounded by
    n_sub × n_codewords × sub_dim regardless of corpus size;
    ``localCheckpoint`` truncates lineage so round N's plan is O(1).
    """
    from pyspark.sql import Window

    spine = embeddings.sparkSession.range(n_sub).select(
        F.col("id").cast("int").alias("s")
    )
    sliced = F.expr(f"slice({vec_col}, s * {sub_dim} + 1, {sub_dim})").cast(
        "array<double>"
    )
    sub = embeddings.crossJoin(F.broadcast(spine)).select(
        F.col(id_col), "s", sliced.alias("v")
    )
    cents = sub.filter(F.col(id_col) < n_codewords).select(
        "s", F.col(id_col).alias("cw_id"), F.col("v").alias("c")
    )
    for _ in range(train_iters):
        l2 = F.aggregate(
            F.zip_with("v", "c", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        r6 = F.floor(l2 * 1_000_000 + F.lit(0.5)).cast("long")
        w = Window.partitionBy(id_col, "s").orderBy("r6", "cw_id")
        assign = (
            sub.join(F.broadcast(cents), "s")
            .select(id_col, "s", "cw_id", r6.alias("r6"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col, "s", "cw_id")
        )
        cells = (
            sub.join(assign, [id_col, "s"])
            .select("s", "cw_id", F.posexplode("v").alias("pos", "x"))
            .select(
                "s",
                "cw_id",
                (F.col("pos") + 1).cast("long").alias("dim"),
                F.floor(F.col("x") * 1_000_000 + F.lit(0.5))
                .cast("long")
                .alias("xm"),
            )
            .groupBy("s", "cw_id", "dim")
            .agg(
                (
                    F.floor(
                        F.sum("xm").cast("double")
                        / F.count(F.lit(1))
                        / F.lit(100.0)
                        + F.lit(0.5)
                    )
                    / F.lit(10000.0)
                ).alias("val")
            )
        )
        cents = state_checkpoint(
            cells.groupBy("s", "cw_id").agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "val"))),
                    lambda t: t.val,
                ).alias("c")
            ),
            table_sized=False,
        )
    return cents


def pq_topk(
    embeddings: DataFrame,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codewords: int = 16,
    k: int = 10,
    query_id: int = 0,
    train_iters: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): each vector is
    split into ``n_sub`` subvectors, each subvector is replaced by the
    id of its nearest codeword in a per-subspace codebook, and a query
    scores a database vector by summing a precomputed lookup table of
    query·codeword dot products (asymmetric distance computation) —
    ``n_sub`` table lookups per vector instead of a full-dimension dot.

    ``train_iters=0`` uses seed-selection codebooks (subvectors of the
    first ``n_codewords`` vectors by id — the deterministic baseline);
    ``train_iters>0`` trains real per-subspace k-means codebooks with
    :func:`pq_codebooks` (Lloyd rounds, integer-quantized so the
    iterated composition stays engine-deterministic and the DuckDB
    oracle can unroll the same rounds). Trained codebooks cut
    quantization error, which is what ``emb_pq_recall_audit`` measures
    against exact retrieval.

    Distributed shape (the 100 TB story): the codebook is
    ``n_sub × n_codewords`` rows — KBs, broadcast everywhere; code
    assignment is a narrow explode + broadcast join + windowed argmin
    partitioned by (vector, subspace) — embeddings never shuffle.
    The ADC scan joins the 128-row LUT by broadcast and reduces with
    one hash aggregate keyed by vector id whose shuffled payload is
    (id, BIGINT) — at rest you would persist the codes column
    (``n_sub`` bytes per vector, a 32× compression of a 64-dim float
    vector) and re-score against any query without touching raw
    vectors. Top-k is TakeOrderedAndProject, never a global sort.

    Cross-engine determinism: distances and LUT entries are computed as
    explicit left-associated term sums over float32→double-exact casts
    and quantized to integer micro-units before the argmin / sum, so
    assignment ties, score sums, and the final ranking are bit-identical
    with the DuckDB oracle.
    """
    from functools import reduce

    from pyspark.sql import Window

    def sub_terms(a_prefix: str, b_prefix: str, op: str):
        def term(i):
            va = F.element_at(F.col(a_prefix), i).cast("double")
            vb = F.element_at(F.col(b_prefix), i).cast("double")
            return (va - vb) * (va - vb) if op == "l2" else va * vb

        return reduce(lambda x, y: x + y, [term(i) for i in range(1, sub_dim + 1)])

    spine = embeddings.sparkSession.range(n_sub).select(
        F.col("id").cast("int").alias("s")
    )
    sliced = F.expr(f"slice({vec_col}, s * {sub_dim} + 1, {sub_dim})")
    if train_iters > 0:
        cw = pq_codebooks(
            embeddings, n_sub, sub_dim, n_codewords, train_iters, vec_col, id_col
        ).select("cw_id", "s", "c")
    else:
        cw = (
            embeddings.filter(F.col(id_col) < n_codewords)
            .crossJoin(F.broadcast(spine))
            .select(F.col(id_col).alias("cw_id"), "s", sliced.alias("c"))
        )
    db = (
        embeddings.filter(F.col(id_col) != query_id)
        .crossJoin(F.broadcast(spine))
        .select(F.col(id_col), "s", sliced.alias("v"))
    )
    r6 = F.floor(sub_terms("v", "c", "l2") * 1_000_000 + F.lit(0.5)).cast("long")
    w = Window.partitionBy(id_col, "s").orderBy("r6", "cw_id")
    codes = (
        db.join(F.broadcast(cw), "s")
        .select(id_col, "s", "cw_id", r6.alias("r6"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "s", "cw_id")
    )
    q = (
        embeddings.filter(F.col(id_col) == query_id)
        .crossJoin(F.broadcast(spine))
        .select("s", sliced.alias("qv"))
    )
    lut = cw.join(F.broadcast(q), "s").select(
        "s",
        "cw_id",
        F.floor(sub_terms("qv", "c", "dot") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("lp"),
    )
    return (
        codes.join(F.broadcast(lut), ["s", "cw_id"])
        .groupBy(id_col)
        .agg(F.sum("lp").alias("am"))
        .select(
            id_col,
            (F.floor(F.col("am") / F.lit(100.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
                "approx_dot"
            ),
        )
        .orderBy(F.desc("approx_dot"), F.asc(id_col))
        .limit(k)
    )


def pq_rerank_topk(
    embeddings: DataFrame,
    shortlist: int = 50,
    k: int = 10,
    query_id: int = 0,
    train_iters: int = 2,
    n_sub: int = 8,
    sub_dim: int = 8,
    n_codewords: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Two-stage PQ retrieval: ADC shortlist → EXACT rerank — the shape
    every production PQ index actually serves (FAISS's IVFPQ+refine;
    Jégou et al. 2011 §V.D). Stage 1 ranks the whole corpus by the
    compressed-domain approximate dot (``pq_topk``) and keeps the top
    ``shortlist`` ids; stage 2 re-scores ONLY those by exact cosine
    against the raw vectors and returns the top ``k``. Lossy ADC picks
    WHICH vectors to touch; exact math decides the final ranking — so
    recall is bounded by shortlist coverage, not by quantization noise
    in the final ordering (the recall gap ``emb_pq_recall_audit``
    measures on the raw ADC ranking closes here; the rerank test pins
    rerank ⊇ ADC overlap with ground truth).

    Distributed shape: the shortlist is ``shortlist`` ids — bytes —
    broadcast into a semi-join against the corpus, so the rerank stage
    reads ``shortlist`` rows however large the corpus is; the exact
    rescore touches ``shortlist × d`` floats. At 100 TB the stage-1 scan
    reads only the 8-byte code column (32× less IO than raw vectors) and
    stage 2 fetches raw vectors for a few dozen ids — the whole point of
    the compressed index. Determinism: stage 1 is the micro-unit ADC
    ranking; stage 2 ranks on 4 dp-rounded cosine with id tiebreaks.
    """
    sl = pq_topk(
        embeddings,
        n_sub=n_sub,
        sub_dim=sub_dim,
        n_codewords=n_codewords,
        k=shortlist,
        query_id=query_id,
        train_iters=train_iters,
        vec_col=vec_col,
        id_col=id_col,
    ).select(id_col)
    q = embeddings.filter(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qvec")
    )
    sim = cosine_components(F.col(vec_col), F.col("__qvec"))
    return (
        embeddings.join(F.broadcast(sl), id_col, "left_semi")
        .crossJoin(F.broadcast(q))
        .select(F.col(id_col), F.round(sim, 4).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def kmeans_iterate(
    embeddings: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Full iterative Lloyd loop: assign → update, ``n_iter`` times —
    the training loop that ``emb_kmeans_assign``/``emb_kmeans_update``
    are single steps of (and that IVF/PQ codebooks come from). Returns
    the final centroids as (centroid_id, dim, centroid_val) rows.

    Distributed shape per round (the classic scalable k-means layout):
    centroids are ALWAYS broadcast (k × d doubles — KBs), assignment is
    a narrow scan + windowed argmax partitioned by vector, and the
    update shuffles (cluster, dim, partial-sum) triples through a
    two-phase hash aggregate — vectors themselves never shuffle, and
    per-round ``localCheckpoint`` truncates the lineage so round N's
    plan stays O(1) (the same pattern as the BPE merge loop and the
    connected-components loop).

    Cross-engine determinism for the ITERATED composition: each
    centroid component is computed as an exact BIGINT micro-unit sum
    divided once and half-up-rounded to 4 dp, so round 2's inputs are
    bit-identical on both engines (a raw double ``avg`` would make
    round-2 assignment depend on float summation order); similarities
    rank on 4 dp-rounded cosine with centroid-id tiebreaks.
    """
    from pyspark.sql import Window

    emb = embeddings.select(id_col, F.col(vec_col).cast("array<double>").alias("v"))
    centroids = emb.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("centroid_id"), F.col("v").alias("cv")
    )
    newc = None
    for _ in range(n_iter):
        sim = F.round(cosine_components(F.col("v"), F.col("cv")), 4)
        w = Window.partitionBy(id_col).orderBy(F.desc("sim"), F.asc("centroid_id"))
        assign = (
            emb.crossJoin(F.broadcast(centroids))
            .select(id_col, "centroid_id", sim.alias("sim"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(id_col, "centroid_id")
        )
        ex = emb.join(assign, id_col).select(
            "centroid_id", F.posexplode("v").alias("pos", "x")
        )
        newc = (
            ex.select(
                "centroid_id",
                (F.col("pos") + 1).cast("long").alias("dim"),
                F.floor(F.col("x") * 1_000_000 + F.lit(0.5)).cast("long").alias("xm"),
            )
            .groupBy("centroid_id", "dim")
            .agg(
                (
                    F.floor(
                        F.sum("xm").cast("double") / F.count(F.lit(1)) / F.lit(100.0)
                        + F.lit(0.5)
                    )
                    / F.lit(10000.0)
                ).alias("centroid_val")
            )
        )
        newc = state_checkpoint(newc, table_sized=False)
        centroids = newc.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "centroid_val"))),
                lambda s: s.centroid_val,
            ).alias("cv")
        )
    return newc.select("centroid_id", "dim", "centroid_val")


def _pq_sub_terms(a_col: str, b_col: str, op: str, sub_dim: int):
    from functools import reduce

    def term(i):
        va = F.element_at(F.col(a_col), i).cast("double")
        vb = F.element_at(F.col(b_col), i).cast("double")
        return (va - vb) * (va - vb) if op == "l2" else va * vb

    return reduce(lambda x, y: x + y, [term(i) for i in range(1, sub_dim + 1)])


def pq_encode(
    embeddings: DataFrame,
    codebooks: DataFrame,
    n_sub: int = 8,
    sub_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Encode vectors against FIXED codebooks → (id, s, cw_id) code
    rows — the standalone encode face of :func:`pq_topk` (identical
    micro-unit L2 argmin, so codes produced here and there agree).
    This is the operation a PQ index applies to every NEW batch: the
    codebooks are trained once and frozen; encoding a batch never
    touches previously-encoded history. Codebooks broadcast; the only
    exchange is the (vector, subspace) argmin window."""
    from pyspark.sql import Window

    spine = embeddings.sparkSession.range(n_sub).select(
        F.col("id").cast("int").alias("s")
    )
    sliced = F.expr(f"slice({vec_col}, s * {sub_dim} + 1, {sub_dim})")
    db = embeddings.crossJoin(F.broadcast(spine)).select(
        F.col(id_col), "s", sliced.alias("v")
    )
    r6 = F.floor(
        _pq_sub_terms("v", "c", "l2", sub_dim) * 1_000_000 + F.lit(0.5)
    ).cast("long")
    w = Window.partitionBy(id_col, "s").orderBy("r6", "cw_id")
    return (
        db.join(F.broadcast(codebooks), "s")
        .select(id_col, "s", "cw_id", r6.alias("r6"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, "s", "cw_id")
    )


def pq_adc_topk(
    codes: DataFrame,
    codebooks: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_sub: int = 8,
    sub_dim: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Score STORED codes against a query by asymmetric distance — the
    serve face of the PQ index: the raw corpus is never read, only the
    8-byte codes plus the broadcast query·codeword lookup table
    (identical micro-unit discipline to :func:`pq_topk`, so serving
    from the index equals scoring from scratch — pinned by test)."""
    spine = query.sparkSession.range(n_sub).select(
        F.col("id").cast("int").alias("s")
    )
    sliced = F.expr(f"slice({vec_col}, s * {sub_dim} + 1, {sub_dim})")
    q = query.crossJoin(F.broadcast(spine)).select("s", sliced.alias("qv"))
    lut = codebooks.join(F.broadcast(q), "s").select(
        "s",
        "cw_id",
        F.floor(
            _pq_sub_terms("qv", "c", "dot", sub_dim) * 1_000_000 + F.lit(0.5)
        )
        .cast("long")
        .alias("lp"),
    )
    return (
        codes.join(F.broadcast(lut), ["s", "cw_id"])
        .groupBy(id_col)
        .agg(F.sum("lp").alias("am"))
        .select(
            id_col,
            (
                F.floor(F.col("am") / F.lit(100.0) + F.lit(0.5)) / F.lit(10000.0)
            ).alias("approx_dot"),
        )
        .orderBy(F.desc("approx_dot"), F.asc(id_col))
        .limit(k)
    )


# --- IVF cell-assignment maintenance under embedding CDC ----------------


def assign_cells(
    embeddings: DataFrame,
    seeds: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment of ``embeddings`` against broadcast
    ``seeds`` (centroid_id, cv) — the posting-list grain of an IVF
    index: (cand_id, cand_vec, centroid_id). 4-dp-rounded cosine with
    centroid-id tiebreaks, identical to :func:`ivf_topk`'s ranking."""
    from pyspark.sql import Window

    sim = F.round(cosine_components(F.col(vec_col), F.col("cv")), 4)
    scored = embeddings.crossJoin(F.broadcast(seeds)).select(
        F.col(id_col), F.col(vec_col), F.col("centroid_id"), sim.alias("s")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("s"), F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col(id_col).alias("cand_id"),
            F.col(vec_col).alias("cand_vec"),
            "centroid_id",
        )
    )


def ivf_cells_delta(
    cells: DataFrame,
    batch: DataFrame,
    seeds: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Signed IVF posting delta for one CDC batch against the PRE-batch
    signed ``cells``: retract every touched id's stored postings (one id
    probe), assert the batch's post-images at their nearest frozen
    centroid (:func:`assign_cells` against broadcast ``seeds``).
    Unchanged vectors are never re-scored. Rows are (cand_id, cand_vec,
    centroid_id, sign)."""
    touched = batch.select(F.col(id_col).alias("cand_id")).distinct()
    retract = cells.join(touched, ["cand_id"]).select(
        "cand_id", "cand_vec", "centroid_id", (-F.col("sign")).alias("sign")
    )
    post_imgs = batch.filter(F.col(op_col) != delete_op).select(id_col, vec_col)
    assert_c = assign_cells(post_imgs, seeds, vec_col, id_col).select(
        "cand_id",
        "cand_vec",
        F.col("centroid_id").cast("long"),
        F.lit(1).cast("long").alias("sign"),
    )
    return retract.unionByName(assert_c)


def maintain_ivf_cells_cdc(
    initial: DataFrame,
    cdc_batches: list[DataFrame],
    n_centroids: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Maintain an IVF index's posting lists while the vector corpus
    churns (new embeddings stream in, re-embedded docs move, takedowns
    retract). Centroids are FROZEN from the initial state (seed
    selection, ids < ``n_centroids``) — exactly how production IVF
    behaves between periodic retrains: the quantizer is a trained
    artifact, the posting lists are live state.

    Per batch (:func:`ivf_cells_delta`): one id-probe of the cell
    state retracts touched vectors' postings; ONLY the batch's
    post-images score against the broadcast centroids (a KB-sized
    crossJoin regardless of corpus size); both states consolidate
    signed. Unchanged vectors are never re-scored — the assignment step
    that dominates a full rebuild.

    Returns ``(emb_state, cells)``, both signed/consolidated; serve
    top-k by probing ``cells`` exactly as :func:`ivf_topk` does
    (pinned by the ``emb_ivf_cdc`` oracle and the equality contract
    with a from-scratch ``assign_cells``)."""
    from etl__project_spark.operators.ivm import cdc_to_signed_delta, consolidate

    seeds = initial.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv")
    )
    if checkpoint:
        seeds = state_checkpoint(seeds, table_sized=False)
    sign1 = F.lit(1).cast("long").alias("sign")
    state = initial.select(id_col, vec_col).select("*", sign1)
    cells = assign_cells(initial, seeds, vec_col, id_col).select("*", sign1)

    # The two states checkpoint as ONE materialization per step (VERDICT
    # r9 #2): each eager checkpoint is a full Spark job whose fixed
    # overhead — not the KB-to-table data — dominated the emb_ivf_cdc
    # bench (2 batches x 2 table-sized checkpoints + the delta's). The
    # tagged union halves the job count; consumers read their half back
    # with a filter over the shared DISK_ONLY frame.
    def _ckpt_pair(state_df, cells_df):
        if not checkpoint:
            return state_df, cells_df
        both = state_df.select(
            F.lit(0).alias("_half"),
            F.col(id_col).alias("_id"),
            F.col(vec_col).alias("_vec"),
            F.lit(None).cast("long").alias("centroid_id"),
            "sign",
        ).unionByName(
            cells_df.select(
                F.lit(1).alias("_half"),
                F.col("cand_id").alias("_id"),
                F.col("cand_vec").alias("_vec"),
                F.col("centroid_id").cast("long"),
                "sign",
            )
        )
        both = state_checkpoint(both, table_sized=True)
        return (
            both.filter(F.col("_half") == 0).select(
                F.col("_id").alias(id_col), F.col("_vec").alias(vec_col), "sign"
            ),
            both.filter(F.col("_half") == 1).select(
                F.col("_id").alias("cand_id"),
                F.col("_vec").alias("cand_vec"),
                "centroid_id",
                "sign",
            ),
        )

    state, cells = _ckpt_pair(state, cells)
    for batch in cdc_batches:
        # the delta is consumed exactly once (the state consolidate) and
        # derives from the already-checkpointed state, so it needs no
        # materialization of its own
        delta = cdc_to_signed_delta(
            state, batch.select(id_col, vec_col, op_col),
            [id_col], op_col=op_col, delete_op=delete_op,
        )
        cells = consolidate(
            cells.unionByName(
                ivf_cells_delta(cells, batch, seeds, vec_col, id_col, op_col, delete_op)
            )
        )
        state = consolidate(state.unionByName(delta))
        state, cells = _ckpt_pair(state, cells)
    return state, cells


def _assign_images_signed(
    delta: DataFrame,
    seeds: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """:func:`assign_cells` for a signed delta: nearest-centroid per
    (id, sign) image, the signed multiplicity carried through untouched.
    Ranking per (id, sign) keeps an update's old (−) and new (+) images in
    separate row_number partitions; a consolidated delta has at most one
    row per (id, sign), so the partition key is unique. Returns
    (cand_vec, centroid_id, sign) ready for :func:`signed_centroid_stats`."""
    from pyspark.sql import Window

    sim = F.round(cosine_components(F.col(vec_col), F.col("cv")), 4)
    scored = delta.crossJoin(F.broadcast(seeds)).select(
        F.col(id_col), F.col(vec_col), F.col("sign"), F.col("centroid_id"), sim.alias("s")
    )
    w = Window.partitionBy(id_col, "sign").orderBy(F.desc("s"), F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col(vec_col).alias("cand_vec"), "centroid_id", "sign")
    )


def signed_centroid_stats(
    assigned: DataFrame, sign_col: str = "sign"
) -> DataFrame:
    """(centroid_id, dim, s, n) from signed assigned rows
    (cand_vec, centroid_id, sign): s = Σ sign · round(x·1e6) in exact
    integer micro-units per dimension, n = Σ sign. Integer sums make the
    incremental fold bit-identical to a recompute (the house decimal
    trick, applied per dimension)."""
    q = (F.round(F.col("x") * 1000000).cast("long") * F.col(sign_col)).alias("q")
    return (
        assigned.select(
            "centroid_id",
            sign_col,
            F.posexplode("cand_vec").alias("pos", "x"),
        )
        .select(
            "centroid_id", (F.col("pos") + 1).alias("dim"), q, F.col(sign_col)
        )
        .groupBy("centroid_id", "dim")
        .agg(
            F.sum("q").cast("long").alias("s"),
            F.sum(sign_col).cast("long").alias("n"),
        )
    )


def merge_centroid_stats(existing: DataFrame, delta: DataFrame) -> DataFrame:
    """Merge signed centroid stats; centroids drained to net-zero
    membership vanish."""
    return (
        existing.unionByName(delta.select(existing.columns))
        .groupBy("centroid_id", "dim")
        .agg(
            F.sum("s").cast("long").alias("s"),
            F.sum("n").cast("long").alias("n"),
        )
        .filter(F.col("n") != 0)
    )


def maintain_centroid_stats_cdc(
    initial: DataFrame,
    cdc_batches: list[DataFrame],
    n_centroids: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    op_col: str = "op",
    delete_op: str = "D",
    checkpoint: bool = True,
) -> DataFrame:
    """Maintain the Lloyd-update statistics (per-cluster per-dimension
    sum and member count) while the vector corpus receives CDC — the
    companion to :func:`maintain_ivf_cells_cdc`: that one maintains the
    posting LISTS, this one maintains the centroid UPDATE STEP's
    sufficient statistics, so a periodic retrain starts from
    always-current sums instead of a corpus rescan. Centroids used for
    ASSIGNMENT stay frozen from the initial state (ids <
    ``n_centroids``), as between production retrains.

    The statistics are LINEAR in the corpus (sums of signed per-dim
    contributions), so maintenance needs no base consultation at all:
    per batch, the signed delta's images (old −1 / new +1, each image
    assigned independently against the broadcast seeds) explode into
    integer micro-unit contributions and fold into the
    (centroid, dim)-grain state — O(|Δ| · d) per batch, corpus never
    re-scored. An updated vector that crosses cells moves its mass
    between centroids through the two images' opposite signs.

    Returns the consolidated stats (centroid_id, dim, s, n); the new
    centroid value reads off as s/n at O(k·d)."""
    from etl__project_spark.operators.ivm import cdc_to_signed_delta, consolidate

    seeds = initial.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"), F.col(vec_col).alias("cv")
    )
    if checkpoint:
        seeds = state_checkpoint(seeds, table_sized=False)
    sign1 = F.lit(1).cast("long").alias("sign")
    state = initial.select(id_col, vec_col).select("*", sign1)
    stats = signed_centroid_stats(
        assign_cells(initial, seeds, vec_col, id_col).select("*", sign1)
    )
    if checkpoint:
        state = state_checkpoint(state, table_sized=True)
        stats = state_checkpoint(stats, table_sized=False)
    for batch in cdc_batches:
        delta = cdc_to_signed_delta(
            state, batch, [id_col], op_col=op_col, delete_op=delete_op
        )
        if checkpoint:
            delta = state_checkpoint(delta, table_sized=False)
        # assign both images in ONE pass, ranking per (id, sign): an
        # updated id carries TWO images with opposite signs that must not
        # meet inside one row_number partition, and the ACTUAL signed
        # multiplicity rides through to the stats fold —
        # signed_centroid_stats weighs by it, so |sign| >= 2 rows (legal
        # when consolidate nets identical rows) contribute full mass
        # instead of being dropped by an == 1/-1 split (ADVICE r8).
        dstats = signed_centroid_stats(
            _assign_images_signed(delta, seeds, vec_col, id_col)
        )
        stats = merge_centroid_stats(stats, dstats)
        state = consolidate(state.unionByName(delta))
        if checkpoint:
            state = state_checkpoint(state, table_sized=True)
            stats = state_checkpoint(stats, table_sized=False)
    return stats
