"""Similarity search over embedding columns: brute-force cosine top-k and an
LSH-bucketed ANN variant (training-data-pipeline extensions).

Scale design (100 TB): brute force is one scan + TakeOrderedAndProject —
embarrassingly parallel map-side top-k, merged on the driver; the LSH
variant prunes the scan to one bucket (at scale: a partition/bucket column
on the sink table, so the scan itself prunes).  Dot products run as native
``aggregate``/``zip_with`` Column expressions in codegen — no Python.

Determinism for oracle hashing: similarities are computed in DOUBLE and
rounded to 4 decimals; ranking ties break on vec_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from zipkin_storage_kafka_spark.functions.portable import round4
from zipkin_storage_kafka_spark.operators.text_analysis import spread

SIGN_BITS = 8


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine_scores(embeddings: DataFrame, query_vec_id: int) -> DataFrame:
    """Cosine similarity of every vector against ``query_vec_id``.

    The 1-row query side is broadcast — no shuffle of the big side.
    Columns: vec_id, cos (round 4).
    """
    q = (
        embeddings.filter(F.col("vec_id") == query_vec_id)
        .select(_as_double("embedding").alias("q_emb"))
    )
    e = embeddings.select(
        "vec_id", _as_double("embedding").alias("emb")
    )
    joined = e.crossJoin(F.broadcast(q))
    cos = _dot(F.col("emb"), F.col("q_emb")) / (
        F.sqrt(_dot(F.col("emb"), F.col("emb")))
        * F.sqrt(_dot(F.col("q_emb"), F.col("q_emb")))
    )
    return joined.select("vec_id", round4(cos).alias("cos"))


def cosine_topk(
    embeddings: DataFrame, query_vec_id: int, k: int = 10
) -> DataFrame:
    """Brute-force exact top-k neighbors (the correctness baseline).
    Compiles to TakeOrderedAndProject — per-partition heap, no full sort."""
    return (
        cosine_scores(embeddings, query_vec_id)
        .filter(F.col("vec_id") != query_vec_id)
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(k)
    )


def sign_bucket(emb_col, bits: int = SIGN_BITS) -> Column:
    """Deterministic LSH bucket: sign bits of the first ``bits`` coordinates
    (axis-aligned random-projection family).  Engine-portable."""
    return F.concat(
        *[
            F.when(F.element_at(emb_col, i + 1) >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for i in range(bits)
        ]
    )


def ann_topk_lsh(
    embeddings: DataFrame, query_vec_id: int, k: int = 5, bits: int = SIGN_BITS
) -> DataFrame:
    """ANN: restrict the scan to the query's sign-bucket, then exact top-k
    within it.  At scale the bucket is a partition column -> partition
    pruning turns this into a sub-percent scan."""
    bucketed = embeddings.withColumn("bucket", sign_bucket(F.col("embedding"), bits))
    q_bucket = (
        bucketed.filter(F.col("vec_id") == query_vec_id)
        .select(F.col("bucket").alias("q_bucket"))
    )
    candidates = bucketed.join(
        F.broadcast(q_bucket), F.col("bucket") == F.col("q_bucket"), "inner"
    ).select("vec_id", "embedding")
    return cosine_topk(candidates, query_vec_id, k)


def label_centroids(embeddings: DataFrame) -> DataFrame:
    """Per-label centroid vectors, long form: (label, dim 1-based,
    centroid round4).  One explode + grouped avg — the IVF coarse-quantizer
    training step; at 100 TB this is the map-side-combined shuffle of
    (label x dim) partial sums, output KB-scale."""
    exploded = embeddings.select(
        "label", F.posexplode(_as_double("embedding")).alias("pos", "x")
    )
    return (
        exploded.groupBy("label", (F.col("pos") + 1).alias("dim"))
        .agg(round4(F.avg("x")).alias("centroid"))
    )


def ivf_centroids(embeddings: DataFrame) -> DataFrame:
    """IVF coarse quantizer "training": one centroid per label partition
    (the labels stand in for k-means cells — deterministic, so the oracle
    can reproduce them).  Columns: label, centroid array<double>.

    Scale: posexplode -> (label x dim) partial-sum shuffle (map-side
    combined, output = n_labels x dim doubles — KBs); the centroid table is
    broadcast everywhere it is used downstream.
    """
    exploded = embeddings.select(
        "label", F.posexplode(_as_double("embedding")).alias("pos", "x")
    )
    return (
        exploded.groupBy("label", "pos")
        .agg(F.avg("x").alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("centroid")
        )
    )


def _centroid_scores(embeddings: DataFrame, centroids: DataFrame) -> DataFrame:
    """Cosine of every vector against every centroid (vec_id, label, s).
    The centroid side is tiny and broadcast; similarity is rounded to 6
    decimals so the downstream argmax ranks identically across engines."""
    from zipkin_storage_kafka_spark.functions.portable import round6

    e = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    joined = e.crossJoin(F.broadcast(centroids))
    sim = _dot(F.col("emb"), F.col("centroid")) / (
        F.sqrt(_dot(F.col("emb"), F.col("emb")))
        * F.sqrt(_dot(F.col("centroid"), F.col("centroid")))
    )
    return joined.select("vec_id", "label", round6(sim).alias("s"))


def ivf_assignments(
    embeddings: DataFrame, centroids: DataFrame, with_score: bool = False
) -> DataFrame:
    """Vector -> nearest-cell assignment (vec_id, label): the IVF index
    build.  This is INGEST-time work in any ANN system — build once,
    persist, serve every query from it (at 100 TB the label becomes a
    partition column of the embeddings table).

    ``with_score=True`` keeps the winning round6 centroid cosine as a
    third column ``__ivf_s`` — the argmax computes it anyway, and it is
    EXACTLY the diverse-policy priority :func:`semantic_dedup` /
    :func:`semantic_dedup_arrow` would otherwise re-derive with two
    more interpreted O(d) folds per corpus row (measured ~2.8 s of the
    diverse row's 3.8 s at sf1).  Persisting it with the index makes
    the priority a column read.  The dunder name is deliberate: the
    consumers' fast path switches on this exact column, so a
    caller-supplied assignment that happens to carry an unrelated
    ``s`` column can never be silently used as the priority (r12
    advice)."""
    from pyspark.sql import Window

    scores = _centroid_scores(embeddings, centroids)
    w = Window.partitionBy("vec_id").orderBy(F.col("s").desc(), F.col("label"))
    picked = scores.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") == 1
    )
    if with_score:
        return picked.select(
            "vec_id", "label", F.col("s").alias("__ivf_s")
        )
    return picked.select("vec_id", "label")


def ann_topk_ivf(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    nprobe: int = 3,
    centroids: DataFrame | None = None,
    assign: DataFrame | None = None,
    scores: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: probe the query's ``nprobe`` best cells, exact top-k within
    the probed cells.  Pass a prebuilt index (``centroids`` + ``assign``,
    see :func:`ivf_assignments`) to keep the per-query plan index-free —
    the query side then touches only its own centroid scores (1 x cells
    rows) plus the probed ~nprobe/n_cells slice of the corpus.

    ``scores`` optionally supplies the per-vector (vec_id, cos) relation
    for this exact query (:func:`cosine_scores` output — the eval-query
    audit artifact the recall family shares, r15): the serve plan then
    never touches the embedding payload at all — candidate ids are
    semi-joined against the narrow score relation and top-k'd.  Values
    are identical by construction (same round4 cosine expression over
    the same vectors).

    Scale (100 TB): assignment is one broadcast crossJoin + per-vector
    argmax, built once at ingest (label = partition column, so the probe is
    a partition-pruned scan).  Probe list is rows=nprobe, broadcast into a
    left-semi join.
    """
    if centroids is None:
        centroids = ivf_centroids(embeddings)
    if assign is None:
        assign = ivf_assignments(embeddings, centroids)
    query_scores = _centroid_scores(
        embeddings.filter(F.col("vec_id") == query_vec_id), centroids
    )
    probe = (
        query_scores.orderBy(F.col("s").desc(), F.col("label"))
        .limit(nprobe)
        .select("label")
    )
    cand_ids = assign.join(F.broadcast(probe), "label", "left_semi").select(
        "vec_id"
    )
    if scores is not None:
        return (
            scores.join(cand_ids, "vec_id", "left_semi")
            .filter(F.col("vec_id") != query_vec_id)
            .orderBy(F.col("cos").desc(), F.col("vec_id"))
            .limit(k)
        )
    candidates = embeddings.join(cand_ids, "vec_id", "left_semi")
    return cosine_topk(candidates, query_vec_id, k)


def pairwise_cosine_dups(
    embeddings: DataFrame, threshold: float = 0.95, bits: int = SIGN_BITS
) -> DataFrame:
    """Embedding near-duplicate pairs: LSH-bucket join (same sign bucket)
    then exact cosine filter.  Columns: vec_a, vec_b, cos (round 4).
    The bucket equi-join bounds the pair space — no O(n^2) stage.

    r14: the per-vector norm ``sqrt(dot(v, v))`` is hoisted into the
    bucketed projection, so the join condition evaluates ONE O(d) array
    aggregate per candidate pair (the cross dot) instead of three —
    pair mass grows quadratically in duplicate-clique size while vector
    count grows linearly, so at scale this cuts the pair stage's O(d)
    work ~3x (guide §1.2 per-task work).  Same expression tree
    otherwise (dot / (norm_a * norm_b), sqrt before multiply), so the
    round4 cosine is bit-identical."""
    bucketed = embeddings.select(
        "vec_id",
        _as_double("embedding").alias("emb"),
        sign_bucket(F.col("embedding"), bits).alias("bucket"),
    ).withColumn("norm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    cos = _dot(F.col("a.emb"), F.col("b.emb")) / (
        F.col("a.norm") * F.col("b.norm")
    )
    return (
        pairs.select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            round4(cos).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def batch_cosine_topk(
    embeddings: DataFrame, query_ids: list[int], k: int = 5
) -> DataFrame:
    """Batch ANN serving: exact top-k for MANY query vectors in ONE corpus
    scan (the shape of offline retrieval / hard-negative mining jobs, where
    queries arrive in blocks, not one at a time).

    The Q-row query block broadcasts; every (vector, query) score computes
    in the scan's projection; per-query top-k is a rank window that Spark
    rewrites through WindowGroupLimit — each input partition keeps only its
    local k per query BEFORE the exchange, so the shuffle moves
    O(partitions * Q * k) rows, never Q * N.  At 100 TB with a 10k-query
    block this is one pass over the corpus + a KB-scale shuffle.

    Output: q_id, vec_id, cos (round4), rank (1-based).
    """
    q = embeddings.filter(F.col("vec_id").isin([int(i) for i in query_ids])).select(
        F.col("vec_id").alias("q_id"), _as_double("embedding").alias("q_emb")
    )
    e = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    joined = e.crossJoin(F.broadcast(q)).filter(
        F.col("vec_id") != F.col("q_id")
    )
    cos = _dot(F.col("emb"), F.col("q_emb")) / (
        F.sqrt(_dot(F.col("emb"), F.col("emb")))
        * F.sqrt(_dot(F.col("q_emb"), F.col("q_emb")))
    )
    scored = joined.select(
        "q_id", "vec_id", round4(cos).alias("cos")
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/serving
    compression step of an embedding pipeline (4x smaller than float32,
    8x than float64).

    scale = max(|x|) / 127; q_i = floor(x_i / scale + 0.5) (explicit
    floor(+0.5) instead of round(): identical half-way behavior in every
    engine, where round() half-even vs half-up differs).  All-zero vectors
    quantize to zeros with scale 0.  Pure per-row array expressions — no
    shuffle, no Python; the plan is a single codegen'd projection.

    Output: vec_id, scale (round4 double), q (array<int>).
    """
    v = _as_double("embedding")
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = absmax / F.lit(127.0)
    q = F.when(absmax == 0.0, F.transform(v, lambda x: F.lit(0).cast("int"))).otherwise(
        F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"))
    )
    return embeddings.select(
        "vec_id", round4(scale).alias("scale"), q.alias("q")
    )


def dimension_stats(embeddings: DataFrame) -> DataFrame:
    """Per-dimension distribution statistics over the embedding column —
    the normalization/whitening pass (mean-center, scale) and the sanity
    audit (dead or exploding dimensions) a feature pipeline runs before
    training or index build.

    One posexplode + a (dim)-keyed aggregation: map-side partial sums,
    shuffle carries dim-cardinality rows (64 here) regardless of corpus
    size — the canonical scale shape for reduction to tiny keyspaces.
    Double-precision sums at corpus scale stay far inside the round4
    tolerance (error ~1e-12 at 1e4 rows, ~1e-8 at 1e9).

    Output: dim (1-based int), n, mean, std, min_x, max_x (round4).
    """
    exploded = embeddings.select(
        F.posexplode(_as_double("embedding")).alias("pos", "x")
    )
    return (
        exploded.groupBy((F.col("pos") + 1).alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            round4(F.avg("x")).alias("mean"),
            round4(F.stddev_pop("x")).alias("std"),
            round4(F.min("x")).alias("min_x"),
            round4(F.max("x")).alias("max_x"),
        )
    )


KMEANS_K = 8


def kmeans_step(embeddings: DataFrame, k: int = KMEANS_K) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding column: assign
    every vector to its nearest seed centroid, then recompute per-centroid
    per-dimension means — the training step that builds the IVF coarse
    quantizer (``ivf_index``' cells are exactly these centroids after a
    few such steps).

    Seeds are the ``k`` lowest vec_ids (deterministic across engines).
    Distance is expanded to dot products (|v|^2 - 2<v,c> + |c|^2) so both
    engines evaluate the identical float expressions the proven
    dot-product parity path uses; assignment ranks on the ROUNDED distance
    with seed_id as tie-break, so ulp noise cannot flip an argmin.

    Shape: the seed table is k rows -> broadcast cross join (no keyed
    shuffle of the corpus side; ``spread`` round-robins an input that
    arrives in fewer partitions than cores); assignment is a rowwise
    argmin; the recompute is one (seed, dim)-keyed partial agg whose
    shuffle width is k x dims rows regardless of corpus size.  The full
    training loop (pytest-pinned) re-runs this step on the PREVIOUS
    step's output with lineage truncated per round (see
    ``connected_components`` for why).

    Output: seed_id, dim (1-based), n_members, c (round 4).
    """
    e = spread(embeddings).select("vec_id", _as_double("embedding").alias("v"))
    seeds = (
        e.orderBy("vec_id")
        .limit(k)
        .select(F.col("vec_id").alias("seed_id"), F.col("v").alias("c"))
    )
    d2 = round4(
        _dot(F.col("v"), F.col("v"))
        - F.lit(2.0) * _dot(F.col("v"), F.col("c"))
        + _dot(F.col("c"), F.col("c"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("d2").asc(), F.col("seed_id").asc()
    )
    best = (
        e.crossJoin(F.broadcast(seeds))
        .select("vec_id", "v", "seed_id", d2.alias("d2"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    return (
        best.select("seed_id", F.posexplode("v").alias("pos", "x"))
        .groupBy("seed_id", (F.col("pos") + 1).alias("dim"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            round4(F.avg("x")).alias("c"),
        )
        .select("seed_id", "dim", "n_members", "c")
    )


def kmeans_fit(
    embeddings: DataFrame, k: int = KMEANS_K, max_iters: int = 30
) -> DataFrame:
    """Lloyd's k-means to convergence — the IVF coarse-quantizer trainer
    (``ivf_index`` consumes these centroids; ``kmeans_step`` is one round
    of this loop and carries the cross-engine oracle).

    Per round: broadcast the k centroids, rowwise argmin assignment, one
    (seed, dim)-keyed partial agg to recompute means, and ONE scalar
    (total within-cluster distance, non-increasing under Lloyd) read by
    the driver to detect the fixpoint.  Iterates are lineage-truncated
    (lazy localCheckpoint) so Catalyst replans a constant-size plan per
    round instead of the whole unrolled loop — same reasoning as
    ``connected_components``.

    Not oracle-registered: a fixpoint loop isn't single-statement SQL;
    the per-round math is exactly ``kmeans_step``'s, which is.

    Returns: seed_id, n_members, c (array<double> centroid).
    """
    e = (
        embeddings.select("vec_id", _as_double("embedding").alias("v"))
        .localCheckpoint(eager=False)
    )
    cent = (
        e.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.lit(1).cast("long").alias("n_members"),
            F.col("v").alias("c"),
        )
        .localCheckpoint(eager=False)
    )
    prev_chk = None
    for _ in range(max_iters):
        d2 = round4(
            _dot(F.col("v"), F.col("v"))
            - F.lit(2.0) * _dot(F.col("v"), F.col("c"))
            + _dot(F.col("c"), F.col("c"))
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("d2").asc(), F.col("seed_id").asc()
        )
        best = (
            e.crossJoin(F.broadcast(cent.select("seed_id", "c")))
            .select("vec_id", "v", "seed_id", d2.alias("d2"))
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .localCheckpoint(eager=False)
        )
        # Exact integer assignment signature: order-independent, so it is
        # stable across shuffle orders where a float inertia sum is not.
        # Unchanged signature == unchanged assignment == `cent` (computed
        # FROM that assignment last round) is already the fixpoint, with
        # its member counts consistent — so break before recomputing.
        # bit_xor of per-row xxhash64(vec_id, seed_id) replaced the earlier
        # sum(vec_id*seed_id): the sum admits trade collisions (two
        # DIFFERENT assignments sharing a total, e.g. {1->4,3->2} vs
        # {1->2,3->4}), which could break the loop one round early with no
        # signal; the xor-of-hashes form is order-independent AND
        # collision-resistant per assignment pair.
        chk = best.agg(
            F.bit_xor(F.xxhash64(F.col("vec_id"), F.col("seed_id")))
        ).collect()[0][0]
        if chk == prev_chk:
            break
        prev_chk = chk
        cent = (
            best.select("seed_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("seed_id", "pos")
            .agg(F.count(F.lit(1)).alias("_n"), F.avg("x").alias("_cx"))
            .groupBy("seed_id")
            .agg(
                F.max("_n").alias("n_members"),
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("_cx")))
                    ),
                    lambda s: s["_cx"],
                ).alias("c"),
            )
            .localCheckpoint(eager=False)
        )
    return cent.select("seed_id", "n_members", "c")


PQ_M = 8
PQ_K = 16


def _pq_sub_expr(m: int) -> str:
    """The ONE definition of PQ's subvector slicing (subspace column
    ``m`` must be in scope): codes are only meaningful against LUTs
    built from the identical slice, so encode and ADC search both call
    this instead of carrying private copies that could drift."""
    return f"slice(v, m * (size(v) div {m}) + 1, size(v) div {m})"


def _pq_subvectors(e: DataFrame, m: int) -> DataFrame:
    """(vec_id, m, s): every vector split into its ``m`` subvectors."""
    return e.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m"),
        F.col("v"),
    ).select("vec_id", "m", F.expr(_pq_sub_expr(m)).alias("s"))


def _pq_codebook(e: DataFrame, m: int, k: int) -> DataFrame:
    """(code, m, c): the deterministic codebook — the first ``k``
    vectors' subvectors (a production codebook comes from kmeans_fit per
    subspace; same shape)."""
    return (
        e.orderBy("vec_id")
        .limit(k)
        .select(
            F.col("vec_id").alias("code"),
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("m"),
            F.col("v"),
        )
        .select("code", "m", F.expr(_pq_sub_expr(m)).alias("c"))
    )


def pq_codebook(
    embeddings: DataFrame, m: int = PQ_M, k: int = PQ_K
) -> DataFrame:
    """Public build entry for the (code, m, c) codebook —
    :func:`_pq_codebook` over the cast projection; the registry
    matcache-materializes this with the code table (r13) so ADC
    queries never re-derive either."""
    return _pq_codebook(
        embeddings.select("vec_id", _as_double("embedding").alias("v")), m, k
    )


def pq_encode(
    embeddings: DataFrame, m: int = PQ_M, k: int = PQ_K
) -> DataFrame:
    """Product-quantization encode: split each vector into ``m`` subspaces
    and store, per subspace, the id of the nearest codebook entry — the
    compression layer of IVF-PQ ANN indexes (64 floats -> ``m`` small
    codes; distances are then approximated from tiny per-subspace lookup
    tables).

    The codebook here is the first ``k`` vectors' subvectors (deterministic
    across engines — a production codebook comes from ``kmeans_fit`` run
    per subspace, same assignment shape).  Distances expand to dot
    products on the proven parity path, and the argmin ranks on the
    ROUNDED distance with the code id as tie-break.

    Shape: codebook is m x k tiny rows -> broadcast; the corpus side is
    one rowwise explode to (vec, subspace) and a per-(vec, subspace)
    argmin — no keyed corpus shuffle until a consumer aggregates
    (``spread`` round-robins an input that arrives in fewer partitions
    than cores).

    Output: vec_id, m (0-based subspace), code (codebook row id),
    d2 (round-4 subspace reconstruction error).
    """
    e = spread(embeddings).select("vec_id", _as_double("embedding").alias("v"))
    sub = _pq_subvectors(e, m)
    codebook = _pq_codebook(e, m, k)
    d2 = round4(
        _dot(F.col("s"), F.col("s"))
        - F.lit(2.0) * _dot(F.col("s"), F.col("c"))
        + _dot(F.col("c"), F.col("c"))
    )
    w = Window.partitionBy("vec_id", "m").orderBy(
        F.col("d2").asc(), F.col("code").asc()
    )
    return (
        sub.join(F.broadcast(codebook), "m")
        .select("vec_id", "m", "code", d2.alias("d2"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "m", "code", "d2")
    )


# Random-projection SimHash ---------------------------------------------------

RP_BITS = 16
RP_DIMS = 64


def rp_weights(bits: int = RP_BITS, dims: int = RP_DIMS) -> list[list[int]]:
    """Deterministic +-1 projection matrix seeded from md5(bit_dim) — the
    engine and the SQL-oracle generator bake the SAME constants, so both
    engines compute identical signatures (a true random matrix would need
    out-of-band state)."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{b}_{d}".encode()).hexdigest()[0], 16) < 8
            else -1
            for d in range(dims)
        ]
        for b in range(bits)
    ]


def rp_simhash_stats(emb: DataFrame, bits: int = RP_BITS) -> DataFrame:
    """SimHash signatures for embeddings via random projection: bit b is
    the sign of the +-1-weighted sum over dimensions; vectors with small
    angles collide in most bits (the hyperplane-LSH property), making the
    signature a Hamming-space key for near-dup blocking — a finer
    alternative to the raw leading-sign buckets of :func:`ann_topk_lsh`.

    Exactness: dimensions are quantized to integer micro-units first
    (JVM-side, the engine-portable `round(x * 1e6)` expression shared
    with the oracle), so each bit's weighted sum is pure int64
    arithmetic with no float summation order anywhere — the Arrow
    kernel's `q @ W.T` is the identical integer sum.

    r13 shape note: the projection was previously one generated
    16x64-term Catalyst expression.  Correct, but the 1024-term
    codegen unit cost ~5 s of janino compilation on first use and
    still lost steady-state to one BLAS int64 matmul (same-session
    A/B at sf1: first call 6.97 vs 2.68 s, steady min 1.54 vs
    1.14 s; outputs bit-identical).  This is the vectorized-Pandas
    exception the extension-point policy carves out — a dense
    matrix product, not row-at-a-time Python.

    Columns: signature, n_vecs, n_labels, min_vec_id.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    q = F.expr(
        "transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))"
    )
    df = emb.select("vec_id", "label", q.alias("q"))
    W = np.array(rp_weights(bits), dtype=np.int64)
    pows = np.int64(1) << np.arange(bits, dtype=np.int64)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("label", T.LongType()),
            T.StructField("signature", T.LongType()),
        ]
    )

    def kernel(batches):
        # ADVICE r13: np.stack on a null / ragged embedding column
        # would crash with an opaque numpy error (the old Catalyst
        # expression silently degraded instead).  Assert the contract
        # per batch so a data-quality regression fails loudly with the
        # offending vec_ids, identically at every scale.
        dim = W.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            bad = pdf["vec_id"][
                [v is None or len(v) != dim for v in pdf["q"]]
            ]
            if len(bad):
                raise ValueError(
                    "rp_simhash: embedding must be a non-null "
                    f"array of {dim} floats; offending vec_ids "
                    f"(first 5): {list(bad[:5])}"
                )
            m = np.stack(
                [np.asarray(v, dtype=np.int64) for v in pdf["q"]]
            )
            sig = (((m @ W.T) >= 0) * pows).sum(axis=1).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "signature": sig,
                }
            )

    return (
        df.mapInPandas(kernel, schema)
        .groupBy("signature")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.countDistinct("label").alias("n_labels"),
            F.min("vec_id").alias("min_vec_id"),
        )
    )


SEMDEDUP_THRESHOLD = 0.4


def semantic_dedup(
    embeddings: DataFrame,
    centroids: DataFrame | None = None,
    assign: DataFrame | None = None,
    threshold: float = SEMDEDUP_THRESHOLD,
    policy: str = "min_id",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): coarse-cluster the
    embedding space, then drop near-identical members WITHIN each cell —
    semantic near-duplicate pruning whose candidate space is bounded by
    the cell partition, never all-pairs.

    Keep policy (deterministic, oracle-reproducible): a vector is dropped
    iff some SAME-CELL vector of HIGHER PRIORITY has cosine >=
    ``threshold``, where priority is

    - ``policy="min_id"``: lower vec_id wins — the engine-portable
      analog of the ``canonical_doc_id = min(doc_id)`` policy the
      exact-dedup chain uses;
    - ``policy="diverse"``: the paper's actual rule — the member LESS
      similar to its cell centroid wins (keeps the outlier of each
      near-dup group, maximizing retained diversity); centroid cosines
      are rounded to 6 decimals (the same quantization the IVF argmax
      uses) with vec_id tie-break, so the priority order is total and
      engine-portable.

    Pair cosines are rounded to 4 decimals before the threshold test so
    both engines make identical keep decisions.

    Divergence from the paper, named explicitly: this drop rule is
    NON-SEQUENTIAL — a vector that is itself dropped still drops
    lower-priority members (the existential test above ignores the
    dropper's own fate), whereas SemDeDup's sequential greedy would
    re-admit a vector whose only near-dups were already removed.  On
    transitive near-dup chains (a~b~c, a!~c) this keeps STRICTLY FEWER
    vectors than the paper's rule (chain keeps {a} here, {a, c} in the
    paper).  Deliberate: the existential form is a self-join/one-pass
    triangle instead of an inherently sequential scan, it is
    fixture-pinned (tests/test_pipeline_sampling.py chain fixture), and
    both engines implement it identically — but do not assume
    paper-exact retention counts.

    Output: vec_id, cell, keep (bool) — exactly one row per vector.

    Scale (100 TB): cell assignment is the IVF ingest index (broadcast
    centroids, built once, reused here verbatim via the ``centroids`` /
    ``assign`` parameters); the candidate join is an equi-join on cell,
    so work is sum(c_i^2) over cell sizes, not n^2 — cap the max cell by
    raising k at quantizer-training time (the paper uses k ~ sqrt(n)).
    The diverse policy adds one broadcast join against the KB-scale
    centroid table (priority is a rowwise projection, no extra shuffle).
    The dropped-id set stays distributed end to end (left anti-style
    join, no driver collect).
    """
    from zipkin_storage_kafka_spark.functions.portable import round6

    if policy not in ("min_id", "diverse"):
        raise ValueError(f"unknown policy {policy!r}")
    if centroids is None:
        centroids = ivf_centroids(embeddings)
    if assign is None:
        assign = ivf_assignments(embeddings, centroids)
    # Per-vector norm BEFORE the pair join: each sqrt(dot(v,v)) is computed
    # n times instead of 2*(pairs) times, cutting the per-pair expression
    # from three dot products to one.  sqrt(aa)*sqrt(bb) is the exact same
    # float arithmetic as inline, so round4 decisions match the oracle
    # bit-for-bit.  The cast/fold projection sits ABOVE the assign join
    # (not below it), so a subset-restricting ``assign`` — the budgeted
    # fold audit hands in ~isqrt(2*budget) members per cell — pays the
    # interpreted O(d) folds only for the rows it keeps, never the full
    # corpus (r13; identical expressions, identical values).
    e = (
        embeddings.select("vec_id", "embedding")
        .join(assign.withColumnRenamed("label", "cell"), "vec_id")
        .withColumn("emb", _as_double("embedding"))
        .withColumn("nrm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))
        .drop("embedding")
    )
    if policy == "diverse":
        if "__ivf_s" in assign.columns:
            # The index build already computed the winning round6
            # centroid cosine (ivf_assignments with_score=True) with the
            # IDENTICAL expression — read it instead of re-deriving two
            # interpreted O(d) folds per row.  Gated on the dedicated
            # dunder column so an unrelated caller column can't be
            # mistaken for the priority.
            e = e.withColumnRenamed("__ivf_s", "cs")
        else:
            cent = F.broadcast(
                centroids.select(
                    F.col("label").alias("cell"),
                    F.col("centroid").alias("cvec"),
                    F.sqrt(_dot(F.col("centroid"), F.col("centroid"))).alias(
                        "cnrm"
                    ),
                )
            )
            e = e.join(cent, "cell").withColumn(
                "cs",
                round6(
                    _dot(F.col("emb"), F.col("cvec"))
                    / (F.col("nrm") * F.col("cnrm"))
                ),
            ).drop("cvec", "cnrm")
    elif "__ivf_s" in assign.columns:
        e = e.drop("__ivf_s")
    a, b = e.alias("a"), e.alias("b")
    if policy == "diverse":
        # a outranks b iff a is FARTHER from the centroid (smaller cosine),
        # vec_id breaking ties — a total order, so exactly one survivor
        # per mutually-similar clique.
        outranks = (F.col("a.cs") < F.col("b.cs")) | (
            (F.col("a.cs") == F.col("b.cs"))
            & (F.col("a.vec_id") < F.col("b.vec_id"))
        )
    else:
        outranks = F.col("a.vec_id") < F.col("b.vec_id")
    cos = _dot(F.col("a.emb"), F.col("b.emb")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    dropped = (
        a.join(b, (F.col("a.cell") == F.col("b.cell")) & outranks)
        .filter(round4(cos) >= F.lit(threshold))
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
    )
    return e.join(
        dropped.withColumn("_dup", F.lit(1)), "vec_id", "left"
    ).select("vec_id", "cell", F.col("_dup").isNull().alias("keep"))


IVF_NLISTS = (2, 5, 10)


def ivf_nlist_assignments(
    embeddings: DataFrame, nlists: tuple[int, ...] = IVF_NLISTS
) -> DataFrame:
    """The (vec_id, nlist, cell) assignment index for EVERY nlist
    setting in one relation — the index-build half of
    :func:`ivf_nlist_recall`, extracted (r15) so the registry can
    materialize it once per corpus snapshot like :func:`ivf_assignments`
    (index builds are ingest-time work; the sweep row then serves from
    a 3-int-column parquet scan).

    ONE corpus scan builds every nlist's centroids: the posexplode agg
    collapses to label-level partial sums first (|labels| x d rows —
    bounded, KB-scale), and each nlist's cell means are the weighted
    combine of those label sums (label % nlist merges whole labels, so
    cell mean = sum of member label sums / sum of member counts —
    exactly the merged-group mean up to float summation order, which
    the round6 score grid already absorbs across engines).
    """
    from pyspark.sql import Window

    from zipkin_storage_kafka_spark.functions.portable import round6

    e = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    lab_sums = (
        embeddings.select(
            "label", F.posexplode(_as_double("embedding")).alias("pos", "x")
        )
        .groupBy("label", "pos")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    cents = (
        lab_sums.select(
            "*",
            F.explode(
                F.array(*[F.lit(int(nl)) for nl in nlists])
            ).alias("nlist"),
        )
        .withColumn("cell", F.col("label") % F.col("nlist"))
        .groupBy("nlist", "cell", "pos")
        .agg((F.sum("s") / F.sum("n")).alias("c"))
        .groupBy("nlist", "cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("centroid")
        )
        .select("nlist", "cell", "centroid")
    )
    sim = _dot(F.col("emb"), F.col("centroid")) / (
        F.sqrt(_dot(F.col("emb"), F.col("emb")))
        * F.sqrt(_dot(F.col("centroid"), F.col("centroid")))
    )
    scores = e.crossJoin(F.broadcast(cents)).select(
        "vec_id", "nlist", "cell", round6(sim).alias("s")
    )
    wv = Window.partitionBy("vec_id", "nlist").orderBy(
        F.col("s").desc(), F.col("cell")
    )
    return (
        scores.withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select("vec_id", "nlist", "cell")
    )


def ivf_nlist_recall(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    nlists: tuple[int, ...] = IVF_NLISTS,
    exact: DataFrame | None = None,
    truncate: bool = True,
    assign: DataFrame | None = None,
    scores: DataFrame | None = None,
) -> DataFrame:
    """The OTHER IVF tuning knob: recall@k AND probe cost as a function
    of quantizer coarseness (nlist = number of cells), at nprobe=1 —
    the cost/recall frontier a deployment reads before fixing its cell
    count (coarser cells -> each probe scans more of the corpus ->
    higher recall at higher cost; ``ivf_nprobe_recall`` sweeps the
    query-side knob, this sweeps the index-build side).

    Deterministic re-clustering: the nlist-cell quantizer merges the
    seed labels by ``label % nlist`` and recomputes centroids as the
    merged-group means — engine-reproducible (no k-means random
    restarts), monotone in coverage by construction.  ``probed_rows``
    reports the scanned candidate count (query excluded) so the row
    shows BOTH axes of the trade.

    Columns: nlist, k, n_hits, recall (round4), probed_rows.  NOTE:
    recall divides by the requested k and therefore assumes
    |corpus| > k (true at every registry/bench scale); on a fixture
    with fewer than k other vectors it reads below 1.0 even for a
    perfect probe, because the exact baseline itself has < k rows.

    Scale (100 TB): all nlist settings share the scans — ONE corpus x
    (sum nlists = 17 tagged centroids) broadcast score pass feeds every
    assignment via a (vec, nlist)-keyed argmax window; the probe rows
    (one per setting) broadcast-semi-join the assignment; vectors move
    once through the tagged candidate union, per-setting top-k is a
    rank-filtered window (WindowGroupLimit, <= |nlists|*k rows
    shuffled).  Centroid recomputation per setting is the posexplode
    partial-agg (KB output), ingest-time work in deployment.

    ``assign`` optionally supplies a prebuilt (vec_id, nlist, cell)
    index (:func:`ivf_nlist_assignments`, materialized once per corpus
    snapshot — r15) and ``scores`` the eval query's per-vector
    (vec_id, cos) relation (:func:`cosine_scores` output): with both,
    the serve plan never touches the embedding payload — every input
    is a narrow int/double relation.  Identical values by construction.
    """
    from pyspark.sql import Window

    # ``exact`` lets callers supply the shared materialized ground-truth
    # relation (one brute-force pass serves the whole recall family)
    if exact is None:
        exact = cosine_topk(embeddings, query_vec_id, k)
    exact = exact.select("vec_id")
    if assign is None:
        assign = ivf_nlist_assignments(embeddings, nlists)
        # The assignment index is consumed THREE times below (probe rows,
        # candidate semi-join, probed-row counts) — without truncation
        # each consumer re-evaluates the whole corpus x centroid scoring
        # pass + argmax window (11 parquet scans of the corpus in the r14
        # before plan, guide section 2.4 "remove shuffles outright"/3.3
        # duplicated subtrees).  The relation is 3 ints per
        # (vector, nlist) — ~1% of corpus bytes — so the established
        # KB-scale localCheckpoint contract (SCALE.md r11) applies at
        # every scale.  (A materialized ``assign`` needs none of this:
        # each consumer is a pushdown-filtered parquet scan.)
        if truncate:
            assign = assign.localCheckpoint(eager=False)
    probe = assign.filter(F.col("vec_id") == query_vec_id).select(
        "nlist", "cell"
    )
    # cands feeds both the probed-row count and the vector join; same
    # truncation argument (narrow (vec_id, nlist) rows).
    cands = assign.join(
        F.broadcast(probe), ["nlist", "cell"], "left_semi"
    ).filter(F.col("vec_id") != query_vec_id)
    if truncate:
        cands = cands.localCheckpoint(eager=False)
    probed = cands.groupBy("nlist").agg(
        F.count(F.lit(1)).alias("probed_rows")
    )
    if scores is not None:
        scored = cands.select("vec_id", "nlist").join(
            scores, "vec_id"
        ).select("vec_id", "nlist", "cos")
    else:
        q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
            _as_double("embedding").alias("q_emb")
        )
        ec = embeddings.join(
            cands.select("vec_id", "nlist"), "vec_id"
        ).select("vec_id", "nlist", _as_double("embedding").alias("emb"))
        cos = _dot(F.col("emb"), F.col("q_emb")) / (
            F.sqrt(_dot(F.col("emb"), F.col("emb")))
            * F.sqrt(_dot(F.col("q_emb"), F.col("q_emb")))
        )
        scored = ec.crossJoin(F.broadcast(q)).select(
            "vec_id", "nlist", round4(cos).alias("cos")
        )
    wt = Window.partitionBy("nlist").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    topk = (
        scored.withColumn("rk", F.row_number().over(wt))
        .filter(F.col("rk") <= k)
        .select("nlist", "vec_id")
    )
    hits = (
        topk.join(exact, "vec_id", "left_semi")
        .groupBy("nlist")
        .agg(F.count(F.lit(1)).alias("_h"))
    )
    anchor = embeddings.sparkSession.createDataFrame(
        [(int(nl),) for nl in nlists], "nlist int"
    )
    return (
        anchor.join(hits, "nlist", "left")
        .join(probed, "nlist", "left")
        .select(
            "nlist",
            F.lit(int(k)).cast("int").alias("k"),
            F.coalesce(F.col("_h"), F.lit(0)).cast("long").alias("n_hits"),
            round4(
                F.coalesce(F.col("_h"), F.lit(0)) / F.lit(float(k))
            ).alias("recall"),
            F.coalesce(F.col("probed_rows"), F.lit(0))
            .cast("long")
            .alias("probed_rows"),
        )
        .orderBy("nlist")
    )


PCA_POWER_ITERATIONS = 3


def _round6_py(v: float) -> float:
    """Python twin of functions.portable.round6 (round half away from
    zero at 6 decimals, -0.0 canonicalized) — used on the driver-side
    power-iteration vector so the intermediate both engines iterate
    from is the identical 6-decimal grid point."""
    import math

    if v >= 0:
        return math.floor(v * 1_000_000.0 + 0.5) / 1_000_000.0 + 0.0
    return -(math.floor(-v * 1_000_000.0 + 0.5) / 1_000_000.0) + 0.0


def pca_power(
    embeddings: DataFrame, iterations: int = PCA_POWER_ITERATIONS
) -> DataFrame:
    """Top principal component by MATRIX-FREE power iteration: iterate
    x <- C x / ||C x|| against the mean-centered covariance WITHOUT
    ever materializing C, using C x = E[v (v.x)] - mu (mu.x) — two
    moments the corpus computes in ONE scan per iteration.  The
    whitening/projection step downstream embedding pipelines run after
    :func:`covariance_matrix` (which materializes the d^2 matrix for a
    driver-side eigensolve); this flavor is the one that survives when
    d is large enough that d^2 upper-triangle aggregation is the wrong
    plan (d=4096: 8M agg cells vs d per-iteration sums here).

    Engine-exact iteration discipline: the vector is re-synchronized to
    the 6-decimal grid (portable round6) after every normalize, so both
    engines iterate from IDENTICAL intermediates and per-engine float
    summation noise (~1e-13) cannot compound across iterations; x0 is
    the exact binary 1/sqrt(d) for d a power of four (0.125 for d=64).
    The output projects to round4 like every float boundary.

    Plan shape (100 TB): per iteration, one corpus scan — a rowwise
    dot y = v.x against the BROADCAST-LITERAL vector (64-term codegen
    expression, no shuffle), then d partial-agg sums sum(v[i]*y) to ONE
    row; the d-element vector state lives on the driver between
    iterations (the k-means-seed convention — parameter-scale, never
    data-scale).  Driver cost is O(d) python per iteration.

    Output: i (1..d), pc (round4 component), lambda_hat (round4
    Rayleigh estimate ||C x|| of the final sweep — the same value on
    every row, kept per-row so the relation is self-contained).
    """
    import math

    e = embeddings.select(_as_double("embedding").alias("emb"))
    d = int(e.select(F.size("emb").alias("d")).head()["d"])
    n = e.count()
    # Shallow expression trees throughout: the dot against the literal
    # vector is the shared `_dot` fold (sequential accumulate — the FP
    # order list_dot_product pins), and the d per-dimension sums come
    # from ONE posexplode + 64-key partial agg instead of d aggregate
    # columns (d-wide agg projections made Catalyst analysis, not
    # execution, the dominant cost: 18 s -> ~2 s at sf0.1).
    mu_rows = (
        e.select(F.posexplode("emb").alias("i", "vi"))
        .groupBy("i")
        .agg(F.avg("vi").alias("m"))
        .collect()
    )
    mu = [0.0] * d
    for r in mu_rows:
        mu[r["i"]] = float(r["m"])
    x = [_round6_py(1.0 / math.sqrt(d))] * d
    lam = 0.0
    for _ in range(iterations):
        mx = 0.0
        for i in range(d):
            mx += mu[i] * x[i]
        xarr = F.array(*[F.lit(float(xi)) for xi in x])
        s_rows = (
            e.select(
                _dot(F.col("emb"), xarr).alias("y"),
                F.posexplode("emb").alias("i", "vi"),
            )
            .groupBy("i")
            .agg(F.sum(F.col("vi") * F.col("y")).alias("sv"))
            .collect()
        )
        sv = [0.0] * d
        for r in s_rows:
            sv[r["i"]] = float(r["sv"])
        z = [sv[i] / n - mu[i] * mx for i in range(d)]
        ss = 0.0
        for zi in z:
            ss += zi * zi
        lam = math.sqrt(ss)
        x = [_round6_py(zi / lam) for zi in z]
    lam4 = math.floor(lam * 10_000.0 + 0.5) / 10_000.0 + 0.0  # lam >= 0
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(i + 1, x[i], lam4) for i in range(d)],
        "i int, pc double, lambda_hat double",
    ).select("i", round4(F.col("pc")).alias("pc"), "lambda_hat")


def pca_explained(
    embeddings: DataFrame,
    iterations: int = PCA_POWER_ITERATIONS,
    component: DataFrame | None = None,
) -> DataFrame:
    """Variance explained by the top principal component: lambda_hat
    from :func:`pca_power`'s final sweep over the TOTAL variance
    trace(C) = E[||v||^2] - ||mu||^2 — the one-number answer to "is
    this embedding space dominated by a single direction?" that decides
    whether whitening (removing PC1) is worth a re-embed pass.  A
    near-1 ratio usually means an uncentered artifact direction (the
    'anisotropy' problem sentence-embedding papers whiten away).

    Columns: one row — lambda_hat (round4), total_var (round4),
    explained_micro (exact integer micro-units of the double ratio, so
    the headline number never hash-flips on a ulp).

    Scale: the power sweeps (one scan each) + ONE extra scan (one
    scheduled job, r14) for all total-variance moments; everything else
    is driver floats.  RAGGED embeddings fail loudly (per-dim count
    mismatch); NULL embedding arrays are dropped by the posexplode and
    therefore silently EXCLUDED from the moment denominator ``n`` (they
    do not raise — same exclusion the rest of the moment family
    applies).  Pass
    ``component`` (a :func:`pca_power` result relation — e.g. the
    matcache-materialized one the registry shares between the pca_power
    and pca_explained rows) to skip re-running the sweeps entirely:
    lambda_hat is read off the precomputed relation and only the
    two-moment trace scan runs.
    """
    import math

    if component is None:
        component = pca_power(embeddings, iterations)
    lam = component.select("lambda_hat").head()["lambda_hat"]
    e = embeddings.select(_as_double("embedding").alias("emb"))
    # ONE scan / ONE scheduled job for all three trace moments (r14: the
    # old shape ran count(), the per-dim sums, and the squared-norm agg
    # as three separate driver actions — ~0.3 s of scheduling floor
    # each for a KB-sized reduction).  Per-dim count doubles as the
    # ragged-input guard: every dimension must see every vector.
    mom = (
        e.select(F.posexplode("emb").alias("i", "vi"))
        .groupBy("i")
        .agg(
            F.sum("vi").alias("sv"),
            F.sum(F.col("vi") * F.col("vi")).alias("ss"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    )
    counts = {r["cnt"] for r in mom}
    if len(counts) > 1:
        raise ValueError(
            "pca_explained: ragged embedding dimensions "
            f"(per-dim counts {sorted(counts)})"
        )
    n = counts.pop() if counts else 0
    sq_total = float(sum(float(r["ss"]) for r in sorted(mom, key=lambda r: r["i"])))
    mu_norm2 = 0.0
    for r in sorted(mom, key=lambda r: r["i"]):
        m = float(r["sv"]) / n
        mu_norm2 += m * m
    total_var = sq_total / n - mu_norm2
    tv4 = math.floor(total_var * 10_000.0 + 0.5) / 10_000.0 + 0.0
    explained_micro = int(lam * 1_000_000.0 // tv4) if tv4 > 0 else 0
    spark = embeddings.sparkSession
    return spark.createDataFrame(
        [(lam, tv4, explained_micro)],
        "lambda_hat double, total_var double, explained_micro bigint",
    )


SEMDEDUP_AUDIT_PAIR_BUDGET = 50_000


def semantic_audit_members(
    assign: DataFrame,
    pair_budget: int = SEMDEDUP_AUDIT_PAIR_BUDGET,
    member_cap: int | None = None,
) -> DataFrame:
    """Deterministic audit-universe selection for the pair-budgeted
    SemDeDup fold audit, budget-true at ANY cell size.  Two caps
    compose:

    1. **Within-cell member cap**: each cell keeps at most
       m = isqrt(2 * pair_budget) members, the first m in
       (md5(vec_id), vec_id) order — so one giant cell can never
       exceed the budget on its own (the r08 lesson: at sf1 the
       SMALLEST cell alone held 1.3M pairs and an
       always-include-smallest rule let 17 s of fold through the
       "budget").  The rank filter compiles to WindowGroupLimit
       (per-partition partial top-m, no full per-cell sort).
    2. **Cell walk**: cells in increasing (capped size, label) order
       are selected while the EXCLUSIVE prefix of capped pair counts
       ``c*(c-1)/2`` is under ``pair_budget``; the smallest cell is
       always selected, so the audit never comes back empty.

    Total audited pair mass is bounded by ~2x the budget regardless of
    corpus size — the property that makes a per-corpus kernel audit
    affordable at 100 TB, where auditing EVERY cell costs sum(c_i^2).

    Fidelity: SemDeDup keep decisions are CELL-LOCAL, so whenever a
    selected cell is smaller than m (every test/driver scale), the
    audit reproduces the full run's per-vector results on that cell
    exactly; on capped cells the fold and the oracle both rank the
    identical md5-ordered sub-universe, so the cross-engine check is
    undiluted — what shrinks is coverage, never the comparison.

    Engine-exact: integer arithmetic, md5 ordering, total orders with
    vec_id tie-breaks, EXCLUSIVE prefix compare — any engine selects
    the identical member set.

    Plan shape (100 TB): the member cap is a WindowGroupLimit over the
    cell partitioning; the cell-size relation is k ~ sqrt(n) rows and
    its exclusive prefix sum runs two-level — bucket = decimal digit
    count of the capped cell size (a prefix of the numeric order),
    per-bucket totals broadcast as offsets, within-bucket running
    window — so there is no single-partition WindowExec even at
    millions of cells.

    Input: ``assign`` (vec_id, label).  Output: (vec_id, label) — the
    audited members.
    """
    import math

    m = member_cap if member_cap is not None else math.isqrt(
        2 * int(pair_budget)
    )
    wm = Window.partitionBy("label").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    members = (
        assign.withColumn("_rk", F.row_number().over(wm))
        .filter(F.col("_rk") <= m)
        .select("vec_id", "label")
    )
    sizes = members.groupBy(F.col("label").alias("cell")).agg(
        F.count(F.lit(1)).alias("c")
    )
    sized = sizes.withColumn(
        "pairs", F.expr("c * (c - 1) div 2").cast("long")
    ).withColumn("bkt", F.length(F.col("c").cast("string")))
    per_bucket = sized.groupBy("bkt").agg(F.sum("pairs").alias("bsum"))
    b2 = per_bucket.select(
        F.col("bkt").alias("_b2"), F.col("bsum").alias("_s2")
    )
    offsets = (
        per_bucket.join(b2, F.col("_b2") < F.col("bkt"), "left")
        .groupBy(F.col("bkt").alias("_bkt"))
        .agg(F.coalesce(F.sum("_s2"), F.lit(0)).alias("offset"))
    )
    win = (
        Window.partitionBy("bkt")
        .orderBy("c", "cell")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cells = (
        sized.join(F.broadcast(offsets), F.col("bkt") == F.col("_bkt"))
        .withColumn(
            "before", F.col("offset") + F.sum("pairs").over(win) - F.col("pairs")
        )
        .filter(F.col("before") < F.lit(int(pair_budget)))
        .select("cell")
    )
    return members.join(
        F.broadcast(cells),
        members["label"] == cells["cell"],
        "left_semi",
    )


SEMDEDUP_CURVE_THRESHOLDS = (0.3, 0.4, 0.5, 0.6, 0.7)


def semantic_retention_curve(
    embeddings: DataFrame,
    centroids: DataFrame | None = None,
    assign: DataFrame | None = None,
    thresholds: tuple[float, ...] = SEMDEDUP_CURVE_THRESHOLDS,
) -> DataFrame:
    """Retention curve for threshold tuning: how many vectors
    :func:`semantic_dedup` (min-id policy) would KEEP at each candidate
    threshold — the sweep a pipeline owner runs before committing to a
    SemDeDup cutoff, answered in ONE pass instead of len(thresholds)
    dedup runs.

    Key observation: under the min-id policy a vector's fate at EVERY
    threshold is determined by one scalar — the max round4 cosine to any
    lower-id same-cell vector (``mcos``); it is kept at t iff it has no
    partner or ``mcos < t``.  So the pair join runs once, collapses to
    one mcos per vector, and the per-threshold counts are conditional
    aggregates over that n-row frame (a single partial-agg pass, no
    corpus replication per threshold).

    Output: threshold (double), n_kept (long) — len(thresholds) rows.

    Scale (100 TB): identical candidate space to semantic_dedup (the
    per-cell pair mass), computed by the SAME per-cell numpy gram-matrix
    kernel as :func:`semantic_dedup_arrow` — the first sf1 audit of this
    operator ran the per-pair Catalyst lambda fold instead and blew the
    10x scaling gate (18.5x at 10x data: pair mass grows with cell
    density squared, and ~1 µs/pair interpreted folds lose to BLAS by
    ~1000x); mcos per vector falls out of one masked column-max over the
    cell's gram triangle.  The curve then adds only a 1-row conditional
    aggregate.  Adding thresholds is free (more columns in one agg row,
    not more passes).
    """
    import pandas as pd

    if centroids is None:
        centroids = ivf_centroids(embeddings)
    if assign is None:
        assign = ivf_assignments(embeddings, centroids)
    e = embeddings.select("vec_id", "embedding").join(
        assign.withColumnRenamed("label", "cell"), "vec_id"
    )

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )
        nrm = np.sqrt((m * m).sum(axis=1))
        gram = _round4_np((m @ m.T) / np.outer(nrm, nrm))
        n = len(pdf)
        # mcos_i = max over j < i of gram[j, i] (lower-id partners only)
        lower = np.tri(n, dtype=bool, k=-1).T  # True at [j, i] for j < i
        masked = np.where(lower, gram, -np.inf)
        mcos = masked.max(axis=0)
        # no-lower-id-partner marker must be an UNAMBIGUOUS null: pandas
        # nullable Float64 arrives in Spark as NULL, whereas a raw np.nan
        # that survived to Spark would sort GREATER than every threshold
        # (NaN > x) and count the vector as dropped at every t
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "mcos": pd.array(
                    [
                        float(v) if np.isfinite(v) else None
                        for v in mcos
                    ],
                    dtype="Float64",
                ),
            }
        )

    per_vec = e.groupBy("cell").applyInPandas(
        cell, "vec_id long, mcos double"
    )
    counts = per_vec.agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(
                (F.col("mcos") >= F.lit(float(t))).cast("long")
            ).alias(f"_d{i}")
            for i, t in enumerate(thresholds)
        ],
    )
    curve = F.array(
        *[
            F.struct(
                F.lit(float(t)).alias("threshold"),
                (F.col("_n") - F.coalesce(F.col(f"_d{i}"), F.lit(0))).alias(
                    "n_kept"
                ),
            )
            for i, t in enumerate(thresholds)
        ]
    )
    return counts.select(F.explode(curve).alias("c")).select(
        "c.threshold", "c.n_kept"
    )


def pq_adc_topk(
    embeddings: DataFrame,
    query_vec_id: int,
    k_results: int = 10,
    m: int = PQ_M,
    k: int = PQ_K,
    candidates: DataFrame | None = None,
    codes: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ-compressed corpus —
    the search half of an IVF-PQ index (:func:`pq_encode` is the build
    half): the query stays full-precision, every corpus vector is
    represented only by its ``m`` codes, and distance is approximated as
    the sum of ``m`` lookup-table entries (Jegou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011).

    The LUT is the m x k table of exact squared L2 distances between the
    query's subvectors and the codebook entries; the per-vector ADC
    distance sums one LUT entry per subspace and rounds to 4 decimals at
    the output boundary only (8 same-magnitude double adds are ~1e-15
    relative error, far inside the round4 tolerance).  Codes come from
    :func:`pq_encode`'s rounded argmin, so both engines assign identical
    codes.

    Output: vec_id, adc_d2 — up to ``k_results`` rows ordered
    (adc_d2, vec_id); the query vector itself is excluded, matching
    :func:`cosine_topk`, so ANN rows compose (recall comparisons would
    otherwise always burn one slot on the query's self-distance).

    Scale (100 TB): the LUT is m*k rows built from ONE broadcast-able
    query row and the tiny codebook — broadcast to the code table; the
    corpus side is the (vec_id, m, code) code table (the compressed
    index, ~m bytes/vector), one broadcast equi-join + per-vector sum +
    TakeOrdered heap.  The full-precision corpus is never touched at
    query time — that is the entire point of PQ.  Pass prebuilt
    ``codes`` (:func:`pq_encode` output) and ``codebook``
    (matcache-materialized in the registry, r13) so the encode argmin
    never re-runs per query — without them both are derived live.

    Prebuilt-index contract (ADVICE r13): ``codes`` and ``codebook``
    MUST come from the same :func:`pq_encode` snapshot with the same
    ``(m, k)`` — a stale or mismatched pair returns silently wrong
    distances (the registry guarantees this via one matcache
    fingerprint).  The structural half is cheap to enforce, so it is:
    every vector must match exactly ``m`` ``(m, code)`` LUT entries
    (wrong ``m`` in codes, or a codebook with fewer than ``k``
    centroids, breaks this) — violations ``raise_error`` inside the
    existing per-vector agg, costing one CASE per output row and no
    extra job.  Content staleness (same shape, different snapshot)
    remains the caller's responsibility.
    """
    e = embeddings.select("vec_id", _as_double("embedding").alias("v"))
    qsub = _pq_subvectors(
        e.filter(F.col("vec_id") == query_vec_id), m
    ).select("m", F.col("s").alias("qs"))
    if codebook is None:
        codebook = _pq_codebook(e, m, k)
    lut = qsub.join(codebook, "m").select(
        "m",
        "code",
        (
            _dot(F.col("qs"), F.col("qs"))
            - F.lit(2.0) * _dot(F.col("qs"), F.col("c"))
            + _dot(F.col("c"), F.col("c"))
        ).alias("_d"),
    )
    if codes is None:
        codes = pq_encode(embeddings, m=m, k=k)
    codes = codes.select("vec_id", "m", "code")
    if candidates is not None:
        # IVF-PQ composition: restrict the code-table scan to the probed
        # cells' members BEFORE the LUT join — at scale the cell label is
        # a partition column of the code table, so this is a pruned scan.
        codes = codes.join(candidates.select("vec_id"), "vec_id", "left_semi")
    return (
        codes.join(F.broadcast(lut), ["m", "code"])
        # exclude the query itself, matching cosine_topk — without this
        # one of the k result slots is always the query's own (near-zero)
        # self-distance, which skews any recall comparison built on top
        .filter(F.col("vec_id") != query_vec_id)
        .groupBy("vec_id")
        .agg(
            round4(F.sum("_d")).alias("_adc"),
            F.count(F.lit(1)).alias("_nm"),
        )
        .select(
            "vec_id",
            F.expr(
                f"CASE WHEN _nm = {int(m)} THEN _adc"
                " ELSE CAST(raise_error(concat("
                "'pq_adc_topk: vec_id ', vec_id, ' matched ', _nm,"
                f" ' of {int(m)} subspace codes — prebuilt"
                " codes/codebook inconsistent with (m, k)'))"
                " AS DOUBLE) END"
            ).alias("adc_d2"),
        )
        .orderBy(F.col("adc_d2").asc(), F.col("vec_id").asc())
        .limit(k_results)
    )


def covariance_matrix(
    embeddings: DataFrame, flavor: str = "arrow"
) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding dimensions — the
    input to whitening / PCA (the d x d matrix is KB-sized for any real
    d, so the eigendecomposition itself is legitimately a driver-side
    numpy call on this operator's output; computing the MATRIX is the
    distributed part).

    Output: di, dj (1-based, di <= dj), cov (round4, population).

    Flavors (r14, guide §4.2 — hand whole batches to vectorized native
    code):

    ``flavor="arrow"`` (default, the registry row): per-task partial
    Gram matrices via ONE numpy ``X.T @ X`` per record batch inside
    ``mapInArrow`` — the d*(d+1)/2-per-vector rowwise struct stream
    (2,080 structs/vector at d=64, each through generate + hash-agg
    probe) collapses to a dense BLAS call; each task emits one
    d*(d+1)/2-row partial, so the shuffle carries O(tasks * d^2) rows
    regardless of corpus size.  Mixed-length (ragged) embeddings
    accumulate per length group, reproducing the rowwise flavor's
    per-key counts exactly; null embedding ROWS are skipped (the expr
    flavor's explode likewise yields nothing for them); a null element
    INSIDE a vector raises (fail-loud, ADVICE r13 contract) rather
    than reproducing the expr flavor's silent null-skip arithmetic.
    Same summation class as the expr flavor (doubles, per-partition
    partials merged in plan order), so values agree at round4 — pinned
    by the flavor-equivalence test on the corpus.

    ``flavor="expr"``: the pure-Column rowwise stream (the pre-r14
    derivation, kept as the engine-portable reference shape).

    Scale (100 TB): both flavors partial-aggregate to d*(d+1)/2 keys
    regardless of corpus size; the per-dimension means are a d-row
    broadcast.  Double sums stay far inside the round4 tolerance
    (same argument as :func:`dimension_stats`).
    """
    if flavor == "arrow":
        return _covariance_matrix_arrow(embeddings)
    pairs = embeddings.select(
        F.explode(
            F.expr(
                "flatten(transform(embedding, (xi, i) ->"
                "  transform(slice(embedding, i + 1, size(embedding) - i),"
                "    (xj, j) ->"
                "    struct(i + 1 AS di, i + j + 1 AS dj,"
                "           CAST(xi AS DOUBLE) * CAST(xj AS DOUBLE)"
                "             AS xy))))"
            )
        ).alias("p")
    ).select("p.di", "p.dj", "p.xy")
    sums = pairs.groupBy("di", "dj").agg(
        F.sum("xy").alias("sxy"), F.count(F.lit(1)).alias("n")
    )
    dims = embeddings.select(
        F.posexplode(_as_double("embedding")).alias("pos", "x")
    ).groupBy((F.col("pos") + 1).alias("dim")).agg(F.avg("x").alias("mu"))
    mi = F.broadcast(dims.select(F.col("dim").alias("di"), F.col("mu").alias("_mi")))
    mj = F.broadcast(dims.select(F.col("dim").alias("dj"), F.col("mu").alias("_mj")))
    return (
        sums.join(mi, "di")
        .join(mj, "dj")
        .select(
            F.col("di").cast("int").alias("di"),
            F.col("dj").cast("int").alias("dj"),
            round4(
                F.col("sxy") / F.col("n") - F.col("_mi") * F.col("_mj")
            ).alias("cov"),
        )
    )


def _cov_gram_partials(batches):
    """mapInArrow kernel for :func:`covariance_matrix` — accumulates the
    task's cross-product sums (full Gram, emitted upper-triangle), pair
    counts, per-dim sums and counts, grouped by vector length so ragged
    inputs produce the same per-key counts as the rowwise stream."""
    import numpy as np
    import pyarrow as pa

    G = N = sx = cnt = None
    dmax = 0

    def grow(d):
        nonlocal G, N, sx, cnt, dmax
        if d <= dmax:
            return
        G2 = np.zeros((d, d))
        N2 = np.zeros((d, d), dtype=np.int64)
        sx2 = np.zeros(d)
        cnt2 = np.zeros(d, dtype=np.int64)
        if dmax:
            G2[:dmax, :dmax] = G
            N2[:dmax, :dmax] = N
            sx2[:dmax] = sx
            cnt2[:dmax] = cnt
        G, N, sx, cnt, dmax = G2, N2, sx2, cnt2, d

    for b in batches:
        col = b.column(0)
        if col.null_count:
            col = col.drop_null()
        if len(col) == 0:
            continue
        if col.values.null_count:
            raise ValueError(
                "covariance_matrix arrow kernel: null element inside an "
                "embedding vector — clean the corpus or use flavor='expr'"
            )
        offs = np.asarray(col.offsets)
        vals = np.asarray(col.values).astype(np.float64, copy=False)
        lens = np.diff(offs)
        for d in np.unique(lens):
            if d == 0:
                continue
            d = int(d)
            starts = offs[:-1][lens == d]
            rows = vals[starts[:, None] + np.arange(d)]
            grow(d)
            G[:d, :d] += rows.T @ rows
            m = rows.shape[0]
            N[:d, :d] += m
            sx[:d] += rows.sum(axis=0)
            cnt[:d] += m
    if dmax:
        iu, ju = np.triu_indices(dmax)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array((iu + 1).astype(np.int32)),
                pa.array((ju + 1).astype(np.int32)),
                pa.array(G[iu, ju]),
                pa.array(N[iu, ju]),
            ],
            names=["di", "dj", "s", "n"],
        )
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(np.arange(1, dmax + 1, dtype=np.int32)),
                pa.array(np.zeros(dmax, dtype=np.int32)),
                pa.array(sx),
                pa.array(cnt),
            ],
            names=["di", "dj", "s", "n"],
        )


def _covariance_matrix_arrow(embeddings: DataFrame) -> DataFrame:
    """Arrow flavor of :func:`covariance_matrix`: per-task Gram partials
    (dj=0 sentinel rows carry the per-dim sums), final d^2-key agg.

    The merged partials are a d(d+1)/2 + d row relation (KB-sized for
    any real d), lazily localCheckpoint-ed so the three consumers below
    (pair sums + the two mean broadcasts) read it instead of each
    re-running the corpus-wide Gram kernel — without it the plan holds
    three MapInArrow scans (Catalyst pushes the disjoint dj filters
    below the Exchange, defeating ReuseExchange).  Same non-reliable-
    checkpoint trade-off as SCALE.md "Round 11"; the relation is tiny.
    """
    parts = embeddings.select("embedding").mapInArrow(
        _cov_gram_partials, "di int, dj int, s double, n long"
    )
    agg = (
        parts.groupBy("di", "dj")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .localCheckpoint(eager=False)  # truncate: one Gram scan, not 3
    )
    sums = agg.filter(F.col("dj") > 0).select(
        "di", "dj", F.col("s").alias("sxy"), "n"
    )
    dims = agg.filter(F.col("dj") == 0).select(
        F.col("di").alias("dim"), (F.col("s") / F.col("n")).alias("mu")
    )
    mi = F.broadcast(
        dims.select(F.col("dim").alias("di"), F.col("mu").alias("_mi"))
    )
    mj = F.broadcast(
        dims.select(F.col("dim").alias("dj"), F.col("mu").alias("_mj"))
    )
    return (
        sums.join(mi, "di")
        .join(mj, "dj")
        .select(
            F.col("di").cast("int").alias("di"),
            F.col("dj").cast("int").alias("dj"),
            round4(
                F.col("sxy") / F.col("n") - F.col("_mi") * F.col("_mj")
            ).alias("cov"),
        )
    )


def _round4_np(x):
    """numpy twin of functions.portable.round4 (HALF-UP, away from zero)
    — numpy's own round() is half-even and would flip boundary pairs.

    Residual caveat (deliberate): this rounds the BINARY double directly,
    while Spark's F.round goes through BigDecimal.valueOf (HALF_UP on the
    shortest DECIMAL representation).  A cosine an ulp below a .00005
    boundary can therefore round up here but down in Spark; on such an
    exact-boundary pair semantic_dedup_arrow and semantic_dedup could
    make opposite keep decisions.  Astronomically unlikely on real data
    (needs |cos·1e4 - (k+0.5)| within ~1 ulp), and the equivalence tests
    pin the current corpus; a decimal-string round-trip would close it at
    ~3x the kernel cost if bit-exactness is ever required."""
    import numpy as np

    return np.sign(x) * np.floor(np.abs(x) * 10000.0 + 0.5) / 10000.0


def semantic_dedup_arrow(
    embeddings: DataFrame,
    centroids: DataFrame | None = None,
    assign: DataFrame | None = None,
    threshold: float = SEMDEDUP_THRESHOLD,
    policy: str = "min_id",
) -> DataFrame:
    """Vectorized flavor of :func:`semantic_dedup` (both policies): each
    cell's pairwise cosines computed as ONE numpy gram matrix inside
    ``applyInPandas`` instead of per-pair Catalyst lambda folds.

    Semantics are identical (same cells, same round4 threshold test,
    same priority-ordered drop rule over ALL higher-priority members) —
    pinned by tests/test_pipeline_sampling.py equivalence tests on the
    corpus and the hand fixtures.  Pair cosine is computed in the same
    algebraic form (dot / (|a|·|b|)) with HALF-UP rounding, so the two
    flavors agree to round4 everywhere the inputs do; for
    ``policy="diverse"`` the round6 centroid-cosine PRIORITY is computed
    Spark-side with the identical expression the fold flavor uses — or,
    when ``assign`` carries the index-build score column ``s``
    (:func:`ivf_assignments` ``with_score=True``), BOTH flavors read the
    same persisted value — so priority order cannot diverge between
    flavors at all; only the pair cosine crosses into numpy.  Both
    flavors share SemDeDup's
    non-sequential drop rule (see :func:`semantic_dedup`): a vector
    already dropped still drops lower-priority members, which keeps <=
    the paper's sequential-greedy retention on transitive near-dup
    chains.

    Scale (100 TB): the expression flavor evaluates an O(d) fold per
    candidate pair in interpreted higher-order functions (~1 µs/pair);
    the gram matrix is BLAS at memory bandwidth (~1 ns/multiply) —
    measured 2.6 s -> 0.5 s at sf0.1 (min-id), 2.7 s -> sub-second
    (diverse).  Memory per task is one cell's c x d matrix + c x c gram;
    cap the max cell (raise k) exactly as the pair-join flavor requires
    anyway.  The diverse priority adds one broadcast join against the
    KB-scale centroid table — no extra shuffle; the sort inside the
    kernel is per-cell, already-local.
    """
    import pandas as pd

    from zipkin_storage_kafka_spark.functions.portable import round6

    if policy not in ("min_id", "diverse"):
        raise ValueError(f"unknown policy {policy!r}")
    if centroids is None:
        centroids = ivf_centroids(embeddings)
    if assign is None:
        assign = ivf_assignments(embeddings, centroids)
    e = embeddings.select("vec_id", "embedding").join(
        assign.withColumnRenamed("label", "cell"), "vec_id"
    )
    diverse = policy == "diverse"
    if diverse:
        if "__ivf_s" in assign.columns:
            # Priority precomputed at index build (ivf_assignments
            # with_score=True) by the identical round6 expression — a
            # column read replaces two interpreted O(d) folds per row.
            # Gated on the dedicated dunder column so an unrelated
            # caller column can't be mistaken for the priority.
            e = e.withColumnRenamed("__ivf_s", "cs")
        else:
            cent = F.broadcast(
                centroids.select(
                    F.col("label").alias("cell"),
                    F.col("centroid").alias("cvec"),
                    F.sqrt(_dot(F.col("centroid"), F.col("centroid"))).alias(
                        "cnrm"
                    ),
                )
            )
            emb_d = _as_double("embedding")
            e = (
                e.join(cent, "cell")
                .withColumn(
                    "cs",
                    round6(
                        _dot(emb_d, F.col("cvec"))
                        / (F.sqrt(_dot(emb_d, emb_d)) * F.col("cnrm"))
                    ),
                )
                .drop("cvec", "cnrm")
            )
    elif "__ivf_s" in assign.columns:
        e = e.drop("__ivf_s")

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # Priority order = drop-rule order: a row is dropped iff ANY
        # earlier row in this sort is round4-similar (the triangle test
        # below), so sorting by (cs, vec_id) vs (vec_id,) is the entire
        # policy difference.
        keys = ["cs", "vec_id"] if diverse else ["vec_id"]
        pdf = pdf.sort_values(keys).reset_index(drop=True)
        m = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )
        nrm = np.sqrt((m * m).sum(axis=1))
        gram = _round4_np((m @ m.T) / np.outer(nrm, nrm))
        sim = gram >= threshold
        np.fill_diagonal(sim, False)
        dropped = np.triu(sim, 1).any(axis=0)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"],
                "cell": pdf["cell"],
                "keep": ~dropped,
            }
        )

    return e.groupBy("cell").applyInPandas(
        cell, "vec_id long, cell int, keep boolean"
    )


MRL_TRUNC_DIMS = 32


def truncated_recall(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    dims: int = MRL_TRUNC_DIMS,
    full: DataFrame | None = None,
) -> DataFrame:
    """Matryoshka-style dimension-truncation evaluation (Kusupati et al.
    2022, arXiv:2205.13147): recall@k of brute-force search over the
    FIRST ``dims`` coordinates against the full-dimension ground truth —
    the measurement that justifies serving a shorter embedding prefix
    (2x cheaper dot products, 2x smaller index) at an acceptable recall
    cost.

    Both rankings use the identical deterministic order
    (round4 cosine desc, vec_id), so the set intersection is
    engine-portable.

    Output (one row): k, dims, n_overlap, recall (round4).

    Scale (100 TB): two broadcast-query TakeOrdered passes (the
    cosine_topk shape — no corpus shuffle) + one k-row join; at
    production scale the truncated pass reads a PREFIX-sliced column,
    which parquet serves without touching the tail bytes when the
    embedding is stored dimension-chunked.
    """
    if full is None:
        full = cosine_topk(embeddings, query_vec_id, k)
    full = full.select("vec_id")
    trunc_emb = embeddings.select(
        "vec_id", F.expr(f"slice(embedding, 1, {dims})").alias("embedding")
    )
    trunc = cosine_topk(trunc_emb, query_vec_id, k).select(
        F.col("vec_id").alias("t_vec")
    )
    return (
        full.join(trunc, F.col("vec_id") == F.col("t_vec"))
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .select(
            F.lit(k).cast("int").alias("k"),
            F.lit(dims).cast("int").alias("dims"),
            F.col("n_overlap").cast("long").alias("n_overlap"),
            round4(F.col("n_overlap") / F.lit(float(k))).alias("recall"),
        )
    )


def ivf_nprobe_recall(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 10,
    nprobes: tuple[int, ...] = (1, 2, 4),
    centroids: DataFrame | None = None,
    assign: DataFrame | None = None,
    exact: DataFrame | None = None,
    scores: DataFrame | None = None,
) -> DataFrame:
    """The IVF tuning curve (VERDICT r06 next-round #5): recall@k of the
    probe against brute-force ground truth at each ``nprobes`` setting —
    the knob every real IVF deployment sweeps to trade probe cost for
    recall (more cells probed -> monotonically higher recall, linearly
    more corpus touched).  One row per nprobe, even at zero hits.

    Columns: nprobe, k, n_hits, recall (round4).

    Scale (100 TB): the whole sweep costs TWO corpus passes, not
    1 + len(nprobes): ground truth is one broadcast-query TakeOrdered
    pass, and all probe settings share ONE embeddings scan — the
    per-setting candidate lists (assign rows semi-joined to each
    tiny probe prefix, tagged with their nprobe) are unioned BEFORE
    the vector join, and the per-nprobe top-k is a rank-filtered
    window that compiles to WindowGroupLimit (per-partition partial
    top-k, shuffle carries <= len(nprobes)*k rows — the
    :func:`batch_cosine_topk` pattern).  Only the k-row assignment
    index is read once per setting; vectors move once.

    ``scores`` optionally supplies the eval query's per-vector
    (vec_id, cos) relation (:func:`cosine_scores` output, materialized
    once per corpus snapshot — r15): the sweep then reads cosines off
    the narrow relation instead of re-joining the embedding payload
    and re-evaluating the O(d) dot folds; vectors move ZERO times.
    Identical values by construction (same round4 expression).
    """
    from pyspark.sql import Window

    if centroids is None:
        centroids = ivf_centroids(embeddings)
    if assign is None:
        assign = ivf_assignments(embeddings, centroids)
    if exact is None:
        exact = cosine_topk(embeddings, query_vec_id, k)
    exact = exact.select("vec_id")
    query_scores = _centroid_scores(
        embeddings.filter(F.col("vec_id") == query_vec_id), centroids
    )
    # ONE probe subtree for the whole sweep (r15): rank the query's
    # centroid scores once, broadcast-join the ranked labels to the
    # assignment, and fan each candidate out to every nprobe setting
    # whose prefix its label rank falls in.  Identical to the old
    # per-setting orderBy+limit(np) union (same (s desc, label) total
    # order), but the plan holds one ranked-probe branch instead of
    # len(nprobes) subtrees + union.  The rank comes from a 1-row
    # sorted-array reduction (collect the 1 x |cells| score relation,
    # array_sort on (-s, label), slice, posexplode) — the scalar-
    # reduction class, NOT an unpartitioned window (PLAN_AUDIT hard
    # rule; |cells| is quantizer-bounded, KB at any corpus size).
    ranked = (
        query_scores.select(
            F.struct(
                (-F.col("s")).alias("ns"), F.col("label").alias("label")
            ).alias("st")
        )
        .agg(
            F.slice(
                F.array_sort(F.collect_list("st")),
                1,
                int(max(nprobes)),
            ).alias("arr")
        )
        .select(F.posexplode("arr").alias("rk0", "st"))
        .select(
            F.col("st.label").alias("label"),
            (F.col("rk0") + 1).cast("int").alias("rk"),
        )
    )
    cands = (
        assign.join(F.broadcast(ranked), "label")
        .select(
            "vec_id",
            F.explode(
                F.array(
                    *[F.lit(int(np_)).cast("int") for np_ in nprobes]
                )
            ).alias("nprobe"),
            "rk",
        )
        .filter(F.col("rk") <= F.col("nprobe"))
        .select("vec_id", "nprobe")
    )
    if scores is not None:
        scored = (
            cands.join(scores, "vec_id")
            .filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", "nprobe", "cos")
        )
    else:
        q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
            _as_double("embedding").alias("q_emb")
        )
        e = embeddings.join(cands, "vec_id").select(
            "vec_id", "nprobe", _as_double("embedding").alias("emb")
        )
        cos = _dot(F.col("emb"), F.col("q_emb")) / (
            F.sqrt(_dot(F.col("emb"), F.col("emb")))
            * F.sqrt(_dot(F.col("q_emb"), F.col("q_emb")))
        )
        scored = (
            e.crossJoin(F.broadcast(q))
            .filter(F.col("vec_id") != query_vec_id)
            .select("vec_id", "nprobe", round4(cos).alias("cos"))
        )
    w = Window.partitionBy("nprobe").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    topk = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("nprobe", "vec_id")
    )
    hits = (
        topk.join(exact, "vec_id", "left_semi")
        .groupBy("nprobe")
        .agg(F.count(F.lit(1)).alias("_h"))
    )
    anchor = embeddings.sparkSession.createDataFrame(
        [(int(np_),) for np_ in nprobes], "nprobe int"
    )
    return (
        anchor.join(hits, "nprobe", "left")
        .select(
            "nprobe",
            F.lit(int(k)).cast("int").alias("k"),
            F.coalesce(F.col("_h"), F.lit(0)).cast("long").alias("n_hits"),
            round4(
                F.coalesce(F.col("_h"), F.lit(0)) / F.lit(float(k))
            ).alias("recall"),
        )
        .orderBy("nprobe")
    )


def cosine_range_search(
    embeddings: DataFrame, query_vec_id: int, threshold: float
) -> DataFrame:
    """Range query over the embedding space: EVERY vector with cosine
    >= ``threshold`` to the query (the query itself excluded) — the
    radius-based complement of :func:`cosine_topk` (dedup and
    retrieval-augmentation ask "all near things", not "the k nearest").

    Columns: vec_id, cos (round4).  No ORDER BY: the result is a SET
    (ordering without a limit would force a pointless global sort).

    Scale (100 TB): same shape as :func:`cosine_scores` — the 1-row
    query broadcast against the corpus scan, filter evaluated inside the
    scan's codegen stage, zero shuffles.  To prune the scan, compose
    with the IVF index the same way :func:`ann_topk_ivf` does (probe
    cells by centroid similarity); the brute flavor here is the exact
    baseline those pruned variants are recalled against.
    """
    return (
        cosine_scores(embeddings, query_vec_id)
        .filter(F.col("vec_id") != query_vec_id)
        .filter(F.col("cos") >= F.lit(float(threshold)))
    )


def ivf_balance(
    embeddings: DataFrame,
    centroids: DataFrame | None = None,
    assign: DataFrame | None = None,
) -> DataFrame:
    """Cell-occupancy audit of the IVF index: per-cell vector counts,
    corpus share, and the balance factor (occupancy relative to the
    uniform t/k) — the index-health report an ANN deployment watches,
    because a hot cell is THE IVF failure mode at scale (every probe of
    it scans the skewed mass; rebalance = retrain the coarse quantizer
    or split the cell).

    Columns: cell, n_vecs, share (round4), balance (round4, 1.0 =
    perfectly uniform).

    Scale (100 TB): the assignment table partial-aggs to k rows; the
    1-row totals broadcast back.  Nothing touches the vectors.
    """
    if centroids is None:
        centroids = ivf_centroids(embeddings)
    if assign is None:
        assign = ivf_assignments(embeddings, centroids)
    counts = assign.groupBy(F.col("label").alias("cell")).agg(
        F.count(F.lit(1)).alias("n_vecs")
    )
    tot = counts.agg(
        F.sum("n_vecs").alias("t"), F.count(F.lit(1)).alias("k")
    )
    return counts.crossJoin(F.broadcast(tot)).select(
        "cell",
        "n_vecs",
        round4(F.col("n_vecs").cast("double") / F.col("t")).alias("share"),
        round4(
            F.col("n_vecs").cast("double") * F.col("k") / F.col("t")
        ).alias("balance"),
    )


OUTLIER_COS_THRESHOLD = 0.1


def centroid_outliers(
    embeddings: DataFrame,
    centroids: DataFrame | None = None,
    assign: DataFrame | None = None,
    threshold: float = OUTLIER_COS_THRESHOLD,
) -> DataFrame:
    """Embedding-quality gate: every vector with its cosine to its OWN
    cell centroid, flagged an outlier below a FIXED threshold —
    mis-embedded rows (truncated inputs, encoder failures, garbage
    docs) sit far from every cluster and surface here before they
    poison dedup/ANN downstream.

    The flag compares the round6-rounded similarity (the same value the
    assignment argmax ranks on) against a literal — an exact
    comparison, so the boolean can never flip between engines on a
    1-ulp float difference (a derived mean-minus-2-sigma cut would).

    Columns: vec_id, cell, centroid_cos (round4), is_outlier.

    Scale (100 TB): when ``assign`` carries the index-build score
    column ``__ivf_s`` (:func:`ivf_assignments` ``with_score=True`` — what
    the registry materializes), the own-cell cosine is a COLUMN READ
    off the persisted index: zero recompute, zero join.  Otherwise the
    fallback re-derives the full vector x centroid score matrix
    (|cells| interpreted O(d) folds per vector) and keeps each
    vector's own-cell row.
    """
    if centroids is None:
        centroids = ivf_centroids(embeddings)
    if assign is None:
        assign = ivf_assignments(embeddings, centroids)
    if "__ivf_s" in assign.columns:
        own = assign.select(
            "vec_id", F.col("label").alias("cell"),
            F.col("__ivf_s").alias("s"),
        )
    else:
        scores = _centroid_scores(embeddings, centroids)
        own_assign = assign.select(
            F.col("vec_id").alias("a_vec"), F.col("label").alias("cell")
        )
        own = own_assign.join(
            scores,
            (F.col("a_vec") == F.col("vec_id"))
            & (F.col("cell") == F.col("label")),
        ).select(F.col("a_vec").alias("vec_id"), "cell", "s")
    return own.select(
        "vec_id",
        "cell",
        round4(F.col("s")).alias("centroid_cos"),
        (F.col("s") < F.lit(float(threshold))).alias("is_outlier"),
    )


KNN_GRAPH_K = 5


def knn_graph(
    embeddings: DataFrame,
    k: int = KNN_GRAPH_K,
    centroids: DataFrame | None = None,
    assign: DataFrame | None = None,
) -> DataFrame:
    """Exact k-NN edges WITHIN each IVF cell — the graph primitive under
    SemDeDup-style clustering, graph-based label propagation, and
    hubness audits (Jegou et al. 2011 use the same cell restriction:
    neighbors outside the probed cell are exactly the pairs IVF already
    agreed to miss).

    Each cell's pairwise cosines are ONE numpy gram matrix inside
    ``applyInPandas`` (the :func:`semantic_dedup_arrow` kernel shape);
    per-node ranking is round4 cosine desc with vec_id tiebreak, so the
    edge set is engine-portable.  Cells with a single member emit no
    edges (a node with no candidates has no row — same as the SQL
    oracle's inner pair join).

    Columns: src, cell, rank (1-based), dst, sim (round4).

    Scale (100 TB): the corpus never self-joins — the only shuffle is
    the groupBy(cell) that co-locates each cell, and the kernel is BLAS
    at memory bandwidth over a c x d block (cap the max cell via the
    quantizer's k exactly as every other IVF consumer requires).  Edge
    output is n x k rows regardless of dimension.
    """
    import pandas as pd

    if centroids is None:
        centroids = ivf_centroids(embeddings)
    if assign is None:
        assign = ivf_assignments(embeddings, centroids)
    e = embeddings.select("vec_id", "embedding").join(
        assign.withColumnRenamed("label", "cell"), "vec_id"
    )

    def cell(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        c = len(pdf)
        if c < 2:
            return pd.DataFrame(
                {
                    "src": pd.Series([], dtype="int64"),
                    "cell": pd.Series([], dtype="int32"),
                    "rank": pd.Series([], dtype="int32"),
                    "dst": pd.Series([], dtype="int64"),
                    "sim": pd.Series([], dtype="float64"),
                }
            )
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        m = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf["embedding"]]
        )
        nrm = np.sqrt((m * m).sum(axis=1))
        gram = _round4_np((m @ m.T) / np.outer(nrm, nrm))
        np.fill_diagonal(gram, -np.inf)
        ids = pdf["vec_id"].to_numpy()
        k_eff = min(k, c - 1)
        # lexsort: primary -sim, secondary dst id — the deterministic
        # (sim desc, vec_id asc) rank order, vectorized per cell.
        order = np.lexsort(
            (np.broadcast_to(ids, (c, c)), -gram), axis=1
        )[:, :k_eff]
        rows = np.repeat(np.arange(c), k_eff)
        cols = order.ravel()
        return pd.DataFrame(
            {
                "src": ids[rows],
                "cell": np.repeat(
                    pdf["cell"].to_numpy(dtype="int32"), k_eff
                ),
                "rank": np.tile(
                    np.arange(1, k_eff + 1, dtype="int32"), c
                ),
                "dst": ids[cols],
                "sim": gram[rows, cols],
            }
        )

    return e.groupBy("cell").applyInPandas(
        cell, "src long, cell int, rank int, dst long, sim double"
    )


def knn_graph_stats(edges: DataFrame) -> DataFrame:
    """Per-node summary of a :func:`knn_graph` edge set: degree, mean
    neighbor similarity, and reciprocity (how many of my top-k count me
    in THEIR top-k) — the hubness/isolation report that decides whether
    a cell needs re-clustering (low reciprocity = hub-dominated cell,
    the classic high-dim failure; Radovanovic et al. 2010).

    Mean similarity sums exact round4 micro-integers (the BM25
    micro-point pattern), so the per-node average is a ratio of exact
    integers — no order-dependent float accumulation.

    Columns: vec_id, cell, k_eff, mean_sim (round4), n_reciprocal.

    Scale (100 TB): the edge relation is n x k rows; reciprocity is a
    left-semi self-join on the (dst, src) key pair — id-keyed shuffle of
    the SMALL edge relation, vectors untouched; output is n rows.
    """
    micro = F.round(F.col("sim") * 10000).cast("long")
    rev = edges.select(
        F.col("src").alias("dst"), F.col("dst").alias("src")
    )
    # (src, dst) is unique in a knn_graph edge set (one row per rank),
    # so the reversed relation needs no dedup before the flag join.
    with_rec = edges.join(
        rev.withColumn("_r", F.lit(1)), ["src", "dst"], "left"
    )
    return (
        with_rec.groupBy("src", "cell")
        .agg(
            F.count(F.lit(1)).alias("k_eff"),
            F.sum(micro).alias("_sm"),
            F.sum(
                F.when(F.col("_r").isNotNull(), 1).otherwise(0)
            ).alias("n_reciprocal"),
        )
        .select(
            F.col("src").alias("vec_id"),
            "cell",
            F.col("k_eff").cast("int").alias("k_eff"),
            round4(
                F.col("_sm") / F.lit(10000.0) / F.col("k_eff")
            ).alias("mean_sim"),
            F.col("n_reciprocal").cast("long").alias("n_reciprocal"),
        )
    )


def filtered_cosine_topk(
    embeddings: DataFrame,
    documents: DataFrame,
    query_vec_id: int,
    k: int = 10,
    lang: str = "en",
) -> DataFrame:
    """FILTERED vector search: exact top-k cosine neighbors restricted to
    vectors whose document satisfies a metadata predicate (here
    ``documents.lang``) — the retrieval shape every RAG/search deployment
    actually runs (predicate + vector score), and the one naive ANN
    indexes handle badly (post-filtering a top-k can return < k rows;
    pre-filtering preserves exactness).

    This is the PRE-filter plan: the predicate semi-join prunes the
    corpus BEFORE any distance math, so the scored set is
    |matching docs|, not |corpus| — with a selective predicate the
    filtered search is CHEAPER than unfiltered brute force, and the
    result is exact (recall 1.0) rather than a post-filtered subset.
    The id semi-join is a plain equi-join (bloom-pushable at scale); the
    1-row query side broadcasts; top-k compiles to
    TakeOrderedAndProject.

    Output: vec_id, cos (round4) — the ann_cosine_topk contract over the
    filtered corpus.
    """
    allowed = documents.filter(F.col("lang") == lang).select(
        F.col("doc_id").alias("vec_id")
    )
    q = embeddings.filter(F.col("vec_id") == query_vec_id).select(
        _as_double("embedding").alias("q_emb")
    )
    e = (
        embeddings.join(allowed, "vec_id", "left_semi")
        .filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", _as_double("embedding").alias("emb"))
    )
    joined = e.crossJoin(F.broadcast(q))
    cos = _dot(F.col("emb"), F.col("q_emb")) / (
        F.sqrt(_dot(F.col("emb"), F.col("emb")))
        * F.sqrt(_dot(F.col("q_emb"), F.col("q_emb")))
    )
    return (
        joined.select("vec_id", round4(cos).alias("cos"))
        .orderBy(F.col("cos").desc(), F.col("vec_id"))
        .limit(k)
    )


def mmr_rerank(
    embeddings: DataFrame,
    query_vec_id: int,
    k: int = 5,
    pool: int = 20,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): greedy top-k from a relevance-retrieved candidate pool,
    each pick maximizing ``relevance - max-similarity-to-already-picked``
    (lambda = 1/2, scaled x2 so the score is a plain difference) — the
    retrieval-diversity layer RAG stacks put between ANN top-k and the
    prompt, so k near-identical passages don't crowd out coverage.

    Engine-exact: relevance and pairwise similarities are the engine's
    round4 cosines (identical doubles in any engine), the greedy score
    is their difference (same two doubles -> same difference), ties
    break on vec_id; the oracle unrolls the same greedy rounds.

    Plan: ONE corpus pass (the TakeOrdered pool retrieval, broadcast
    1-row query); everything after runs on the ``pool``-row relation —
    the pool-squared similarity join is a broadcast nested loop over
    ``pool`` rows by construction.  Both small relations (pool rows,
    pool^2 pair cosines) are collected ONCE as bounded parameter
    relations (<= pool + pool^2 rows at any corpus size — the k-means
    seed-collection convention) and the k greedy argmax rounds run as
    plain python over those floats: Spark computes every cosine the
    greedy reads (so engine-exact round4 doubles), but the k
    sequential rounds no longer pay k job launches over a 400-row
    relation (r08: 3.5 s -> ~1 s at sf0.1; the round count was pure
    scheduling overhead at any scale).

    Output: rank (1..k), vec_id, cos — selection order.
    """
    rel = cosine_topk(embeddings, query_vec_id, pool)
    pe = embeddings.join(
        F.broadcast(rel.select("vec_id")), "vec_id", "semi"
    ).select("vec_id", _as_double("embedding").alias("emb"))
    a = pe.select(F.col("vec_id").alias("va"), F.col("emb").alias("ea"))
    b = pe.select(F.col("vec_id").alias("vb"), F.col("emb").alias("eb"))
    sim = _dot(F.col("ea"), F.col("eb")) / (
        F.sqrt(_dot(F.col("ea"), F.col("ea")))
        * F.sqrt(_dot(F.col("eb"), F.col("eb")))
    )
    rel_rows = rel.collect()
    sims_rows = (
        a.join(F.broadcast(b), F.col("va") != F.col("vb"))
        .select("va", "vb", round4(sim).alias("sim"))
        .collect()
    )
    cos_by_id = {r["vec_id"]: r["cos"] for r in rel_rows}
    pair_sim = {(r["va"], r["vb"]): r["sim"] for r in sims_rows}
    first_id = min(cos_by_id, key=lambda v: (-cos_by_id[v], v))
    picked = [(1, first_id, cos_by_id[first_id])]
    for r in range(2, k + 1):
        sel_ids = {p[1] for p in picked}
        best = None
        for vid, cos in cos_by_id.items():
            if vid in sel_ids:
                continue
            score = cos - max(pair_sim[(vid, s)] for s in sel_ids)
            key = (-score, vid)
            if best is None or key < best[0]:
                best = (key, vid, cos)
        picked.append((r, best[1], best[2]))
    return embeddings.sparkSession.createDataFrame(
        picked, "rank int, vec_id bigint, cos double"
    )


def l2_topk(embeddings: DataFrame, query_vec_id: int, k: int = 10) -> DataFrame:
    """Brute-force exact squared-L2 top-k — the ground truth the
    L2-metric ANN paths (PQ-ADC) are measured against, as
    :func:`cosine_topk` is for the cosine paths.  Same discipline: the
    1-row query broadcasts, the distance uses the ||x||^2 - 2<x,q> +
    ||q||^2 expansion (identical to the ADC oracle's algebra), rounds
    to 4 decimals at the output boundary, ties break on vec_id, and
    the query row is excluded so recall compositions never burn a slot
    on the self-distance.  Compiles to TakeOrderedAndProject.

    Output: vec_id, d2.
    """
    q = (
        embeddings.filter(F.col("vec_id") == query_vec_id)
        .select(_as_double("embedding").alias("q_emb"))
    )
    e = embeddings.select("vec_id", _as_double("embedding").alias("emb"))
    d2 = (
        _dot(F.col("emb"), F.col("emb"))
        - 2.0 * _dot(F.col("emb"), F.col("q_emb"))
        + _dot(F.col("q_emb"), F.col("q_emb"))
    )
    return (
        e.crossJoin(F.broadcast(q))
        .select("vec_id", round4(d2).alias("d2"))
        .filter(F.col("vec_id") != query_vec_id)
        .orderBy(F.col("d2").asc(), F.col("vec_id"))
        .limit(k)
    )


def pq_recall(
    embeddings: DataFrame,
    query_vec_id: int,
    k_results: int = 10,
    m: int = PQ_M,
    k: int = PQ_K,
    exact: DataFrame | None = None,
    codes: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of the PQ-ADC compressed search against the exact
    squared-L2 top-k — the compression-loss measurement every PQ
    deployment tracks beside its memory savings (the third member of
    the recall-gate family: IVF probe loss, dimension-truncation loss,
    and now code-compression loss).

    Both sides are k-row relations; the expensive scans underneath are
    the already-audited :func:`l2_topk` and :func:`pq_adc_topk`.

    Output: one row — k, n_hits, recall (round4).
    """
    if exact is None:
        exact = l2_topk(embeddings, query_vec_id, k_results)
    exact = exact.select("vec_id")
    approx = pq_adc_topk(
        embeddings, query_vec_id, k_results, m, k,
        codes=codes, codebook=codebook,
    ).select("vec_id")
    hits = exact.join(approx, "vec_id", "left_semi")
    return hits.agg(F.count(F.lit(1)).alias("n_hits")).select(
        F.lit(k_results).cast("int").alias("k"),
        "n_hits",
        round4(F.col("n_hits") / F.lit(float(k_results))).alias("recall"),
    )


def simplified_silhouette(
    embeddings: DataFrame, centroids: DataFrame
) -> DataFrame:
    """Per-cell clustering-quality audit: the simplified silhouette
    (Hruschka et al. 2004 — centroid distances instead of all-pairs,
    the only silhouette that scales) over the IVF cells, in cosine
    distance: for each vector with best/second-best centroid
    similarities s1 >= s2, sil = (s1 - s2) / (1 - s2) in [0, 1]
    (0 = sits on the cell boundary, 1 = second cell orthogonal).

    Determinism: centroid similarities are the SAME round6 scores the
    assignment argmax uses (one shared derivation, ranked (s desc,
    label)); per-point silhouette rounds to integer micro, so the cell
    mean is an exact integer division.  A degenerate duplicate-centroid
    cell (s2 = 1) scores 0 by definition rather than dividing by zero.

    Scale: one broadcast centroid crossJoin (|cells| rows per vector,
    the already-audited _centroid_scores shape), a vec_id-keyed top-2
    window, and a |cells|-row rollup — vectors are never paired.

    Output: label, n_points, mean_sil_micro, min_sil_micro.
    """
    from pyspark.sql import Window

    scores = _centroid_scores(spread(embeddings), centroids)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("s").desc(), F.col("label")
    )
    top = (
        scores.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("label"))).alias("cell"),
            F.max(F.when(F.col("rk") == 1, F.col("s"))).alias("s1"),
            F.max(F.when(F.col("rk") == 2, F.col("s"))).alias("s2"),
        )
    )
    sil = F.when(
        (F.lit(1.0) - F.col("s2")) <= 0, F.lit(0).cast("long")
    ).otherwise(
        F.round(
            (F.col("s1") - F.col("s2"))
            / (F.lit(1.0) - F.col("s2"))
            * 1_000_000
        ).cast("long")
    )
    return (
        top.select(F.col("cell").alias("label"), sil.alias("sil_micro"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.expr("sum(sil_micro) div count(1)").alias("mean_sil_micro"),
            F.min("sil_micro").alias("min_sil_micro"),
        )
    )


def ann_topk_ivfpq(
    embeddings: DataFrame,
    query_vec_id: int,
    k_results: int = 10,
    nprobe: int = 3,
    m: int = PQ_M,
    k: int = PQ_K,
    centroids: DataFrame | None = None,
    assign: DataFrame | None = None,
    codes: DataFrame | None = None,
    codebook: DataFrame | None = None,
) -> DataFrame:
    """The full IVF-PQ search (Jegou et al. 2011, the architecture of
    every production billion-vector index): coarse-quantize the query
    to its ``nprobe`` best cells, then rank ONLY those cells' members
    by PQ asymmetric distance — neither the full-precision corpus nor
    the full code table is scanned at query time.

    Pure composition of the two audited halves: :func:`ann_topk_ivf`'s
    probe (cosine cells, round6 scores, the shared assignment
    derivation) feeds :func:`pq_adc_topk`'s candidate restriction.

    Scale (100 TB): probe list is nprobe rows broadcast into a semi
    join against the assignment table; the code-table scan prunes to
    ~nprobe/n_cells of its (already ~m bytes/vector) size when the
    cell label partitions it; the LUT stays an m x k broadcast.

    Output: vec_id, adc_d2 — ordered (adc_d2, vec_id), query excluded.
    """
    if centroids is None:
        centroids = ivf_centroids(embeddings)
    if assign is None:
        assign = ivf_assignments(embeddings, centroids)
    query_scores = _centroid_scores(
        embeddings.filter(F.col("vec_id") == query_vec_id), centroids
    )
    probe = (
        query_scores.orderBy(F.col("s").desc(), F.col("label"))
        .limit(nprobe)
        .select("label")
    )
    cand_ids = assign.join(F.broadcast(probe), "label", "left_semi").select(
        "vec_id"
    )
    return pq_adc_topk(
        embeddings, query_vec_id, k_results, m, k,
        candidates=cand_ids, codes=codes, codebook=codebook,
    )
