"""Product quantization (PQ) ANN — the FAISS-workhorse compression scheme
(Jégou et al. 2011, "Product Quantization for Nearest Neighbor Search"):
split each vector into `m` subvectors, k-means each subspace to a tiny
codebook, store every vector as `m` small codes, and score queries against
codes via an asymmetric distance computation (ADC) lookup table instead of
touching raw floats.

Why it matters at 100 TB: a 64-dim float32 embedding is 256 bytes; its PQ
code at m=8 is 8 bytes — a 32x smaller index that scans from memory where
the raw vectors never could. The scan cost per query batch is one pass
over the CODES table joined to an (m x k)-row broadcast lookup — no
per-vector float math. PQ composes with the IVF router in
`similarity.build_ivf_index` (route to cells, then ADC within the cell);
this module keeps the two orthogonal so each is testable alone.

Determinism (the repo-wide oracle discipline): vectors are L2-normalized
then int8-quantized (`similarity.quantize_int8` floor(x+0.5) — one
cross-engine rounding definition), codebook seeds are the k smallest
portable-hash ids (no RNG — `kmeans.hash_seed_centroids` recipe), Lloyd
updates are exact means of integer-valued components, and every argmin /
top-k compares a 6-rounded distance with an id tie-break. The whole
train+encode+search pipeline is a pure function of the data, so recall
profiles can be pinned as constants (the `similarity_ann_recall_profile`
recipe) and unit tests can demand exact numpy parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import portable_hash64
from .similarity import quantize_int8


def _normalized_qvec(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, qvec): L2-normalize (so PQ inner product tracks cosine), then
    int8-quantize. Integer-valued components keep all downstream sums
    exact and order-independent."""
    from ._util import ensure_parallelism

    # ensure_parallelism (r15, guide §2.5): normalize + quantize is four
    # 64-element interpreted array folds per row, and every downstream
    # consumer (subvector explode, map-only argmin, ADC parts) inherits
    # this frame's partitioning — a one-row-group fixture scan would
    # serialize the whole PQ family on one core. file_backed_only: the
    # streaming-append batches and residual frames skip the widening AND
    # the ~1 s .rdd probe (VERDICT r14 item 8).
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    normed = ensure_parallelism(df, file_backed_only=True).select(
        F.col(id_col),
        F.transform(v, lambda x: F.try_divide(x, norm)).alias("_nv"),
    )
    return quantize_int8(normed, id_col, "_nv").select(id_col, "qvec")


def _subvectors(qdf: DataFrame, id_col, m: int, dsub: int) -> DataFrame:
    """(id..., sub, subv): explode each quantized vector into its m
    subvectors (integer-valued doubles, length dsub each). `id_col` may be
    a single name or a list of carry columns (the residual path keys query
    subvectors by (query_id, cell))."""
    id_cols = [id_col] if isinstance(id_col, str) else list(id_col)
    subs = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda s: F.struct(
                s.cast("int").alias("sub"),
                F.transform(
                    F.slice(F.col("qvec"), s * dsub + 1, dsub),
                    lambda x: x.cast("double"),
                ).alias("subv"),
            ),
        )
    )
    return qdf.select(*id_cols, subs.alias("_s")).select(
        *id_cols, F.col("_s.sub").alias("sub"), F.col("_s.subv").alias("subv")
    )


def _l2(a, b):
    return F.round(
        F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda s, d: s + d),
        6,
    )


def _validate_codebook(centroids: DataFrame, m: int, in_dim: int, opname: str) -> None:
    """Fail LOUDLY when the caller's (m, in_dim) geometry doesn't match the
    trained codebook. Without this, a mismatched m mis-slices the query
    subvectors and `zip_with` pads the shorter array with NULLs — every ADC
    part becomes NULL and the shortlist silently degenerates to a vec_id
    tie-break instead of erroring. The check is one tiny job over the
    (m x k)-row codebook frame (<= a few hundred rows by construction)."""
    row = centroids.agg(
        F.countDistinct("sub").alias("n_sub"),
        F.min(F.size("centroid")).alias("min_len"),
        F.max(F.size("centroid")).alias("max_len"),
    ).first()
    dsub = in_dim // m
    if row.n_sub != m or row.min_len != dsub or row.max_len != dsub:
        raise ValueError(
            f"{opname}: codebook geometry mismatch — caller passed m={m}, "
            f"in_dim={in_dim} (expects {m} subspaces of dim {dsub}) but the "
            f"codebook has {row.n_sub} subspaces with centroid lengths "
            f"[{row.min_len}, {row.max_len}]. Pass the m/in_dim the codebook "
            f"was trained with."
        )


def _assign(
    subv_df: DataFrame, centroids: DataFrame, id_col, keep_subv: bool = False
) -> DataFrame:
    """(id..., sub, code): nearest centroid per (vector, subspace) —
    MAP-ONLY as of r14 (guide §2.3/§2.4: remove the shuffle, shuffle zero
    bytes). The (m x k)-row codebook is grouped into m rows of k
    (centroid_id, centroid) structs sorted by centroid_id and broadcast;
    the argmin evaluates INLINE per subvector: distances are computed
    ONCE into a struct array (so the fold's when() never re-evaluates
    the L2 — the r3 conditional-CSE trap), then a left fold keeps the
    first strict minimum. Identical to the r13
    min(struct(round6_l2, centroid_id)) aggregate: the array is sorted
    by centroid_id, so "first strict minimum" == smallest centroid_id on
    ties. The r13 form k-folded every subvector through a broadcast join
    and shuffled corpus*m rows through a groupBy argmin; both the
    fan-out and the exchange are gone, and Lloyd-loop consumers can
    carry `subv` along (keep_subv=True) instead of re-joining it on
    (id, sub) — a second corpus*m shuffle join per round, also gone.

    `id_col` may be one name or a list of carry columns (the residual
    search path keys query subvectors by (query_id, cell))."""
    id_cols = [id_col] if isinstance(id_col, str) else list(id_col)
    cb = centroids.groupBy("sub").agg(
        F.array_sort(F.collect_list(F.struct("centroid_id", "centroid"))).alias("_cbs")
    )
    joined = subv_df.join(F.broadcast(cb), "sub")
    dists = F.transform(
        F.col("_cbs"),
        lambda c: F.struct(
            _l2(F.col("subv"), c["centroid"]).alias("_d"),
            c["centroid_id"].alias("_cid"),
        ),
    )
    # The fold's init carries the first (smallest) centroid_id, so a
    # subvector whose distances are all NaN or NULL keeps that code rather
    # than a NULL one that inner joins would drop silently. Only the id is
    # seeded, not the first struct itself: `dists` sits under a
    # higher-order function, where subexpression elimination does not
    # reach, so reading dists[0] would compute every L2 a second time.
    # Each _cbs array is non-empty by construction (collect_list over >= 1
    # row per sub group), and an empty codebook yields zero rows from the
    # inner join on "sub".
    best = F.aggregate(
        dists,
        F.struct(
            F.lit(float("inf")).alias("_d"),
            F.col("_cbs")[0]["centroid_id"].alias("_cid"),
        ),
        lambda acc, x: F.when(x["_d"] < acc["_d"], x).otherwise(acc),
    )
    keep = ["subv"] if keep_subv else []
    return joined.select(*id_cols, "sub", *keep, best["_cid"].alias("code"))


def pq_train(
    emb: DataFrame,
    m: int = 16,
    k: int = 16,
    rounds: int = 2,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the m sub-codebooks: (sub, centroid_id, centroid array<double>),
    m*k rows total. Seeds are the k smallest-portable-hash vectors' slices
    (every subspace seeds from the same k vectors — pure function of the
    data); each Lloyd round is ONE corpus-subvector shuffle (the argmin
    aggregate) + an (m*k*dsub)-row mean update that re-enters broadcast.
    Empty clusters keep their previous centroid. The codebook frame is
    lineage-cut per round (localCheckpoint) like every iterative loop in
    this repo."""
    if in_dim % m != 0:
        raise ValueError(f"pq_train: in_dim {in_dim} not divisible by m {m}")
    dsub = in_dim // m
    qdf = _normalized_qvec(emb, id_col, vec_col)
    return _train_on_qvec(qdf, m=m, k=k, rounds=rounds, dsub=dsub, id_col=id_col)


def _train_on_qvec(
    qdf: DataFrame,
    m: int,
    k: int,
    rounds: int,
    dsub: int,
    id_col: str,
    pre_checkpointed: bool = False,
) -> DataFrame:
    """Codebook training over an ALREADY-quantized (id, qvec) frame —
    shared by pq_train (qvec = normalized+int8-quantized vector) and the
    residual IVF-PQ path (qvec = quantized vector minus quantized coarse
    centroid, still integer-valued so every downstream sum stays exact).

    The codebook is carried as BOUNDED DRIVER STATE (m×k rows — fixed
    product-quantizer geometry, independent of corpus size) and re-enters
    each round as a LocalRelation (r15, guide §5): the old per-round lazy
    checkpoint chain serialized a job per segment and every broadcast of
    the codebook scheduled another job over checkpoint blocks; now the
    seed collect slices the initial sub-codebooks driver-side (no
    subv⋈seeds init join at all) and each round is exactly ONE job (the
    M-step aggregate collect). The corpus-sized frames (qdf, subv) stay
    distributed and lazy-checkpointed exactly as before.

    Pass ``pre_checkpointed=True`` when `qdf` is already materialization-
    safe (ivfpq_build shares one checkpointed qdf between train and
    encode) to avoid a second copy of the corpus in block storage."""
    spark = qdf.sparkSession
    if not pre_checkpointed:
        qdf = qdf.localCheckpoint(eager=False)
    subv = _subvectors(qdf, id_col, m, dsub).localCheckpoint(eager=False)

    # The k seeds are a bounded collect (k rows, default 16): orderBy +
    # limit is a TakeOrderedAndProject, so the collected rows arrive in
    # hash order and enumerate directly into centroid ids. Collecting the
    # qvec alongside lets the m initial sub-codebooks be sliced in the
    # driver — value-identical to the old subv⋈broadcast(seeds) join
    # (F.slice(qvec, s*dsub+1, dsub) cast to double == the Python slice
    # below; int8/integer-valued components make the cast exact).
    seed_rows = (
        qdf.select(F.col(id_col), portable_hash64(F.col(id_col)).alias("_h"), "qvec")
        .orderBy("_h", id_col)
        .limit(k)
        .collect()
    )
    cb_schema = (
        "sub int, centroid_id int, centroid array<double>"
    )
    cb_rows = [
        (s, i, [float(x) for x in r["qvec"][s * dsub : (s + 1) * dsub]])
        for i, r in enumerate(seed_rows)
        for s in range(m)
    ]
    centroids = spark.createDataFrame(cb_rows, schema=cb_schema)
    for _ in range(rounds):
        # keep_subv carries the subvector through the map-only argmin, so
        # the M-step needs NO (id, sub) re-join of the corpus (r14 — the
        # r13 form joined two corpus*m-row frames per round).
        assigned = _assign(subv, centroids, id_col, keep_subv=True)
        member_dims = assigned.select(
            "sub", "code", F.posexplode("subv").alias("j", "x")
        )
        dim_means = member_dims.groupBy("sub", "code", "j").agg(
            (F.sum("x") / F.count("*")).alias("mean_x")
        )
        updated = dim_means.groupBy("sub", "code").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "mean_x"))), lambda s: s["mean_x"]
            ).alias("_new")
        )
        # Driver-side merge == the old left join + coalesce: clusters that
        # lost every member keep their previous centroid. `updated` is at
        # most m×k rows by construction (codes come from the assignment
        # against these centroids), so the collect is the same bounded
        # trainer state as the seed pick.
        new_vals = {(r["sub"], r["code"]): r["_new"] for r in updated.collect()}
        cb_rows = [
            (s, cid, new_vals.get((s, cid), c)) for (s, cid, c) in cb_rows
        ]
        centroids = spark.createDataFrame(cb_rows, schema=cb_schema)
    return centroids


def pq_encode(
    emb: DataFrame,
    centroids: DataFrame,
    m: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, sub, code): the PQ code table — m small ints per vector, the
    32x-compressed index a 100 TB corpus scans instead of raw floats.
    Kept tall (one row per (vector, subspace)) because that is exactly the
    shape the ADC join consumes; callers wanting packed rows can
    collect_list over the id."""
    if in_dim % m != 0:
        raise ValueError(f"pq_encode: in_dim {in_dim} not divisible by m {m}")
    _validate_codebook(centroids, m, in_dim, "pq_encode")
    dsub = in_dim // m
    qdf = _normalized_qvec(emb, id_col, vec_col)
    return _assign(_subvectors(qdf, id_col, m, dsub), centroids, id_col)


def pq_topk(
    codes: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    m: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k: (query_id, vec_id, adc_score, rank). For each query, the
    inner product against every CODE is sum over subspaces of a
    precomputed dot(query_subvector, centroid) lookup — the codes table is
    scanned once and joined to an (m x k)-row-per-query broadcast table;
    no raw corpus vectors are touched at query time.

    Ranking is deterministic: 6-rounded score, vec_id tie-break. Scores
    approximate cosine * 127^2 (both sides normalized+quantized); rerank
    the returned candidates with `similarity.cosine_topk` when exact final
    order matters (standard PQ practice).

    Self-matches are NOT excluded here (the code table is opaque — a
    query id is not known to denote the same vector as a corpus id);
    the rerank stages (`pq_topk_reranked`, `ivfpq_topk`) drop them,
    matching `cosine_topk`'s contract. In the pinned ADC profile this
    makes `n_brute_hits` read one lower per in-corpus probe than a
    self-excluding scan would — a deliberate, documented semantics."""
    if in_dim % m != 0:
        raise ValueError(f"pq_topk: in_dim {in_dim} not divisible by m {m}")
    _validate_codebook(centroids, m, in_dim, "pq_topk")
    dsub = in_dim // m
    qq = _normalized_qvec(queries, id_col, vec_col)
    qsub = _subvectors(qq, id_col, m, dsub).withColumnRenamed(id_col, "query_id")
    lookup = (
        qsub.join(F.broadcast(centroids), "sub")
        .select(
            "query_id",
            "sub",
            F.col("centroid_id").alias("code"),
            F.round(
                F.aggregate(
                    F.zip_with(F.col("subv"), F.col("centroid"), lambda x, y: x * y),
                    F.lit(0.0),
                    lambda s, d: s + d,
                ),
                6,
            ).alias("part"),
        )
    )
    scored = (
        codes.join(F.broadcast(lookup), ["sub", "code"])
        .groupBy("query_id", id_col)
        .agg(F.round(F.sum("part"), 6).alias("adc_score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc_score").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "adc_score", "rank")
    )

def pq_topk_reranked(
    emb: DataFrame,
    codes: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    pool: int | None = None,
    m: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Standard two-stage PQ search: the ADC scan shortlists `pool`
    candidates per query from CODES ONLY (default 5*k — measured 48/50
    exact-top-10 shortlist recall at m=16/k_cb=16 on the fixture; 10*k
    gives 49/50), then ONLY the shortlisted raw vectors are fetched and
    exact-reranked by quantized cosine (integer-valued sums — exact in
    any order, 6-rounded, id tie-break). Returns
    (query_id, vec_id, cosine, rank) — the same contract as
    `similarity.cosine_topk`, at a scan cost of codes (m bytes/vector)
    plus `pool` raw-vector fetches per query instead of the whole corpus.
    """
    pool = pool if pool is not None else 5 * k
    short = pq_topk(
        codes, centroids, queries, k=pool, m=m, in_dim=in_dim,
        id_col=id_col, vec_col=vec_col,
    ).select("query_id", id_col)
    qc = quantize_int8(emb, id_col, vec_col).select(
        F.col(id_col), F.transform("qvec", lambda x: x.cast("double")).alias("_cv")
    )
    qq = quantize_int8(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.transform("qvec", lambda x: x.cast("double")).alias("_qv"),
    )
    dot = F.aggregate(
        F.zip_with("_cv", "_qv", lambda x, y: x * y), F.lit(0.0), lambda s, d: s + d
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.col(c), F.lit(0.0), lambda s, x: s + x * x)
    )
    scored = (
        short.filter(F.col(id_col) != F.col("query_id"))
        .join(qc, id_col)
        .join(F.broadcast(qq), "query_id")
        .select(
            "query_id",
            id_col,
            F.round(F.try_divide(dot, norm("_cv") * norm("_qv")), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )

def _cell_reference_vectors(
    emb: DataFrame, cells: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(cell, refvec): the per-cell MEAN of members in the PQ quantized
    space — the residual reference classic IVFADC subtracts (Jégou et al.
    2011 §IV). This must be the mean of the members' quantized vectors,
    NOT a re-quantization of the coarse centroid: `quantize_int8` rescales
    every vector to the full int8 range, which INFLATES a small-norm
    cluster mean to |x_q| magnitude and makes the 'residual' BIGGER than
    the vector itself (measured on the fixture: mean |x_q - requantized
    centroid|^2 = 1.33x mean |x_q|^2, destroying recall; the member mean
    guarantees mean |residual|^2 <= mean |x_q|^2 by variance
    decomposition). Means are exact integer sums / counts — one
    correctly-rounded division, deterministic everywhere."""
    dims = (
        _normalized_qvec(emb, id_col, vec_col)
        .join(cells, id_col)
        .select(
            "cell",
            F.posexplode(F.transform("qvec", lambda x: x.cast("double"))).alias("j", "x"),
        )
    )
    return (
        dims.groupBy("cell", "j")
        .agg((F.sum("x") / F.count("*")).alias("_m"))
        .groupBy("cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "_m"))), lambda s: s["_m"]
            ).alias("refvec")
        )
    )


def _residual_qvecs(
    emb: DataFrame,
    cell_ref: DataFrame,
    cells: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, cell, qvec): per-vector RESIDUAL in quantized space — the
    vector's normalized int8 quantization minus its cell's member-mean
    reference vector (see :func:`_cell_reference_vectors`). Components are
    exact integer-minus-mean doubles, so downstream Lloyd means / ADC sums
    stay deterministic."""
    qx = _normalized_qvec(emb, id_col, vec_col)
    dbl = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
    return (
        qx.join(cells, id_col)
        .join(F.broadcast(cell_ref), "cell")
        .select(
            id_col,
            "cell",
            F.zip_with(dbl("qvec"), F.col("refvec"), lambda x, y: x - y).alias("qvec"),
        )
    )


def ivfpq_build(
    emb: DataFrame,
    n_cells: int = 16,
    m: int = 16,
    k_codebook: int = 16,
    coarse_rounds: int = 2,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    residual: bool = False,
) -> dict:
    """Build the IVF-PQ index ONCE: deterministic coarse quantizer
    (hash-seeded spherical k-means) + PQ sub-codebooks + cell-tagged code
    table. Returns {"centroids", "codebook", "codes"} — every frame
    lineage-cut (localCheckpoint), so N searches at different nprobe/k
    budgets share ONE build instead of re-training per call (the
    bench-measured trap: two searches with inline builds cost 30 s at
    sf0.1; one build + two searches ~halves it). At 100 TB these frames
    are the tables you persist (bucket `codes` by cell — the
    build_ivf_index/build_lsh_index pattern).

    `residual=True` switches to classic IVFADC geometry: codes quantize
    the RESIDUAL (vector minus its coarse cell centroid) instead of the
    raw vector — better recall at equal bits because each sub-codebook
    only has to cover the spread WITHIN cells, not the whole space. Raw
    codes stay the default: they keep the pipeline fully SQL-rederivable
    (the oracle-backed path) and one codebook independent of the router.
    The returned dict carries the flag; :func:`ivfpq_topk` adds the
    per-cell inner-product term residual scoring needs."""
    from .kmeans import _localized_update, hash_seed_centroids
    from .similarity import spherical_assign

    if in_dim % m != 0:
        raise ValueError(f"ivfpq_build: in_dim {in_dim} not divisible by m {m}")
    # hash_seed_centroids is already a LocalRelation; per coarse round the
    # k-row M-step output is collected back to the driver and re-enters as
    # a LocalRelation (r15 — see kmeans._localized_update): same sync
    # point as the old eager localCheckpoint, minus the broadcast-build
    # job and block churn every downstream consumer of `cents` paid.
    cents = hash_seed_centroids(emb, n_cells, id_col, vec_col)
    # Quantize the corpus ONCE for the whole coarse loop (r15 — see
    # kmeans_lloyd_assign); keep_qvec: the M-step reads the carried
    # quantized vector instead of re-quantizing + re-joining the corpus
    # per round (r14); the `cells` projection drops it.
    from .similarity import quantize_int8
    from ._util import ensure_parallelism

    qcorp = quantize_int8(
        ensure_parallelism(emb, file_backed_only=True), id_col, vec_col
    ).select(id_col, "qvec").localCheckpoint(eager=False)
    assigned = spherical_assign(
        qcorp, cents, id_col, vec_col, keep_qvec=True, corpus_quantized=True
    )
    for _ in range(coarse_rounds):
        cents = _localized_update(assigned, emb, cents, id_col, vec_col)
        assigned = spherical_assign(
            qcorp, cents, id_col, vec_col, keep_qvec=True, corpus_quantized=True
        )
    cells = assigned.select(id_col, F.col("centroid_id").alias("cell"))

    dsub = in_dim // m
    if residual:
        cell_ref = _cell_reference_vectors(emb, cells, id_col, vec_col).localCheckpoint()
        rdf = _residual_qvecs(emb, cell_ref, cells, id_col, vec_col).localCheckpoint(
            eager=False
        )
        # rdf is already checkpointed — pre_checkpointed avoids a second
        # corpus copy in block storage.
        cb = _train_on_qvec(
            rdf.select(id_col, "qvec"), m=m, k=k_codebook, rounds=2,
            dsub=dsub, id_col=id_col, pre_checkpointed=True,
        )
        codes = (
            _assign(_subvectors(rdf.select(id_col, "qvec"), id_col, m, dsub), cb, id_col)
            .join(cells, id_col)
            .localCheckpoint(eager=False)
        )
        # Lazy-checkpoint the RETURNED geometry frames (r15): inside the
        # build each is consumed once (no checkpoint needed), but search
        # consumers (ivfpq_topk per query/budget) broadcast them many
        # times, and every broadcast of a driver-parallelized local-rows
        # frame runs a defaultParallelism-task job — the profile A/B
        # measured 5.2 s -> 4.3 s warm per pass with block-backed frames.
        return {
            "centroids": cents.localCheckpoint(eager=False),
            "codebook": cb.localCheckpoint(eager=False),
            "codes": codes,
            "residual": True, "cell_ref": cell_ref,
        }
    else:
        # ONE normalized+quantized corpus shared by the codebook train AND
        # the encode (r15): the old pq_train + pq_encode pair each re-ran
        # _normalized_qvec over the raw corpus — two full quantize passes
        # where one suffices. The geometry is consistent by construction
        # (the codebook was just trained at this exact m/dsub), so
        # pq_encode's _validate_codebook probe job is also saved.
        qdf = _normalized_qvec(emb, id_col, vec_col).localCheckpoint(eager=False)
        cb = _train_on_qvec(
            qdf, m=m, k=k_codebook, rounds=2, dsub=dsub, id_col=id_col,
            pre_checkpointed=True,
        )
        codes = (
            _assign(_subvectors(qdf, id_col, m, dsub), cb, id_col)
            .join(cells, id_col)
            .localCheckpoint(eager=False)
        )
    # Same search-consumer checkpoint as the residual branch above (r15).
    return {
        "centroids": cents.localCheckpoint(eager=False),
        "codebook": cb.localCheckpoint(eager=False),
        "codes": codes,
        "residual": False,
    }


def ivfpq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 16,
    k_codebook: int = 16,
    coarse_rounds: int = 2,
    pool: int | None = None,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: dict | None = None,
    residual: bool = False,
) -> DataFrame:
    """The full FAISS-style composition — IVF routing x PQ codes x exact
    rerank: a deterministic coarse quantizer (hash-seeded spherical
    k-means, the `kmeans.py` recipe) assigns every corpus vector to one
    of `n_cells` cells; each query routes to its `nprobe` nearest cells
    and runs the ADC code scan ONLY there (~nprobe/n_cells of the code
    table, which is itself 32x smaller than the raw vectors); the ADC
    shortlist is exact-reranked from raw vectors. Returns
    (query_id, vec_id, cosine, rank) — `cosine_topk`'s contract.

    Pass `index` (from :func:`ivfpq_build`) to reuse one build across
    searches — repeat callers MUST: the build is the expensive stage and
    re-training it per search is the measured anti-pattern.

    The default encodes RAW vectors; `residual=True` (or an index built
    with `ivfpq_build(residual=True)`) switches to classic IVFADC codes
    over x - centroid(x) — better recall at equal bits, at the cost of a
    per-(query, probed-cell) residual lookup table and an extra q·c term
    in the ADC sum. Raw-vector codes stay the oracle-backed default: they
    trade a little quantization error for one shared codebook and a fully
    SQL-rederivable pipeline —
    the repo's oracle discipline). Every stage is deterministic, so
    recall profiles pin as constants.

    Scale: index build is one corpus pass per Lloyd round (coarse) + the
    PQ stages; query cost is nprobe/n_cells x the ADC scan + `pool`
    raw-vector fetches per query. At 100 TB the cell column partitions
    the code table, so probing reads only the probed cells' partitions."""
    from .similarity import quantize_int8 as _q

    if index is None:
        index = ivfpq_build(
            emb, n_cells=n_cells, m=m, k_codebook=k_codebook,
            coarse_rounds=coarse_rounds, in_dim=in_dim,
            id_col=id_col, vec_col=vec_col, residual=residual,
        )
    cents, cb, codes = index["centroids"], index["codebook"], index["codes"]

    # Route each query to its nprobe nearest cells (quantized cosine,
    # 6-rounded, cell-id tie-break — same arithmetic as the assignment).
    qq = _q(queries, id_col, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.transform("qvec", lambda x: x.cast("double")).alias("_qv"),
    )
    cq = _q(cents, "centroid_id", vec_col).select(
        F.col("centroid_id").alias("cell"),
        F.transform("qvec", lambda x: x.cast("double")).alias("_cv"),
    )
    dot = F.aggregate(F.zip_with("_qv", "_cv", lambda x, y: x * y), F.lit(0.0), lambda s, d: s + d)
    nrm = lambda c: F.sqrt(F.aggregate(F.col(c), F.lit(0.0), lambda s, x: s + x * x))  # noqa: E731
    wq = Window.partitionBy("query_id").orderBy(
        F.round(F.try_divide(dot, nrm("_qv") * nrm("_cv")), 6).desc(), F.col("cell").asc()
    )
    probed = (
        qq.crossJoin(F.broadcast(cq))
        .withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= nprobe)
        .select("query_id", "cell")
    )

    # ADC restricted to the probed cells, then exact rerank.
    pool = pool if pool is not None else 5 * k
    dsub = in_dim // m
    cand = codes.join(F.broadcast(probed), "cell")
    ipart = lambda a, b: F.round(  # noqa: E731 - rounded inner product
        F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, d: s + d),
        6,
    )
    if index.get("residual"):
        # IVFADC decomposition for inner-product scoring: q·x = q·c(x) +
        # q·residual(x). The second term is the standard ADC sum over the
        # RESIDUAL codebook, but the query subvectors must also be the
        # query's residual AGAINST EACH PROBED CELL (so the lookup keys on
        # (query_id, cell)); the first term is one inner product per
        # (query, probed cell) — nprobe rows per query, broadcast.
        rqq = _normalized_qvec(queries, id_col, vec_col).withColumnRenamed(
            id_col, "query_id"
        )
        dbl = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))  # noqa: E731
        qcell = (
            rqq.join(probed, "query_id")
            .join(F.broadcast(index["cell_ref"]), "cell")
            .select(
                "query_id",
                "cell",
                ipart(dbl("qvec"), F.col("refvec")).alias("_cterm"),
                F.zip_with(dbl("qvec"), F.col("refvec"), lambda x, y: x - y).alias("qvec"),
            )
            .localCheckpoint(eager=False)
        )
        qsub = _subvectors(qcell, ["query_id", "cell"], m, dsub)
        lookup = qsub.join(F.broadcast(cb), "sub").select(
            "query_id", "cell", "sub", F.col("centroid_id").alias("code"),
            ipart(F.col("subv"), F.col("centroid")).alias("part"),
        )
        cellterm = qcell.select("query_id", "cell", "_cterm")
        scored = (
            cand.join(F.broadcast(lookup), ["query_id", "cell", "sub", "code"])
            .groupBy("query_id", id_col, "cell")
            .agg(F.sum("part").alias("_rsum"))
            .join(F.broadcast(cellterm), ["query_id", "cell"])
            .select(
                "query_id", id_col,
                F.round(F.col("_rsum") + F.col("_cterm"), 6).alias("adc_score"),
            )
        )
    else:
        qsub = _subvectors(
            _normalized_qvec(queries, id_col, vec_col), id_col, m, dsub
        ).withColumnRenamed(id_col, "query_id")
        lookup = qsub.join(F.broadcast(cb), "sub").select(
            "query_id", "sub", F.col("centroid_id").alias("code"),
            ipart(F.col("subv"), F.col("centroid")).alias("part"),
        )
        scored = (
            cand.join(F.broadcast(lookup), ["query_id", "sub", "code"])
            .groupBy("query_id", id_col)
            .agg(F.round(F.sum("part"), 6).alias("adc_score"))
        )
    ws = Window.partitionBy("query_id").orderBy(F.col("adc_score").desc(), F.col(id_col).asc())
    short = (
        scored.withColumn("_r", F.row_number().over(ws))
        .filter(F.col("_r") <= pool)
        .select("query_id", id_col)
    )
    qc = _q(emb, id_col, vec_col).select(
        F.col(id_col), F.transform("qvec", lambda x: x.cast("double")).alias("_cv")
    )
    rdot = F.aggregate(F.zip_with("_cv", "_qv", lambda x, y: x * y), F.lit(0.0), lambda s, d: s + d)
    rescored = (
        short.filter(F.col(id_col) != F.col("query_id"))
        .join(qc, id_col)
        .join(F.broadcast(qq), "query_id")
        .select(
            "query_id", id_col,
            F.round(F.try_divide(rdot, nrm("_cv") * nrm("_qv")), 6).alias("cosine"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(id_col).asc())
    return (
        rescored.withColumn("rank", F.row_number().over(wr))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, "cosine", "rank")
    )

def build_ivfpq_index(
    corpus: DataFrame,
    prefix: str = "ivfpq_index",
    n_cells: int = 16,
    m: int = 16,
    k_codebook: int = 16,
    coarse_rounds: int = 2,
    num_buckets: int = 8,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index: dict | None = None,
) -> None:
    """Persist the IVF-PQ index (the `build_ivf_index`/`build_lsh_index`
    pattern, completing index parity for the ANN family):

      {prefix}_codes      (id, sub, code, cell)      BUCKETED by cell
      {prefix}_centroids  (centroid_id, vec_col)     n_cells rows
      {prefix}_codebook   (sub, centroid_id, centroid) m*k rows

    Bucketing the code table by cell makes the probe join exchange-free
    on the big side: a query's nprobe cells map to whole buckets, so
    :func:`ivfpq_topk_indexed` scans only the probed buckets' files and
    never re-trains, re-encodes, or shuffles the corpus. At 100 TB the
    code table is the ~8-byte-per-vector artifact you keep hot; the raw
    vectors stay cold except for the per-query `pool` rerank fetches.

    Pass a prebuilt :func:`ivfpq_build` dict via `index` to persist an
    EXISTING geometry instead of re-training (r13): one trained geometry
    can then back both the persisted tables and any number of live
    in-memory searches — at 100 TB you never want two Lloyd trainings of
    the same corpus because one consumer wanted tables and another a
    dict."""
    from ..sources.bucketing import drop_table_and_location, write_bucketed

    idx = index if index is not None else ivfpq_build(
        corpus, n_cells=n_cells, m=m, k_codebook=k_codebook,
        coarse_rounds=coarse_rounds, in_dim=in_dim,
        id_col=id_col, vec_col=vec_col,
    )
    spark = corpus.sparkSession
    write_bucketed(idx["codes"], f"{prefix}_codes", bucket_col="cell", num_buckets=num_buckets)
    drop_table_and_location(spark, f"{prefix}_centroids")
    idx["centroids"].write.mode("overwrite").saveAsTable(f"{prefix}_centroids")
    drop_table_and_location(spark, f"{prefix}_codebook")
    idx["codebook"].write.mode("overwrite").saveAsTable(f"{prefix}_codebook")


def ivfpq_topk_indexed(
    spark,
    emb: DataFrame,
    queries: DataFrame,
    prefix: str = "ivfpq_index",
    k: int = 10,
    nprobe: int = 4,
    m: int = 16,
    pool: int | None = None,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ search against a :func:`build_ivfpq_index` index: the three
    stored tables ARE the index — no coarse refit, no codebook re-train,
    no corpus re-encode (tests poison `pq_train` to prove it). `emb` is
    the raw-vector table the exact rerank fetches its `pool` candidates
    from; the ADC stage touches only `{prefix}_codes`."""
    index = {
        "centroids": spark.table(f"{prefix}_centroids"),
        "codebook": spark.table(f"{prefix}_codebook"),
        "codes": spark.table(f"{prefix}_codes"),
    }
    return ivfpq_topk(
        emb, queries, k=k, nprobe=nprobe, m=m, pool=pool, in_dim=in_dim,
        id_col=id_col, vec_col=vec_col, index=index,
    )


def ivfpq_index_append(
    batch: DataFrame,
    prefix: str = "ivfpq_index",
    m: int = 16,
    in_dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold a NEW vector batch into a persisted IVF-PQ index without
    retraining: batch vectors are routed with the STORED coarse centroids
    (the same spherical-assign arithmetic the build used) and encoded
    with the STORED codebook, then appended to `{prefix}_codes` under the
    matching bucket spec — per-batch cost tracks the batch, never the
    indexed corpus. Coarse centroids and codebooks intentionally do NOT
    move (classic IVF/PQ maintenance: re-fitting would silently change
    what every PAST code means — rebuild when drift warrants it).

    Already-indexed ids are anti-joined out of the batch before encoding:
    a duplicate (vec_id, sub, code) row would DOUBLE that vector's summed
    adc_score in every later search, silently promoting it up the
    shortlist. The streaming path was already protected by its foreachBatch
    batch-id guard; this makes direct callers (replays, at-least-once
    feeds) safe too. The anti-join probe side is the batch (small); the
    stored side is pruned to the id column of the bucketed code table."""
    from .similarity import _append_bucketed, spherical_assign

    spark = batch.sparkSession
    cents = spark.table(f"{prefix}_centroids")
    cb = spark.table(f"{prefix}_codebook")
    existing_ids = spark.table(f"{prefix}_codes").select(id_col).distinct()
    batch = batch.join(existing_ids, id_col, "left_anti")
    cells = spherical_assign(batch, cents, id_col, vec_col).select(
        id_col, F.col("centroid_id").alias("cell")
    )
    codes = pq_encode(
        batch, cb, m=m, in_dim=in_dim, id_col=id_col, vec_col=vec_col
    ).join(cells, id_col)
    _append_bucketed(codes, f"{prefix}_codes", bucket_col="cell")
