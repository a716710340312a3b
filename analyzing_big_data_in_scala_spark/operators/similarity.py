"""Similarity search over embedding columns (beyond-reference;
BASELINE.json north star). Works on `array<float>` columns like the
`embeddings` fixture (FIXTURES.md §2).

Two paths:
- brute-force cosine top-k: exact; one broadcast of the query vector(s),
  one pass over the corpus, TakeOrderedAndProject top-k. The 100 TB
  baseline when recall must be 1.0.
- LSH-bucketed (random-hyperplane signs): approximate; corpus is hashed
  once into buckets, probes only join their own bucket. The scale path —
  candidate generation is a bucket-key equi-join, never a cross join.

All arithmetic is JVM-side (`zip_with`/`aggregate` higher-order functions,
double precision); no Python UDF in the scoring loop.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_scores(corpus: DataFrame, query: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Cosine similarity of every (corpus row, query row) pair.

    `query` is expected to be small (it is broadcast). Returns
    (id_col, query_id, cosine)."""
    from ._util import ensure_parallelism

    # Norms are per-VECTOR, so compute them once in a projection before the
    # pair join — inside the pair expression they would be re-evaluated for
    # every (corpus x query) combination (O(pairs·dim) wasted work).
    q = query.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    c = ensure_parallelism(corpus).select(
        F.col(id_col), F.col(vec_col).alias("cvec"), _norm(F.col(vec_col)).alias("cn")
    )
    joined = c.join(F.broadcast(q))  # cartesian with tiny broadcast side
    # try_divide: zero-norm vectors yield NULL cosine instead of an ANSI
    # divide-by-zero error (DuckDB x/0.0 contract).
    return joined.select(
        id_col,
        "query_id",
        F.try_divide(
            _dot(F.col("cvec"), F.col("qvec")), F.col("cn") * F.col("qn")
        ).alias("cosine"),
    )


def cosine_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k nearest neighbors by cosine for each query row.
    Excludes self-matches. Deterministic tiebreak on corpus id."""
    scores = cosine_scores(corpus, query, id_col, vec_col).filter(
        F.col(id_col) != F.col("query_id")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def cosine_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_matrix_rows: int = 200_000,
) -> DataFrame:
    """All-pairs cosine >= threshold over one corpus: (id_a, id_b, cosine)
    with id_a < id_b.

    Dense all-pairs math is BLAS work, not expression-tree work: the corpus
    matrix is collected once (guarded by `max_matrix_rows` — this EXACT
    variant is for bounded corpora, e.g. refining LSH candidate buckets;
    unbounded corpora go through minhash/hyperplane candidates first),
    embedded in a self-contained closure, and each Arrow batch computes a
    (batch x corpus) matmul. ~2x the expression-tree version at 64 dims,
    and the gap widens with dimension.
    """
    import numpy as np

    # Guard BEFORE collecting: the whole point is to refuse a driver-side
    # materialization that would not fit.
    n_rows = corpus.count()
    if n_rows > max_matrix_rows:
        raise ValueError(
            f"cosine_pairs is the exact bounded-corpus path ({n_rows} rows > "
            f"{max_matrix_rows}); use LSH candidates + per-bucket refinement at this scale"
        )
    rows = corpus.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    M = np.array([r[1] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(M, axis=1) if len(rows) else np.zeros(0)

    def run(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            if not len(pdf) or not len(ids):
                continue
            A = _np.array(list(pdf[vec_col]), dtype=_np.float64)
            an = _np.linalg.norm(A, axis=1)
            with _np.errstate(divide="ignore", invalid="ignore"):
                C = (A @ M.T) / _np.outer(an, norms)
            C = _np.nan_to_num(C, nan=-2.0)  # zero-norm vectors never pass a real threshold
            ia, ib = _np.nonzero(C >= threshold)
            aid = pdf[id_col].to_numpy()[ia]
            bid = ids[ib]
            keep = aid < bid
            yield _pd.DataFrame(
                {
                    "id_a": aid[keep],
                    "id_b": bid[keep],
                    "cosine": _np.round(C[ia, ib][keep], 6),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        run, schema="id_a long, id_b long, cosine double"
    )


def cosine_pairs_blocked(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """All-pairs cosine >= threshold, EXACT and fully distributed:
    (id_a, id_b, cosine) with id_a < id_b — the scale path that replaces
    :func:`cosine_pairs`' driver-side matrix for unbounded corpora.

    Block-pair decomposition (the dense-row-similarity analogue of the
    blocked matmul): every vector is hashed into one of `n_blocks` blocks,
    each of the n_blocks*(n_blocks+1)/2 unordered block pairs becomes one
    `applyInPandas` group holding the rows of both blocks, and the group
    computes its (|A| x |B|) cosine submatrix with one BLAS matmul. Exact
    all-pairs similarity is inherently quadratic in FLOPs; what this shape
    buys at 100 TB is that the quadratic work is spread over the cluster in
    O(P^2) independent tasks while executor memory stays bounded by two
    blocks (~2N/P rows) and each row is shuffled only n_blocks+1 times —
    no driver collect, no cross join, no per-row Python. Raise `n_blocks`
    until a block fits comfortably in an executor's Arrow batch memory
    (N rows * dim * 8 bytes / n_blocks).

    Semantics match :func:`cosine_pairs` exactly: threshold on the raw
    cosine, result rounded to 6 places, zero-norm vectors never match.
    """
    spark = corpus.sparkSession
    pairs = [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)]
    pairs_df = spark.createDataFrame(pairs, "bi int, bj int")

    tagged = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_blocks))
        .cast("int")
        .alias("_blk"),
    )
    # A row in block b plays the LEFT role for pairs with bi == b and the
    # RIGHT role for bj == b; on the diagonal (bi == bj) it appears once.
    left = tagged.join(F.broadcast(pairs_df), tagged["_blk"] == pairs_df["bi"]).select(
        "bi", "bj", F.lit(0).alias("_side"), id_col, vec_col
    )
    right = (
        tagged.join(F.broadcast(pairs_df), tagged["_blk"] == pairs_df["bj"])
        .filter(F.col("bi") != F.col("bj"))
        .select("bi", "bj", F.lit(1).alias("_side"), id_col, vec_col)
    )
    both = left.unionByName(right)

    def compute(pdf):
        # Self-contained closure: executors import locally, never from the
        # driver's repo checkout.
        import numpy as _np
        import pandas as _pd

        empty = _pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        if not len(pdf):
            return empty
        diag = bool(pdf["bi"].iat[0] == pdf["bj"].iat[0])
        a_rows = pdf[pdf["_side"] == 0]
        b_rows = a_rows if diag else pdf[pdf["_side"] == 1]
        if not len(a_rows) or not len(b_rows):
            return empty
        MA = _np.array(list(a_rows[vec_col]), dtype=_np.float64)
        MB = MA if diag else _np.array(list(b_rows[vec_col]), dtype=_np.float64)
        na = _np.linalg.norm(MA, axis=1)
        nb = na if diag else _np.linalg.norm(MB, axis=1)
        with _np.errstate(divide="ignore", invalid="ignore"):
            C = (MA @ MB.T) / _np.outer(na, nb)
        C = _np.nan_to_num(C, nan=-2.0)  # zero-norm never passes a real threshold
        ia, ib = _np.nonzero(C >= threshold)
        aid = a_rows[id_col].to_numpy()[ia]
        bid = b_rows[id_col].to_numpy()[ib]
        keep = aid < bid if diag else aid != bid  # ids are globally unique
        lo = _np.minimum(aid[keep], bid[keep])
        hi = _np.maximum(aid[keep], bid[keep])
        return _pd.DataFrame(
            {"id_a": lo, "id_b": hi, "cosine": _np.round(C[ia, ib][keep], 6)}
        )

    return both.groupBy("bi", "bj").applyInPandas(
        compute, schema="id_a long, id_b long, cosine double"
    )


def ivf_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: a seeded k-means coarse
    quantizer assigns every corpus vector to one of `n_cells` cells once;
    each query scores ONLY the `nprobe` cells nearest to it.

    The scale shape: the corpus is scanned once at index time (cell id is
    just a column — persist it and the index is free on later queries);
    query cost is proportional to nprobe/n_cells of the corpus instead of
    all of it. Exact cosine re-ranks inside the probed cells.

    Returns (query_id, id_col, cosine, rank) like :func:`cosine_topk`.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        F.col(id_col), F.col(vec_col), array_to_vector(F.col(vec_col)).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, featuresCol="features", predictionCol="cell").fit(feats)
    indexed = model.transform(feats).select(id_col, vec_col, "cell")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return _probe_and_score(indexed, centroids, query, k, nprobe, id_col, vec_col)


def _probe_and_score(
    indexed: DataFrame,
    centroids: list[list[float]],
    query: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared IVF query stage: pick each query's `nprobe` nearest cells
    (centroid table is tiny — driver-side numpy is the right tool), then
    score ONLY the corpus vectors in the probed cells via a broadcast
    equi-join on the cell id."""
    import numpy as np
    from pyspark.sql import Window

    cent = np.array(centroids, dtype=np.float64)
    q_rows = query.select(id_col, vec_col).collect()
    probe_pairs = []
    for r in q_rows:
        qv = np.array(r[1], dtype=np.float64)
        d = np.linalg.norm(cent - qv, axis=1)
        for cell in np.argsort(d)[:nprobe]:
            probe_pairs.append((int(r[0]), int(cell)))
    spark = indexed.sparkSession
    probes = spark.createDataFrame(probe_pairs, "query_id long, cell int")

    cand = indexed.join(F.broadcast(probes), "cell").select(
        "query_id", id_col, F.col(vec_col).alias("cvec"), _norm(F.col(vec_col)).alias("cn")
    )
    qside = query.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        _norm(F.col(vec_col)).alias("qn"),
    )
    scored = (
        cand.join(F.broadcast(qside), "query_id")
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.try_divide(_dot(F.col("cvec"), F.col("qvec")), F.col("cn") * F.col("qn")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def build_ivf_index(
    corpus: DataFrame,
    prefix: str = "ivf_index",
    n_cells: int = 16,
    num_buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> None:
    """Fit the coarse quantizer ONCE and persist the index, so repeated
    queries never refit k-means or rescan unassigned vectors (mirrors
    `tfidf.build_search_index`):

      {prefix}_cells      (id_col, vec_col, cell)  bucketed by cell
      {prefix}_centroids  (cell, centroid)         n_cells rows

    Bucketing the corpus by cell makes the probe join exchange-free on the
    corpus side: a query's nprobe cells map to whole buckets, so the scan
    touches only matching buckets' files and the big side never shuffles.
    At 100 TB this is the difference between an index lookup and a
    re-clustering job per query batch.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    from ..sources.bucketing import drop_table_and_location, write_bucketed

    feats = corpus.select(
        F.col(id_col), F.col(vec_col), array_to_vector(F.col(vec_col)).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, featuresCol="features", predictionCol="cell").fit(feats)
    indexed = model.transform(feats).select(id_col, vec_col, "cell")
    write_bucketed(indexed, f"{prefix}_cells", bucket_col="cell", num_buckets=num_buckets)

    spark = corpus.sparkSession
    cent_rows = [(i, list(map(float, c))) for i, c in enumerate(model.clusterCenters())]
    cent_df = spark.createDataFrame(cent_rows, "cell int, centroid array<double>")
    drop_table_and_location(spark, f"{prefix}_centroids")
    cent_df.write.mode("overwrite").saveAsTable(f"{prefix}_centroids")


def ivf_topk_indexed(
    spark,
    query: DataFrame,
    prefix: str = "ivf_index",
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF top-k against a :func:`build_ivf_index` index: no k-means fit,
    no full-corpus scan — the stored cell assignment and centroid table
    are the whole index. Same contract as :func:`ivf_topk`."""
    centroids_by_cell = {
        r.cell: list(r.centroid)
        for r in spark.table(f"{prefix}_centroids").collect()
    }
    centroids = [centroids_by_cell[i] for i in range(len(centroids_by_cell))]
    indexed = spark.table(f"{prefix}_cells")
    return _probe_and_score(indexed, centroids, query, k, nprobe, id_col, vec_col)


def ivf_index_append(
    batch: DataFrame,
    prefix: str = "ivf_index",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold a NEW vector batch into a :func:`build_ivf_index` index
    without refitting: each batch vector is assigned to its nearest
    STORED centroid (the same euclidean argmin the quantizer's transform
    uses, broadcast k-row cross join + `min_by` — per-batch cost tracks
    the batch, never the indexed corpus) and appended to `{prefix}_cells`
    with the matching bucket spec, so later :func:`ivf_topk_indexed`
    probes see old and new vectors identically. The mirror of
    `dedup.py`'s incremental-dedup-vs-persisted-index contract, for ANN.

    Centroids intentionally do NOT move (classic IVF maintenance):
    re-centering would silently change every PAST assignment's meaning —
    rebuild the index when drift warrants it."""
    spark = batch.sparkSession
    cent = spark.table(f"{prefix}_centroids")
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("centroid"),
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    assigned = (
        batch.select(id_col, vec_col)
        .crossJoin(F.broadcast(cent))
        .select(id_col, vec_col, F.col("cell"), d2.alias("_d2"))
        .groupBy(id_col, vec_col)
        .agg(F.min_by("cell", F.struct(F.col("_d2"), F.col("cell"))).alias("cell"))
    )
    _append_bucketed(assigned, f"{prefix}_cells", bucket_col="cell")


def _append_bucketed(df: DataFrame, table: str, bucket_col: str) -> None:
    """Append to an existing bucketed table PRESERVING its bucket spec:
    the bucket count is read from the catalog (DESCRIBE EXTENDED) and the
    write re-declares the same bucketBy — `insertInto` would silently
    drop bucketing on datasource tables, corrupting co-location for every
    later bucket-pruned/co-located join. Columns are aligned to the
    table's order explicitly (append matching is positional)."""
    spark = df.sparkSession
    n_buckets = None
    for r in spark.sql(f"DESCRIBE EXTENDED {table}").collect():
        if r.col_name.strip() == "Num Buckets":
            n_buckets = int(r.data_type.strip())
    if n_buckets is None:
        raise ValueError(f"_append_bucketed: {table} is not a bucketed table")
    cols = spark.table(table).columns
    (
        df.select(*cols)
        .write.mode("append")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table)
    )


@lru_cache(maxsize=None)
def _plane_signs(g: int, dim: int) -> tuple[float, ...]:
    """Deterministic pseudo-random ±1 sign vector for global plane g:
    component i's sign is the parity of md5(f"{g}:{i}")'s first byte —
    platform-stable (unlike Python's salted hash()) and effectively
    independent across planes and components."""
    return tuple(
        1.0 if hashlib.md5(f"{g}:{i}".encode()).digest()[0] % 2 == 0 else -1.0
        for i in range(dim)
    )


def _lsh_signatures(
    df: DataFrame,
    n_planes: int,
    dim: int,
    n_tables: int,
    id_col: str,
    vec_col: str,
    out_id: str = "id",
) -> DataFrame:
    """All `n_tables` LSH bucket ids per vector in ONE Arrow matmul pass:
    the (dim x n_tables*n_planes) ±1 sign matrix (columns from
    :func:`_plane_signs` — md5-parity signs, effectively independent across
    planes and tables, unlike :func:`_quantize_bucket_tag`'s 3-plane
    parity family whose near-duplicate planes capped recall at 2-3/10) multiplies
    each Arrow batch once; bit p of table t is sign(proj[:, t*n_planes+p]).
    Returns (out_id, tbl, bucket) — n_tables rows per input vector.

    Why mapInPandas and not a SQL expression: the r5 flat-SQL form (4096
    signed CAST terms inside one Project) blew janino's 64 KB generated-
    method limit, so the WHOLE stage fell back to interpreted evaluation —
    31x slower at sf0.1 and fatal at 100 TB. One numpy matmul per batch is
    the same shape :func:`semantic_dedup`'s tag stage measured 25x faster
    than per-row expression trees, and its cost is a single BLAS call per
    Arrow batch regardless of n_planes*n_tables. Projections here sum
    float64 terms, so numpy's reassociation can differ from a serial sum
    only for |proj| within rounding noise of 0 — deterministic for a given
    numpy build, which is what the pinned recall oracle runs under."""
    total = n_planes * n_tables
    signs = [_plane_signs(g, dim) for g in range(total)]
    id_type = df.schema[id_col].dataType.simpleString()

    def sign_batches(batches):
        # Self-contained closure: executors import locally.
        import numpy as _np
        import pandas as _pd

        P = _np.array(signs, dtype=_np.float64).T  # dim x total
        bits = (1 << _np.arange(n_planes)).astype(_np.int64)
        tbl = _np.arange(n_tables, dtype=_np.int32)
        for pdf in batches:
            if not len(pdf):
                continue
            V = _np.array(list(pdf[vec_col]), dtype=_np.float64)
            proj = V @ P  # N x total
            sgn = proj > 0.0  # same strict > as the zip_with/SQL forms
            bucket = (
                (sgn.reshape(len(pdf), n_tables, n_planes) * bits)
                .sum(axis=2)
                .astype(_np.int32)
            )
            yield _pd.DataFrame(
                {
                    out_id: _np.repeat(pdf[id_col].to_numpy(), n_tables),
                    "tbl": _np.tile(tbl, len(pdf)),
                    "bucket": bucket.reshape(-1),
                }
            )

    return df.select(id_col, vec_col).mapInPandas(
        sign_batches, schema=f"{out_id} {id_type}, tbl int, bucket int"
    )


def lsh_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 12,
    max_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing an LSH bucket with
    the query in ANY of `n_tables` independent hash tables, where the query
    additionally probes every bucket within Hamming distance `max_hamming`
    of its own (multi-probe LSH, Lv et al. VLDB'07: flipping one signature
    bit visits the buckets a near-neighbor most likely fell into, buying
    the recall of many extra tables for the index cost of none).

    Defaults (8 planes x 12 tables, Hamming <= 1) were tuned on the sf0.01
    fixture: recall 7-10/10 vs exact top-10 at a ~38% candidate fraction
    (8 tables gave 6-9/10 at 29%; Hamming <= 2 gives 10/10 but visits ~73%
    of this tiny corpus — effectively a scan, so not the honest default).
    The fixture's embeddings are near-uniform random — the hardest case
    for LSH (neighbors barely beat random cosine) — so finer buckets
    (10-12 planes) LOSE recall there; real clustered embeddings support
    more planes and a far smaller candidate fraction at the same recall.

    Scale shape: the corpus is signed ONCE in a single Arrow matmul scan
    (:func:`_lsh_signatures` — n_tables rows per vector, the same banding
    shape as MinHash LSH in dedup.py), the query's probe set
    (n_tables * sum_{h<=max_hamming} C(n_planes,h) rows per query) is
    broadcast, and candidates come from the (table, bucket) equi-join —
    never an all-pairs product. Dedup across tables is a distinct on
    (query_id, id), candidate-sized. Recall is pinned as value-checked
    constants in `similarity_ann_recall_profile`.
    """
    csig = _lsh_signatures(
        corpus, n_planes, dim, n_tables, id_col, vec_col, out_id=id_col
    )
    # Sign the query ONCE per table (same matmul pass), then expand probes
    # by XOR-ing the computed bucket VALUE with every <=max_hamming-bit
    # mask — the Lv et al. multi-probe trick: extra recall for zero extra
    # index cost, and the signature itself is never re-evaluated.
    masks = _lsh_probe_masks(n_planes, max_hamming)
    qprobes = _lsh_signatures(
        query, n_planes, dim, n_tables, id_col, vec_col, out_id="query_id"
    ).select(
        "query_id",
        "tbl",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    cand = (
        csig.join(F.broadcast(qprobes), ["tbl", "bucket"])
        .select("query_id", id_col)
        .distinct()
    )
    cvecs = corpus.select(
        id_col, F.col(vec_col).alias("cvec"), _norm(F.col(vec_col)).alias("cn")
    )
    return _score_lsh_candidates(cand, cvecs, query, k, id_col, vec_col)


def _score_lsh_candidates(
    cand: DataFrame,
    cvecs: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared LSH scoring tail: exact cosine over the candidate set only
    (cand: (query_id, id); cvecs: (id, cvec, cn)), broadcast query side,
    per-query top-k via row_number. Used by both the on-the-fly
    :func:`lsh_topk` and the persisted-index :func:`lsh_topk_indexed` —
    identical candidates in means identical rows out."""
    scored = (
        cand.join(cvecs, id_col)
        .join(
            F.broadcast(
                query.select(
                    F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("qvec"),
                    _norm(F.col(vec_col)).alias("qn"),
                )
            ),
            "query_id",
        )
        .filter(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            id_col,
            F.try_divide(_dot(F.col("cvec"), F.col("qvec")), F.col("cn") * F.col("qn")).alias(
                "cosine"
            ),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", id_col, F.round("cosine", 6).alias("cosine"), "rank")
    )


def _lsh_probe_masks(n_planes: int, max_hamming: int) -> list[int]:
    """Multi-probe XOR masks: every bit pattern with 1..max_hamming of the
    low n_planes bits set, plus the identity probe 0."""
    from itertools import combinations

    masks = [0]
    for h in range(1, max_hamming + 1):
        for pos in combinations(range(n_planes), h):
            masks.append(sum(1 << j for j in pos))
    return masks


def build_lsh_index(
    corpus: DataFrame,
    prefix: str = "lsh_index",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 12,
    num_buckets: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Sign the corpus ONCE (:func:`_lsh_signatures` Arrow matmul) and
    persist the index, so repeated query batches never re-sign or rescan
    unsigned vectors (the LSH twin of :func:`build_ivf_index`):

      {prefix}_sig   (id_col, tbl, bucket)   bucketed+sorted by bucket
      {prefix}_vecs  (id_col, cvec, cn)      bucketed by id_col
      {prefix}_meta  (n_planes, dim, n_tables)  1 row

    `_sig` is the only corpus-sized thing a probe ever joins (8-byte keys,
    broadcast probe side — zero shuffle of the index), and `_vecs`
    pre-computes the norms so scoring reads candidates without touching
    raw embeddings. The geometry params live in `_meta` because the QUERY
    side must sign with exactly the index's planes — a silently different
    n_planes would probe garbage buckets; :func:`lsh_topk_indexed` reads
    them back instead of trusting caller defaults."""
    from ..sources.bucketing import drop_table_and_location, write_bucketed

    sig = _lsh_signatures(
        corpus, n_planes, dim, n_tables, id_col, vec_col, out_id=id_col
    )
    write_bucketed(sig, f"{prefix}_sig", bucket_col="bucket", num_buckets=num_buckets)
    vecs = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    write_bucketed(vecs, f"{prefix}_vecs", bucket_col=id_col, num_buckets=num_buckets)
    spark = corpus.sparkSession
    drop_table_and_location(spark, f"{prefix}_meta")
    spark.createDataFrame(
        [(n_planes, dim, n_tables)], "n_planes int, dim int, n_tables int"
    ).write.mode("overwrite").saveAsTable(f"{prefix}_meta")


def lsh_index_append(
    batch: DataFrame,
    prefix: str = "lsh_index",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Fold a NEW vector batch into a :func:`build_lsh_index` index: sign
    only the batch (geometry read from `{prefix}_meta`, so new signatures
    are bit-compatible with the stored ones) and append to the signature
    and vector tables with their original bucket specs. Per-batch cost
    tracks the batch alone; because LSH signatures depend only on the
    vector itself (no fitted model, unlike IVF centroids), the appended
    index is IDENTICAL to a from-scratch rebuild over the union — pinned
    by test."""
    spark = batch.sparkSession
    meta = spark.table(f"{prefix}_meta").first()
    sig = _lsh_signatures(
        batch, meta.n_planes, meta.dim, meta.n_tables, id_col, vec_col, out_id=id_col
    )
    _append_bucketed(sig, f"{prefix}_sig", bucket_col="bucket")
    vecs = batch.select(
        F.col(id_col),
        F.col(vec_col).alias("cvec"),
        _norm(F.col(vec_col)).alias("cn"),
    )
    _append_bucketed(vecs, f"{prefix}_vecs", bucket_col=id_col)


def lsh_topk_indexed(
    spark,
    query: DataFrame,
    prefix: str = "lsh_index",
    k: int = 10,
    max_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe LSH top-k against a :func:`build_lsh_index` index: the
    corpus is never re-signed — only the (tiny) query batch runs the
    signature matmul, with the plane geometry read from `{prefix}_meta`
    so probe buckets are guaranteed to match the stored signatures. Same
    contract as :func:`lsh_topk`; identical (planes, tables, max_hamming)
    give IDENTICAL rows (pinned by the agreement query/test)."""
    meta = spark.table(f"{prefix}_meta").first()
    masks = _lsh_probe_masks(meta.n_planes, max_hamming)
    qprobes = _lsh_signatures(
        query, meta.n_planes, meta.dim, meta.n_tables, id_col, vec_col,
        out_id="query_id",
    ).select(
        "query_id",
        "tbl",
        F.explode(
            F.array(*[F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks])
        ).alias("bucket"),
    )
    cand = (
        spark.table(f"{prefix}_sig")
        .join(F.broadcast(qprobes), ["tbl", "bucket"])
        .select("query_id", id_col)
        .distinct()
    )
    return _score_lsh_candidates(
        cand, spark.table(f"{prefix}_vecs"), query, k, id_col, vec_col
    )


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|v| / 127,
    q_i = floor(v_i / scale + 0.5) stored as `array<tinyint>`. Returns
    (id_col, qvec, scale).

    4x smaller than float32 in shuffle/cache/storage — at 100 TB of
    embeddings that is the difference between an index that fits in
    cluster memory and one that doesn't. Rounding is floor(x + 0.5), not
    ROUND(): half-up-toward-+inf has one cross-engine definition, so the
    quantized vectors are bit-identical in DuckDB and the operator is
    oracle-checkable. All-zero vectors quantize to all zeros (try_divide
    guards the 0/0)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    amax = F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = (amax / F.lit(127.0)).alias("scale")
    q = F.transform(
        v,
        lambda x: F.coalesce(
            F.floor(F.try_divide(x, amax / F.lit(127.0)) + F.lit(0.5)), F.lit(0)
        ).cast("tinyint"),
    )
    return df.select(F.col(id_col), q.alias("qvec"), scale)


def quantized_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-over-quantized top-k: cosine on the int8 vectors. The
    per-vector scale is a positive scalar, so it cancels in cosine — the
    only error vs :func:`cosine_topk` is the rounding noise (~1/254 per
    component), which leaves top-k order nearly intact (recall pinned in
    tests). Integer-valued products also make the double sums exact, so
    the scores are bit-reproducible across engines and partitionings —
    something float32 dot products cannot promise."""
    qc = quantize_int8(corpus, id_col, vec_col).select(
        id_col, F.col("qvec").alias(vec_col)
    )
    qq = quantize_int8(query, id_col, vec_col).select(
        id_col, F.col("qvec").alias(vec_col)
    )
    return cosine_topk(qc, qq, k=k, id_col=id_col, vec_col=vec_col)


def _quantize_bucket_tag(
    emb: DataFrame, n_planes: int, dim: int, id_col: str, vec_col: str
) -> DataFrame:
    """Shared integer-exact tag stage for the semantic family
    (:func:`semantic_dedup`, :func:`semantic_decontamination`): ONE Arrow
    matmul per batch quantizes to int8 (floor(x/s + 0.5), zero vectors to
    zeros — the try_divide twin) and signs the parity hyperplanes
    ((i*(p+1)+p) % 3 == 0 → -1). Returns (id, qvec, bucket). Every
    downstream cosine over the qvecs sums INTEGER-valued doubles — exact
    in any order, so both the cell id and any threshold decision
    bit-match a SQL re-derivation.

    The sign pattern depends only on p mod 3, so the family has just
    THREE distinct hyperplanes (and the p%3==2 plane never flips a
    sign): cheap to re-derive in a SQL oracle, which is all the semantic
    family needs (recall is enforced by its verify step), but NOT a good
    ANN hash — :func:`lsh_topk` uses :func:`_lsh_signatures` instead."""

    def tag(batches):
        # Self-contained closure: executors import locally.
        import numpy as _np
        import pandas as _pd

        P = _np.ones((dim, n_planes))
        for p in range(n_planes):
            for i in range(dim):
                if (i * (p + 1) + p) % 3 == 0:
                    P[i, p] = -1.0
        bits = 1 << _np.arange(n_planes)
        for pdf in batches:
            if not len(pdf):
                continue
            V = _np.array(list(pdf[vec_col]), dtype=_np.float64)
            scale = _np.abs(V).max(axis=1) / 127.0
            with _np.errstate(divide="ignore", invalid="ignore"):
                Q = _np.floor(V / scale[:, None] + 0.5)
            Q[scale == 0] = 0.0  # zero vectors quantize to zero (try_divide twin)
            proj = Q @ P
            bucket = ((proj > 0) * bits).sum(axis=1).astype(_np.int32)
            yield _pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "qvec": list(Q.astype(_np.int8)),
                    "bucket": bucket,
                }
            )

    return emb.select(id_col, vec_col).mapInPandas(
        tag, schema="id long, qvec array<tinyint>, bucket int"
    )


def semantic_decontamination(
    train: DataFrame,
    bench: DataFrame,
    threshold: float = 0.35,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """EMBEDDING-level train/eval decontamination — the semantic
    complement of the n-gram `operators/decontamination.py`: a TRAIN
    vector is contaminated when some BENCH vector lands in its hyperplane
    cell with cosine >= `threshold` (paraphrases and re-wordings that
    share no 5-gram but sit next to the eval set in embedding space).
    Returns one row per train vector: (id_col, bucket, n_bench_hits,
    contaminated).

    Same determinism contract as :func:`semantic_dedup` (shared
    :func:`_quantize_bucket_tag` stage): int8 quantization makes every
    cross-side cosine a sum of integer-valued doubles, so the threshold
    decision — and therefore the whole output — bit-matches the DuckDB
    re-derivation. Zero-norm vectors never contaminate and are never
    contaminated (cosine undefined → no hit).

    Scale shape: one tag scan per side, then a COGROUPED applyInPandas on
    the cell key — per-cell cost is |train_cell| x |bench_cell| inside one
    numpy matmul, never a corpus cross join; the bench side is tiny by
    nature, so cells pair a large train block against a handful of bench
    rows. Cross-cell paraphrases are missed by design (LSH recall, the
    n_planes dial), identically on any engine."""
    ttag = _quantize_bucket_tag(train, n_planes, dim, id_col, vec_col)
    btag = _quantize_bucket_tag(bench, n_planes, dim, id_col, vec_col)

    def score(tpdf, bpdf):
        import numpy as _np
        import pandas as _pd

        if not len(tpdf):
            return _pd.DataFrame(
                {id_col: [], "bucket": [], "n_bench_hits": [], "contaminated": []}
            ).astype({id_col: "int64", "bucket": "int32", "n_bench_hits": "int64", "contaminated": "bool"})
        T = _np.array(list(tpdf["qvec"]), dtype=_np.float64)
        tn = _np.linalg.norm(T, axis=1)
        if len(bpdf):
            B = _np.array(list(bpdf["qvec"]), dtype=_np.float64)
            bn = _np.linalg.norm(B, axis=1)
            with _np.errstate(divide="ignore", invalid="ignore"):
                C = (T @ B.T) / _np.outer(tn, bn)
            C = _np.nan_to_num(C, nan=-2.0)  # zero-norm never clears a threshold
            hits = (C >= threshold).sum(axis=1).astype(_np.int64)
        else:
            hits = _np.zeros(len(tpdf), dtype=_np.int64)
        return _pd.DataFrame(
            {
                id_col: tpdf["id"].to_numpy(),
                "bucket": tpdf["bucket"].to_numpy(),
                "n_bench_hits": hits,
                "contaminated": hits > 0,
            }
        )

    return (
        ttag.groupBy("bucket")
        .cogroup(btag.groupBy("bucket"))
        .applyInPandas(
            score,
            schema=f"{id_col} long, bucket int, n_bench_hits long, contaminated boolean",
        )
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate removal (Abbas et al. 2023):
    cluster the embedding space, then inside each cluster drop every vector
    that has a higher-similarity twin — keeping one representative
    (min id) per semantic neighborhood. Returns (id_col, bucket, kept).

    This implementation is deterministic end to end so it can be
    value-checked cross-engine, where the paper's k-means can't:

    - the "cluster" is the parity-hyperplane LSH cell of
      :func:`_quantize_bucket_tag` (2^n_planes cells) — a fixed formula,
      no fitted model, no seed drift;
    - vectors are :func:`quantize_int8` first, so every projection and
      every within-cell cosine sums INTEGER-valued doubles — exact, no
      float associativity noise in either the bucket sign or the
      threshold decision.

    Scale shape: one quantize+bucket projection over the corpus, then a
    self-equi-join ON THE CELL KEY only — candidate generation is
    proportional to the cell pair count, never all-pairs. Raise n_planes
    to shrink cells as the corpus grows (cells halve per extra plane);
    cross-cell near-dups are missed by design (LSH recall), identically
    on any engine.

    Both stages are Arrow/numpy, ONE shuffle total (on the cell key):

    1. `mapInPandas` quantize+bucket (:func:`_quantize_bucket_tag`):
       :func:`quantize_int8`'s floor(x/s+0.5) and a ±1 plane where
       (i*(p+1)+p) % 3 == 0, as one (N×dim)@(dim×planes) matmul per
       Arrow batch instead of n_planes expression-tree passes per row —
       the expression form measured 25x wall-time at a 16x
       probe because per-row plane cost grows with n_planes; this form
       stays ~linear.
    2. `applyInPandas` per cell emits (id, bucket, kept) DIRECTLY — the
       strict-lower-triangle hit test IS the min-id-survivor rule, so no
       drop-set join-back and no second evaluation of stage 1.

    Integer-valued components keep every sum exact under numpy's
    reassociation — oracle parity is by construction, not luck.
    Executor memory is bounded by the largest cell (the n_planes knob)."""
    tagged = _quantize_bucket_tag(emb, n_planes, dim, id_col, vec_col)

    def classify(pdf):
        import numpy as _np
        import pandas as _pd

        pdf = pdf.sort_values("id")
        Q = _np.array(list(pdf["qvec"]), dtype=_np.float64)
        n = _np.linalg.norm(Q, axis=1)
        with _np.errstate(divide="ignore", invalid="ignore"):
            C = (Q @ Q.T) / _np.outer(n, n)
        C = _np.nan_to_num(C, nan=-2.0)  # zero-norm never clears a real threshold
        # Dropped iff SOME smaller-id vector in the cell clears the
        # threshold (min-id survivor, same convention as exact dedup):
        # rows sorted by id → strict lower triangle = smaller-id neighbors.
        hit = _np.tril(C >= threshold, k=-1).any(axis=1)
        return _pd.DataFrame(
            {
                id_col: pdf["id"].to_numpy(),
                "bucket": pdf["bucket"].to_numpy(),
                "kept": ~hit,
            }
        )

    return tagged.groupBy("bucket").applyInPandas(
        classify, schema=f"{id_col} long, bucket int, kept boolean"
    )


def spherical_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id: str = "centroid_id",
    keep_qvec: bool = False,
    corpus_quantized: bool = False,
) -> DataFrame:
    """Spherical k-means ASSIGNMENT over int8-quantized vectors: every
    corpus vector goes to the centroid with max cosine (ties -> min
    centroid id). Returns (id_col, centroid_id, cosine[rounded 6]).

    This is the E-step of spherical k-means / the cell-assignment step of
    an IVF index, made fully oracle-checkable by the same two tricks as
    :func:`quantized_topk`: quantization makes every dot/norm a sum of
    integer-valued doubles (exact, order-independent), and the argmax
    compares the ROUNDED cosine so both engines break ties identically.

    Scale shape: centroid set is tiny by construction (k rows) ->
    broadcast cross join; one projection computes all k cosines per
    vector; `max_by(struct)` aggregates the argmax WITH map-side partials
    — no window, no shuffle of the k-expanded rows beyond the per-id
    aggregate. Fitted/persisted centroids (see :func:`build_ivf_index`)
    slot straight in as the `centroids` frame.

    CONTRACT for an EMPTY centroids frame (ADVICE r14): the map-only
    form returns every corpus row with NULL centroid_id/cosine (the
    1-row collect_list aggregate yields an empty struct array and the
    fold returns its init), where the r13 join form returned ZERO rows.
    All in-repo callers construct centroids with k >= 1 (validated at
    their entry points), so neither behavior is reachable from a
    registry query; an emptiness probe here would cost one job per
    E-step round — exactly the per-round overhead r15 removed — so the
    edge is documented instead of guarded.
    """
    from ._util import ensure_parallelism

    # ensure_parallelism (r15, guide §2.5): the per-row work here is HEAVY
    # — quantize (two 64-element array folds) plus k inline rounded
    # cosines (k × dim interpreted higher-order evals, ~1 ms/row at
    # k=16/dim=64, measured) — and the sf fixtures arrive as ONE row
    # group, serializing the whole E-step on one core (2.0 s single-task
    # vs ~0.2 s at 32). file_backed_only: streaming micro-batch frames
    # and derived joins skip both the widening AND the ~1 s .rdd probe.
    #
    # ``corpus_quantized=True`` (r15): `corpus` already carries (id_col,
    # qvec) — the Lloyd loops (kmeans_lloyd_assign, ivfpq_build) quantize
    # the corpus ONCE into a checkpointed frame instead of re-running the
    # interpreted quantize folds on every E-step round. Identical values:
    # quantize_int8 is a pure per-row function of vec_col.
    if corpus_quantized:
        qc = corpus
    else:
        qc = quantize_int8(
            ensure_parallelism(corpus, file_backed_only=True), id_col, vec_col
        )
    cc = quantize_int8(centroids, centroid_id, vec_col).select(
        centroid_id, F.col("qvec").alias("cvec")
    )
    # MAP-ONLY argmax as of r14 (guide §2.3/§2.4): the k centroids are
    # collected into ONE broadcast row as a cid-sorted struct array (each
    # with its norm precomputed once); every corpus vector computes all k
    # rounded cosines INLINE into a struct array (one evaluation each —
    # the fold's when() never recomputes them, the r3 conditional-CSE
    # trap) and a left fold keeps the best. The r13 form k-folded the
    # corpus through a broadcast cross join and shuffled corpus*k rows
    # through a groupBy argmax; both are gone — zero exchanges.
    carr = cc.select(
        F.struct(
            F.col(centroid_id).alias("cid"),
            F.col("cvec"),
            _norm(F.col("cvec")).alias("cn"),
        ).alias("_c")
    ).agg(F.array_sort(F.collect_list("_c")).alias("_cs"))
    joined = qc.select(
        F.col(id_col), "qvec", _norm(F.col("qvec")).alias("_vn")
    ).crossJoin(F.broadcast(carr))
    scored = F.transform(
        F.col("_cs"),
        lambda c: F.struct(
            F.round(
                F.try_divide(_dot(F.col("qvec"), c["cvec"]), F.col("_vn") * c["cn"]),
                6,
            ).alias("cosine"),
            c["cid"].alias("cid"),
        ),
    )
    # Fold semantics == the r13 max(struct(cosine, -cid)) exactly:
    # - init cid is NULL (never a real cid), so the first element always
    #   replaces it (acc.cid.isNull());
    # - a NULL cosine (all-zero vector or all-zero centroid: try_divide
    #   0/0) sorts BELOW any non-null cosine (struct-ordering nulls-first
    #   == the isNull branch), and among all-null cosines the FIRST
    #   element (smallest cid, array is cid-sorted) sticks — the old
    #   max(-cid) tie-break;
    # - ties on a non-null cosine keep the earlier == smaller cid
    #   (strict > comparison).
    best = F.aggregate(
        scored,
        F.struct(
            F.lit(None).cast("double").alias("cosine"),
            F.lit(None).cast(centroids.schema[centroid_id].dataType).alias("cid"),
        ),
        lambda acc, x: F.when(
            acc["cid"].isNull()
            | (acc["cosine"].isNull() & x["cosine"].isNotNull())
            | (x["cosine"] > acc["cosine"]),
            x,
        ).otherwise(acc),
    )
    # Two-step select: `best` (a conditional fold, excluded from codegen
    # subexpression elimination — the r3 trap) is referenced twice, so it
    # must land in ONE named struct first. CollapseProject keeps the two
    # projections apart exactly because _b is non-cheap and multiply
    # referenced.
    keep = ["qvec"] if keep_qvec else []
    return joined.select(F.col(id_col), best.alias("_b"), *keep).select(
        F.col(id_col),
        F.col("_b.cid").alias(centroid_id),
        F.col("_b.cosine").alias("cosine"),
        *keep,
    )


def centroid_outliers(
    emb: DataFrame,
    threshold: float = -0.15,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space outlier scan: cosine of every vector to the GLOBAL
    centroid of the (quantized) corpus; rows far in the anti-centroid
    direction are flagged. Returns (id_col, cosine_to_centroid[rounded 6],
    is_outlier). The curation use: corrupt / truncated / wrong-modality
    embeddings land far from the corpus mass and should be dropped before
    ANN indexing or semantic dedup.

    Exactness: quantized components make the per-dimension mean a ratio
    of exact integers (identical division in any engine); the final
    cosine is rounded to 6 and the flag compares the ROUNDED value.

    Scale shape: one posexplode + one 64-group aggregate for the
    centroid (map-side partials — the shuffle carries 64 rows per task),
    re-assembled into a single broadcast row; scoring is a projection.
    No driver collect, no pairwise anything: O(n·dim) end to end.
    """
    qz = quantize_int8(emb, id_col, vec_col)
    flat = qz.select(id_col, F.posexplode("qvec").alias("i", "x"))
    cent = flat.groupBy("i").agg(F.avg("x").alias("m"))
    cvec = cent.agg(
        F.array_sort(F.collect_list(F.struct("i", "m"))).alias("s")
    ).select(F.transform("s", lambda e: e["m"]).alias("cvec"))
    scored = qz.crossJoin(F.broadcast(cvec)).select(
        id_col,
        F.round(
            F.try_divide(
                _dot(F.col("qvec"), F.col("cvec")),
                _norm(F.col("qvec")) * _norm(F.col("cvec")),
            ),
            6,
        ).alias("cosine_to_centroid"),
    )
    return scored.withColumn(
        "is_outlier",
        F.coalesce(F.col("cosine_to_centroid") < F.lit(threshold), F.lit(True)),
    )
