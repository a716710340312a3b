"""IR-scoring + sketch + projection + iterative-clustering queries (round 3
breadth): BM25 ranked retrieval, count-min heavy hitters, JL random
projection, k-means Lloyd. All fully value-checked — the arithmetic is
integer-exact, IEEE-exact (sqrt), or a shared verbatim expression string,
so the DuckDB oracles rebuild every value bit-for-bit (no rows-only
entries in this module).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.bm25 import BM25_CONTRIB_SQL, BM25_IDF_E6_SQL, bm25_topk
from ..operators.projection import random_projection
from ..operators.sketches import CMS_DEPTH, CMS_WIDTH, cms_heavy_hitters
from ..sources.catalog import load_table
from .registry import query
from .text_queries import QUERY_TERMS, _SQL_TOKS

_HASH64 = "CAST(concat('0x', substr(md5({x}), 1, 15)) AS BIGINT)"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


def _bm25_oracle() -> str:
    terms = ", ".join(f"('{t}')" for t in QUERY_TERMS)
    # The SAME expression strings the Spark plan compiles (operators/bm25.py):
    # idf quantized to idf_e6 per term (the only ln site — not correctly
    # rounded, so it is confined to |terms| sites), then a contribution
    # built from correctly-rounded double ops only (bit-identical cross-
    # engine by IEEE guarantee).
    contrib = BM25_CONTRIB_SQL.format(k1=1.2, b=0.75)
    return f"""
        WITH {_SQL_TOKS},
        q(term) AS (VALUES {terms}),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM toks
            WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
        ),
        df_t AS (SELECT term, COUNT(doc_id) AS df FROM tf GROUP BY term),
        stats AS (
            SELECT (SELECT COUNT(*) FROM documents) AS n_docs,
                   CAST((SELECT SUM(dl) FROM dl) AS DOUBLE)
                       / (SELECT COUNT(*) FROM documents) AS avgdl
        ),
        idf AS (
            SELECT term, {BM25_IDF_E6_SQL} AS idf_e6
            FROM df_t CROSS JOIN stats
        ),
        scored AS (
            SELECT tf.doc_id,
                   COUNT(*) AS n_matched,
                   CAST(SUM({contrib}) AS BIGINT) AS score_ppm
            FROM tf
            JOIN dl ON dl.doc_id = tf.doc_id
            JOIN idf ON idf.term = tf.term
            CROSS JOIN stats
            GROUP BY tf.doc_id
        ),
        ranked AS (
            SELECT doc_id, n_matched, score_ppm,
                   CAST(ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id ASC) AS INT) AS rank
            FROM scored
        )
        SELECT doc_id, n_matched, score_ppm, rank FROM ranked WHERE rank <= 20
    """


@query(
    "search_bm25_topk",
    oracle=_bm25_oracle(),
    description="BM25 ranked retrieval over documents (Lucene-variant idf, k1=1.2 b=0.75): per-term contribution quantized to integer ppm before the per-doc sum, so scores/ranks are order-independent exact integers; top-20 via TakeOrderedAndProject (operators/bm25.py — modern twin of the reference's TF-IDF cosine search, MovieSearchEngine.scala:239-308)",
)
def search_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bm25_topk(_docs(spark, sf_dir), list(QUERY_TERMS), k=20)


def _rrf_core_ctes() -> str:
    """Shared CTE chain (through `fused`) re-deriving the two retrievers
    and their RRF fusion — used by BOTH the hybrid-retrieval oracle and
    the retrieval-evaluation oracle, so the two stay definitionally in
    lock-step."""
    terms = ", ".join(f"('{t}')" for t in QUERY_TERMS)
    contrib = BM25_CONTRIB_SQL.format(k1=1.2, b=0.75)
    # BM25 side re-derived over documents EXCLUDING the probe doc (the
    # Spark plan filters docs before scoring, so N/avgdl/df all shift);
    # dense side = cosine vs vec 0 ranked by the ROUNDED value; fusion =
    # exact integer RRF (1e9 // (60 + rank)) summed over <= 2 BIGINTs.
    return f"""{_SQL_TOKS},
        toks_f AS (SELECT * FROM toks WHERE doc_id <> 0),
        q(term) AS (VALUES {terms}),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks_f GROUP BY doc_id),
        tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM toks_f
            WHERE term IN (SELECT term FROM q) GROUP BY doc_id, term
        ),
        df_t AS (SELECT term, COUNT(doc_id) AS df FROM tf GROUP BY term),
        stats AS (
            SELECT (SELECT COUNT(*) FROM documents WHERE doc_id <> 0) AS n_docs,
                   CAST((SELECT SUM(dl) FROM dl) AS DOUBLE)
                       / (SELECT COUNT(*) FROM documents WHERE doc_id <> 0) AS avgdl
        ),
        idf AS (
            SELECT term, {BM25_IDF_E6_SQL} AS idf_e6
            FROM df_t CROSS JOIN stats
        ),
        bm_scored AS (
            SELECT tf.doc_id, CAST(SUM({contrib}) AS BIGINT) AS score_ppm
            FROM tf
            JOIN dl ON dl.doc_id = tf.doc_id
            JOIN idf ON idf.term = tf.term
            CROSS JOIN stats
            GROUP BY tf.doc_id
        ),
        bm_ranked AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY score_ppm DESC, doc_id ASC) AS INT) AS rank
            FROM bm_scored
            QUALIFY rank <= 50
        ),
        qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 0),
        dn_scored AS (
            SELECT e.vec_id AS doc_id,
                   ROUND(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(qv.qvec[i] AS DOUBLE))
                       / (sqrt(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                          * sqrt(SUM(CAST(qv.qvec[i] AS DOUBLE) * CAST(qv.qvec[i] AS DOUBLE)))), 6) AS cosine
            FROM embeddings e
            CROSS JOIN qv
            , UNNEST(generate_series(1, len(e.embedding))) t(i)
            WHERE e.vec_id <> 0
            GROUP BY e.vec_id
        ),
        dn_ranked AS (
            SELECT doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id ASC) AS INT) AS rank
            FROM dn_scored
            QUALIFY rank <= 50
        ),
        fused AS (
            SELECT COALESCE(b.doc_id, d.doc_id) AS doc_id,
                   b.rank AS bm25_rank,
                   d.rank AS dense_rank,
                   CAST(COALESCE(1000000000 // (60 + b.rank), 0)
                        + COALESCE(1000000000 // (60 + d.rank), 0) AS BIGINT) AS rrf_e9
            FROM bm_ranked b FULL OUTER JOIN dn_ranked d ON d.doc_id = b.doc_id
        )"""


def _hybrid_rrf_oracle() -> str:
    return f"""
        WITH {_rrf_core_ctes()}
        SELECT doc_id, bm25_rank, dense_rank, rrf_e9,
               CAST(ROW_NUMBER() OVER (ORDER BY rrf_e9 DESC, doc_id ASC) AS INT) AS rank
        FROM fused
        QUALIFY rank <= 20
    """


@query(
    "search_hybrid_rrf",
    oracle=_hybrid_rrf_oracle(),
    description="Hybrid sparse+dense retrieval with reciprocal-rank fusion (Cormack 2009): BM25 top-50 over documents text + cosine top-50 vs probe vector 0 (its embedding stands in for the encoded query; the probe's own doc excluded from both sides), fused as exact-integer RRF weights 1e9 DIV (60+rank) — each retriever keeps its own scale-correct plan, fusion is a broadcast full-outer join over two <=50-row frames (operators/fusion.py)",
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fusion import hybrid_rrf_topk

    return hybrid_rrf_topk(
        _docs(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
        list(QUERY_TERMS),
        probe_vec_id=0,
        k_each=50,
        k=20,
    )


def _retrieval_eval_oracle() -> str:
    # Same core CTEs as the hybrid query (definitional lock-step), then
    # label-as-relevance metrics — all exact integer arithmetic.
    return f"""
        WITH {_rrf_core_ctes()},
        lists AS (
            SELECT 'bm25' AS retriever, doc_id, rank FROM bm_ranked WHERE rank <= 10
            UNION ALL
            SELECT 'dense' AS retriever, doc_id, rank FROM dn_ranked WHERE rank <= 10
            UNION ALL
            SELECT 'rrf' AS retriever, doc_id,
                   CAST(ROW_NUMBER() OVER (ORDER BY rrf_e9 DESC, doc_id ASC) AS INT) AS rank
            FROM fused
            QUALIFY rank <= 10
        ),
        rel AS (
            SELECT vec_id AS doc_id FROM embeddings
            WHERE label = (SELECT label FROM embeddings WHERE vec_id = 0)
              AND vec_id <> 0
        ),
        tot AS (SELECT COUNT(*) AS t FROM rel)
        SELECT l.retriever,
               CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rel_at_k,
               CAST(COALESCE(
                   1000000 // MIN(CASE WHEN r.doc_id IS NOT NULL THEN l.rank END),
                   0) AS BIGINT) AS mrr_e6,
               (CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                    * 2000000 + (SELECT t FROM tot))
                   // (2 * (SELECT t FROM tot)) AS recall_ppm
        FROM lists l LEFT JOIN rel r ON r.doc_id = l.doc_id
        GROUP BY l.retriever
    """


@query(
    "search_retrieval_eval",
    oracle=_retrieval_eval_oracle(),
    description="Retrieval-quality scorecard at k=10 for bm25 / dense / rrf against label-as-relevance judgments (a doc is relevant iff it shares probe vector 0's label): hits@10, MRR as exact 1e6 DIV first-relevant-rank, recall as round-half-up ppm of the label's corpus population — the eval harness a retrieval stack ships with, fully value-checked (operators/fusion.py retrieval_label_eval)",
)
def search_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.fusion import retrieval_label_eval

    return retrieval_label_eval(
        _docs(spark, sf_dir),
        load_table(spark, sf_dir, "embeddings"),
        list(QUERY_TERMS),
        probe_vec_id=0,
        k=10,
        k_each=50,
    )


def _cms_oracle() -> str:
    bucket = _HASH64.format(x="'cms' || i || ':' || term")
    return f"""
        WITH {_SQL_TOKS},
        cells AS (
            SELECT i AS row, {bucket} % {CMS_WIDTH} AS bucket
            FROM toks, UNNEST(generate_series(0, {CMS_DEPTH - 1})) t(i)
        ),
        sketch AS (SELECT row, bucket, COUNT(*) AS cnt FROM cells GROUP BY row, bucket),
        exact AS (
            SELECT term, COUNT(*) AS exact_cnt FROM toks GROUP BY term
            ORDER BY exact_cnt DESC, term ASC LIMIT 20
        ),
        probes AS (
            SELECT term, exact_cnt, i AS row, {bucket} % {CMS_WIDTH} AS bucket
            FROM exact, UNNEST(generate_series(0, {CMS_DEPTH - 1})) t(i)
        ),
        est AS (
            SELECT probes.term, MIN(sketch.cnt) AS cms_est
            FROM probes JOIN sketch
              ON sketch.row = probes.row AND sketch.bucket = probes.bucket
            GROUP BY probes.term
        )
        SELECT exact.term, exact.exact_cnt, est.cms_est,
               est.cms_est - exact.exact_cnt AS overcount
        FROM exact JOIN est ON est.term = exact.term
    """


@query(
    "terms_cms_heavy_hitters",
    oracle=_cms_oracle(),
    description=f"Count-min sketch ({CMS_DEPTH}x{CMS_WIDTH} grid, portable row-salted hashes) over the corpus term stream; exact top-20 terms joined with their CMS estimates — the grid AND the estimates are integer-exact, so the one-sided overcount guarantee is a value-checked column (operators/sketches.py)",
)
def terms_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tfidf import token_table

    return cms_heavy_hitters(token_table(_docs(spark, sf_dir)), k=20)


def _projection_ctes(out_dim: int, in_dim: int) -> str:
    """Shared CTE chain for EVERY projection oracle (quantize -> per-
    component rows -> md5 signs): ONE definition, so a change to the
    quantize rounding or the jl_sign hash cannot silently fork between the
    long-form and the topk oracle (the sketches.py _cells lesson)."""
    # Signs re-derived IN SQL from md5('rp:<k>:<j>') — the same pure
    # function hashlib evaluates driver-side in operators/projection.py.
    sign = (
        "CASE WHEN " + _HASH64.format(x="'rp:' || k || ':' || (j - 1)")
        + " % 2 = 0 THEN 1 ELSE -1 END"
    )
    return f"""
        sc AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
            FROM embeddings
        ),
        qz AS (
            SELECT vec_id,
                   CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
                        ELSE list_transform(v, x -> floor(x / scale + 0.5)) END AS q
            FROM sc
        ),
        qi AS (
            SELECT vec_id, j, q[j] AS qj
            FROM qz, UNNEST(generate_series(1, {in_dim})) t(j)
        ),
        signs AS (
            SELECT k, j, {sign} AS s
            FROM UNNEST(generate_series(0, {out_dim - 1})) a(k),
                 UNNEST(generate_series(1, {in_dim})) b(j)
        )"""


def _projection_oracle(out_dim: int = 16, in_dim: int = 64) -> str:
    return f"""
        WITH {_projection_ctes(out_dim, in_dim)}
        SELECT qi.vec_id,
               CAST(signs.k AS INT) AS dim_idx,
               CAST(SUM(qi.qj * signs.s) AS BIGINT) AS value
        FROM qi JOIN signs ON signs.j = qi.j
        GROUP BY qi.vec_id, signs.k
    """


_KMEANS_ORACLE = """
    WITH sc AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
        FROM embeddings
    ),
    qz AS (
        SELECT vec_id,
               CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
                    ELSE list_transform(v, x -> floor(x / scale + 0.5)) END AS q
        FROM sc
    ),
    seeds AS (
        SELECT vec_id,
               CAST(ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS centroid_id
        FROM (
            SELECT vec_id,
                   CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM embeddings
        )
        ORDER BY h, vec_id LIMIT 8
    ),
    cent0 AS (
        SELECT s.centroid_id, qz.q AS cq FROM seeds s JOIN qz ON qz.vec_id = s.vec_id
    ),
    a1s AS (
        SELECT e.vec_id, c.centroid_id,
               ROUND(SUM(e.q[i] * c.cq[i])
                   / (sqrt(SUM(e.q[i] * e.q[i])) * sqrt(SUM(c.cq[i] * c.cq[i]))), 6) AS cosine
        FROM qz e JOIN cent0 c ON TRUE
        , UNNEST(generate_series(1, len(e.q))) t(i)
        GROUP BY e.vec_id, c.centroid_id
    ),
    a1 AS (
        SELECT vec_id, centroid_id FROM (
            SELECT vec_id, centroid_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, centroid_id ASC) AS rn
            FROM a1s
        ) WHERE rn = 1
    ),
    mdims AS (
        SELECT a1.centroid_id, i AS j, qz.q[i] AS x
        FROM a1 JOIN qz ON qz.vec_id = a1.vec_id
        , UNNEST(generate_series(1, len(qz.q))) t(i)
    ),
    means AS (
        SELECT centroid_id, j, SUM(x) / COUNT(*) AS m FROM mdims GROUP BY centroid_id, j
    ),
    newvec AS (SELECT centroid_id, list(m ORDER BY j) AS v FROM means GROUP BY centroid_id),
    cent1v AS (
        SELECT c0.centroid_id,
               COALESCE(nv.v, (SELECT sc.v FROM seeds s2 JOIN sc ON sc.vec_id = s2.vec_id
                               WHERE s2.centroid_id = c0.centroid_id)) AS v
        FROM cent0 c0 LEFT JOIN newvec nv ON nv.centroid_id = c0.centroid_id
    ),
    cent1 AS (
        SELECT centroid_id,
               CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
                    ELSE list_transform(v, x -> floor(x / scale + 0.5)) END AS cq
        FROM (
            SELECT centroid_id, v,
                   list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
            FROM cent1v
        )
    ),
    a2s AS (
        SELECT e.vec_id, c.centroid_id,
               ROUND(SUM(e.q[i] * c.cq[i])
                   / (sqrt(SUM(e.q[i] * e.q[i])) * sqrt(SUM(c.cq[i] * c.cq[i]))), 6) AS cosine
        FROM qz e JOIN cent1 c ON TRUE
        , UNNEST(generate_series(1, len(e.q))) t(i)
        GROUP BY e.vec_id, c.centroid_id
    )
    SELECT vec_id, centroid_id, cosine FROM (
        SELECT vec_id, centroid_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, centroid_id ASC) AS rn
        FROM a2s
    ) WHERE rn = 1
"""


@query(
    "embeddings_kmeans_lloyd",
    # The full iterative loop unrolled in SQL: hash-seeded init, quantized
    # argmax assignment, per-dimension-mean update (exact integer sums /
    # counts), re-quantize, re-assign. Every stage reuses a recipe already
    # proven green (qz fragment, rounded-cosine argmax, ROW_NUMBER
    # tie-break) — sqrt is IEEE-exact, so no new float-parity surface.
    oracle=_KMEANS_ORACLE,
    description="Spherical k-means, one full Lloyd round (k=8): deterministic hash-seeded init -> quantized max-cosine assign -> exact per-dim-mean centroid update (empty clusters keep their seed) -> reassign; per round the corpus shuffles once and centroids stay a k-row broadcast (operators/kmeans.py — the iterative-ML twin of the graph loops)",
)
def embeddings_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.kmeans import kmeans_lloyd_assign

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_lloyd_assign(emb, k=8, rounds=1)


def _fdiv(n: str, d: str) -> str:
    """Sign-safe FLOOR division for DuckDB SQL (divisor positive): both
    DuckDB's `//` and Spark's DIV truncate TOWARD ZERO (verified r10:
    `SELECT -7 // 2` -> -3), so the round-half-up floor form needs the
    explicit negative-remainder correction — the exact twin of the Spark
    expression in operators/sequence.py."""
    return (
        f"(({n}) // ({d})"
        f" - CASE WHEN ({n}) % ({d}) <> 0 AND ({n}) < 0 THEN 1 ELSE 0 END)"
    )


def _principal_direction_oracle(iterations: int = 8, in_dim: int = 64) -> str:
    """Unrolled power iteration: the qz quantize fragment, the exact
    scatter matrix, the 1e6-grid normalization, then `iterations`
    matvec+renormalize CTEs — every chained CTE MATERIALIZED (DuckDB
    inlines plain CTEs per reference; an 8-deep chain re-reads the
    parquet exponentially otherwise). All integer arithmetic rides
    DuckDB's HUGEINT, and `//` floors exactly like the python ints in
    operators/projection.py — bit-identical by construction."""
    steps = []
    prev = "v0"
    for t in range(1, iterations + 1):
        steps.append(
            f"u{t} AS MATERIALIZED (\n"
            f"    SELECT s1.i AS j, SUM(s1.s * {prev}.c) AS u\n"
            f"    FROM s1 JOIN {prev} ON {prev}.j = s1.j GROUP BY s1.i\n"
            f"),\n"
            f"v{t} AS MATERIALIZED (\n"
            f"    SELECT j, {_fdiv(f'2 * u * 10000 + (SELECT MAX(ABS(u)) FROM u{t})', f'2 * (SELECT MAX(ABS(u)) FROM u{t})')} AS c\n"
            f"    FROM u{t}\n"
            f"),"
        )
        prev = f"v{t}"
    return f"""
        WITH sc AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale
            FROM embeddings
        ),
        qz AS (
            SELECT vec_id,
                   CASE WHEN scale = 0 THEN list_transform(v, x -> 0.0)
                        ELSE list_transform(v, x -> floor(x / scale + 0.5)) END AS q
            FROM sc
        ),
        xs AS MATERIALIZED (
            SELECT vec_id, j, CAST(q[j] AS BIGINT) AS x
            FROM qz, UNNEST(generate_series(1, {in_dim})) t(j)
        ),
        smat AS MATERIALIZED (
            SELECT a.j AS i, b.j AS j, SUM(a.x * b.x) AS s
            FROM xs a JOIN xs b USING (vec_id) GROUP BY a.j, b.j
        ),
        s1 AS MATERIALIZED (
            SELECT i, j,
                   {_fdiv("2 * s * 1000000 + (SELECT MAX(ABS(s)) FROM smat)",
                          "2 * (SELECT MAX(ABS(s)) FROM smat)")} AS s
            FROM smat
        ),
        v0 AS (
            SELECT j, CAST(10000 AS BIGINT) AS c
            FROM UNNEST(generate_series(1, {in_dim})) t(j)
        ),
        {"".join(steps)}
        sgn AS (
            SELECT CASE WHEN (SELECT c FROM {prev} WHERE c != 0
                              ORDER BY j LIMIT 1) < 0
                        THEN -1 ELSE 1 END AS f
        )
        SELECT CAST(j - 1 AS INT) AS dim_idx,
               CAST(c * (SELECT f FROM sgn) AS BIGINT) AS component_e4
        FROM {prev}
    """


@query(
    "embeddings_principal_direction",
    # Fixed-iteration power method over EXACT integers: the corpus stage
    # is the scatter matrix (exact BIGINT sums); normalization and every
    # matvec round use the repo's sign-safe round-half-up floor division
    # — python arbitrary-precision ints on the Spark side, HUGEINT + //
    # in DuckDB, no float anywhere. Identical by construction.
    oracle=_principal_direction_oracle(),
    description="Top principal direction of the embedding corpus (uncentered PCA axis — the whitening/SemDeDup building block) via an 8-round exact-integer power method: the ONLY corpus-sized stage is the scatter-matrix aggregate (two chained map-side generators + one hash aggregate whose shuffle volume is the fixed 64x64 grid regardless of corpus size); the 64x64 iteration is bounded driver arithmetic like the k-centroid collects (operators/projection.py)",
)
def embeddings_principal_direction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.projection import top_principal_direction

    emb = load_table(spark, sf_dir, "embeddings")
    return top_principal_direction(emb, iterations=8, in_dim=64)


@query(
    "embeddings_random_projection",
    oracle=_projection_oracle(),
    description="Johnson-Lindenstrauss 64->16 random projection of the embedding column (deterministic ±1 Achlioptas matrix from portable md5 signs, int8-quantized input): pure BIGINT arithmetic, map-only narrow transform — the 4x compare/shuffle reduction ahead of ANN at scale (operators/projection.py)",
)
def embeddings_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return random_projection(emb, out_dim=16, in_dim=64)


def _projected_topk_oracle(out_dim: int = 16, in_dim: int = 64, k: int = 10) -> str:
    # Shared projection CTE prefix + per-dim sums regrouped to lists, then
    # the proven cosine-topk pattern: integer-sum dots, IEEE-exact sqrt
    # norms, rank on the unrounded (bit-identical) cosine with min-id
    # tie-break, ROUND(,6) only in the output.
    return f"""
        WITH {_projection_ctes(out_dim, in_dim)},
        pd AS (
            SELECT qi.vec_id, signs.k, SUM(qi.qj * signs.s) AS val
            FROM qi JOIN signs ON signs.j = qi.j
            GROUP BY qi.vec_id, signs.k
        ),
        pvec AS (SELECT vec_id, list(val ORDER BY k) AS p FROM pd GROUP BY vec_id),
        q3 AS (SELECT vec_id AS query_id, p AS qp FROM pvec WHERE vec_id < 3),
        scored AS (
            SELECT c.vec_id, q3.query_id,
                   SUM(c.p[j] * q3.qp[j])
                       / (sqrt(SUM(c.p[j] * c.p[j])) * sqrt(SUM(q3.qp[j] * q3.qp[j]))) AS cosine
            FROM pvec c JOIN q3 ON c.vec_id <> q3.query_id
            , UNNEST(generate_series(1, {out_dim})) t(j)
            GROUP BY c.vec_id, q3.query_id
        ),
        ranked AS (
            SELECT query_id, vec_id, cosine,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
            FROM scored
        )
        SELECT query_id, vec_id, ROUND(cosine, 6) AS cosine, rank
        FROM ranked WHERE rank <= {k}
    """


@query(
    "similarity_projected_topk",
    oracle=_projected_topk_oracle(),
    description="ANN over JL-projected vectors: brute-force cosine top-10 for 3 probe vectors in the 16-dim projected space — the projection actually feeding search (4x fewer FLOPs/bytes per comparison); integer projected vectors keep every cosine bit-identical cross-engine (operators/projection.py + similarity.cosine_topk)",
)
def similarity_projected_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.projection import projected_vectors
    from ..operators.similarity import cosine_topk

    emb = load_table(spark, sf_dir, "embeddings")
    pv = projected_vectors(emb, out_dim=16, in_dim=64)
    probes = pv.filter("vec_id < 3")
    return cosine_topk(pv, probes, k=10, vec_col="pvec")


@query(
    "events_hll_daily_rollup",
    # Sketch bits are implementation-specific (DataSketches vs DuckDB), so
    # — like lineitem_approx_profile — the oracle re-derives the EXACT
    # columns and pins the accuracy assertion at 1: a hash match means
    # every merged estimate met its 5% bound.
    oracle="""
        SELECT event_type,
               COUNT(DISTINCT user_id) AS exact_users,
               CAST(COUNT(DISTINCT CAST(FLOOR(epoch(ts)/86400) AS BIGINT)) AS BIGINT) AS n_days,
               1 AS hll_merge_ok
        FROM events GROUP BY event_type
    """,
    description="Mergeable-sketch rollup: per-(event_type, epoch-day) DataSketches HLL partials unioned per type — distinct-user counts over any day range by merging KB sketches instead of re-scanning the fact table (exact dedup partials are not mergeable); value-checked via exact distinct/day counts + an in-plan 5%-relative-error assertion (operators/sketches.py hll_daily_rollup)",
)
def events_hll_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_events

    from ..operators.sketches import hll_daily_rollup

    return hll_daily_rollup(load_events(spark, sf_dir))


@query(
    "events_kll_value_rollup",
    # Sketch internals are implementation-specific; the CONTRACT is the
    # in-plan integer assertions (lineitem_approx_profile pattern): the
    # merged sketch saw exactly every row (mergeability witness) and its
    # rank of each exact discrete quantile is within 3% of target.
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_events,
               1 AS n_match,
               1 AS p50_rank_ok,
               1 AS p95_rank_ok,
               1 AS p99_rank_ok
        FROM events
        GROUP BY event_type
    """,
    description="Mergeable QUANTILE rollup (percentile twin of the HLL rollup): per-(type, epoch-day) DataSketches KLL partials merged per type answer p50/p95/p99 over any day range by merging KB sketches instead of re-sorting the fact table; judge columns assert stream-length equality and 3% rank accuracy in-plan (operators/sketches.py kll_value_rollup)",
)
def events_kll_value_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import kll_value_rollup
    from ..sources.catalog import load_events

    return kll_value_rollup(load_events(spark, sf_dir))


@query(
    "events_theta_audience_overlap",
    # Exact overlap/union come from one distinct + one catalog-bounded
    # self-join (DuckDB re-derives them); the theta intersection/union
    # estimates assert within 5% in-plan (sketches are in exact mode
    # below ~4k keys/group, so the flags are stable 1s).
    oracle="""
        WITH bi AS (SELECT DISTINCT event_type, user_id FROM events),
        per_g AS (SELECT event_type, COUNT(*) AS dk FROM bi GROUP BY event_type),
        ov AS (
            SELECT x.event_type AS type_a, y.event_type AS type_b, COUNT(*) AS n_ov
            FROM bi x JOIN bi y
              ON x.user_id = y.user_id AND x.event_type < y.event_type
            GROUP BY 1, 2
        )
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               CAST(COALESCE(o.n_ov, 0) AS BIGINT) AS exact_overlap,
               CAST(a.dk + b.dk - COALESCE(o.n_ov, 0) AS BIGINT) AS exact_union,
               1 AS overlap_ok,
               1 AS union_ok
        FROM per_g a JOIN per_g b ON a.event_type < b.event_type
        LEFT JOIN ov o ON o.type_a = a.event_type AND o.type_b = b.event_type
    """,
    description="Audience set algebra via Theta sketches: per-type distinct-user sketches intersected/unioned pairwise — |A∩B| across ANY segment pair from KB sketches (HLL cannot intersect; exact pairwise distinct is a shuffle per pair); exact judge columns + 5% in-plan accuracy flags (operators/sketches.py theta_audience_overlap)",
)
def events_theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import theta_audience_overlap
    from ..sources.catalog import load_events

    return theta_audience_overlap(load_events(spark, sf_dir))


@query(
    "orders_lineitem_join_cardinality",
    # Exact judge columns (per-side distinct keys + exact shared-key
    # count) are SQL; the theta-intersection estimate asserts within 5%
    # in-plan (both sides' key sets exceed the 4k exact-mode bound at
    # sf0.1 but the estimator's rse is ~1.6% at lgK 12 -> stable 1).
    oracle="""
        SELECT (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS left_keys,
               (SELECT COUNT(DISTINCT l_orderkey) FROM lineitem) AS right_keys,
               (SELECT COUNT(*) FROM
                   (SELECT DISTINCT o_orderkey FROM orders) o
                   JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
                     ON o.o_orderkey = l.l_orderkey) AS exact_shared,
               1 AS shared_ok
    """,
    description="Pre-join key profiling from two 1-row Theta sketches: estimate the DISTINCT join keys orders and lineitem share before shuffling either (join-vs-filter planning from KB summaries); exact judge columns + 5% in-plan flag (operators/sketches.py theta_join_key_profile)",
)
def orders_lineitem_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketches import theta_join_key_profile

    return theta_join_key_profile(
        load_table(spark, sf_dir, "orders"),
        "o_orderkey",
        load_table(spark, sf_dir, "lineitem"),
        "l_orderkey",
    )


@query(
    "streaming_cms_heavy_hitters",
    # SAME value-checked oracle as the batch query: CMS cells are pure
    # integers under cell-wise addition, which is commutative and
    # associative, so the drained per-batch fold must reproduce the batch
    # grid BIT-FOR-BIT regardless of micro-batch order — a stronger
    # contract than the HLL/KLL accuracy flags.
    oracle=_cms_oracle(),
    description="Streaming count-min maintenance: each micro-batch tokenizes and aggregates its own cells, folded into the standing 4x256 integer grid by cell-wise addition via the exactly-once foreachBatch wrapper; the drained grid is value-identical to the batch sketch (order-independent integer merge), probed with the exact top-20 terms",
)
def streaming_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import partial

    from pyspark.sql import functions as F

    from ..operators.merge import apply_agg_delta
    from ..operators.sketches import cms_build, cms_estimate
    from ..operators.tfidf import token_table
    from ..streaming import stream as ST

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    with ST.staged_stream(spark, docs, "doc_id") as stream:
        grid = ST.fold_deltas(
            stream,
            lambda batch_df: cms_build(token_table(batch_df)),
            partial(apply_agg_delta, keys=["row", "bucket"], measures=["cnt"]),
        )
    exact = (
        token_table(docs)
        .groupBy("term")
        .agg(F.count("*").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("term"))
        .limit(20)
    )
    est = cms_estimate(grid, exact.select("term"))
    out = exact.join(est, "term").select(
        "term",
        "exact_cnt",
        "cms_est",
        (F.col("cms_est") - F.col("exact_cnt")).alias("overcount"),
    )
    return out.localCheckpoint()
