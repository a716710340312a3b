"""Training-data-pipeline queries (BASELINE.json north star): dedup,
similarity search, multimodal plumbing, NER, events/JSON/windows, ML.

Wherever the algorithm is deterministic, the DuckDB oracle reimplements it
with the SAME hash arithmetic (md5-derived portable hashes) so even
MinHash/SimHash are value-checked, not just row-counted.
"""

from __future__ import annotations

import re as _re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import sql_stopword_list
from ..operators import dedup as D
from ..operators import entities as E
from ..operators import ml as M
from ..operators import multimodal as MM
from ..operators import similarity as S
from ..operators.dedup import MERSENNE31, _perm_params
from ..sources.catalog import load_events, load_table
from .registry import query, shared

_HASH64 = "CAST(concat('0x', substr(md5(CAST({x} AS VARCHAR)), 1, 15)) AS BIGINT)"
_HASH40 = "CAST(concat('0x', substr(md5(CAST({x} AS VARCHAR)), 1, 10)) AS BIGINT)"

# DuckDB twin of dedup.shingle_table (k=3): distinct 3-token shingles.
_SQL_SHINGLES = r"""
doc_toks AS (
    SELECT doc_id,
           regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS toks
    FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id AS id,
           array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
    FROM doc_toks, UNNEST(generate_series(1, len(toks) - 2)) t(i)
    WHERE len(toks) >= 3
)
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@query(
    "dedup_exact_groups",
    oracle=f"""
        SELECT {_HASH64.format(x="trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))")} AS dup_hash,
               COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
        FROM documents
        GROUP BY dup_hash
    """,
    description="Exact dedup: content-hash groups with canonical survivor (min id)",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_duplicates(_docs(spark, sf_dir))


@query(
    "dedup_ngram_jaccard",
    # Joins on the 64-bit shingle hash, mirroring the engine: only 8-byte
    # keys are exchanged; dedup/intersection-by-hash == by-string up to md5
    # collisions applied identically on both sides.
    oracle=f"""
        WITH {_SQL_SHINGLES},
        hshingles AS (
            SELECT DISTINCT id, {_HASH64.format(x='shingle')} AS h FROM shingles
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM hshingles GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM hshingles a JOIN hshingles b USING (h)
            WHERE a.id < b.id
            GROUP BY a.id, b.id
        )
        SELECT id_a, id_b,
               ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
    """,
    description="Near-dup pairs by 3-shingle Jaccard via inverted-index join",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), k=3, threshold=0.2)


# CJK-aware twin of _SQL_SHINGLES: same slice/distinct chain over the
# tokens_cjk token stream (Han/kana runs as char bigrams). Built from the
# shared sql_tokens_cjk literal so the oracle can never drift from the
# Spark tokenizer.
def _sql_shingles_cjk() -> str:
    from ..functions.text import sql_tokens_cjk

    return f"""
doc_toks AS (
    SELECT doc_id, {sql_tokens_cjk("text")} AS toks
    FROM documents
),
shingles AS (
    SELECT DISTINCT doc_id AS id,
           array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
    FROM doc_toks, UNNEST(generate_series(1, len(toks) - 2)) t(i)
    WHERE len(toks) >= 3
)
"""


@query(
    "dedup_ngram_jaccard_cjk",
    # r14 (the CJK loop closed): the default whitespace tokenizer makes a
    # whole zh/ja sentence ONE token, so a 3-token shingle needs THREE
    # sentences and near-dup zh pairs are INVISIBLE to the entire
    # shingle-based dedup family — exactly the silent-wrongness VERDICT
    # r13 named. This twin shingles over the CJK-aware token stream
    # (Han/kana char bigrams, everything else word-split); on the ASCII
    # driver fixture it is value-identical to dedup_ngram_jaccard (the
    # tokenizers agree off-CJK — pinned by unit), and on the multilingual
    # micro-fixture it finds the zh near-dup pairs the default provably
    # cannot (tests/test_r14_cjk.py, incl. a raw-shingle brute force).
    oracle=f"""
        WITH {_sql_shingles_cjk()},
        hshingles AS (
            SELECT DISTINCT id, {_HASH64.format(x='shingle')} AS h FROM shingles
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM hshingles GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM hshingles a JOIN hshingles b USING (h)
            WHERE a.id < b.id
            GROUP BY a.id, b.id
        )
        SELECT id_a, id_b,
               ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
    """,
    description="Near-dup pairs by 3-shingle Jaccard over the CJK-aware token stream (r14: Han/kana runs emit char bigrams, so whitespace-free zh/ja near-dups become visible to the shingle inverted index — the default tokenizer makes a whole zh sentence one token and needs three sentences per shingle); identical inverted-index join shape as dedup_ngram_jaccard, value-identical to it on non-CJK corpora",
)
def dedup_ngram_jaccard_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        _docs(spark, sf_dir), k=3, threshold=0.2, cjk=True
    )


@query(
    "corpus_split_leakage_audit",
    # Leakage audit (r8): near-dup pairs straddling the deterministic
    # train/test hash split. Same inverted-index pair SQL as
    # dedup_ngram_jaccard; split membership is the identical md5 bucket
    # arithmetic documents_hash_sample_split pins, applied as a pure
    # projection over the pair rows.
    oracle=f"""
        WITH {_SQL_SHINGLES},
        hshingles AS (
            SELECT DISTINCT id, {_HASH64.format(x='shingle')} AS h FROM shingles
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM hshingles GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM hshingles a JOIN hshingles b USING (h)
            WHERE a.id < b.id
            GROUP BY a.id, b.id
        ),
        pairs AS (
            SELECT id_a, id_b,
                   ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard,
                   {_HASH64.format(x="CAST(id_a AS VARCHAR) || 'split'")} % 10000 < 1000 AS a_test,
                   {_HASH64.format(x="CAST(id_b AS VARCHAR) || 'split'")} % 10000 < 1000 AS b_test
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
        )
        SELECT CASE WHEN a_test THEN id_b ELSE id_a END AS train_doc,
               CASE WHEN a_test THEN id_a ELSE id_b END AS test_doc,
               jaccard
        FROM pairs
        WHERE a_test <> b_test
    """,
    description="Train/test leakage audit: near-dup pairs (3-shingle Jaccard >= 0.2) that straddle the deterministic hash split — contamination the split cannot prevent; split labels are a pure hash projection over the pair table, no membership join (dedup.cross_split_leakage_pairs)",
)
def corpus_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.cross_split_leakage_pairs(_docs(spark, sf_dir), k=3, threshold=0.2)


@query(
    "dedup_containment_pairs",
    # Same hash-join shape as dedup_ngram_jaccard; the intersection is
    # computed once per unordered pair and emitted in each direction
    # clearing |A∩B|/|A| >= 0.5 (threshold on the RAW ratio, ROUND only
    # for display — mirrored exactly).
    oracle=f"""
        WITH {{shingles}},
        hshingles AS (
            SELECT DISTINCT id, {{h}} AS h FROM shingles
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM hshingles GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM hshingles a JOIN hshingles b USING (h)
            WHERE a.id < b.id
            GROUP BY a.id, b.id
        ),
        both_sides AS (
            SELECT id_a, id_b, i, sa.n AS na, sb.n AS nb
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
        )
        SELECT id_a AS id_contained, id_b AS id_container,
               ROUND(CAST(i AS DOUBLE) / na, 6) AS containment
        FROM both_sides WHERE CAST(i AS DOUBLE) / na >= 0.5
        UNION ALL
        SELECT id_b AS id_contained, id_a AS id_container,
               ROUND(CAST(i AS DOUBLE) / nb, 6) AS containment
        FROM both_sides WHERE CAST(i AS DOUBLE) / nb >= 0.5
    """.format(shingles=_SQL_SHINGLES, h=_HASH64.format(x="shingle")),
    description="DIRECTED near-dup pairs by 3-shingle containment |A∩B|/|A| >= 0.5 (Broder 1997): catches the quote/boilerplate-inclusion cases symmetric Jaccard under-scores (short doc inside long doc => containment ~1, jaccard ~|A|/|B|); same inverted-index join shape, intersection computed once per unordered pair (operators/dedup.py containment_pairs)",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.containment_pairs(_docs(spark, sf_dir), k=3, threshold=0.5)


@query(
    "dedup_jaccard_df_capped",
    # Same hash-join shape as dedup_ngram_jaccard plus the hot-shingle cap
    # (df <= 5) applied identically on both sides: exact Jaccard over the
    # capped shingle universe.
    oracle=f"""
        WITH {_SQL_SHINGLES},
        hshingles AS (
            SELECT DISTINCT id, {_HASH64.format(x='shingle')} AS h FROM shingles
        ),
        dfreq AS (SELECT h, COUNT(*) AS df FROM hshingles GROUP BY h),
        kept AS (
            SELECT id, hshingles.h FROM hshingles JOIN dfreq ON hshingles.h = dfreq.h
            WHERE dfreq.df <= 5
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM kept GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM kept a JOIN kept b USING (h)
            WHERE a.id < b.id
            GROUP BY a.id, b.id
        )
        SELECT id_a, id_b,
               ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
    """,
    description="Jaccard near-dups with hot-shingle df cap (<=5): the quadratic-fanout defense at corpus scale",
)
def dedup_jaccard_df_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(_docs(spark, sf_dir), k=3, threshold=0.2, max_shingle_df=5)


@query(
    "dedup_near_clusters",
    # End-to-end near-dedup: the verified-pair fragment (same SQL as
    # dedup_ngram_jaccard) becomes an edge list, and a recursive-CTE
    # transitive closure reproduces the engine's connected-components
    # clustering (min-reachable-id labels) — so the CLUSTERING step is
    # value-checked, not just the pairs.
    oracle=f"""
        WITH RECURSIVE {_SQL_SHINGLES},
        hshingles AS (
            SELECT DISTINCT id, {_HASH64.format(x='shingle')} AS h FROM shingles
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM hshingles GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM hshingles a JOIN hshingles b USING (h)
            WHERE a.id < b.id
            GROUP BY a.id, b.id
        ),
        pairs AS (
            SELECT id_a, id_b
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
        ),
        sym AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        walk(id, label) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM sym)
            UNION
            SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.id
        ),
        comp AS (SELECT id, MIN(label) AS cluster FROM walk GROUP BY id),
        assigned AS (
            SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
            FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        )
        SELECT doc_id, cluster,
               COUNT(*) OVER (PARTITION BY cluster) AS cluster_size,
               doc_id = cluster AS kept
        FROM assigned
    """,
    description="End-to-end near-dedup: Jaccard>=0.2 pairs -> connected-component clusters -> min-id survivor per cluster (the MinHashLSH+union-find recipe, all DataFrame ops; CC runs only on the near-dup subgraph)",
)
def dedup_near_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.near_dedup_clusters(_docs(spark, sf_dir), k=3, threshold=0.2)


@query(
    "corpus_leakage_safe_split",
    # The FIX for corpus_split_leakage_audit (r8): split by near-dup
    # CLUSTER, not by document — the recursive-CTE closure is the same
    # fragment dedup_near_clusters pins, the bucket arithmetic the same
    # one documents_hash_sample_split pins, composed.
    oracle=f"""
        WITH RECURSIVE {_SQL_SHINGLES},
        hshingles AS (
            SELECT DISTINCT id, {_HASH64.format(x='shingle')} AS h FROM shingles
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM hshingles GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM hshingles a JOIN hshingles b USING (h)
            WHERE a.id < b.id
            GROUP BY a.id, b.id
        ),
        pairs AS (
            SELECT id_a, id_b
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
        ),
        sym AS (
            SELECT id_a AS a, id_b AS b FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        walk(id, label) AS (
            SELECT a, a FROM (SELECT DISTINCT a FROM sym)
            UNION
            SELECT s.b, w.label FROM walk w JOIN sym s ON s.a = w.id
        ),
        comp AS (SELECT id, MIN(label) AS cluster FROM walk GROUP BY id),
        assigned AS (
            SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster
            FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
        )
        SELECT doc_id, cluster,
               CASE WHEN {_HASH64.format(x="CAST(cluster AS VARCHAR) || 'split'")} % 10000 < 1000
                    THEN 'test' ELSE 'train' END AS split
        FROM assigned
    """,
    description="Leakage-safe train/test split: assignment unit is the near-dup cluster (Jaccard pairs -> CC), split hashes the cluster representative — no near-dup pair or transitive chain can straddle the boundary (dedup.leakage_safe_split; the prevention twin of corpus_split_leakage_audit)",
)
def corpus_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.leakage_safe_split(_docs(spark, sf_dir), k=3, threshold=0.2)


def _minhash_sql(num_perm: int = 16) -> str:
    params = ", ".join(f"({i + 1}, {a}, {b})" for i, (a, b) in enumerate(_perm_params(num_perm)))
    return f"""
        WITH {_SQL_SHINGLES},
        params(perm, a, b) AS (VALUES {params}),
        base AS (SELECT id, {_HASH40.format(x='shingle')} AS h FROM shingles)
        SELECT base.id AS doc_id, params.perm AS perm,
               MIN((params.a * base.h + params.b) % {MERSENNE31}) AS minhash
        FROM base, params
        GROUP BY base.id, params.perm
    """


@query(
    "dedup_minhash_signatures",
    oracle=_minhash_sql(),
    description="MinHash signatures (16 perms over 3-shingles), portable-hash arithmetic",
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = D.minhash_signatures(_docs(spark, sf_dir), num_perm=16, k=3)
    return sig.select(F.col("id").alias("doc_id"), "perm", "minhash")


@query(
    "dedup_minhash_candidates",
    oracle=f"""
        WITH sig AS ({_minhash_sql()}),
        banded AS (
            SELECT doc_id AS id, (perm - 1) // 4 AS band,
                   {_HASH64.format(x="string_agg(concat(perm, ':', minhash), ',' ORDER BY concat(perm, ':', minhash))")} AS band_key
            FROM sig
            GROUP BY doc_id, (perm - 1) // 4
        )
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_bands
        FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
        WHERE a.id < b.id
        GROUP BY a.id, b.id
    """,
    description="MinHash-LSH candidate pairs (4 bands x 4 rows): bucket join, no cross product",
)
def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_candidates(_docs(spark, sf_dir), num_perm=16, bands=4, k=3)


_SQL_SIMHASH = f"""
toks AS (
    SELECT doc_id, t AS term
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS t
        FROM documents
    ) WHERE t <> ''
),
th AS (SELECT doc_id, {_HASH64.format(x='term')} AS h FROM toks),
votes AS (
    SELECT doc_id, j,
           SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS v
    FROM th, UNNEST(generate_series(0, 31)) t(j)
    GROUP BY doc_id, j
),
fp AS (
    SELECT doc_id AS id,
           CAST(SUM(CASE WHEN v > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY doc_id
)
"""


@query(
    "dedup_simhash",
    oracle=f"WITH {_SQL_SIMHASH} SELECT id, simhash FROM fp",
    description="SimHash 32-bit fingerprints from token-hash bit votes",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_fingerprints(_docs(spark, sf_dir), bits=32)




def _simhash_pairs_sql(max_hamming: int, bits: int = 32) -> str:
    specs = ", ".join(f"({band}, {shift}, {mask})" for band, shift, mask in D.simhash_band_specs(bits, max_hamming))
    return f"""
        WITH {_SQL_SIMHASH},
        bands(band, shft, mask) AS (VALUES {specs}),
        banded AS (
            SELECT id, simhash, band, (simhash >> shft) & mask AS key
            FROM fp, bands
        )
        SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) AS hamming
        FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        WHERE a.id < b.id
          AND bit_count(CAST(xor(a.simhash, b.simhash) AS BIGINT)) <= {max_hamming}
    """


@query(
    "dedup_simhash_pairs",
    oracle=_simhash_pairs_sql(max_hamming=6),
    description="SimHash near-dup pairs: pigeonhole banding (max_hamming+1 bands) + exact hamming filter",
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_near_pairs(_docs(spark, sf_dir), max_hamming=6)


@query(
    "doc_fingerprint_rolling",
    oracle=f"""
        WITH doc_toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\\s+'), t -> t <> '') AS toks
            FROM documents
        ),
        hs AS (
            SELECT doc_id,
                   list_transform(toks, t -> {_HASH40.format(x='t')} % {MERSENNE31}) AS hl
            FROM doc_toks
        )
        SELECT doc_id,
               CASE WHEN len(hl) = 0 THEN 0
                    ELSE list_reduce(hl, (acc, h) -> (acc * 1000003 + h) % {MERSENNE31})
               END AS fingerprint
        FROM hs
    """,
    description="Rabin-Karp rolling-hash document fingerprint (order-sensitive, fold over token hashes)",
)
def doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.rolling_fingerprint(_docs(spark, sf_dir))


@query(
    "doc_winnow_fingerprints",
    oracle=f"""
        WITH doc_toks AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(
                       trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                       '\\s+'), t -> t <> '') AS toks
            FROM documents
        ),
        pos_shingles AS (
            SELECT doc_id, i AS pos,
                   {_HASH40.format(x="array_to_string(list_slice(toks, i, i + 2), ' ')")} AS h
            FROM doc_toks, UNNEST(generate_series(1, len(toks) - 2)) t(i)
            WHERE len(toks) >= 3
        ),
        wmin AS (
            SELECT doc_id, pos,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp
            FROM pos_shingles
        )
        SELECT DISTINCT doc_id, fp FROM wmin WHERE pos >= 4
    """,
    description="Winnowing (MOSS) fingerprints: window-min over positional 3-shingle hashes, w=4",
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.winnow_fingerprints(_docs(spark, sf_dir), k=3, window=4)


@query(
    "dedup_embedding_cosine",
    oracle="""
        WITH flat AS (
            SELECT vec_id, CAST(embedding[i] AS DOUBLE) AS x, i
            FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)
        ),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   SUM(a.x * b.x) AS dot,
                   sqrt(SUM(a.x * a.x)) AS na, sqrt(SUM(b.x * b.x)) AS nb
            FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
            GROUP BY a.vec_id, b.vec_id
        )
        SELECT id_a, id_b, ROUND(dot / (na * nb), 6) AS cosine
        FROM pairs
        WHERE dot / (na * nb) >= 0.35
    """,
    description="Embedding-cosine near-duplicate pairs: exact all-pairs via distributed block-pair matmuls (no driver collect; bounded executor memory)",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_pairs_blocked(emb, threshold=0.35)


def _band_sql_for(source: str, num_perm: int = 16, bands: int = 4) -> str:
    """CTE chain computing the MinHash LSH band table (id, band, band_key)
    for a prior CTE `source(doc_id, text)` — the parameterized twin of
    `dedup.minhash_band_table`, CTE names prefixed to avoid collisions."""
    params = ", ".join(
        f"({i + 1}, {a}, {b})" for i, (a, b) in enumerate(_perm_params(num_perm))
    )
    rows_per_band = num_perm // bands
    agg = _HASH64.format(
        x="string_agg(concat(perm, ':', minhash), ',' ORDER BY concat(perm, ':', minhash))"
    )
    return rf"""
        {source}_toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+') AS toks
            FROM {source}
        ),
        {source}_shingles AS (
            SELECT DISTINCT doc_id AS id,
                   array_to_string(list_slice(toks, i, i + 2), ' ') AS shingle
            FROM {source}_toks, UNNEST(generate_series(1, len(toks) - 2)) t(i)
            WHERE len(toks) >= 3
        ),
        {source}_base AS (
            SELECT DISTINCT id, {_HASH40.format(x="shingle")} AS h FROM {source}_shingles
        ),
        {source}_sig AS (
            SELECT base.id, params.perm,
                   MIN((params.a * base.h + params.b) % {MERSENNE31}) AS minhash
            FROM {source}_base base, (VALUES {params}) params(perm, a, b)
            GROUP BY base.id, params.perm
        ),
        {source}_bands AS (
            SELECT id, (perm - 1) // {rows_per_band} AS band, {agg} AS band_key
            FROM {source}_sig
            GROUP BY id, (perm - 1) // {rows_per_band}
        )
    """


_NORM_HASH = _HASH64.format(x="trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))")
# Same salt-less doc_id hash as documents_hash_sample_split's 25% sample.
_BATCH_PRED = _HASH64.format(x="CAST(doc_id AS VARCHAR) || ''") + " % 10000 < 2500"


@query(
    "dedup_incremental_batch",
    # Full-pipeline oracle: DuckDB re-derives the batch/corpus split, exact
    # content hashes, MinHash band tables for BOTH sides, and the same
    # status precedence — value-checked end to end.
    oracle=f"""
        WITH batch AS (SELECT doc_id, text FROM documents WHERE {_BATCH_PRED}),
        corpus AS (SELECT doc_id, text FROM documents WHERE NOT ({_BATCH_PRED})),
        batch_hash AS (SELECT doc_id AS id, {_NORM_HASH} AS dup_hash FROM batch),
        corpus_hash AS (SELECT DISTINCT {_NORM_HASH} AS dup_hash FROM corpus),
        first_in_batch AS (SELECT dup_hash, MIN(id) AS first_id FROM batch_hash GROUP BY dup_hash),
        exact_flags AS (
            SELECT bh.id,
                   (ch.dup_hash IS NOT NULL) AS in_corpus,
                   (ch.dup_hash IS NULL AND bh.id <> fib.first_id) AS in_batch_dup
            FROM batch_hash bh
            LEFT JOIN corpus_hash ch USING (dup_hash)
            JOIN first_in_batch fib USING (dup_hash)
        ),
        survivors AS (
            SELECT b.doc_id, b.text
            FROM batch b JOIN exact_flags ef ON ef.id = b.doc_id
            WHERE NOT ef.in_corpus AND NOT ef.in_batch_dup
        ),
        {_band_sql_for("survivors")},
        {_band_sql_for("corpus")},
        near_corpus AS (
            SELECT DISTINCT sb.id
            FROM survivors_bands sb
            JOIN corpus_bands cb ON sb.band = cb.band AND sb.band_key = cb.band_key
        ),
        near_batch AS (
            SELECT DISTINCT x.id
            FROM survivors_bands x
            JOIN survivors_bands y
              ON x.band = y.band AND x.band_key = y.band_key AND x.id > y.id
        )
        SELECT ef.id AS doc_id,
               CASE WHEN ef.in_corpus THEN 'exact_corpus'
                    WHEN ef.in_batch_dup THEN 'exact_batch'
                    WHEN nc.id IS NOT NULL THEN 'near_corpus'
                    WHEN nb.id IS NOT NULL THEN 'near_batch'
                    ELSE 'kept' END AS status
        FROM exact_flags ef
        LEFT JOIN near_corpus nc ON nc.id = ef.id
        LEFT JOIN near_batch nb ON nb.id = ef.id
    """,
    description="Incremental dedup: a 25% hash-sampled ingest batch classified against the remaining 75% corpus index (exact hash + MinHash LSH bands) with deterministic status precedence",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_bucket

    docs = _docs(spark, sf_dir)
    is_batch = hash_bucket("doc_id", 10_000, "") < F.lit(2500)
    batch = docs.filter(is_batch)
    corpus = docs.filter(~is_batch)
    # Both sides come from ONE scan of `documents`, so tokenize/shingle/
    # minhash once over all docs and split the band table by the same hash
    # predicate (applied to the band table's id) — halves the heavy pass vs
    # banding corpus and batch independently.
    all_bands = D.minhash_band_table(docs)
    is_batch_id = hash_bucket("id", 10_000, "") < F.lit(2500)
    status = D.incremental_dedup(
        batch,
        index_exact=D.exact_hash_table(corpus),
        index_bands=all_bands.filter(~is_batch_id),
        batch_bands=all_bands.filter(is_batch_id),
    )
    return status.select(F.col("id").alias("doc_id"), "status")


@query(
    "documents_token_shards",
    # DuckDB's single-partition global window IS the independent oracle for
    # the distributed two-phase prefix sum.
    oracle="""
        WITH toks AS (
            SELECT doc_id, COUNT(*) AS n_tokens FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS t
                FROM documents)
            WHERE t <> ''
            GROUP BY doc_id
        )
        SELECT doc_id, n_tokens,
               CAST(SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_tokens,
               CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 2000.0) AS BIGINT) AS shard
        FROM toks
    """,
    description="Token-budget shard packing for training export: global running token count in doc order via two-phase distributed prefix sum (never a single-partition global window), shard = floor(start_offset / budget)",
)
def documents_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_token_shards
    from .text_queries import doc_token_stats

    ntok = doc_token_stats(spark, sf_dir).select("doc_id", "n_tokens")
    return pack_token_shards(ntok, "n_tokens", shard_tokens=2000).select(
        "doc_id", "n_tokens", "running_tokens", "shard"
    )


@query(
    "corpus_curation_pipeline",
    # The flagship training-data flow as ONE declarative plan, value-checked
    # end to end: language gate -> quality gate -> exact dedup (canonical
    # survivor) -> MinHash near-dedup -> curated docs with their stats.
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, t AS term FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS t
                FROM documents)
            WHERE t <> ''
        ),
        stats AS (
            SELECT doc_id, COUNT(*) AS n_tokens,
                   CAST(COUNT(DISTINCT term) AS DOUBLE) / COUNT(*) AS uniq_ratio,
                   AVG(CASE WHEN term IN {sql_stopword_list()} THEN 1.0 ELSE 0.0 END) AS stop_ratio
            FROM toks GROUP BY doc_id
        ),
        scored AS (
            SELECT doc_id, n_tokens,
                   ROUND(0.5 * LEAST(n_tokens / 100.0, 1.0)
                       + 0.25 * uniq_ratio
                       + 0.25 * LEAST(stop_ratio * 4, 1.0), 6) AS quality,
                   stop_ratio AS en_ratio
            FROM stats
        ),
        eligible AS (
            SELECT d.doc_id, d.text, s.n_tokens, s.quality
            FROM documents d JOIN scored s ON d.doc_id = s.doc_id
            WHERE s.en_ratio >= 0.05 AND s.quality >= 0.45
        ),
        ehash AS (SELECT doc_id, {_NORM_HASH} AS dup_hash FROM eligible),
        keep_exact AS (SELECT MIN(doc_id) AS doc_id FROM ehash GROUP BY dup_hash),
        survivors AS (
            SELECT e.doc_id, e.text, e.n_tokens, e.quality
            FROM eligible e JOIN keep_exact k ON e.doc_id = k.doc_id
        ),
        {_band_sql_for("survivors")},
        near_drop AS (
            SELECT DISTINCT x.id
            FROM survivors_bands x
            JOIN survivors_bands y
              ON x.band = y.band AND x.band_key = y.band_key AND x.id > y.id
        )
        SELECT s.doc_id, s.n_tokens, s.quality
        FROM survivors s LEFT JOIN near_drop nd ON nd.id = s.doc_id
        WHERE nd.id IS NULL
    """,
    description="Corpus curation in one plan: language-ID gate, quality gate, exact dedup (min-id survivor), MinHash LSH near-dedup — the end-to-end training-data filter chain",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import unigram_profile

    docs = _docs(spark, sf_dir)
    # One tokenize + one aggregate covers all three gate tables (token
    # stats, quality, language) — `unigram_profile` is bit-identical to
    # joining the standalone queries, at a third of the corpus scans.
    # The threshold is on the ROUNDED score: it is the published per-doc
    # value (doc_quality_scores), so the gate is reproducible from that
    # table.
    #
    # The NARROW intermediates (per-doc gate metadata, survivor id sets,
    # LSH band rows) are materialized with lazy localCheckpoints: each has
    # 2+ downstream consumers, and without materialization Catalyst
    # re-plans the whole upstream chain per consumer (observed: 12 parquet
    # scans and ~4 re-runs of the unigram_profile aggregate in this one
    # query; 24 scans in corpus_training_shards, which builds on it).
    # Stage consumers that need TEXT re-join the docs scan against the
    # materialized id sets — a pruned column scan per stage, never a
    # repeated tokenize/aggregate.
    elig_meta = (
        unigram_profile(docs)
        .filter((F.col("pred_lang") == "en") & (F.col("quality") >= 0.45))
        .select("doc_id", "n_tokens", "quality")
        .localCheckpoint(eager=False)
    )
    elig_text = docs.join(elig_meta.select("doc_id"), "doc_id", "left_semi")
    keep_exact = (
        D.exact_hash_table(elig_text)
        .groupBy("dup_hash")
        .agg(F.min("id").alias("doc_id"))
        .select("doc_id")
    )
    surv_ids = (
        elig_meta.select("doc_id")
        .join(keep_exact, "doc_id", "left_semi")
        .localCheckpoint(eager=False)
    )
    bands = D.minhash_band_table(
        docs.join(surv_ids, "doc_id", "left_semi")
    ).localCheckpoint(eager=False)
    near_drop = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.id") > F.col("y.id")),
        )
        .select(F.col("x.id").alias("doc_id"))
        .distinct()
    )
    return (
        elig_meta.join(surv_ids, "doc_id", "left_semi")
        .join(near_drop, "doc_id", "left_anti")
        .select("doc_id", "n_tokens", "quality")
    )


@query(
    "doc_decontamination",
    # DuckDB twin: the same 5-gram universe, the same 64-bit hash, the same
    # broadcast-side distinct — expressed as a plain semi join. The
    # benchmark split (doc_id % 25 = 0) is re-derived identically on both
    # engines, so contamination hits are exact, not sampled.
    oracle=f"""
        WITH doc_toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+') AS toks
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id AS id,
                   {_HASH64.format(x="array_to_string(list_slice(toks, i, i + 4), ' ')")} AS h
            FROM doc_toks, UNNEST(generate_series(1, len(toks) - 4)) t(i)
            WHERE len(toks) >= 5
        ),
        bench AS (SELECT DISTINCT h FROM grams WHERE id % 25 = 0),
        corpus AS (SELECT * FROM grams WHERE id % 25 <> 0),
        sizes AS (SELECT id, COUNT(*) AS n_ngrams FROM corpus GROUP BY id),
        hits AS (
            SELECT id, COUNT(*) AS n_hits FROM corpus
            WHERE h IN (SELECT h FROM bench) GROUP BY id
        )
        SELECT d.doc_id,
               COALESCE(s.n_ngrams, 0) AS n_ngrams,
               COALESCE(ht.n_hits, 0) AS n_hits,
               ROUND(CAST(COALESCE(ht.n_hits, 0) AS DOUBLE)
                     / NULLIF(COALESCE(s.n_ngrams, 0), 0), 6) AS hit_frac,
               COALESCE(ht.n_hits, 0) >= 3 AS contaminated
        FROM (SELECT doc_id FROM documents WHERE doc_id % 25 <> 0) d
        LEFT JOIN sizes s ON s.id = d.doc_id
        LEFT JOIN hits ht ON ht.id = d.doc_id
    """,
    description="Benchmark decontamination: flag training docs sharing >=3 distinct hashed 5-grams with a held-out eval split — broadcast semi join over hashed grams, zero corpus-text shuffle",
)
def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.decontamination import contamination_scan

    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 25 == 0)
    corpus = docs.filter(F.col("doc_id") % 25 != 0)
    return contamination_scan(corpus, bench, n=5, min_hits=3)


def _funnel_oracle(chunk_stride: int = 32) -> str:
    from .text_queries import _SQL_TOKS
    from ..functions.text import sql_stopword_list

    stops = sql_stopword_list()
    gram5 = _HASH64.format(x="array_to_string(list_slice(toks, i, i + 4), ' ')")
    chunk_h = _HASH64.format(
        x=f"array_to_string(list_slice(toks, i * {chunk_stride} + 1, i * {chunk_stride} + 32), ' ')"
    )
    exact_h = _HASH64.format(x="trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))")
    return f"""
        WITH {_SQL_TOKS},
        lang AS (
            SELECT doc_id,
                   AVG(CASE WHEN term IN {stops} THEN 1.0 ELSE 0.0 END) >= 0.05 AS g1
            FROM toks GROUP BY doc_id
        ),
        qstats AS (
            SELECT doc_id, COUNT(*) AS n_tokens,
                   CAST(COUNT(DISTINCT term) AS DOUBLE) / COUNT(*) AS uniq_ratio,
                   AVG(CASE WHEN term IN {stops} THEN 1.0 ELSE 0.0 END) AS stop_ratio
            FROM toks GROUP BY doc_id
        ),
        qual AS (
            SELECT doc_id,
                   ROUND(0.5 * LEAST(n_tokens / 100.0, 1.0) + 0.25 * uniq_ratio
                         + 0.25 * LEAST(stop_ratio * 4, 1.0), 6) >= 0.45 AS g2
            FROM qstats
        ),
        tk AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+') AS toks
            FROM documents
        ),
        rgrams AS (
            SELECT doc_id, n, gram FROM (
                SELECT doc_id, 1 AS n, unnest(toks) AS gram FROM tk
                UNION ALL
                SELECT doc_id, 2 AS n, array_to_string(list_slice(toks, i, i + 1), ' ') AS gram
                FROM tk, UNNEST(generate_series(1, len(toks) - 1)) t(i) WHERE len(toks) >= 2
                UNION ALL
                SELECT doc_id, 3 AS n, array_to_string(list_slice(toks, i, i + 2), ' ') AS gram
                FROM tk, UNNEST(generate_series(1, len(toks) - 2)) t(i) WHERE len(toks) >= 3
            ) WHERE gram <> ''
        ),
        rcounts AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM rgrams GROUP BY doc_id, n, gram),
        rstats AS (SELECT doc_id, n, SUM(c) AS total, MAX(c) AS top, COUNT(*) AS uniq
                   FROM rcounts GROUP BY doc_id, n),
        rep AS (
            SELECT doc_id,
                   NOT COALESCE(
                       ROUND(MAX(CASE WHEN n = 1 THEN CAST(top AS DOUBLE) / NULLIF(total, 0) END), 6) > 0.30
                       OR ROUND(MAX(CASE WHEN n = 2 THEN CAST(top AS DOUBLE) / NULLIF(total, 0) END), 6) > 0.18
                       OR ROUND(MAX(CASE WHEN n = 3 THEN 1.0 - CAST(uniq AS DOUBLE) / NULLIF(total, 0) END), 6) > 0.30,
                       FALSE) AS g3
            FROM rstats GROUP BY doc_id
        ),
        grams5 AS (
            SELECT DISTINCT doc_id AS id, {gram5} AS h
            FROM tk, UNNEST(generate_series(1, len(toks) - 4)) t(i)
            WHERE len(toks) >= 5
        ),
        bench5 AS (SELECT DISTINCT h FROM grams5 WHERE id % 25 = 0),
        hits5 AS (
            SELECT id, COUNT(*) AS n_hits FROM grams5
            WHERE id % 25 <> 0 AND h IN (SELECT h FROM bench5) GROUP BY id
        ),
        chunks AS (
            SELECT doc_id, {chunk_h} AS h
            FROM tk, UNNEST(generate_series(0, CAST(ceil(len(toks) / {chunk_stride}.0) AS INT) - 1)) t(i)
            WHERE len(toks) > 0 AND doc_id % 25 <> 0
        ),
        cdf AS (SELECT h, COUNT(DISTINCT doc_id) AS df FROM chunks GROUP BY h),
        cstats AS (
            SELECT chunks.doc_id, COUNT(*) AS n_chunks,
                   SUM(CASE WHEN cdf.df > 1 THEN 1 ELSE 0 END) AS n_dup
            FROM chunks JOIN cdf ON chunks.h = cdf.h GROUP BY chunks.doc_id
        ),
        flags AS (
            SELECT d.doc_id,
                   lang.g1 AS c1,
                   lang.g1 AND qual.g2 AS c2,
                   lang.g1 AND qual.g2 AND rep.g3 AS c3,
                   lang.g1 AND qual.g2 AND rep.g3
                       AND COALESCE(hits5.n_hits, 0) < 3 AS c4,
                   lang.g1 AND qual.g2 AND rep.g3
                       AND COALESCE(hits5.n_hits, 0) < 3
                       AND COALESCE(CAST(cstats.n_dup AS DOUBLE) / NULLIF(cstats.n_chunks, 0), 0) < 0.5 AS c5
            FROM (SELECT doc_id FROM documents WHERE doc_id % 25 <> 0) d
            JOIN lang ON lang.doc_id = d.doc_id
            JOIN qual ON qual.doc_id = d.doc_id
            JOIN rep ON rep.doc_id = d.doc_id
            LEFT JOIN hits5 ON hits5.id = d.doc_id
            LEFT JOIN cstats ON cstats.doc_id = d.doc_id
        ),
        keep AS (
            SELECT MIN(d.doc_id) AS doc_id
            FROM documents d JOIN flags ON flags.doc_id = d.doc_id AND flags.c5
            GROUP BY {exact_h}
        )
        SELECT stage, n_docs FROM (
            SELECT '00_corpus' AS stage, COUNT(*) AS n_docs, 0 AS ord FROM flags
            UNION ALL SELECT '01_english', CAST(SUM(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT), 1 FROM flags
            UNION ALL SELECT '02_quality', CAST(SUM(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT), 2 FROM flags
            UNION ALL SELECT '03_not_repetitive', CAST(SUM(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT), 3 FROM flags
            UNION ALL SELECT '04_decontaminated', CAST(SUM(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT), 4 FROM flags
            UNION ALL SELECT '05_passage_clean', CAST(SUM(CASE WHEN c5 THEN 1 ELSE 0 END) AS BIGINT), 5 FROM flags
            UNION ALL SELECT '06_exact_unique', COUNT(*), 6 FROM keep
        ) ORDER BY ord
    """


@query(
    "corpus_curation_funnel",
    # Every gate's math is the SAME fragment as its standalone oracle
    # (language/quality/repetition/decontamination/chunk dedup/exact
    # dedup), composed as cumulative booleans — so this query value-checks
    # the composition, not just the pieces.
    oracle=_funnel_oracle(),
    description="End-to-end curation funnel over the training split: language -> quality -> repetition -> decontamination -> passage dedup -> exact dedup, per-stage survivor counts from ONE corpus scan + ONE explode + ONE corpus-sized shuffle (operators/curation.py)",
)
def corpus_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import curation_funnel_stages

    docs = _docs(spark, sf_dir)
    return curation_funnel_stages(
        docs, is_bench=F.col("doc_id") % 25 == 0, contam_n=5, chunk_size=32
    )


@query(
    "corpus_curation_funnel_strided",
    # Same funnel, but the passage-dedup gate hashes OVERLAPPING 32-token
    # windows starting every 16 tokens (stride = chunk_size/2): duplicated
    # boilerplate that is shifted relative to the aligned chunk grid (a few
    # tokens of differing preamble) still lands on at least one matching
    # window pair. 2x the kind-32 rows, same single-scan shape.
    oracle=_funnel_oracle(chunk_stride=16),
    description="Curation funnel with strided (half-overlapping) passage-dedup windows — catches grid-shifted boilerplate the aligned chunk gate misses (operators/curation.py chunk_stride dial)",
)
def corpus_curation_funnel_strided(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import curation_funnel_stages

    docs = _docs(spark, sf_dir)
    return curation_funnel_stages(
        docs,
        is_bench=F.col("doc_id") % 25 == 0,
        contam_n=5,
        chunk_size=32,
        chunk_stride=16,
    )


@query(
    "doc_chunk_dedup",
    # DuckDB re-derives the chunks (list_slice over a chunk-index series),
    # hashes them with the same md5-derived long, and counts per-hash
    # document frequency — duplicated = seen in >= 2 distinct docs.
    oracle=f"""
        WITH doc_toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+') AS toks
            FROM documents
        ),
        chunks AS (
            SELECT doc_id,
                   {_HASH64.format(x="array_to_string(list_slice(toks, i * 32 + 1, i * 32 + 32), ' ')")} AS h
            FROM doc_toks,
                 UNNEST(generate_series(0, CAST(ceil(len(toks) / 32.0) AS INT) - 1)) t(i)
            WHERE len(toks) > 0
        ),
        dfreq AS (SELECT h, COUNT(DISTINCT doc_id) AS chunk_df FROM chunks GROUP BY h),
        per_doc AS (
            SELECT chunks.doc_id,
                   COUNT(*) AS n_chunks,
                   -- CAST: DuckDB SUM over integers is HUGEINT -> float64 in
                   -- pandas canonicalization -> driver hash mismatch vs int64.
                   CAST(SUM(CASE WHEN dfreq.chunk_df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
            FROM chunks JOIN dfreq ON chunks.h = dfreq.h
            GROUP BY chunks.doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.n_chunks, 0) AS n_chunks,
               COALESCE(p.n_dup_chunks, 0) AS n_dup_chunks,
               CAST(CASE WHEN COALESCE(p.n_chunks, 0) > 0
                    THEN (COALESCE(p.n_dup_chunks, 0) * 2000000 + p.n_chunks)
                         // (2 * p.n_chunks)
               END AS BIGINT) AS dup_chunk_ppm
        FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
    description="Sub-document dedup: 32-token chunk hashes, cross-document duplicated-passage fraction (integer ppm) per doc (chunk-granularity stand-in for suffix-array substring dedup that scales: two hash aggregates over 8-byte keys)",
)
def doc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import chunk_dedup_stats

    return chunk_dedup_stats(_docs(spark, sf_dir), chunk_size=32)


@query(
    "doc_exact_substring_removal",
    # DuckDB re-derives the full removal end-to-end: stride-1 32-token
    # window hashes (same _HASH64 long), cross-doc duplicated hashes,
    # removed positions as the UNION of covered token indexes (the oracle
    # expands generate_series per dup start and dedups — O(dups*32), fine
    # at sf0.01), kept text re-joined with ' ' ORDER BY position. The
    # Spark side merges intervals first (gaps-and-islands) — both forms
    # compute the same position set, so cleaned_text matches verbatim.
    oracle=f"""
        WITH doc_toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+') AS toks
            FROM documents
        ),
        wins AS (
            SELECT doc_id, i AS p,
                   {_HASH64.format(x="array_to_string(list_slice(toks, i + 1, i + 32), ' ')")} AS h
            FROM doc_toks, UNNEST(generate_series(0, len(toks) - 32, 1)) t(i)
            WHERE len(toks) >= 32
        ),
        dup_h AS (SELECT h FROM wins GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
        dups AS (SELECT doc_id, p FROM wins JOIN dup_h USING (h)),
        removed AS (
            SELECT DISTINCT doc_id, pos
            FROM dups, UNNEST(generate_series(p, p + 31)) u(pos)
        ),
        kept AS (
            SELECT t.doc_id, u.pos, toks[u.pos + 1] AS tok
            FROM doc_toks t, UNNEST(generate_series(0, len(toks) - 1)) u(pos)
            WHERE len(toks) > 0 AND NOT EXISTS (
                SELECT 1 FROM removed r WHERE r.doc_id = t.doc_id AND r.pos = u.pos)
        )
        SELECT t.doc_id,
               CAST(len(t.toks) AS BIGINT) AS n_tokens,
               CAST((SELECT COUNT(*) FROM removed r WHERE r.doc_id = t.doc_id) AS BIGINT) AS n_removed_tokens,
               COALESCE((SELECT string_agg(k.tok, ' ' ORDER BY k.pos)
                         FROM kept k WHERE k.doc_id = t.doc_id), '') AS cleaned_text
        FROM doc_toks t
    """,
    description="Exact-substring duplicate REMOVAL (Lee et al. 2022 ExactSubstr): every token covered by a 32-token run appearing verbatim in another document is excised and the cleaned text emitted — stride-1 window hashes give the suffix-array detection guarantee with two linear hash aggregates (operators/chunking.py)",
)
def doc_exact_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import exact_substring_removal

    return exact_substring_removal(_docs(spark, sf_dir), window=32, stride=1)


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

@query(
    "similarity_cosine_topk",
    oracle="""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3),
        scored AS (
            SELECT q.query_id AS query_id, e.vec_id AS vec_id,
                   ROUND(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE))
                       / (sqrt(SUM(CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
                          * sqrt(SUM(CAST(q.qvec[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)))), 6) AS cosine
            FROM embeddings e
            JOIN q ON e.vec_id <> q.query_id
            , UNNEST(generate_series(1, len(e.embedding))) t(i)
            GROUP BY q.query_id, e.vec_id
        ),
        ranked AS (
            SELECT query_id, vec_id, cosine,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
            FROM scored
        )
        SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
    """,
    description="Brute-force cosine top-10 neighbors for 3 probe vectors (exact ANN baseline)",
)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=10)


@query(
    "dedup_semantic",
    # Integer-exact end to end: quantized components make every projection
    # sum and every within-cell cosine a sum of integer-valued doubles, so
    # the bucket sign and the threshold decision bit-match across engines
    # (no float-associativity flakiness). Spark's plane index i is 0-based,
    # DuckDB's generate_series is 1-based — hence (i-1) in the sign pattern.
    oracle="""
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
        proj AS (
            SELECT vec_id, p.p AS p,
                   SUM(q[i] * (CASE WHEN (((i - 1) * (p.p + 1) + p.p) % 3) = 0 THEN -1 ELSE 1 END)) AS proj
            FROM qz, UNNEST(generate_series(1, len(q))) t(i), (VALUES (0), (1), (2), (3)) p(p)
            GROUP BY vec_id, p.p
        ),
        qb AS (
            SELECT qz.vec_id, qz.q,
                   CAST(SUM(CASE WHEN proj.proj > 0 THEN (1 << proj.p) ELSE 0 END) AS INT) AS bucket
            FROM qz JOIN proj ON qz.vec_id = proj.vec_id
            GROUP BY qz.vec_id, qz.q
        ),
        dup AS (
            SELECT DISTINCT id_a FROM (
                SELECT a.vec_id AS id_a, b.vec_id AS id_b
                FROM qb a JOIN qb b ON a.bucket = b.bucket AND a.vec_id > b.vec_id,
                     UNNEST(generate_series(1, len(a.q))) t(i)
                GROUP BY a.vec_id, b.vec_id
                HAVING SUM(a.q[i] * a.q[i]) > 0 AND SUM(b.q[i] * b.q[i]) > 0
                   AND SUM(a.q[i] * b.q[i])
                       / (sqrt(SUM(a.q[i] * a.q[i])) * sqrt(SUM(b.q[i] * b.q[i]))) >= 0.35
            )
        )
        SELECT qb.vec_id, qb.bucket, dup.id_a IS NULL AS kept
        FROM qb LEFT JOIN dup ON qb.vec_id = dup.id_a
    """,
    description="SemDeDup-style semantic near-dedup: deterministic hyperplane cells over int8-quantized embeddings, min-id survivor per cell above cosine 0.35 — candidate join on the cell key only, never all-pairs",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.semantic_dedup(emb, threshold=0.35, n_planes=4)


@query(
    "doc_semantic_decontamination",
    # Same integer-exact machinery as dedup_semantic (shared quantize+
    # bucket stage), extended to the train/bench split: a TRAIN vector is
    # contaminated when a BENCH vector (vec_id % 25 == 0, the funnel's
    # eval convention) shares its hyperplane cell with quantized cosine
    # >= 0.35. Pair test and per-train hit count re-derived in pure SQL.
    oracle="""
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
        proj AS (
            SELECT vec_id, p.p AS p,
                   SUM(q[i] * (CASE WHEN (((i - 1) * (p.p + 1) + p.p) % 3) = 0 THEN -1 ELSE 1 END)) AS proj
            FROM qz, UNNEST(generate_series(1, len(q))) t(i), (VALUES (0), (1), (2), (3)) p(p)
            GROUP BY vec_id, p.p
        ),
        qb AS (
            SELECT qz.vec_id, qz.q,
                   CAST(SUM(CASE WHEN proj.proj > 0 THEN (1 << proj.p) ELSE 0 END) AS INT) AS bucket
            FROM qz JOIN proj ON qz.vec_id = proj.vec_id
            GROUP BY qz.vec_id, qz.q
        ),
        pair_hits AS (
            SELECT t.vec_id AS tid
            FROM qb t JOIN qb b ON t.bucket = b.bucket
                 AND t.vec_id % 25 <> 0 AND b.vec_id % 25 = 0,
                 UNNEST(generate_series(1, len(t.q))) u(i)
            GROUP BY t.vec_id, b.vec_id
            HAVING SUM(t.q[i] * t.q[i]) > 0 AND SUM(b.q[i] * b.q[i]) > 0
               AND SUM(t.q[i] * b.q[i])
                   / (sqrt(SUM(t.q[i] * t.q[i])) * sqrt(SUM(b.q[i] * b.q[i]))) >= 0.35
        ),
        per_train AS (SELECT tid, CAST(COUNT(*) AS BIGINT) AS n FROM pair_hits GROUP BY tid)
        SELECT t.vec_id, t.bucket,
               COALESCE(h.n, 0) AS n_bench_hits,
               COALESCE(h.n, 0) > 0 AS contaminated
        FROM (SELECT vec_id, bucket FROM qb WHERE vec_id % 25 <> 0) t
        LEFT JOIN per_train h ON h.tid = t.vec_id
    """,
    description="SEMANTIC train/eval decontamination (embedding-space complement of the n-gram doc_decontamination): train vectors sharing a hyperplane cell with a benchmark vector at quantized cosine >= 0.35 are flagged, per-cell cogrouped Arrow matmul — catches paraphrases that share no 5-gram (operators/similarity.py semantic_decontamination)",
)
def doc_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.filter(F.col("vec_id") % 25 == 0)
    train = emb.filter(F.col("vec_id") % 25 != 0)
    return S.semantic_decontamination(train, bench, threshold=0.35, n_planes=4)


@query(
    "similarity_quantized_topk",
    # Fully value-checked: floor(x/scale + 0.5) has one cross-engine
    # definition (unlike ROUND), and cosine over integer-valued doubles
    # sums exactly (< 2^53), so scores bit-match between engines.
    oracle="""
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
        probes AS (SELECT vec_id AS query_id, q AS qq FROM qz WHERE vec_id < 3),
        scored AS (
            SELECT p.query_id AS query_id, e.vec_id AS vec_id,
                   ROUND(SUM(e.q[i] * p.qq[i])
                       / (sqrt(SUM(e.q[i] * e.q[i])) * sqrt(SUM(p.qq[i] * p.qq[i]))), 6) AS cosine
            FROM qz e
            JOIN probes p ON e.vec_id <> p.query_id
            , UNNEST(generate_series(1, len(e.q))) t(i)
            GROUP BY p.query_id, e.vec_id
        ),
        ranked AS (
            SELECT query_id, vec_id, cosine,
                   CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS INT) AS rank
            FROM scored
        )
        SELECT query_id, vec_id, cosine, rank FROM ranked WHERE rank <= 10
    """,
    description="Top-10 cosine over per-vector symmetric int8 quantized embeddings (4x smaller index; scales cancel in cosine, integer sums bit-reproducible)",
)
def similarity_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.quantized_topk(emb, emb.filter(F.col("vec_id") < 3), k=10)


@query(
    "similarity_ivf_topk",
    # Pinned-constants oracle at sf0.01 (r8 VERDICT item 2 — the last two
    # rows-only registry entries retire): the IVF pipeline is a pure
    # function of the data (hash-seeded coarse k-means, quantized cosine,
    # 6-rounded scores, id tie-breaks), so the full top-10 per probe pins
    # as literal rows — reproduced bit-identical under local[4] with
    # shuffle.partitions=7 before pinning. Any drift in seeding, routing,
    # quantization, or ranking is a hash mismatch, not a silent pass.
    oracle="""
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(vec_id AS BIGINT) AS vec_id,
               CAST(cosine AS DOUBLE) AS cosine,
               CAST(rank AS INT) AS rank
        FROM (VALUES
            (0, 365, 0.369994, 1), (0, 334, 0.362722, 2), (0, 387, 0.331139, 3),
            (0, 423, 0.296934, 4), (0, 73, 0.295434, 5), (0, 7, 0.292842, 6),
            (0, 320, 0.287861, 7), (0, 190, 0.281795, 8), (0, 464, 0.276628, 9),
            (0, 388, 0.276301, 10),
            (1, 386, 0.371485, 1), (1, 27, 0.348208, 2), (1, 407, 0.32701, 3),
            (1, 195, 0.322744, 4), (1, 64, 0.316374, 5), (1, 124, 0.30275, 6),
            (1, 402, 0.292322, 7), (1, 472, 0.292109, 8), (1, 363, 0.263306, 9),
            (1, 353, 0.246592, 10),
            (2, 188, 0.263272, 1), (2, 320, 0.255043, 2), (2, 418, 0.254029, 3),
            (2, 471, 0.247193, 4), (2, 112, 0.245311, 5), (2, 350, 0.240069, 6),
            (2, 197, 0.233149, 7), (2, 440, 0.231369, 8), (2, 459, 0.223401, 9),
            (2, 202, 0.221861, 10)
        ) t(query_id, vec_id, cosine, rank)
    """,
    pinned_sf="sf0.01",
    description="IVF approximate top-10: k-means coarse cells, nprobe=4 of 16 probed per query (deterministic end-to-end; full top-10 rows pinned at sf0.01)",
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.ivf_topk(emb, emb.filter(F.col("vec_id") < 3), k=10)


@query(
    "similarity_lsh_topk",
    # Pinned-constants oracle at sf0.01 (same retirement as
    # similarity_ivf_topk above): md5-parity plane signs, quantized cosine,
    # 6-rounded scores and id tie-breaks make the multi-probe LSH search a
    # pure function of the data — full top-10 rows pinned, reproduced
    # bit-identical under local[4]/shuffle.partitions=7 before pinning.
    oracle="""
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(vec_id AS BIGINT) AS vec_id,
               CAST(cosine AS DOUBLE) AS cosine,
               CAST(rank AS INT) AS rank
        FROM (VALUES
            (0, 365, 0.369994, 1), (0, 334, 0.362722, 2), (0, 387, 0.331139, 3),
            (0, 73, 0.295434, 4), (0, 320, 0.287861, 5), (0, 190, 0.281795, 6),
            (0, 464, 0.276628, 7), (0, 483, 0.2567, 8), (0, 323, 0.256455, 9),
            (0, 344, 0.252487, 10),
            (1, 386, 0.371485, 1), (1, 27, 0.348208, 2), (1, 407, 0.32701, 3),
            (1, 195, 0.322744, 4), (1, 64, 0.316374, 5), (1, 124, 0.30275, 6),
            (1, 402, 0.292322, 7), (1, 472, 0.292109, 8), (1, 220, 0.289782, 9),
            (1, 203, 0.268155, 10),
            (2, 117, 0.318143, 1), (2, 450, 0.266344, 2), (2, 418, 0.254029, 3),
            (2, 471, 0.247193, 4), (2, 112, 0.245311, 5), (2, 350, 0.240069, 6),
            (2, 172, 0.239829, 7), (2, 197, 0.233149, 8), (2, 440, 0.231369, 9),
            (2, 198, 0.226855, 10)
        ) t(query_id, vec_id, cosine, rank)
    """,
    pinned_sf="sf0.01",
    description="Multi-probe LSH approximate top-10: 12 md5-parity-signed hyperplane tables signed in one Arrow matmul pass, query probes all Hamming<=1 buckets per table (the 100 TB scale path; full top-10 rows pinned at sf0.01)",
)
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.lsh_topk(emb, emb.filter(F.col("vec_id") < 3), k=10)


@query(
    "similarity_lsh_indexed_agreement",
    # Constant oracle: the persisted-index path must reproduce the
    # on-the-fly path EXACTLY — same candidates (same planes/tables/
    # probes), same scores, same ranks — so per probe the indexed top-10
    # agrees on all 10 rows (query_id, vec_id, rank, rounded cosine).
    # Any drift between build_lsh_index's stored signatures and the live
    # signature matmul (plane geometry mismatch, stale meta, bucketing
    # corruption) breaks the count and reds this row.
    oracle="""
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(n_indexed AS BIGINT) AS n_indexed,
               CAST(n_agree AS BIGINT) AS n_agree
        FROM (VALUES (0, 10, 10), (1, 10, 10), (2, 10, 10))
             t(query_id, n_indexed, n_agree)
    """,
    description="Persisted LSH index (build once: bucketed signature + norm tables, geometry in a meta table) queried without re-signing the corpus — per-probe full-row agreement with the on-the-fly multi-probe LSH, value-checked as exact integers",
)
def similarity_lsh_indexed_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    S.build_lsh_index(emb, prefix="lshq_index")
    indexed = S.lsh_topk_indexed(spark, probes, prefix="lshq_index", k=10)
    live = S.lsh_topk(emb, probes, k=10)
    both = indexed.join(live, ["query_id", "vec_id", "cosine", "rank"], "left_semi")
    n_idx = indexed.groupBy("query_id").agg(F.count("*").alias("n_indexed"))
    n_agr = both.groupBy("query_id").agg(F.count("*").alias("n_agree"))
    return n_idx.join(n_agr, "query_id", "left").select(
        "query_id",
        F.col("n_indexed").cast("long").alias("n_indexed"),
        F.coalesce("n_agree", F.lit(0)).cast("long").alias("n_agree"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing (mapInPandas; deterministic fake decode — see operator)
# ---------------------------------------------------------------------------

@query(
    "multimodal_payload_features",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_hash,
               CAST(CAST(concat('0x', substr(md5(text), 1, 4)) AS INT) % 1024 AS INT) AS fake_width,
               CAST(CAST(concat('0x', substr(md5(text), 5, 4)) AS INT) % 1024 AS INT) AS fake_height
        FROM documents
    """,
    description="Binary-column feature extraction via Arrow mapInPandas (decode stubbed deterministically)",
)
def multimodal_payload_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.payload_features(MM.documents_as_binary(_docs(spark, sf_dir)))


@query(
    "multimodal_audio_wav_features",
    # REAL decode path (r8, VERDICT r7 item 4): synthesize a deterministic
    # mono 16-bit 8 kHz WAV per doc (sample i = ((d*31+i*7) % 2001) - 1000
    # over 64 + d%64 frames), then parse the RIFF container back with
    # stdlib `wave` executor-side. The oracle never touches bytes — it
    # regenerates the decoded integer features from the same arithmetic,
    # so a header/layout/endianness bug in either direction is a value
    # mismatch, not a silent pass.
    oracle="""
        SELECT d.doc_id,
               1 AS n_channels,
               8000 AS sample_rate,
               CAST(64 + d.doc_id % 64 AS BIGINT) AS n_frames,
               CAST(SUM(CAST(x.s * x.s AS BIGINT)) AS BIGINT) AS sum_sq,
               CAST(MAX(ABS(x.s)) AS INT) AS peak
        FROM (SELECT doc_id FROM documents) d
        JOIN (
            SELECT t.i FROM generate_series(0, 127) t(i)
        ) g ON g.i <= 63 + d.doc_id % 64
        CROSS JOIN LATERAL (
            SELECT ((d.doc_id * 31 + g.i * 7) % 2001) - 1000 AS s
        ) x
        GROUP BY d.doc_id
    """,
    description="REAL audio decode over binary WAV payloads: stdlib-wave RIFF parse in Arrow mapInPandas (duration/channels/energy/peak), deterministic synthesized corpus so the oracle reproduces the decoded features exactly (multimodal.decode_audio un-gated in r8)",
)
def multimodal_audio_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = _docs(spark, sf_dir).select("doc_id")
    return MM.audio_features(MM.synth_wav_payloads(ids))


@query(
    "multimodal_image_ppm_features",
    # REAL image decode path (r9, VERDICT r8 item 5 — the WAV recipe
    # applied to images, closing the repo's last gated decode): synthesize
    # a deterministic binary PPM (P6) per doc — a (4 + d%13) x (3 + d%11)
    # RGB raster whose channel-c sample at flat pixel p is
    # (d*31 + p*7 + c*5) % 256, with a header comment to exercise the
    # parser's comment skip — then parse the container back with the
    # hand-rolled stdlib parser executor-side. The oracle never touches
    # bytes: it regenerates the decoded integer features from the same
    # arithmetic, so a header/stride/channel-order bug in either direction
    # is a value mismatch, not a silent pass.
    oracle="""
        SELECT d.doc_id,
               CAST(4 + d.doc_id % 13 AS INT) AS width,
               CAST(3 + d.doc_id % 11 AS INT) AS height,
               CAST((4 + d.doc_id % 13) * (3 + d.doc_id % 11) AS BIGINT) AS n_pixels,
               CAST(SUM((d.doc_id * 31 + g.p * 7) % 256) AS BIGINT) AS sum_r,
               CAST(SUM((d.doc_id * 31 + g.p * 7 + 5) % 256) AS BIGINT) AS sum_g,
               CAST(SUM((d.doc_id * 31 + g.p * 7 + 10) % 256) AS BIGINT) AS sum_b,
               CAST(MAX(GREATEST((d.doc_id * 31 + g.p * 7) % 256,
                                 (d.doc_id * 31 + g.p * 7 + 5) % 256,
                                 (d.doc_id * 31 + g.p * 7 + 10) % 256)) AS INT) AS peak
        FROM (SELECT doc_id FROM documents) d
        JOIN (SELECT t.i AS p FROM generate_series(0, 207) t(i)) g
          ON g.p < (4 + d.doc_id % 13) * (3 + d.doc_id % 11)
        GROUP BY d.doc_id
    """,
    description="REAL image decode over binary PPM (P6) payloads: hand-rolled stdlib header+raster parse in Arrow mapInPandas (dimensions, per-channel integer sums, peak), deterministic synthesized corpus so the oracle reproduces the decoded features exactly (multimodal.decode_image un-gated in r9 — zero gated decodes remain)",
)
def multimodal_image_ppm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    ids = _docs(spark, sf_dir).select("doc_id")
    return MM.image_features(MM.synth_ppm_payloads(ids))


# ---------------------------------------------------------------------------
# NER (gazetteer mode — oracle-checkable on the lowercase fixtures)
# ---------------------------------------------------------------------------

GAZETTEER = ("spark", "customer", "window", "stream", "vector")


@query(
    "ner_gazetteer_counts",
    oracle=f"""
        WITH toks AS (
            SELECT unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS term
            FROM documents
        )
        SELECT term AS entity, COUNT(*) AS cnt
        FROM toks
        WHERE term IN {str(GAZETTEER)}
          AND term NOT IN {sql_stopword_list()}
        GROUP BY term
        ORDER BY cnt DESC, entity ASC
    """,
    description="N9 contract via gazetteer NER + reference cleanup pipeline (NamedEntitiesWordCount.scala:50-77)",
)
def ner_gazetteer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return E.entity_counts(docs, E.extract_gazetteer_entities(F.col("text"), GAZETTEER))


@query(
    "entity_cooccurrence_edges",
    # Text -> graph composition: the co-mention edge list is pure set
    # algebra over the gazetteer hits, fully SQL-expressible.
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS term
            FROM documents
        ),
        ents AS (
            SELECT DISTINCT doc_id, term AS e FROM toks
            WHERE term IN {str(GAZETTEER)}
        )
        SELECT a.e AS entity_a, b.e AS entity_b, COUNT(*) AS n_docs
        FROM ents a JOIN ents b ON a.doc_id = b.doc_id AND a.e < b.e
        GROUP BY a.e, b.e
    """,
    description="Entity co-occurrence graph from gazetteer NER: weighted co-mention edges (entity_a < entity_b, n_docs) — the text->graph composite whose edge list feeds the graph operators directly; per-doc pair fan-out bounded by the gazetteer, one shuffle on the pair key",
)
def entity_cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    return E.entity_cooccurrence_edges(_docs(spark, sf_dir), GAZETTEER)


# ---------------------------------------------------------------------------
# Events: JSON extraction, tumbling windows, sessionization
# ---------------------------------------------------------------------------

@query(
    "events_json_by_type",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_events,
               -- CAST the SUMs: DuckDB SUM(BIGINT) yields HUGEINT (int128),
               -- which pandas canonicalizes to float64 and hash-mismatches
               -- Spark's int64 even for identical values.
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
               CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS sum_value_e4,
               CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) // COUNT(*) AS BIGINT) AS avg_value_e4
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    description="JSON extraction from events.props + per-type aggregates (engine extension, SURVEY.md §2.7 note)",
)
def events_json_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # Per-row integerization (value -> 1e-4 units as BIGINT) BEFORE the sum
    # makes the aggregate order-independent: double summation order differs
    # across engines/partitionings, so ROUND(AVG(value), 6) was not a stable
    # contract (last-ulp hash mismatch vs the DuckDB oracle). Integer sums
    # and integer division are bit-exact everywhere; values are all > 0 so
    # truncating `div` == floor `//`.
    return (
        ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
            F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias("sum_value_e4"),
        )
        .withColumn("avg_value_e4", F.expr("sum_value_e4 div n_events"))
        .orderBy("event_type")
    )


@query(
    "events_tumbling_10min",
    oracle="""
        SELECT CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS bucket,
               event_type,
               COUNT(*) AS n,
               ROUND(SUM(value), 4) AS sum_value
        FROM events
        GROUP BY bucket, event_type
    """,
    description="Tumbling 10-minute window aggregate (epoch bucketing; tz-independent)",
)
def events_tumbling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 600).cast("long").alias("bucket"),
        "event_type",
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))


@query(
    "events_sliding_20min",
    oracle="""
        WITH bucketed AS (
            SELECT CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS b, event_type, value
            FROM events
        )
        SELECT w, event_type, COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
        FROM bucketed, UNNEST([b - 1, b]) t(w)
        GROUP BY w, event_type
    """,
    description="Sliding window (20 min, 10 min slide) via native F.window — each event in 2 windows",
)
def events_sliding_20min(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "20 minutes", "10 minutes").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            F.floor(F.unix_timestamp("win.start") / 600).cast("long").alias("w"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@query(
    "events_salted_by_type",
    oracle="""
        SELECT event_type,
               COUNT(*) AS n,
               ROUND(SUM(value), 4) AS sum_value,
               ROUND(MAX(value), 6) AS max_value
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    description="Skew-safe two-phase (salted) aggregation over 5 hot keys == plain groupBy",
)
def events_salted_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators._util import salted_aggregate

    ev = load_table(spark, sf_dir, "events")
    out = salted_aggregate(
        ev.select("event_type", "value", "event_id"),
        keys=["event_type"],
        aggs={
            "n": ("count", None),
            "sum_value": ("sum", "value"),
            "max_value": ("max", "value"),
        },
        salt_col=F.col("event_id"),
        buckets=16,
    )
    return out.select(
        "event_type",
        "n",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("max_value", 6).alias("max_value"),
    ).orderBy("event_type")


@query(
    "events_user_sessions",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, value, event_id,
                   CASE WHEN FLOOR(epoch(ts)) - FLOOR(epoch(LAG(ts) OVER w)) > 1800
                             OR LAG(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, value,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value,
               CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS start_epoch,
               CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) AS duration_sec
        FROM sess
        GROUP BY user_id, session_id
    """,
    description="Sessionization: 30-min-gap sessions per user via window lag + running sum",
)
def events_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.unix_timestamp("ts")
    flagged = ev.select(
        "user_id",
        "ts",
        "value",
        "event_id",
        F.when(
            (epoch - F.unix_timestamp(F.lag("ts").over(w)) > 1800)
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    w2 = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = flagged.withColumn("session_id", F.sum("new_sess").over(w2).cast("long"))
    return sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
        F.floor(F.min(F.unix_timestamp("ts"))).cast("long").alias("start_epoch"),
        (F.floor(F.max(F.unix_timestamp("ts"))) - F.floor(F.min(F.unix_timestamp("ts"))))
        .cast("long")
        .alias("duration_sec"),
    )


@query(
    "events_session_window_native",
    oracle="""
        WITH flagged AS (
            SELECT user_id, ts, value, event_id,
                   CASE WHEN FLOOR(epoch(ts)) - FLOOR(epoch(LAG(ts) OVER w)) >= 1800
                             OR LAG(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, value,
                   SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id,
               CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS session_start,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 4) AS sum_value
        FROM sess
        GROUP BY user_id, session_id
    """,
    description="Native F.session_window (30-min gap) == lag/running-sum sessionization",
)
def events_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    # session_window closes a session when the NEXT event is >= gap after
    # the previous one (window extends [event, event+gap)); the oracle's
    # lag-based flag uses >= on whole-second deltas to match, and ts is
    # truncated to whole seconds first so both sides measure the same gap.
    sec = F.timestamp_seconds(F.unix_timestamp("ts"))
    return (
        ev.select(F.col("user_id"), sec.alias("ts"), F.col("value"))
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(
            "user_id",
            F.unix_timestamp("sw.start").cast("long").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


# ---------------------------------------------------------------------------
# ML pipeline (rows-only: model internals aren't SQL-expressible)
# ---------------------------------------------------------------------------

def _ml_confusion_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared body: deterministic hash split -> seed-fixed CV model ->
    confusion-margin metrics as INTEGERS (counts + ppm ratios via pure
    integer arithmetic; F1 = 2*tp/(pred_n+true_n)). Every input to the
    model is partitioning-independent (hash split, fixed seed, fixed
    grid), so the output is a reproducible constant table per dataset."""
    labeled = M.with_synthetic_label(_docs(spark, sf_dir))
    train, test = M.hash_split(labeled)
    model = M.cross_validated_model(train, small_grid=True)
    metrics = M.classification_metrics(model.transform(test))

    def ppm(num: str, den: str):
        # round-half-up of num/den in ppm, pure integer arithmetic
        return F.expr(
            f"CASE WHEN ({den}) > 0 "
            f"THEN (({num}) * 2000000L + ({den})) div (2L * ({den})) "
            f"ELSE 0L END"
        )

    return metrics.select(
        "klass",
        "tp",
        "true_n",
        "pred_n",
        ppm("tp", "pred_n").alias("precision_ppm"),
        ppm("tp", "true_n").alias("recall_ppm"),
        ppm("2L * tp", "pred_n + true_n").alias("f1_ppm"),
    )


@query(
    "ml_sentiment_metrics",
    # Pinned constants oracle (VERDICT r2 item 6): the split is a pure hash
    # of doc_id, the CV seed/grid are fixed, and the metric columns are
    # integer-exact — the confusion matrix at the driver's oracle scale
    # (sf0.01) is therefore a constant, derived once by running the query
    # and re-derived by tests/test_relational.py::test_ml_pinned_constants.
    # Valid ONLY at sf0.01 (the one scale the driver oracles at); the
    # self-check tool skips it elsewhere (tests/oracle_check.py PINNED_SF).
    oracle="""
        SELECT klass,
               CAST(tp AS BIGINT) AS tp,
               CAST(true_n AS BIGINT) AS true_n,
               CAST(pred_n AS BIGINT) AS pred_n,
               CAST(precision_ppm AS BIGINT) AS precision_ppm,
               CAST(recall_ppm AS BIGINT) AS recall_ppm,
               CAST(f1_ppm AS BIGINT) AS f1_ppm
        FROM (VALUES
            (0, 11, 31, 40, 275000, 354839, 309859),
            (1,  9, 32, 29, 310345, 281250, 295082),
            (2, 10, 35, 29, 344828, 285714, 312500)
        ) AS t(klass, tp, true_n, pred_n, precision_ppm, recall_ppm, f1_ppm)
    """,
    description="M1-M9: CV-selected sentiment model -> per-class confusion counts + integer-ppm precision/recall/F1 (AirlineSentimentAnalysis.scala:70-136), deterministic hash split + fixed seed -> value-checked against a pinned constants oracle",
    pinned_sf="sf0.01",
)
def ml_sentiment_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ml_confusion_ppm(spark, sf_dir)


@query(
    "ml_sentiment_metrics_full_grid",
    # PINNED CONSTANTS oracle at sf0.01 (ml_sentiment_metrics precedent,
    # extended to the FULL 36-combo grid): the hash split is partitioning-
    # independent and the CV seed fixed, so the winning model's per-class
    # confusion row and rounded metrics are constants — reproduced
    # bit-for-bit under a local[4]/64-shuffle vanilla session before
    # pinning. Rounded doubles pin exactly because both engines store the
    # nearest double of the same 6-decimal literal. This retires the last
    # pinnable rows-only entry.
    oracle="""
        SELECT CAST(klass AS INT) AS klass, CAST(tp AS BIGINT) AS tp,
               CAST(true_n AS BIGINT) AS true_n, CAST(pred_n AS BIGINT) AS pred_n,
               CAST("precision" AS DOUBLE) AS "precision",
               CAST(recall AS DOUBLE) AS recall, CAST(f1 AS DOUBLE) AS f1
        FROM (VALUES
            (0, 12, 31, 46, 0.26087, 0.387097, 0.311688),
            (1, 5, 32, 25, 0.2, 0.15625, 0.175439),
            (2, 12, 35, 27, 0.444444, 0.342857, 0.387097)
        ) t(klass, tp, true_n, pred_n, "precision", recall, f1)
    """,
    description="M7/M8 at full reference parity: the complete 3x3x2x2 = 36-combo CV grid x 2 folds (AirlineSentimentAnalysis.scala:72-85), per-class confusion + metrics pinned as a constants oracle at sf0.01 (deterministic via hash_split + fixed seed); small-grid variant covers the CI path",
    pinned_sf="sf0.01",
)
def ml_sentiment_metrics_full_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = M.with_synthetic_label(_docs(spark, sf_dir))
    train, test = M.hash_split(labeled)
    model = M.cross_validated_model(train, small_grid=False)
    return M.classification_metrics(model.transform(test))


@query(
    "events_conversion_funnel",
    # Strictly-ordered funnel: each stage's entry time is the user's first
    # qualifying event AFTER the previous stage's entry — conditional
    # aggregate per stage, an equi-join on user_id between stages, never a
    # window over the whole event stream.
    oracle="""
        WITH t1 AS (
            SELECT user_id, MIN(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
        ),
        t2 AS (
            SELECT e.user_id, MIN(e.ts) AS t2
            FROM events e JOIN t1 ON e.user_id = t1.user_id
            WHERE e.event_type = 'click' AND e.ts > t1.t1
            GROUP BY e.user_id
        ),
        t3 AS (
            SELECT e.user_id, MIN(e.ts) AS t3
            FROM events e JOIN t2 ON e.user_id = t2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > t2.t2
            GROUP BY e.user_id
        )
        SELECT stage, n_users FROM (
            SELECT '1_view' AS stage, COUNT(*) AS n_users, 1 AS ord FROM t1
            UNION ALL
            SELECT '2_click_after_view', COUNT(*), 2 FROM t2
            UNION ALL
            SELECT '3_purchase_after_click', COUNT(*), 3 FROM t3
        ) ORDER BY ord
    """,
    description="Sequential-pattern conversion funnel (view -> click -> purchase, strictly time-ordered per user): per-stage conditional MIN aggregates chained by user-key equi-joins — no per-user event sort, no window over the stream",
)
def events_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # Each stage table has TWO consumers (the next stage's join + its own
    # count row); the lazy localCheckpoints pin the chain to exactly one
    # pushed-filter events scan per stage instead of re-running the whole
    # upstream cascade per consumer (6 scans -> 3).
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    ).localCheckpoint(eager=False)
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(t1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    ).localCheckpoint(eager=False)
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(t2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    ).localCheckpoint(eager=False)
    stages = [
        t1.agg(F.lit("1_view").alias("stage"), F.count("*").alias("n_users")),
        t2.agg(
            F.lit("2_click_after_view").alias("stage"), F.count("*").alias("n_users")
        ),
        t3.agg(
            F.lit("3_purchase_after_click").alias("stage"),
            F.count("*").alias("n_users"),
        ),
    ]
    out = stages[0]
    for s in stages[1:]:
        out = out.unionByName(s)
    return out


@query(
    "events_asof_latest_order",
    # Oracle uses DuckDB's NATIVE ASOF JOIN — an independent implementation
    # of the same point-in-time semantics, not a re-statement of ours.
    # Orders are deduped per (custkey, orderdate) with a deterministic
    # survivor (max orderkey) on both sides so ties are well-defined.
    oracle="""
        WITH o AS (
            SELECT o_custkey, o_orderdate,
                   MAX(o_orderkey) AS o_orderkey,
                   arg_max(o_totalprice, o_orderkey) AS o_totalprice
            FROM orders GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey,
               ROUND(o.o_totalprice, 2) AS last_totalprice
        FROM events e ASOF LEFT JOIN o
          ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
    description="As-of join: each event matched to the user's latest order at-or-before its timestamp (union+window, no range-join blowup)",
)
def events_asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    orders = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    joined = asof_join_backward(
        ev, orders,
        left_key="user_id", right_key="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        right_vals=["o_orderkey", "o_totalprice"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("last_orderkey"),
        F.round("o_totalprice", 2).alias("last_totalprice"),
    )


@query(
    "events_asof_bucketed_latest_order",
    # Same point-in-time semantics as events_asof_latest_order, computed
    # through the TIME-RANGE PRE-BUCKETED carry-stitch form — the
    # hot-key-skew mitigation the r10 Zipf probe names (a key owning 50%
    # of rows no longer serializes its whole history onto one window
    # task). The oracle is DuckDB's NATIVE ASOF over epoch seconds: the
    # bucket size is a physical knob, invisible in the answer.
    oracle="""
        WITH o AS (
            SELECT o_custkey,
                   CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS o_t,
                   MAX(o_orderkey) AS o_orderkey,
                   arg_max(o_totalprice, o_orderkey) AS o_totalprice
            FROM orders GROUP BY 1, 2
        ),
        e AS (
            SELECT event_id, user_id,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
            FROM events
        )
        SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey,
               ROUND(o.o_totalprice, 2) AS last_totalprice
        FROM e ASOF LEFT JOIN o
          ON e.user_id = o.o_custkey AND e.t >= o.o_t
    """,
    description="Skew-resistant as-of join (time-range pre-bucketing + carry-stitch, operators/asof.asof_join_backward_bucketed): each event matched to the user's latest order at-or-before its timestamp, with the hot key's window split across ~span/bucket tasks and boundary carries stitched through a per-bucket summary — value-identical to the plain union+window form (DuckDB native-ASOF oracle)",
)
def events_asof_bucketed_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_backward_bucketed

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("t"),
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            F.unix_timestamp("o_orderdate").cast("long").alias("o_t"),
            "o_orderkey",
            "o_totalprice",
        )
        .groupBy("o_custkey", "o_t")
        .agg(
            F.max("o_orderkey").alias("o_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("o_totalprice"),
        )
    )
    joined = asof_join_backward_bucketed(
        ev, orders,
        left_key="user_id", right_key="o_custkey",
        left_ts="t", right_ts="o_t",
        right_vals=["o_orderkey", "o_totalprice"],
        bucket_size=7 * 86400,  # weekly: the fixture's densest key-week fits one task
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("last_orderkey"),
        F.round("o_totalprice", 2).alias("last_totalprice"),
    )


@query(
    "events_asof_next_purchase_2h",
    # FORWARD as-of with a horizon (r8): the label join. Each view event
    # attaches the user's EARLIEST purchase at-or-after it, but only
    # within 2 hours — the attribution window that doubles as the leakage
    # guard (unbounded forward would label arbitrarily old views with one
    # terminal purchase). Oracle = DuckDB's native ASOF (independent
    # implementation) + the identical raw-timestamp horizon predicate.
    oracle="""
        WITH p AS (
            SELECT user_id, ts AS p_ts, MAX(event_id) AS p_event_id
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, ts
        ),
        j AS (
            SELECT v.event_id, v.user_id, v.ts, p.p_ts, p.p_event_id
            FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view') v
            ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts <= p.p_ts
        )
        SELECT event_id, user_id,
               CASE WHEN p_ts IS NOT NULL AND p_ts - ts <= INTERVAL 2 HOUR
                    THEN p_event_id END AS next_purchase_id,
               CASE WHEN p_ts IS NOT NULL AND p_ts - ts <= INTERVAL 2 HOUR
                    THEN CAST(FLOOR(epoch(p_ts)) - FLOOR(epoch(ts)) AS BIGINT)
               END AS secs_to_purchase
        FROM j
    """,
    description="Forward as-of (label) join with horizon: each view event attaches the user's earliest purchase at-or-after it within 2h (attribution window = leakage guard) — same union+window linear scan as the backward as-of, time-reversed (operators/asof.asof_join_forward)",
)
def events_asof_next_purchase_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_forward

    ev = load_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("p_ts"))
        .agg(F.max("event_id").alias("p_event_id"))
    )
    joined = asof_join_forward(
        views,
        purchases.select("user_id", "p_ts", "p_event_id"),
        left_key="user_id", right_key="user_id",
        left_ts="ts", right_ts="p_ts",
        right_vals=["p_event_id", "p_ts"],
        tolerance=F.expr("INTERVAL 2 HOURS"),
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("p_event_id").alias("next_purchase_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("ts")).alias("secs_to_purchase"),
    )


@query(
    "events_asof_nearest_purchase_3h",
    # NEAREST as-of (r10): the oracle is an INDEPENDENT naive
    # implementation — key join bounded by the 3h band, then argmin by
    # (distance, earlier-timestamp) via ROW_NUMBER — so it validates the
    # two-directional-carry construction directly. Exact BIGINT second
    # offsets; ties resolve to the earlier (backward) purchase on both
    # engines by the shared (dist, p_ts) order.
    oracle="""
        WITH v AS (
            SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
        ),
        p AS (
            SELECT user_id, ts AS p_ts, MAX(event_id) AS p_event_id
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, ts
        ),
        cand AS (
            SELECT v.event_id, v.user_id, v.ts, p.p_ts, p.p_event_id,
                   ABS(CAST(FLOOR(epoch(p.p_ts)) - FLOOR(epoch(v.ts)) AS BIGINT)) AS dist
            FROM v JOIN p ON v.user_id = p.user_id
             AND p.p_ts BETWEEN v.ts - INTERVAL 3 HOUR AND v.ts + INTERVAL 3 HOUR
        ),
        best AS (
            SELECT event_id, p_ts, p_event_id,
                   ROW_NUMBER() OVER (PARTITION BY event_id ORDER BY dist, p_ts) AS rn
            FROM cand
        )
        SELECT v.event_id, v.user_id,
               b.p_event_id AS nearest_purchase_id,
               CAST(FLOOR(epoch(b.p_ts)) - FLOOR(epoch(v.ts)) AS BIGINT) AS secs_offset
        FROM v LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (event_id)
    """,
    description="NEAREST as-of join (r10, completing the directional pair): each view event attaches the user's closest purchase within 3h in EITHER direction (signed offset; ties go to the earlier purchase) — one tagged union sorted twice over ONE key-partitioned exchange (backward + forward carries), never the naive per-key |L|x|R| distance argmin (operators/asof.asof_join_nearest)",
)
def events_asof_nearest_purchase_3h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_nearest

    ev = load_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts")
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("p_ts"))
        .agg(F.max("event_id").alias("p_event_id"))
    )
    joined = asof_join_nearest(
        views,
        purchases.select("user_id", "p_ts", "p_event_id"),
        left_key="user_id", right_key="user_id",
        left_ts="ts", right_ts="p_ts",
        right_vals=["p_event_id", "p_ts"],
        tolerance=F.expr("INTERVAL 3 HOURS"),
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("p_event_id").alias("nearest_purchase_id"),
        (F.unix_timestamp("p_ts") - F.unix_timestamp("ts")).alias("secs_offset"),
    )


@query(
    "events_asof_last_signup_7d",
    # Backward as-of with a STALENESS bound (r8): the feature-freshness
    # rule. Each event attaches the user's latest signup at-or-before it
    # only if that signup is at most 7 days old; staler state is treated
    # as missing rather than silently served (the feature-store TTL).
    oracle="""
        WITH s AS (
            SELECT user_id, ts AS s_ts, MAX(event_id) AS s_event_id
            FROM events WHERE event_type = 'signup'
            GROUP BY user_id, ts
        ),
        j AS (
            SELECT e.event_id, e.user_id, e.ts, s.s_ts, s.s_event_id
            FROM (SELECT event_id, user_id, ts FROM events) e
            ASOF LEFT JOIN s ON e.user_id = s.user_id AND e.ts >= s.s_ts
        )
        SELECT event_id, user_id,
               CASE WHEN s_ts IS NOT NULL AND ts - s_ts <= INTERVAL 7 DAY
                    THEN s_event_id END AS last_signup_id,
               CASE WHEN s_ts IS NOT NULL AND ts - s_ts <= INTERVAL 7 DAY
                    THEN CAST(FLOOR(epoch(ts)) - FLOOR(epoch(s_ts)) AS BIGINT)
               END AS secs_since_signup
        FROM j
    """,
    description="Backward as-of join with staleness tolerance: each event attaches the user's latest signup at-or-before it only within a 7-day TTL (feature-store freshness rule; stale state is missing, not silently served)",
)
def events_asof_last_signup_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_backward

    ev = load_events(spark, sf_dir)
    facts = ev.select("event_id", "user_id", "ts")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id", F.col("ts").alias("s_ts"))
        .agg(F.max("event_id").alias("s_event_id"))
    )
    joined = asof_join_backward(
        facts,
        signups.select("user_id", "s_ts", "s_event_id"),
        left_key="user_id", right_key="user_id",
        left_ts="ts", right_ts="s_ts",
        right_vals=["s_event_id", "s_ts"],
        tolerance=F.expr("INTERVAL 7 DAYS"),
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("s_event_id").alias("last_signup_id"),
        (F.unix_timestamp("ts") - F.unix_timestamp("s_ts")).alias("secs_since_signup"),
    )


@query(
    "events_range_join_daily_windows",
    # Intervals = each user's first 4h of activity per day; points = all
    # that user's events. Same key on both sides with many points AND many
    # intervals per key — the shape where a naive key-equi join fans out
    # quadratically and the bucketed range join prunes to co-bucketed
    # candidates. All comparisons on FLOOR'd epoch seconds (tz-free; DuckDB
    # epoch() keeps fractions, Spark unix_timestamp truncates).
    oracle="""
        WITH pts AS (
            SELECT user_id, value,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
            FROM events
        ),
        iv AS (
            SELECT user_id,
                   CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS s,
                   CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) + 14400 AS e
            FROM events
            GROUP BY user_id, CAST(FLOOR(epoch(ts) / 86400) AS BIGINT)
        )
        SELECT p.user_id, COUNT(*) AS n_pairs,
               ROUND(SUM(p.value), 4) AS sum_value
        FROM pts p
        JOIN iv ON p.user_id = iv.user_id AND p.t >= iv.s AND p.t < iv.e
        GROUP BY p.user_id
    """,
    description="Bucketed range join: events x per-user daily 4h activity windows (equi join on (key, value-bucket), no per-key quadratic fan-out)",
)
def events_range_join_daily_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import range_join_points_in_intervals

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "value", F.unix_timestamp("ts").cast("long").alias("t")
    )
    iv = (
        ev.groupBy("user_id", F.floor(F.col("t") / 86400).alias("_day"))
        .agg(F.min("t").alias("s"))
        .withColumn("e", F.col("s") + 14400)
        .drop("_day")
    )
    pairs = range_join_points_in_intervals(
        ev, iv,
        point_key="user_id", interval_key="user_id",
        point_val="t", interval_start="s", interval_end="e",
        bucket_size=3600,
    )
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"), F.round(F.sum("value"), 4).alias("sum_value")
    )


@query(
    "documents_hash_sample_split",
    # Value-checked end to end: hash sampling is a pure function of the key,
    # so DuckDB reproduces the EXACT sample membership and split assignment
    # (same md5 arithmetic). Sample and split use different salts — one hash
    # for both would correlate the decisions perfectly.
    oracle=f"""
        SELECT doc_id, length(text) AS text_len,
               CASE WHEN {_HASH64.format(x="CAST(doc_id AS VARCHAR) || 'split'")} % 10000 < 1000
                    THEN 'test' ELSE 'train' END AS split
        FROM documents
        WHERE {_HASH64.format(x="CAST(doc_id AS VARCHAR) || ''")} % 10000 < 2500
    """,
    description="Deterministic hash sampling + contamination-proof train/test split (pure function of doc_id: reproducible across runs, engines, partitionings)",
)
def documents_hash_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_sample, split_by_hash

    docs = _docs(spark, sf_dir)
    sampled = hash_sample(docs, "doc_id", fraction=0.25)
    return split_by_hash(sampled, "doc_id", test_fraction=0.1).select(
        "doc_id", F.length("text").alias("text_len"), "split"
    )


# Fixed per-source keep rates for the registered mixture query (rates
# computed FROM observed counts would make the oracle data-dependent;
# `mixture_keep_rates` is unit-tested separately). src4+ are dropped.
_MIXTURE_RATES = {"src0": 1.0, "src1": 0.6, "src2": 0.3, "src3": 0.1}


def _mixture_oracle() -> str:
    from ..operators.sampling import sql_source_mixture_filter

    pred = sql_source_mixture_filter(_MIXTURE_RATES, key_expr="doc_id")
    return f"SELECT doc_id, source FROM documents WHERE {pred}"


@query(
    "documents_source_mixture",
    # Exact-membership check: DuckDB applies the identical md5 bucket
    # arithmetic and CASE thresholds, so both engines keep the same rows.
    oracle=_mixture_oracle(),
    description="Deterministic per-source mixture downsampling (training-blend control): stable hash bucket vs per-source CASE threshold — one codegen'd filter, no shuffle, membership reproducible across runs/engines/partitionings",
)
def documents_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import source_mixture_sample

    docs = _docs(spark, sf_dir)
    return source_mixture_sample(docs, _MIXTURE_RATES, key="doc_id").select(
        "doc_id", "source"
    )


# Per-source temperature weight, quantized to an exact BIGINT at the ONE
# pow() site (the bm25 ln recipe: pow is libm-backed and not correctly
# rounded, so both engines evaluate the IDENTICAL expression string on
# identical integer inputs and every downstream op is exact integer
# arithmetic; a last-ulp flip would need ROUND's half boundary on a
# power of an integer count — the same accepted-risk class as the
# shipped tfidf ln site).
_TEMP_W_SQL = (
    "CAST(ROUND(power(CAST(n_docs AS DOUBLE), {alpha}) * 1000000) AS BIGINT)"
)


def _temp_total_guard(tot_col: str, max_col: str) -> Column:
    """Loud-failure guard on the temperature finalize (r13 review): the
    e6-quantized weight is already 1e6-scaled, so the ppm
    cross-multiplication `2000000*w + t` wraps 2^63 once a source holds
    ~3.3e9 docs (w = n^0.7*1e6 > ~4.6e12) — 1e6x less headroom than the
    repo's usual `2000000*count` recipe. Spark's non-ANSI mode would
    wrap SILENTLY (DuckDB errors loudly on its own); this is the
    post-aggregation CASE-raises pattern from _util's overflow guards,
    evaluated once on the 1-row totals frame."""
    bound = (
        F.lit(2.1e6) * F.col(max_col).cast("double")
        + F.col(tot_col).cast("double")
    )
    return (
        F.when(
            bound >= F.lit(9.0e18),
            F.assert_true(
                F.lit(False),
                F.lit(
                    f"corpus_temperature_mixture: BIGINT overflow risk "
                    f"(2000000*{max_col} + {tot_col} >= 2^63) — rescale "
                    f"the pow quantization (e6 -> e3) for corpora beyond "
                    f"~3e9 docs per source"
                ),
            ).cast("long"),
        )
        .otherwise(F.col(tot_col))
        .alias(tot_col)
    )


@query(
    "corpus_temperature_mixture",
    # The multilingual-mixer recipe (mT5/XLM-R exponential smoothing):
    # sampling weight w_s ∝ n_s^alpha — alpha=1 reproduces the corpus,
    # alpha→0 approaches uniform over sources; 0.3 and 0.7 are the two
    # published operating points this query reports side by side with
    # the raw share. The natural consumer of the language/script mix
    # dashboards: pick alpha per script-balance target, then feed the
    # weights to source_mixture_sample's keep rates.
    oracle=f"""
        WITH counts AS (
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM documents GROUP BY source
        ),
        w AS (
            SELECT source, n_docs,
                   {_TEMP_W_SQL.format(alpha="0.3")} AS w03,
                   {_TEMP_W_SQL.format(alpha="0.7")} AS w07
            FROM counts
        ),
        tot AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS t,
                   CAST(SUM(w03) AS BIGINT) AS t03,
                   CAST(SUM(w07) AS BIGINT) AS t07
            FROM w
        )
        SELECT source, n_docs,
               (2000000 * n_docs + tot.t) // (2 * tot.t) AS share_ppm,
               (2000000 * w03 + tot.t03) // (2 * tot.t03) AS w03_ppm,
               (2000000 * w07 + tot.t07) // (2 * tot.t07) AS w07_ppm
        FROM w, tot
    """,
    description="Temperature-scaled source-sampling weights (the mT5/XLM-R multilingual-mixer recipe w_s ∝ n_s^alpha at the two published operating points alpha=0.3/0.7, beside the raw share): one map-side-combined count aggregate, per-source pow quantized to exact BIGINT e6 at the single float site (bm25 ln recipe), integer sums + round-half-up ppm — a tiny-aggregate query at any corpus size",
)
def corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    counts = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    w = counts.select(
        "source",
        "n_docs",
        F.expr(_TEMP_W_SQL.format(alpha="0.3")).alias("w03"),
        F.expr(_TEMP_W_SQL.format(alpha="0.7")).alias("w07"),
    ).localCheckpoint(eager=False)  # totals + final projection
    tot = w.agg(
        F.sum("n_docs").alias("t"),
        F.sum("w03").alias("t03"),
        F.sum("w07").alias("t07"),
        F.max("w03").alias("_m03"),
        F.max("w07").alias("_m07"),
    ).select(
        "t",
        _temp_total_guard("t03", "_m03"),
        _temp_total_guard("t07", "_m07"),
    )
    return w.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        F.expr("(2000000 * n_docs + t) DIV (2 * t)").alias("share_ppm"),
        F.expr("(2000000 * w03 + t03) DIV (2 * t03)").alias("w03_ppm"),
        F.expr("(2000000 * w07 + t07) DIV (2 * t07)").alias("w07_ppm"),
    )


@query(
    "similarity_cluster_assign",
    # Same exactness recipe as similarity_quantized_topk: quantized
    # integer sums + ROUNDED-cosine argmax with min-id tie-break.
    oracle="""
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
        cents AS (SELECT vec_id AS centroid_id, q AS cq FROM qz WHERE vec_id < 8),
        scored AS (
            SELECT e.vec_id AS vec_id, c.centroid_id AS centroid_id,
                   ROUND(SUM(e.q[i] * c.cq[i])
                       / (sqrt(SUM(e.q[i] * e.q[i])) * sqrt(SUM(c.cq[i] * c.cq[i]))), 6) AS cosine
            FROM qz e JOIN cents c ON TRUE
            , UNNEST(generate_series(1, len(e.q))) t(i)
            GROUP BY e.vec_id, c.centroid_id
        ),
        ranked AS (
            SELECT vec_id, centroid_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, centroid_id ASC) AS rn
            FROM scored
        )
        SELECT vec_id, centroid_id, cosine FROM ranked WHERE rn = 1
    """,
    description="Spherical k-means assignment (the E-step / IVF cell routing): every embedding to its max-cosine centroid (8 fixed seed centroids, broadcast cross join, argmax via max_by struct — no window shuffle); quantized math keeps it bit-reproducible",
)
def similarity_cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"), "embedding"
    )
    return S.spherical_assign(emb, cents)


@query(
    "embeddings_centroid_outliers",
    # Quantized per-dim means are exact integer ratios; cosine rounded to
    # 6 on both sides, flag compares the rounded value (threshold -0.15
    # sits in the ~5% anti-centroid tail of the fixture distribution).
    oracle="""
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
        flat AS (
            SELECT vec_id, i, q[i] AS x
            FROM qz, UNNEST(generate_series(1, len(q))) t(i)
        ),
        cent AS (SELECT i, AVG(x) AS m FROM flat GROUP BY i),
        cos AS (
            SELECT f.vec_id,
                   ROUND(SUM(f.x * c.m)
                       / (sqrt(SUM(f.x * f.x)) * sqrt(SUM(c.m * c.m))), 6) AS cosine_to_centroid
            FROM flat f JOIN cent c USING (i) GROUP BY f.vec_id
        )
        SELECT vec_id, cosine_to_centroid,
               COALESCE(cosine_to_centroid < -0.15, TRUE) AS is_outlier
        FROM cos
    """,
    description="Embedding outlier scan (corpus hygiene before ANN/semantic dedup): cosine to the global quantized centroid, anti-centroid tail flagged; one explode + 64-group aggregate + broadcast centroid row — O(n*dim), no pairs",
)
def embeddings_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return S.centroid_outliers(emb, threshold=-0.15)


@query(
    "dedup_cross_source_matrix",
    # Same signature/band fragments as dedup_minhash_candidates, extended
    # with the documents.source dimension — the corpus-governance report:
    # which SOURCE PAIRS share near-duplicate content (syndication,
    # mirror crawls, cross-feed boilerplate).
    oracle=f"""
        WITH sig AS ({_minhash_sql()}),
        banded AS (
            SELECT doc_id AS id, (perm - 1) // 4 AS band,
                   {_HASH64.format(x="string_agg(concat(perm, ':', minhash), ',' ORDER BY concat(perm, ':', minhash))")} AS band_key
            FROM sig
            GROUP BY doc_id, (perm - 1) // 4
        ),
        pairs AS (
            SELECT a.id AS id_a, b.id AS id_b
            FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
            WHERE a.id < b.id
            GROUP BY a.id, b.id
        )
        SELECT LEAST(da.source, db.source) AS source_a,
               GREATEST(da.source, db.source) AS source_b,
               COUNT(*) AS n_pairs,
               COUNT(DISTINCT CASE WHEN da.source <= db.source THEN id_a ELSE id_b END) AS n_docs_a
        FROM pairs
        JOIN documents da ON da.doc_id = id_a
        JOIN documents db ON db.doc_id = id_b
        GROUP BY 1, 2
    """,
    description="Cross-source near-dup matrix: MinHash-LSH candidate pairs joined to the source dimension, grouped by unordered source pair — which feeds duplicate each other (one extra broadcast-sized join over the candidate table)",
)
def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    cands = D.minhash_candidates(docs, num_perm=16, bands=4, k=3)
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"))
    joined = cands.join(sa, "id_a").join(sb, "id_b")
    return joined.groupBy(
        F.least("src_a", "src_b").alias("source_a"),
        F.greatest("src_a", "src_b").alias("source_b"),
    ).agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct(
            F.when(F.col("src_a") <= F.col("src_b"), F.col("id_a")).otherwise(
                F.col("id_b")
            )
        ).alias("n_docs_a"),
    )


def _training_shards_oracle() -> str:
    from .registry import QUERIES

    curated = QUERIES["corpus_curation_pipeline"].oracle
    return f"""
        WITH curated AS ({curated})
        SELECT doc_id, n_tokens, quality,
               CAST(FLOOR((SUM(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 2000.0) AS BIGINT) AS shard
        FROM curated
    """


@query(
    "corpus_training_shards",
    # The full export flow in ONE declarative plan: curation (language ->
    # quality -> exact dedup -> near dedup) THEN token-budget shard
    # assignment over the survivors — each stage's oracle fragment reused
    # verbatim, composed in DuckDB.
    oracle=_training_shards_oracle(),
    description="End-to-end training export: curation-pipeline survivors packed into 2000-token shards (distributed two-phase prefix sum over the curated set) — curate + dedup + pack as one plan",
)
def corpus_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.packing import pack_token_shards

    curated = corpus_curation_pipeline(spark, sf_dir)
    return pack_token_shards(curated, "n_tokens", shard_tokens=2000).select(
        "doc_id", "n_tokens", "quality", "shard"
    )


@query(
    "events_late_arrival_profile",
    # Batch twin of the watermark-drop decision: an event is DROPPED at
    # watermark W when the max event-time already seen (arrival order =
    # event_id) exceeds its own timestamp by more than W. Value-checks the
    # lateness semantics the streaming operators rely on, and doubles as
    # the tool for CHOOSING a watermark (how much data each W discards).
    oracle="""
        WITH arr AS (
            SELECT event_type,
                   FLOOR(epoch(ts)) AS t,
                   MAX(FLOOR(epoch(ts))) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
            FROM events
        )
        SELECT event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CASE WHEN hwm - t > 600  THEN 1 ELSE 0 END) AS BIGINT) AS late_10m,
               CAST(SUM(CASE WHEN hwm - t > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS late_1h,
               CAST(SUM(CASE WHEN hwm - t > 43200 THEN 1 ELSE 0 END) AS BIGINT) AS late_12h,
               CAST(MAX(GREATEST(hwm - t, 0)) AS BIGINT) AS max_lateness_sec
        FROM arr
        GROUP BY event_type
    """,
    description="Watermark lateness profile (batch twin of the streaming drop rule): per event, high-water-mark event time over arrival order minus own event time; per-type counts of events a 10m/1h/12h watermark would drop — the measurement behind every withWatermark choice here",
)
def events_late_arrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators._util import single_partition_key

    ev = load_events(spark, sf_dir)
    t = F.unix_timestamp("ts").cast("long")
    # Arrival order = event_id (the fixture's ingestion sequence). The
    # high-water mark is global, but the running max is computed in TWO
    # PHASES (the packing.distributed_running_sum shape, prefix-MAX
    # instead of prefix-sum): per-arrival-bucket running max over rows
    # partitioned by bucket, plus a strictly-preceding-bucket prefix max
    # over the bucket-count-sized subtotal table — max is associative, so
    # this equals the single-partition global window EXACTLY (same
    # oracle), with no corpus-sized single-partition exchange. greatest()
    # skips nulls, so the very first arrivals (empty preceding frame on
    # both phases) keep their NULL hwm, matching the global-window
    # semantics bit for bit.
    bucket = F.floor(F.col("event_id") / F.lit(1000))
    w_in = (
        Window.partitionBy("_bkt")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = ev.select(
        "event_type", F.col("event_id"), t.alias("t"), bucket.alias("_bkt")
    )
    within = tagged.withColumn("_in_max", F.max("t").over(w_in))
    totals = tagged.groupBy("_bkt").agg(F.max("t").alias("_tot"))
    # One row per bucket: this window's frame is bucket-count-sized. The
    # constant partition key only silences the no-partition warning (r9;
    # see operators/_util.single_partition_key).
    w_off = (
        Window.partitionBy(single_partition_key("_bkt"))
        .orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn("_off", F.max("_tot").over(w_off))
    arr = (
        within.join(F.broadcast(offsets.select("_bkt", "_off")), "_bkt")
        .select(
            "event_type",
            "t",
            F.greatest("_in_max", "_off").alias("hwm"),
        )
    )
    late = F.col("hwm") - F.col("t")
    return arr.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum((late > 600).cast("long")).alias("late_10m"),
        F.sum((late > 3600).cast("long")).alias("late_1h"),
        F.sum((late > 43200).cast("long")).alias("late_12h"),
        F.max(F.greatest(late, F.lit(0))).alias("max_lateness_sec"),
    )


@query(
    "events_resample_10min_gapfill",
    # Time-series resampling with DENSE output: the bucket spine is
    # generated per event_type from its own [min, max] epoch range
    # (sequence + explode — no driver-side range computation), so empty
    # buckets appear as zero rows, which downstream charting/forecasting
    # consumers require. Value math stays integral (counts) or rounded.
    oracle="""
        WITH bounds AS (
            SELECT event_type,
                   CAST(FLOOR(MIN(epoch(ts)) / 600) AS BIGINT) AS b0,
                   CAST(FLOOR(MAX(epoch(ts)) / 600) AS BIGINT) AS b1
            FROM events GROUP BY event_type
        ),
        spine AS (
            SELECT event_type, CAST(t.b AS BIGINT) AS bucket
            FROM bounds, UNNEST(generate_series(b0, b1)) t(b)
        ),
        agg AS (
            SELECT event_type, CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS bucket,
                   COUNT(*) AS n, ROUND(SUM(value), 4) AS sum_value
            FROM events GROUP BY 1, 2
        )
        SELECT s.event_type, s.bucket,
               COALESCE(a.n, 0) AS n,
               COALESCE(a.sum_value, 0.0) AS sum_value,
               a.n IS NULL AS gap_filled
        FROM spine s LEFT JOIN agg a ON a.event_type = s.event_type AND a.bucket = s.bucket
    """,
    description="Time-series resampling with gap fill: per-type 10-min bucket spine from its own min/max range (sequence+explode, in-plan), left-joined aggregates, zero-filled gaps flagged — dense output for charting/forecasting; spine generation is O(range/step) per key, never a driver loop",
)
def events_resample_10min_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    epoch = F.unix_timestamp("ts").cast("long")
    bucket = F.floor(epoch / 600).cast("long")
    bounds = ev.groupBy("event_type").agg(
        F.min(bucket).alias("b0"), F.max(bucket).alias("b1")
    )
    spine = bounds.select(
        "event_type", F.explode(F.sequence("b0", "b1")).alias("bucket")
    )
    agg = ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
    )
    return spine.join(agg, ["event_type", "bucket"], "left").select(
        "event_type",
        "bucket",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
        F.col("n").isNull().alias("gap_filled"),
    )


@query(
    "embeddings_dimension_profile",
    # Per-DIMENSION QA for the embedding corpus (dead/degenerate/clipped
    # dimensions break ANN recall and semantic dedup): mean/std/min/max
    # per position. Rounding to 4 absorbs the engines' different stddev
    # algorithms (Welford vs naive) and double reassociation noise.
    oracle="""
        WITH flat AS (
            SELECT i AS dim, CAST(embedding[i] AS DOUBLE) AS x
            FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)
        )
        SELECT CAST(dim AS INT) AS dim,
               COUNT(*) AS n,
               ROUND(AVG(x), 4) AS mean,
               ROUND(stddev_samp(x), 4) AS std,
               ROUND(MIN(x), 4) AS min_x,
               ROUND(MAX(x), 4) AS max_x,
               CAST(SUM(CASE WHEN x = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        FROM flat GROUP BY dim
    """,
    description="Embedding per-dimension QA profile (dead/clipped-dimension detection, the vector-column analog of orders_data_profile): one posexplode + one 64-group aggregate with map-side partials",
)
def embeddings_dimension_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    flat = emb.select(F.posexplode("embedding").alias("dim0", "x0")).select(
        (F.col("dim0") + 1).cast("int").alias("dim"), F.col("x0").cast("double").alias("x")
    )
    return flat.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.round(F.avg("x"), 4).alias("mean"),
        F.round(F.stddev_samp("x"), 4).alias("std"),
        F.round(F.min("x"), 4).alias("min_x"),
        F.round(F.max("x"), 4).alias("max_x"),
        F.sum((F.col("x") == 0).cast("long")).alias("n_zero"),
    )


@query(
    "documents_quality_weighted_sample",
    # Same quality fragment as doc_quality_scores (rounded-to-6 published
    # value), same portable-hash bucket, same half-up rounding of
    # weight*buckets on both engines -> exact membership parity.
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, t AS term FROM (
                SELECT doc_id,
                       unnest(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS t
                FROM documents)
            WHERE t <> ''
        ),
        stats AS (
            SELECT doc_id, COUNT(*) AS n_tokens,
                   CAST(COUNT(DISTINCT term) AS DOUBLE) / COUNT(*) AS uniq_ratio,
                   AVG(CASE WHEN term IN {sql_stopword_list()} THEN 1.0 ELSE 0.0 END) AS stop_ratio
            FROM toks GROUP BY doc_id
        ),
        scored AS (
            SELECT doc_id,
                   ROUND(0.5 * LEAST(n_tokens / 100.0, 1.0)
                       + 0.25 * uniq_ratio
                       + 0.25 * LEAST(stop_ratio * 4, 1.0), 6) AS quality
            FROM stats
        )
        SELECT doc_id, quality
        FROM scored
        WHERE ({{h}} % 10000) < ROUND(quality * 10000, 0)
    """.format(h=_HASH64.format(x="CAST(doc_id AS VARCHAR) || 'qweight'")),
    description="Quality-weighted deterministic sampling (training-mix step): keep probability == the published per-doc quality score, membership a pure hash function of doc_id — reproducible across runs/engines/partitionings, zero RNG",
)
def documents_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import unigram_profile
    from ..operators.sampling import weighted_hash_sample

    docs = _docs(spark, sf_dir)
    scored = docs.join(unigram_profile(docs), "doc_id").select("doc_id", "quality")
    return weighted_hash_sample(
        scored, key="doc_id", weight_col="quality", buckets=10_000, salt="qweight"
    )


@query(
    "events_rolling_zscore_anomalies",
    # Same Z_EXPR_SQL string as the Spark plan, over identical exact-integer
    # window columns — see operators/anomaly.py for the determinism chain.
    oracle="""
        WITH ev AS (
            SELECT event_type, event_id, ts,
                   CAST(ROUND(value * 10000) AS BIGINT) AS ve4
            FROM events
        ),
        framed AS (
            SELECT event_type, event_id, ve4,
                   COUNT(*) OVER w AS n,
                   SUM(ve4) OVER w AS s,
                   SUM(ve4 * ve4) OVER w AS ss
            FROM ev
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                         ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)
        ),
        eligible AS (
            SELECT * FROM framed WHERE n = 50 AND ss * n - s * s > 0
        ),
        scored AS (
            SELECT event_type, event_id, ve4 AS value_e4,
                   (CAST(ve4 AS DOUBLE) - CAST(s AS DOUBLE) / n)
                       / sqrt(CAST(ss * n - s * s AS DOUBLE) / (CAST(n AS DOUBLE) * n)) AS z
            FROM eligible
        )
        SELECT event_type, event_id, value_e4, ROUND(z, 6) AS z
        FROM scored WHERE abs(z) >= 3.0
    """,
    description="Trailing-window anomaly scan: per event-type series, flag events >= 3 sigma from the mean of their own previous 50 values (bounded ROWS frame excluding the current row; per-row integerized values make every frame sum exact, the z expression is one shared string both engines compile) — operators/anomaly.py",
)
def events_rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.anomaly import rolling_zscore_anomalies

    return rolling_zscore_anomalies(load_table(spark, sf_dir, "events"), window=50)


@query(
    "events_type_association_rules",
    # Support counts are integers; confidence/lift use the pure-BIGINT
    # round-half-up ppm division on both engines — nothing float.
    oracle="""
        WITH bi AS (SELECT DISTINCT user_id AS b, event_type AS i FROM events),
        nb AS (SELECT COUNT(DISTINCT b) AS n FROM bi),
        item_n AS (SELECT i, COUNT(*) AS n_item FROM bi GROUP BY i),
        pairs AS (
            SELECT l.i AS antecedent, r.i AS consequent, COUNT(*) AS n_both
            FROM bi l JOIN bi r ON l.b = r.b AND l.i <> r.i
            GROUP BY l.i, r.i
            HAVING COUNT(*) >= 2
        )
        SELECT p.antecedent, p.consequent, p.n_both,
               a.n_item AS n_ante, c.n_item AS n_cons,
               (p.n_both * 2000000 + a.n_item) // (2 * a.n_item) AS confidence_ppm,
               (p.n_both * (SELECT n FROM nb) * 2000000 + a.n_item * c.n_item)
                   // (2 * a.n_item * c.n_item) AS lift_ppm
        FROM pairs p
        JOIN item_n a ON a.i = p.antecedent
        JOIN item_n c ON c.i = p.consequent
    """,
    description="Market-basket association rules over per-user event-type baskets: directed A->B rules with exact integer support and pure-BIGINT ppm confidence/lift; pair fan-out bounded by the type catalog, one basket-key shuffle (operators/association.py)",
)
def events_type_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.association import association_rules

    ev = load_table(spark, sf_dir, "events")
    return association_rules(ev, basket_col="user_id", item_col="event_type", min_support=2)


@query(
    "events_markov_transitions",
    # Transition counts are exact integers from LEAD over a total per-user
    # order (ts, event_id — event_id unique); probabilities use the same
    # pure-BIGINT round-half-up ppm division as the association rules.
    # Hoisted (walrus) so the bucketed twin below grades against the
    # IDENTICAL plain-window definition — a future tweak here cannot
    # silently leave the twin testing a stale copy (r13 review).
    oracle=(_MARKOV_ORACLE := """
        WITH pairs AS (
            SELECT event_type AS from_type,
                   LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
            FROM events
        ),
        counts AS (
            SELECT from_type, to_type, COUNT(*) AS n_transitions
            FROM pairs WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type
        ),
        totals AS (
            SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS tot
            FROM counts GROUP BY from_type
        )
        SELECT c.from_type, c.to_type, c.n_transitions,
               (c.n_transitions * 2000000 + t.tot) // (2 * t.tot) AS prob_ppm
        FROM counts c JOIN totals t ON t.from_type = c.from_type
    """),
    description="First-order Markov transition matrix between event types (per-user sequences ordered by ts,event_id): exact transition counts + row-conditional probability P(to|from) in round-half-up integer ppm — one window shuffle on the sequence key, then two aggregates over the |types|^2 space (operators/sequence.py)",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import markov_transitions

    return markov_transitions(load_table(spark, sf_dir, "events"))


@query(
    "events_markov_transitions_bucketed",
    # Value-identical skew-resistant twin (r13, VERDICT r12 item 7): the
    # r13 probe measured the plain per-user LEAD window at 13.1x wall
    # growth under a 50%-mass Zipf key at 64x data (window_lead in
    # SCALING.md) — the single-hot-task sort class salting can't fix.
    # The oracle IS events_markov_transitions' plain single-window form
    # (the SHARED constant — r13 review: a verbatim copy could silently
    # go stale), so this query's green row IS the proof that the
    # day-bucketed local-LEAD + boundary-stitch decomposition changes
    # the physical shape and nothing else.
    oracle=_MARKOV_ORACLE,
    description="Skew-resistant Markov transition matrix (r13 — the carry-stitch family applied to LEAD after the probe measured the plain per-user LEAD window at 13.1x under a 50%-mass Zipf key): LEAD locally within (user, day), the one boundary transition per bucket stitched from tiny per-bucket first/last-type summaries against the previous NON-EMPTY bucket; value-identical to events_markov_transitions — the oracle IS the plain single-window form (operators/sequence.py markov_transitions_bucketed)",
)
def events_markov_transitions_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import markov_transitions_bucketed

    return markov_transitions_bucketed(load_table(spark, sf_dir, "events"))


@query(
    "events_value_mad_outliers",
    # Determinism recipe in operators/anomaly.py:mad_outliers — per-row
    # integerization makes every median an exact integer-or-half-integer
    # double (med2/d2/mad2 carry 2x the quantity), so values and even the
    # threshold comparison are bit-identical cross-engine with no
    # rounding soak.
    oracle="""
        WITH base AS (
            SELECT event_type, CAST(ROUND(value * 10000) AS BIGINT) AS ve4
            FROM events
        ),
        med AS (
            SELECT event_type, COUNT(*) AS n,
                   quantile_cont(ve4, 0.5) * 2 AS med2
            FROM base GROUP BY event_type
        ),
        dev AS (
            SELECT b.event_type, ABS(2 * b.ve4 - m.med2) AS d2
            FROM base b JOIN med m USING (event_type)
        ),
        mad AS (
            SELECT event_type, quantile_cont(d2, 0.5) AS mad2
            FROM dev GROUP BY event_type
        ),
        outl AS (
            SELECT d.event_type,
                   CAST(SUM(CASE WHEN d.d2 > 4.4478 * m.mad2 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
            FROM dev d JOIN mad m USING (event_type)
            GROUP BY d.event_type
        )
        SELECT m.event_type, m.n,
               m.med2 / 20000 AS median_value,
               ma.mad2 / 20000 AS mad_value,
               o.n_outliers
        FROM med m JOIN mad ma USING (event_type) JOIN outl o USING (event_type)
    """,
    description="Robust outlier profile per event type: exact median + MAD + count beyond 3*1.4826*MAD — the contamination-proof twin of the rolling z-score detector; per-row integerized values make the medians and the boundary comparison bit-deterministic (operators/anomaly.py mad_outliers)",
)
def events_value_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.anomaly import mad_outliers

    return mad_outliers(load_table(spark, sf_dir, "events"))


@query(
    "events_weekly_retention",
    # Pure integer analytics end to end: epoch-week bucketing (tz-free),
    # distinct-user counts, ppm retention via the BIGINT ratio recipe.
    oracle="""
        WITH activity AS (
            SELECT DISTINCT user_id,
                   CAST(FLOOR(epoch(ts) / 604800) AS BIGINT) AS week
            FROM events
        ),
        cohorts AS (SELECT user_id, MIN(week) AS cohort FROM activity GROUP BY user_id),
        cohort_size AS (SELECT cohort, COUNT(*) AS n_cohort FROM cohorts GROUP BY cohort),
        ret AS (
            -- COUNT(*), not COUNT(DISTINCT): activity is distinct on
            -- (user_id, week) and each (user_id, week) maps to exactly one
            -- (cohort, offset) group, so rows == distinct users here.
            SELECT c.cohort, a.week - c.cohort AS offset_weeks,
                   COUNT(*) AS n_active
            FROM activity a JOIN cohorts c ON c.user_id = a.user_id
            GROUP BY c.cohort, a.week - c.cohort
        )
        SELECT r.cohort, r.offset_weeks, r.n_active, s.n_cohort,
               (r.n_active * 2000000 + s.n_cohort) // (2 * s.n_cohort) AS retention_ppm
        FROM ret r JOIN cohort_size s ON s.cohort = r.cohort
    """,
    description="Cohort retention matrix: users bucketed by first-activity epoch-week, distinct-active counts per (cohort, week offset), retention as exact BIGINT ppm — the standard growth-analytics triangle; two distinct-aggregates + one broadcast-sized cohort join, no window over the event stream",
)
def events_weekly_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    week = F.floor(F.unix_timestamp("ts") / 604800).cast("long")
    activity = ev.select("user_id", week.alias("week")).distinct()
    cohorts = activity.groupBy("user_id").agg(F.min("week").alias("cohort"))
    cohort_size = cohorts.groupBy("cohort").agg(F.count("*").alias("n_cohort"))
    # COUNT(*), not count_distinct: activity is distinct on (user_id, week)
    # and offset = week - cohort is unique per user within a group, so the
    # two-phase distinct machinery would dedup nothing at extra shuffle cost.
    ret = (
        activity.join(cohorts, "user_id")
        .groupBy("cohort", (F.col("week") - F.col("cohort")).alias("offset_weeks"))
        .agg(F.count("*").alias("n_active"))
    )
    return (
        ret.join(F.broadcast(cohort_size), "cohort")
        .select(
            "cohort",
            "offset_weeks",
            "n_active",
            "n_cohort",
            F.expr(
                "(n_active * 2000000L + n_cohort) div (2L * n_cohort)"
            ).alias("retention_ppm"),
        )
    )


@query(
    "events_scd2_user_state",
    # Identical window logic in DuckDB: gaps-and-islands collapse with
    # IS DISTINCT FROM (null-safe, mirroring eqNullSafe), then renumber +
    # lead over the surviving change rows. Ties order on event_id both
    # sides, so histories are replay-identical.
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type AS state, ts, event_id,
                   LAG(event_type) OVER w AS prev,
                   ROW_NUMBER() OVER w AS rn
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        runs AS (
            SELECT user_id, state, ts AS valid_from, event_id
            FROM ordered
            WHERE rn = 1 OR state IS DISTINCT FROM prev
        )
        SELECT user_id, state, valid_from,
               LEAD(valid_from) OVER w2 AS valid_to,
               CAST(ROW_NUMBER() OVER w2 AS INT) AS version,
               LEAD(valid_from) OVER w2 IS NULL AS is_current
        FROM runs
        WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """,
    description="SCD2 dimension build (Kimball type-2) from the events change log: per-user state history with validity intervals — consecutive same-state events collapse into one version (gaps-and-islands), valid_to = next version's valid_from, NULL while current; ONE shuffle (both windows share the user_id partitioning+sort) — operators/merge.py scd2_history",
)
def events_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import scd2_history

    ev = load_events(spark, sf_dir)
    return scd2_history(ev, key="user_id", state_col="event_type", ts_col="ts", tie_col="event_id")


@query(
    "events_multires_rollup",
    # The oracle computes EVERY level directly from raw rows; the Spark
    # plan scans raw data once (finest level) and re-aggregates partials
    # upward — associativity of count/integer-sum makes them bit-equal.
    oracle="""
        WITH base AS (
            SELECT CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS b, event_type,
                   CAST(ROUND(value * 10000) AS BIGINT) AS ve4
            FROM events
        )
        SELECT '10min' AS level, b * 600 AS bucket_start, event_type,
               COUNT(*) AS n, CAST(SUM(ve4) AS BIGINT) AS sum_value_e4
        FROM base GROUP BY b, event_type
        UNION ALL
        SELECT '1h', (b // 6) * 3600, event_type,
               COUNT(*), CAST(SUM(ve4) AS BIGINT)
        FROM base GROUP BY (b // 6), event_type
        UNION ALL
        SELECT '1d', (b // 144) * 86400, event_type,
               COUNT(*), CAST(SUM(ve4) AS BIGINT)
        FROM base GROUP BY (b // 144), event_type
    """,
    description="Multi-resolution continuous aggregate (hypertable rollup): 10min/1h/1d per-type counts and integer-exact value sums, each coarser level re-aggregated from the finer level's PARTIALS — one raw scan total, coarser levels cost shuffles over aggregate cardinality, not raw volume (operators/rollup.py)",
)
def events_multires_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rollup import multires_rollup

    return multires_rollup(load_events(spark, sf_dir))


@query(
    "events_scd2_incremental",
    # The oracle is the FULL-history rebuild (identical window SQL to
    # events_scd2_user_state): the incremental fold must reproduce it
    # bit-for-bit — the strongest possible check for an incremental
    # maintenance operator.
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type AS state, ts, event_id,
                   LAG(event_type) OVER w AS prev,
                   ROW_NUMBER() OVER w AS rn
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        runs AS (
            SELECT user_id, state, ts AS valid_from, event_id
            FROM ordered
            WHERE rn = 1 OR state IS DISTINCT FROM prev
        )
        SELECT user_id, state, valid_from,
               LEAD(valid_from) OVER w2 AS valid_to,
               CAST(ROW_NUMBER() OVER w2 AS INT) AS version,
               LEAD(valid_from) OVER w2 IS NULL AS is_current
        FROM runs
        WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """,
    description="Incremental SCD2 maintenance (Delta Live Tables APPLY-CHANGES counterpart): history built over the older 3/4 of the event-time range, the newest 1/4 folded in as an append-only batch via merge.scd2_apply_batch — per-batch cost tracks the batch + live keys, closed history rows are never touched; result must equal the full rebuild (operators/merge.py)",
)
def events_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import scd2_apply_batch, scd2_history

    ev = load_events(spark, sf_dir)
    # Integer-exact split threshold from the data, derived IN-PLAN (1-row
    # broadcast bounds, no driver collect): T = mn + 3*(mx-mn) div 4 over
    # integer epoch seconds — base strictly before T, batch at/after T, so
    # the append-only contract holds by construction.
    bounds = ev.agg(
        F.min(F.unix_timestamp("ts")).alias("_mn"),
        F.max(F.unix_timestamp("ts")).alias("_mx"),
    )
    tagged = ev.crossJoin(F.broadcast(bounds)).withColumn(
        "_t", F.expr("_mn + (3 * (_mx - _mn)) div 4")
    )
    base = tagged.filter(F.unix_timestamp("ts") < F.col("_t")).drop("_mn", "_mx", "_t")
    batch = tagged.filter(F.unix_timestamp("ts") >= F.col("_t")).drop("_mn", "_mx", "_t")
    # In production the history is a PERSISTED table; materializing the
    # on-the-fly rebuild here mirrors that (its three consumers inside the
    # fold — current rows twice, closed rows once — would otherwise each
    # re-run the full window chain). At real scale the union-through of
    # closed rows becomes a partition-pruned merge-on-write instead.
    history = scd2_history(
        base, key="user_id", state_col="event_type", ts_col="ts", tie_col="event_id"
    ).localCheckpoint(eager=False)
    return scd2_apply_batch(history, batch, key="user_id", state_col="event_type", ts_col="ts", tie_col="event_id")


@shared("similarity_pq_codebook")
def _pq_codebook(spark: SparkSession, sf_dir: str) -> dict:
    """PQ train (m=16 x 16 centroids, 2 Lloyd rounds) + full-corpus encode."""
    from ..operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    # pq_train returns a driver-built frame as of r15 (bounded m×k
    # codebook collected per round). For the TRAIN loop that is the win
    # (no per-round checkpoint jobs), but the profile consumes the
    # codebook in many broadcasts (ADC tables per budget + the
    # reconstruction side), and each broadcast of a parallelized
    # local-rows frame runs a defaultParallelism-task job — measured
    # 6.8 s vs 3.8 s per profile pass (tools A/B, r15). One lazy
    # checkpoint turns those into block reads.
    cents = PQ.pq_train(emb, m=16, k=16, rounds=2).localCheckpoint(eager=False)
    codes = PQ.pq_encode(emb, cents, m=16).localCheckpoint(eager=False)
    return {"cents": cents, "codes": codes}


@query(
    "similarity_pq_recall_profile",
    uses=("similarity_pq_codebook",),
    # PINNED CONSTANTS oracle (similarity_ann_recall_profile precedent),
    # valid at the driver's sf0.01 only (tests/oracle_check.py PINNED_SF
    # gates the other scales). Everything in the PQ pipeline is a pure
    # function of the data — hash-seeded codebook init, exact integer
    # Lloyd sums, 6-rounded argmin/top-k with id tie-breaks — so the
    # per-probe recall integers are constants. r8 pin taken from the
    # SHIPPED code at sf0.01 under the driver's local[32]/32-partition
    # session shape and REPRODUCED bit-identically under local[4]/64
    # before pinning. 'pq_adc' grades the codes-only scan (8-byte codes,
    # the 32x-compressed index); 'pq_rerank' grades the standard
    # two-stage search (ADC pool-50 shortlist -> exact quantized-cosine
    # rerank) — the driver verifies exactly HOW approximate each stage is.
    oracle="""
        SELECT method, CAST(query_id AS BIGINT) AS query_id,
               CAST(n_results AS BIGINT) AS n_results,
               CAST(n_brute_hits AS BIGINT) AS n_brute_hits
        FROM (VALUES
            ('pq_adc', 0, 10, 6), ('pq_adc', 1, 10, 6), ('pq_adc', 2, 10, 2),
            ('pq_rerank', 0, 10, 8), ('pq_rerank', 1, 10, 9), ('pq_rerank', 2, 10, 5)
        ) t(method, query_id, n_results, n_brute_hits)
    """,
    description="Product-quantization ANN profile: per-probe result count and exact-top-10 overlap for the codes-only ADC scan and the shortlist+rerank search (FAISS-style PQ: m=16 sub-codebooks of 16 centroids, deterministic hash-seeded Lloyd; pinned-constants oracle at sf0.01)",
    pinned_sf="sf0.01",
)
def similarity_pq_recall_profile(
    spark: SparkSession, sf_dir: str, similarity_pq_codebook: dict
) -> DataFrame:
    from ..operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    cents, codes = similarity_pq_codebook["cents"], similarity_pq_codebook["codes"]
    brute = (
        S.cosine_topk(emb, probes, k=10)
        .select("query_id", F.col("vec_id").alias("hit"))
        .localCheckpoint(eager=False)  # consumed by both method joins
    )
    out = None
    for method, frame in (
        ("pq_adc", PQ.pq_topk(codes, cents, probes, k=10, m=16)),
        ("pq_rerank", PQ.pq_topk_reranked(emb, codes, cents, probes, k=10, m=16)),
    ):
        approx = frame.select(
            "query_id", F.col("vec_id").alias("hit")
        ).localCheckpoint(eager=False)  # consumed by count + overlap join
        n = approx.groupBy("query_id").agg(F.count("*").alias("n_results"))
        hits = (
            approx.join(brute, ["query_id", "hit"])
            .groupBy("query_id")
            .agg(F.count("*").alias("n_brute_hits"))
        )
        prof = n.join(hits, "query_id", "left").select(
            F.lit(method).alias("method"),
            "query_id",
            F.col("n_results").cast("long").alias("n_results"),
            F.coalesce("n_brute_hits", F.lit(0)).cast("long").alias("n_brute_hits"),
        )
        out = prof if out is None else out.unionByName(prof)
    return out


@shared("similarity_ivfpq_geometry")
def _ivfpq_geometry(spark: SparkSession, sf_dir: str) -> dict:
    """IVF-PQ geometry: coarse router + sub-codebooks + cell-tagged code
    table (ivfpq_build). One build serves every routing budget and both
    the live and the persisted index — never a re-train per search."""
    from ..operators import pq as PQ

    return PQ.ivfpq_build(load_table(spark, sf_dir, "embeddings"))


@shared("similarity_ivfpq_index", uses=("similarity_ivfpq_geometry",))
def _ivfpq_index(spark: SparkSession, sf_dir: str, similarity_ivfpq_geometry: dict) -> str:
    """The geometry persisted as bucketed tables; returns their prefix."""
    from ..operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    PQ.build_ivfpq_index(emb, prefix="ivfpqq_index", index=similarity_ivfpq_geometry)
    return "ivfpqq_index"


@query(
    "similarity_ivfpq_recall_profile",
    uses=("similarity_ivfpq_geometry",),
    # PINNED CONSTANTS oracle (same discipline as the PQ/ANN profiles;
    # sf0.01-only via PINNED_SF). Grades the full FAISS-style composition
    # at two routing budgets: nprobe=4 (scan 1/4 of the code table) and
    # nprobe=8 (1/2) — the driver verifies the recall/pruning tradeoff as
    # exact integers. r8 pin from the shipped code under the driver's
    # local[32]/32 shape, reproduced bit-identically under local[4]/64.
    oracle="""
        SELECT method, CAST(query_id AS BIGINT) AS query_id,
               CAST(n_results AS BIGINT) AS n_results,
               CAST(n_brute_hits AS BIGINT) AS n_brute_hits
        FROM (VALUES
            ('ivfpq_np4', 0, 10, 6), ('ivfpq_np4', 1, 10, 6), ('ivfpq_np4', 2, 10, 6),
            ('ivfpq_np8', 0, 10, 7), ('ivfpq_np8', 1, 10, 8), ('ivfpq_np8', 2, 10, 6)
        ) t(method, query_id, n_results, n_brute_hits)
    """,
    description="IVF-PQ ANN profile: exact-top-10 overlap of the full FAISS-style composition (deterministic coarse router -> cell-restricted 32x-compressed ADC scan -> exact rerank) at nprobe=4 and 8 of 16 cells — the recall/pruning tradeoff graded as integers (pinned-constants oracle at sf0.01)",
    pinned_sf="sf0.01",
)
def similarity_ivfpq_recall_profile(
    spark: SparkSession, sf_dir: str, similarity_ivfpq_geometry: dict
) -> DataFrame:
    from ..operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    brute = (
        S.cosine_topk(emb, probes, k=10)
        .select("query_id", F.col("vec_id").alias("hit"))
        .localCheckpoint(eager=False)
    )
    out = None
    for method, nprobe in (("ivfpq_np4", 4), ("ivfpq_np8", 8)):
        approx = (
            PQ.ivfpq_topk(
                emb, probes, k=10, nprobe=nprobe, index=similarity_ivfpq_geometry
            )
            .select("query_id", F.col("vec_id").alias("hit"))
            .localCheckpoint(eager=False)
        )
        n = approx.groupBy("query_id").agg(F.count("*").alias("n_results"))
        hits = (
            approx.join(brute, ["query_id", "hit"])
            .groupBy("query_id")
            .agg(F.count("*").alias("n_brute_hits"))
        )
        prof = n.join(hits, "query_id", "left").select(
            F.lit(method).alias("method"),
            "query_id",
            F.col("n_results").cast("long").alias("n_results"),
            F.coalesce("n_brute_hits", F.lit(0)).cast("long").alias("n_brute_hits"),
        )
        out = prof if out is None else out.unionByName(prof)
    return out


@query(
    "similarity_ivfpq_indexed_agreement",
    uses=("similarity_ivfpq_geometry", "similarity_ivfpq_index"),
    # Constant oracle (the lsh_indexed_agreement pattern): the persisted
    # IVF-PQ index — bucketed cell-tagged code table + stored coarse
    # centroids + stored codebook — must reproduce the on-the-fly path
    # EXACTLY: same routing, same ADC scores, same rerank, all 10 rows
    # per probe. Any drift between the stored tables and the live build
    # (stale codebook, bucket corruption, routing mismatch) reds this row.
    oracle="""
        SELECT CAST(query_id AS BIGINT) AS query_id,
               CAST(n_indexed AS BIGINT) AS n_indexed,
               CAST(n_agree AS BIGINT) AS n_agree
        FROM (VALUES (0, 10, 10), (1, 10, 10), (2, 10, 10))
             t(query_id, n_indexed, n_agree)
    """,
    description="Persisted IVF-PQ index (bucketed cell-tagged codes + coarse centroids + codebook tables) queried without retraining or re-encoding — per-probe full-row agreement with the on-the-fly IVF-PQ search, value-checked as exact integers",
)
def similarity_ivfpq_indexed_agreement(
    spark: SparkSession,
    sf_dir: str,
    similarity_ivfpq_geometry: dict,
    similarity_ivfpq_index: str,
) -> DataFrame:
    from ..operators import pq as PQ

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    indexed = PQ.ivfpq_topk_indexed(
        spark, emb, probes, prefix=similarity_ivfpq_index, k=10, nprobe=4
    )
    live = PQ.ivfpq_topk(emb, probes, k=10, nprobe=4, index=similarity_ivfpq_geometry)
    both = indexed.join(live, ["query_id", "vec_id", "cosine", "rank"], "left_semi")
    n_idx = indexed.groupBy("query_id").agg(F.count("*").alias("n_indexed"))
    n_agr = both.groupBy("query_id").agg(F.count("*").alias("n_agree"))
    return n_idx.join(n_agr, "query_id", "left").select(
        "query_id",
        F.col("n_indexed").cast("long").alias("n_indexed"),
        F.coalesce("n_agree", F.lit(0)).cast("long").alias("n_agree"),
    )


@query(
    "similarity_ann_recall_profile",
    # PINNED CONSTANTS oracle (ml_sentiment_metrics precedent), valid at
    # the driver's sf0.01 only (tests/oracle_check.py PINNED_SF gates the
    # other scales): per-probe result counts and brute-force-overlap hits
    # for BOTH approximate ANN paths. The values are deterministic — LSH
    # buckets come from fixed md5-parity-signed hyperplanes (8 planes x 12
    # tables, Hamming<=1 multi-probe, signed in one Arrow matmul — r6
    # replaced the r5 flat-SQL signature that broke janino's 64 KB limit),
    # IVF centroids from a fixed-seed Lloyd run, ties break on ascending
    # id. r6 pin taken from the SHIPPED code at sf0.01 under the driver's
    # local[32]/32-partition session shape; the matmul signature is a
    # single deterministic numpy pass, so the values are stable across
    # sessions for a given numpy build. This upgrades the ANN family from
    # rows-only driver evidence to value-checked recall measurements: the
    # driver verifies not just that the index answers, but exactly HOW
    # approximate it is.
    oracle="""
        SELECT method, CAST(query_id AS BIGINT) AS query_id,
               CAST(n_results AS BIGINT) AS n_results,
               CAST(n_brute_hits AS BIGINT) AS n_brute_hits
        FROM (VALUES
            ('lsh', 0, 10, 7), ('lsh', 1, 10, 10), ('lsh', 2, 10, 7),
            ('ivf', 0, 10, 10), ('ivf', 1, 10, 8), ('ivf', 2, 10, 6)
        ) t(method, query_id, n_results, n_brute_hits)
    """,
    description="ANN quality profile: per-probe result count and brute-force-overlap (recall numerator) for the LSH-bucketed and IVF paths, both computed in-plan against the exact cosine top-10 — the approximate indexes' accuracy measured as exact integers (pinned-constants oracle at sf0.01)",
    pinned_sf="sf0.01",
)
def similarity_ann_recall_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    brute = S.cosine_topk(emb, probes, k=10).select(
        "query_id", F.col("vec_id").alias("hit")
    ).localCheckpoint(eager=False)  # consumed by both method joins
    out = None
    for method, fn in (("lsh", S.lsh_topk), ("ivf", S.ivf_topk)):
        approx = fn(emb, probes, k=10).select(
            "query_id", F.col("vec_id").alias("hit")
        ).localCheckpoint(eager=False)  # consumed by count + overlap join
        n = approx.groupBy("query_id").agg(F.count("*").alias("n_results"))
        hits = (
            approx.join(brute, ["query_id", "hit"])
            .groupBy("query_id")
            .agg(F.count("*").alias("n_brute_hits"))
        )
        prof = (
            n.join(hits, "query_id", "left")
            .select(
                F.lit(method).alias("method"),
                "query_id",
                "n_results",
                F.coalesce("n_brute_hits", F.lit(0)).cast("long").alias("n_brute_hits"),
            )
        )
        out = prof if out is None else out.unionByName(prof)
    return out


@query(
    "events_approx_group_profile",
    # Per-GROUP sketch profiling (the grouped extension of
    # lineitem_approx_profile's assertion pattern): exact row/distinct
    # counts anchor each group's row; the HLL and GK sketch columns are
    # value-checked via in-plan accuracy assertions (the oracle emits the
    # exact columns and constant-1 assertions — a hash match means every
    # group's sketch met its bound).
    oracle="""
        SELECT event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS exact_users,
               CAST(1 AS INT) AS hll_ok,
               CAST(1 AS INT) AS gk_median_ok
        FROM events
        GROUP BY event_type
    """,
    description="Per-group approximate profiling: HLL distinct users + GK median per event type, judged in-plan against exact counts (HLL rel-err <= 10%) and the exact p49-p51 quantile bracket (GK rank error <= 1e-3 at accuracy 1000) — grouped sketches are the constant-memory path when per-key exact distincts would shuffle every (key, user) pair; exact columns anchor the rows, assertions value-check the sketches",
)
def events_approx_group_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    prof = ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count_distinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id").alias("_hll_users"),
        F.percentile_approx("value", 0.5, 1000).alias("_gk_median"),
        # Exact p49/p51 bracket: GK's rank guarantee (<= 1/accuracy = 1e-3)
        # must land the sketch median inside it.
        F.percentile("value", F.array(F.lit(0.49), F.lit(0.51))).alias("_mb"),
    )
    return prof.select(
        "event_type",
        "n_events",
        "exact_users",
        (
            (F.abs(F.col("_hll_users") - F.col("exact_users"))
             / F.col("exact_users")) <= 0.1
        ).cast("int").alias("hll_ok"),
        (
            (F.col("_gk_median") >= F.col("_mb")[0])
            & (F.col("_gk_median") <= F.col("_mb")[1])
        ).cast("int").alias("gk_median_ok"),
    )


@query(
    "events_seasonal_naive_eval",
    # Pure-integer recipe throughout: per-row integerized values, integer
    # bucket arithmetic, and the round-half-up ppm division for the means
    # (the doc_chunk_dedup recipe) — nothing float crosses engines. CASTs
    # around the SUMs keep DuckDB off HUGEINT.
    oracle="""
        WITH b AS (
            SELECT CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS bucket, event_type,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(ROUND(value * 10000) AS BIGINT)) AS BIGINT) AS ve4
            FROM events GROUP BY bucket, event_type
        ),
        scored AS (
            SELECT cur.event_type,
                   ABS(cur.n - prev.n) AS err_n,
                   ABS(cur.ve4 - prev.ve4) AS err_v
            FROM b cur JOIN b prev
              ON prev.bucket = cur.bucket - 144 AND prev.event_type = cur.event_type
        )
        SELECT event_type,
               COUNT(*) AS n_scored,
               CAST(SUM(err_n) AS BIGINT) AS sum_abs_err_n,
               CAST((CAST(SUM(err_n) AS BIGINT) * 2000000 + COUNT(*))
                    // (2 * COUNT(*)) AS BIGINT) AS mae_n_ppm,
               CAST(SUM(err_v) AS BIGINT) AS sum_abs_err_ve4,
               CAST((CAST(SUM(err_v) AS BIGINT) * 2000000 + COUNT(*))
                    // (2 * COUNT(*)) AS BIGINT) AS mae_ve4_ppm
        FROM scored GROUP BY event_type
    """,
    description="Forecast-baseline evaluation (the M4 seasonal-naive benchmark): each 10-min bucket's per-type count and integer value-sum predicted by the same bucket 24h earlier (lag 144); per-type MAE as exact round-half-up ppm integers — the standing quality bar any real forecaster must beat, computed as two hash aggregates and one self equi-join on (bucket-144, type), no windows over the raw stream",
)
def events_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    b = ev.groupBy(
        F.floor(F.unix_timestamp("ts") / 600).cast("long").alias("bucket"),
        "event_type",
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 10000).cast("bigint")).alias("ve4"),
    )
    # b feeds BOTH self-join sides — materialize the bucket-cardinality
    # aggregate once (lazy localCheckpoint) instead of scanning the raw
    # events twice.
    b = b.localCheckpoint(eager=False)
    cur = b.alias("cur")
    prev = b.select(
        (F.col("bucket") + 144).alias("bucket"),
        "event_type",
        F.col("n").alias("prev_n"),
        F.col("ve4").alias("prev_ve4"),
    ).alias("prev")
    scored = cur.join(prev, ["bucket", "event_type"]).select(
        "event_type",
        F.abs(F.col("n") - F.col("prev_n")).alias("err_n"),
        F.abs(F.col("ve4") - F.col("prev_ve4")).alias("err_v"),
    )
    return scored.groupBy("event_type").agg(
        F.count("*").alias("n_scored"),
        F.sum("err_n").alias("sum_abs_err_n"),
        F.expr("(sum(err_n) * 2000000L + count(*)) div (2L * count(*))").alias("mae_n_ppm"),
        F.sum("err_v").alias("sum_abs_err_ve4"),
        F.expr("(sum(err_v) * 2000000L + count(*)) div (2L * count(*))").alias("mae_ve4_ppm"),
    )


def _bpe_merges_oracle(n_merges: int) -> str:
    """Unrolled-round DuckDB twin of operators/bpe.bpe_merge_table (the
    pagerank unrolled-CTE precedent applied to an iterative TRAINER):
    round r picks the (count desc, pair asc) argmax over syms{r-1}'s
    adjacent-pair counts and applies the same two-pass padded literal
    replace — RE2's global regexp_replace is left-to-right non-overlapping
    exactly like Java's, which is what makes the merge application
    engine-portable without lookarounds. Every chained CTE is MATERIALIZED:
    DuckDB inlines plain CTEs per reference, and each round references the
    previous one ~3x (pair counts + two scalar argmax subqueries) — an
    inlined chain re-reads the parquet ~3^n times and exhausts file
    handles before it exhausts patience."""
    parts = [
        r"""
        WITH words AS (
            SELECT array_to_string(list_transform(generate_series(1, length(w)), i -> w[i]), ' ') AS s,
                   cnt
            FROM (
                SELECT w, COUNT(*) AS cnt
                FROM (
                    SELECT UNNEST(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+')) AS w
                    FROM documents
                )
                WHERE w <> ''
                GROUP BY w
            )
        ),
        syms0 AS MATERIALIZED (SELECT s, cnt FROM words)"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(f""",
        p{r} AS (
            SELECT l[i] || ' ' || l[i + 1] AS pair, SUM(cnt) AS n
            FROM (SELECT string_split(s, ' ') AS l, cnt FROM syms{r - 1}),
                 UNNEST(generate_series(1, len(l) - 1)) t(i)
            GROUP BY pair
        ),
        b{r} AS MATERIALIZED (SELECT pair, n FROM p{r} ORDER BY n DESC, pair LIMIT 1),
        syms{r} AS MATERIALIZED (
            SELECT trim(regexp_replace(regexp_replace(' ' || s || ' ',
                       ' ' || (SELECT pair FROM b{r}) || ' ',
                       ' ' || (SELECT replace(pair, ' ', '') FROM b{r}) || ' ', 'g'),
                       ' ' || (SELECT pair FROM b{r}) || ' ',
                       ' ' || (SELECT replace(pair, ' ', '') FROM b{r}) || ' ', 'g')) AS s,
                   cnt
            FROM syms{r - 1}
        )""")
    selects = "\n            UNION ALL ".join(
        f"SELECT {r} AS step, split_part(pair, ' ', 1) AS left_sym,"
        f" split_part(pair, ' ', 2) AS right_sym,"
        f" replace(pair, ' ', '') AS merged, CAST(n AS BIGINT) AS pair_count FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return "".join(parts) + f"\n        {selects}"


@query(
    "corpus_bpe_merges",
    oracle=_bpe_merges_oracle(8),
    description="Distributed BPE tokenizer training (Sennrich et al. 2016): 8 merge rules learned over the word-TYPE table (one corpus aggregate, then vocabulary-sized rounds; one argmax row to the driver per round) — rule table value-checked against an 8-round unrolled SQL re-derivation incl. the two-pass left-to-right merge application (operators/bpe.py)",
)
def corpus_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_merge_table

    return bpe_merge_table(_docs(spark, sf_dir), n_merges=8).select(
        "step",
        F.col("left").alias("left_sym"),
        F.col("right").alias("right_sym"),
        "merged",
        "pair_count",
    )


def _bpe_token_stats_oracle(n_merges: int) -> str:
    """Extends :func:`_bpe_merges_oracle`'s unrolled chain: after the last
    merge round, syms{n} IS the trained vocabulary (word = symbols with
    spaces removed, piece count = symbol count), so per-doc BPE token
    counts are one join from doc words to that vocabulary — which
    value-checks the SEGMENTATION path, not just the rule table."""
    chain = _bpe_merges_oracle(n_merges)
    # Drop the rule-table SELECT tail; keep the CTE chain.
    tail_at = chain.rfind("SELECT 1 AS step")
    chain = chain[:tail_at].rstrip().rstrip(",")
    return chain + f""",
        vocab AS MATERIALIZED (
            SELECT replace(s, ' ', '') AS word,
                   CAST(len(string_split(s, ' ')) AS BIGINT) AS n_pieces
            FROM syms{n_merges}
        ),
        doc_words AS (
            SELECT doc_id, w
            FROM (
                SELECT doc_id,
                       UNNEST(regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS w
                FROM documents
            )
            WHERE w <> ''
        )
        SELECT d.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(v.n_pieces) AS BIGINT) AS n_pieces
        FROM doc_words d JOIN vocab v ON v.word = d.w
        GROUP BY d.doc_id"""


@query(
    "corpus_bpe_token_stats",
    oracle=_bpe_token_stats_oracle(8),
    description="Per-document token counts under the trained 8-rule BPE tokenizer (the 'how many tokens will training see' question): rules trained in-plan, segmentation applied as one composed column chain in a single corpus scan — value-checks bpe_segment end-to-end against the unrolled oracle's final vocabulary",
)
def corpus_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_merge_table, bpe_segment

    docs = _docs(spark, sf_dir)
    rules = bpe_merge_table(docs, n_merges=8)
    merges = [(r.left, r.right) for r in rules.orderBy("step").collect()]
    seg = bpe_segment(docs, merges)
    return seg.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_words"),
        F.sum(F.size("pieces")).cast("long").alias("n_pieces"),
    )


@query(
    "documents_balanced_sample",
    # DuckDB re-derives the hash rank (same md5-derived bucket + doc_id
    # tie-break) per source and keeps rank <= 5 — exact membership, not a
    # count comparison.
    oracle=f"""
        WITH ranked AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY {_HASH64.format(x="CAST(doc_id AS VARCHAR) || 'strat'")} % 1073741824, doc_id
                   ) AS rk
            FROM documents
        )
        SELECT doc_id, source FROM ranked WHERE rk <= 5
    """,
    description="Balanced per-source audit sample: EXACTLY 5 docs per source by deterministic hash rank (sampleBy's Bernoulli rates only hit counts in expectation) — stable across runs/engines/partitionings and under corpus growth; one window pass partitioned by the stratum (operators/sampling.py stratified_exact_sample)",
)
def documents_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratified_exact_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_exact_sample(
        docs.select("doc_id", "source"), "source", n_per_stratum=5, key="doc_id"
    ).select("doc_id", "source")


@query(
    "corpus_token_drift",
    # The chi-square uses ONLY correctly-rounded IEEE ops (+ - * /) in the
    # same evaluation order as the Spark expression, so the statistic is
    # bit-identical cross-engine with no ln-quantization dance; both sides
    # round to 6 and ORDER BY the rounded value with a token tie-break.
    oracle="""
        WITH doc_toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+') AS toks
            FROM documents
        ),
        tok AS (
            SELECT doc_id, UNNEST(toks) AS token FROM doc_toks
        ),
        b AS (SELECT token, COUNT(*) AS n_base FROM tok WHERE token <> '' AND doc_id % 2 = 0 GROUP BY token),
        c AS (SELECT token, COUNT(*) AS n_current FROM tok WHERE token <> '' AND doc_id % 2 = 1 GROUP BY token),
        j AS (
            SELECT COALESCE(b.token, c.token) AS token,
                   CAST(COALESCE(n_base, 0) AS BIGINT) AS n_base,
                   CAST(COALESCE(n_current, 0) AS BIGINT) AS n_current
            FROM b FULL OUTER JOIN c ON b.token = c.token
            WHERE COALESCE(n_base, 0) + COALESCE(n_current, 0) >= 10
        ),
        t AS (SELECT CAST(SUM(n_base) AS DOUBLE) AS nb, CAST(SUM(n_current) AS DOUBLE) AS nc FROM j)
        SELECT token, n_base, n_current,
               ROUND(
                 (CAST(n_base AS DOUBLE) - (CAST(n_base AS DOUBLE) + CAST(n_current AS DOUBLE)) * nb / (nb + nc))
                 * (CAST(n_base AS DOUBLE) - (CAST(n_base AS DOUBLE) + CAST(n_current AS DOUBLE)) * nb / (nb + nc))
                 / ((CAST(n_base AS DOUBLE) + CAST(n_current AS DOUBLE)) * nb / (nb + nc))
                 +
                 (CAST(n_current AS DOUBLE) - (CAST(n_base AS DOUBLE) + CAST(n_current AS DOUBLE)) * nc / (nb + nc))
                 * (CAST(n_current AS DOUBLE) - (CAST(n_base AS DOUBLE) + CAST(n_current AS DOUBLE)) * nc / (nb + nc))
                 / ((CAST(n_base AS DOUBLE) + CAST(n_current AS DOUBLE)) * nc / (nb + nc))
               , 6) AS chi2
        FROM j, t
        ORDER BY chi2 DESC, token ASC LIMIT 20
    """,
    description="Corpus drift monitor: top-20 drifted tokens between the even-id (baseline) and odd-id (current) snapshots by per-token chi-square — ln-free arithmetic keeps the statistic bit-identical cross-engine; full-outer token join flags appearing/disappearing vocabulary (operators/drift.py)",
)
def corpus_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.drift import token_drift_chi2

    docs = _docs(spark, sf_dir)
    return token_drift_chi2(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        k=20,
        min_total=10,
    )


@query(
    "events_type_run_lengths",
    # Pure gaps-and-islands integers: the lag change flag, the running-sum
    # run ordinal, and the run stats are exact on both engines; the
    # ordering (ts, event_id) is a total order within a key.
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts, event_type,
                   CASE WHEN LAG(event_type) OVER w IS NOT DISTINCT FROM event_type
                        THEN 0 ELSE 1 END AS chg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        runs AS (
            SELECT user_id, event_id, event_type,
                   CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
            FROM flagged
        )
        SELECT user_id, run_id,
               MIN(event_type) AS event_type,
               COUNT(*) AS run_len,
               MIN(event_id) AS first_event_id
        FROM runs
        GROUP BY user_id, run_id
    """,
    description="Run-length encoding of per-user event-type sequences (gaps-and-islands): one row per maximal same-type run with its length and first event — ONE shuffle on the sequence key; the closing (user,run) aggregate reuses the window's hash partitioning so Catalyst plans it exchange-free (operators/sequence.py run_length_encode)",
)
def events_type_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import run_length_encode

    return run_length_encode(load_table(spark, sf_dir, "events"))


def _ewma_oracle() -> str:
    from ..operators.anomaly import EWMA_WINDOW, ewma_expr_sql

    lags = ",\n                   ".join(
        f"LAG(_x0, {j}) OVER w AS _x{j}" for j in range(1, EWMA_WINDOW)
    )
    return f"""
        WITH base AS (
            SELECT event_type, event_id, ts,
                   CAST(ROUND(value * 10000) AS BIGINT) AS _x0
            FROM events
        ),
        lagged AS (
            SELECT event_type, event_id, _x0,
                   {lags},
                   ROW_NUMBER() OVER w AS _rn
            FROM base
            WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
        )
        SELECT event_type, event_id, _x0 AS ve4,
               {ewma_expr_sql("//")} AS ewma_e4
        FROM lagged WHERE _rn >= {EWMA_WINDOW}
    """


@query(
    "events_value_ewma",
    # The weighted sum and round-half-up division are pure BIGINT on both
    # engines (weights (3/4)^j scaled by 4^15 to exact integers; numerator
    # offset-shifted positive so Spark's truncating `div` and DuckDB's
    # flooring `//` agree); the expression tree is generated by ONE
    # builder (operators/anomaly.py ewma_expr_sql) differing only in the
    # division token.
    oracle=_ewma_oracle(),
    description="Trailing EWMA smoother (decay 3/4, 16-row truncated window): exact-integer exponential weights over per-row integerized values — ONE window pass per series key, 15 lags + the weighted sum in the same stage; partial windows filtered (operators/anomaly.py ewma_smooth)",
)
def events_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.anomaly import ewma_smooth

    return ewma_smooth(load_table(spark, sf_dir, "events"))


@query(
    "corpus_shard_manifest",
    # The manifest is derived from the READ-BACK of the partitioned
    # write, so this value-checks the sink path end-to-end: per-shard doc
    # counts, token totals and id ranges must survive the round trip, and
    # the shard-clustered repartition must yield exactly ONE file per
    # shard (each shard lives wholly in one task).
    oracle=f"""
        SELECT shard,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               MIN(doc_id) AS min_doc_id,
               MAX(doc_id) AS max_doc_id,
               1 AS one_file
        FROM ({{shards}}) GROUP BY shard
    """.format(shards=_training_shards_oracle()),
    description="Training-export manifest: the packed shards are WRITTEN to a shard-partitioned parquet sink (repartitioned by shard -> exactly one file per shard, asserted) and the manifest (docs/tokens/id-range per shard) is derived from the read-back — the artifact a training job consumes, value-checking the sink round trip",
)
def corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..operators.packing import pack_token_shards

    with tempfile.TemporaryDirectory(prefix="shard_export_", ignore_cleanup_errors=True) as out:
        curated = corpus_curation_pipeline(spark, sf_dir)
        packed = pack_token_shards(curated, "n_tokens", shard_tokens=2000).select(
            "doc_id", "n_tokens", "quality", "shard"
        )
        # Cluster each shard into one task before the partitioned write:
        # every shard then materializes as exactly one file under its
        # partition directory — the layout a sequential trainer reads.
        packed.repartition("shard").write.mode("overwrite").partitionBy("shard").parquet(out)
        back = spark.read.parquet(out).withColumn("_file", F.input_file_name())
        manifest = (
            back.groupBy("shard")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("total_tokens"),
                F.min("doc_id").alias("min_doc_id"),
                F.max("doc_id").alias("max_doc_id"),
                (F.count_distinct("_file") == 1).cast("int").alias("one_file"),
            )
        )
        return manifest.localCheckpoint()


@query(
    "events_rollup_backfill",
    # Full-recompute equality oracle: the stitched (untouched ∪ restated)
    # rollup must be row-identical to a one-shot GROUP BY over ALL events
    # — proving the affected-bucket restatement semantics. The on-time /
    # late split is a pure function of event_id (deterministic on both
    # engines, though only Spark needs it: the oracle aggregates the
    # union, which IS all events).
    oracle="""
        SELECT CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS bucket,
               event_type,
               COUNT(*) AS n,
               COUNT(DISTINCT user_id) AS distinct_users
        FROM events
        GROUP BY bucket, event_type
    """,
    description="Late-data restatement of a NON-mergeable rollup (count-distinct per bucket — sums fold incrementally, distincts cannot): affected (bucket, type) keys from the late batch broadcast-semi-join the history BEFORE the aggregate, so recompute cost tracks the touched buckets' raw rows (partition-pruned at scale), and untouched standing rows pass through an anti join; result row-identical to a full recompute (operators/rollup.py rollup_backfill)",
)
def events_rollup_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rollup import rollup_backfill

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "user_id"
    )
    # Deterministic ~10% "late" slice: arrival order is a pure function
    # of the unique event_id on both engines.
    late = ev.filter(F.col("event_id") % 10 == 7)
    on_time = ev.filter(F.col("event_id") % 10 != 7)
    return rollup_backfill(on_time, late)


@query(
    "events_rollup_user_erasure",
    # Oracle = full recompute over events WITHOUT the erased users (the
    # deterministic %13 slice). Buckets whose every row belonged to an
    # erased user must disappear — the left-anti + restated union gets
    # that for free because the recompute simply emits nothing for them.
    oracle="""
        SELECT CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS bucket,
               event_type,
               COUNT(*) AS n,
               COUNT(DISTINCT user_id) AS distinct_users
        FROM events
        WHERE user_id % 13 <> 3
        GROUP BY bucket, event_type
    """,
    description="Right-to-be-forgotten propagation into a non-mergeable rollup (operators/rollup.py rollup_user_erasure): the erased users' (bucket, type) footprint drives a targeted recompute — erased rows anti-joined out, only touched buckets re-aggregated (partition-prunable at scale), untouched standing rows pass through; result row-identical to a full recompute without those users",
)
def events_rollup_user_erasure(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.rollup import rollup_user_erasure

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "user_id"
    )
    erase = ev.select("user_id").distinct().filter(F.col("user_id") % 13 == 3)
    return rollup_user_erasure(ev, erase)


@query(
    "events_pit_state_lookback",
    # Point-in-time correctness, feature-engineering form: each event
    # joins the SCD2 version that was valid ONE HOUR BEFORE it — the
    # no-label-leakage rule ("features as of prediction time") made a
    # join. Intervals are [valid_from, valid_to); zero-width versions
    # (two changes at one timestamp) are valid at no instant and are
    # excluded on both engines; the survivors still tile, so the
    # backward as-of pick on valid_from IS the containing interval —
    # LINEAR, never an interval range join.
    oracle="""
        WITH ordered AS (
            SELECT user_id, event_type AS state, ts, event_id,
                   LAG(event_type) OVER w AS prev,
                   ROW_NUMBER() OVER w AS rn
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        runs AS (
            SELECT user_id, state, ts AS valid_from, event_id
            FROM ordered
            WHERE rn = 1 OR state IS DISTINCT FROM prev
        ),
        hist AS (
            SELECT user_id, state, valid_from,
                   LEAD(valid_from) OVER w2 AS valid_to
            FROM runs
            WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
        ),
        live AS (
            SELECT * FROM hist WHERE valid_to IS NULL OR valid_to > valid_from
        )
        SELECT e.event_id, e.user_id, e.ts,
               h.state AS state_1h_before
        FROM events e JOIN live h
          ON h.user_id = e.user_id
         AND h.valid_from <= e.ts - INTERVAL 1 HOUR
         AND (h.valid_to IS NULL OR e.ts - INTERVAL 1 HOUR < h.valid_to)
    """,
    description="Point-in-time (temporal) join against the SCD2 dimension, lookback form: each event attaches the state version valid one hour BEFORE it (features-as-of-prediction-time, no label leakage) — the tiling-interval backward as-of on valid_from, linear, never an interval range join (operators/asof.py + merge.scd2_history); events in a user's first hour have no valid version and drop (inner PIT)",
)
def events_pit_state_lookback(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_backward
    from ..operators.merge import scd2_history

    ev = load_events(spark, sf_dir)
    hist = scd2_history(ev, key="user_id", state_col="event_type", ts_col="ts", tie_col="event_id")
    live = hist.filter(F.col("valid_to").isNull() | (F.col("valid_to") > F.col("valid_from")))
    facts = ev.select(
        "event_id", "user_id", "ts", (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("_lb_ts")
    )
    # asof_join_backward carries the right row as one struct internally, so
    # NULLable carried fields can't splice across versions; carrying
    # valid_from alongside state gives a NULL-proof "no version yet" marker
    # (valid_from is non-null on every real version). Tiling makes the
    # latest-start version the containing one — no valid_to check needed.
    joined = asof_join_backward(
        facts,
        live.select("user_id", "valid_from", "state"),
        left_key="user_id",
        right_key="user_id",
        left_ts="_lb_ts",
        right_ts="valid_from",
        right_vals=["state", "valid_from"],
    )
    return (
        joined.filter(F.col("valid_from").isNotNull())
        .select("event_id", "user_id", "ts", F.col("state").alias("state_1h_before"))
    )


def _acf_oracle() -> str:
    from ..operators.sequence import ACF_PPM_SQL

    return """
        WITH base AS (
            SELECT event_type, user_id, ts, event_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS _x
            FROM events
        ),
        lagged AS (
            SELECT event_type, _x,
                   LAG(_x, 1) OVER w AS _y1,
                   LAG(_x, 2) OVER w AS _y2,
                   LAG(_x, 3) OVER w AS _y3
            FROM base
            WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ts, event_id)
        ),
        stacked AS (
            SELECT event_type, 1 AS lag, _x, _y1 AS _y FROM lagged
            UNION ALL SELECT event_type, 2, _x, _y2 FROM lagged
            UNION ALL SELECT event_type, 3, _x, _y3 FROM lagged
        ),
        stats AS (
            SELECT event_type, lag,
                   COUNT(*) AS n_pairs,
                   CAST(SUM(_x) AS BIGINT) AS sx,
                   CAST(SUM(_y) AS BIGINT) AS sy,
                   CAST(SUM(_x * _y) AS BIGINT) AS sxy,
                   CAST(SUM(_x * _x) AS BIGINT) AS sxx,
                   CAST(SUM(_y * _y) AS BIGINT) AS syy
            FROM stacked WHERE _x IS NOT NULL AND _y IS NOT NULL
            GROUP BY event_type, lag
        )
        SELECT event_type, CAST(lag AS INT) AS lag,
               CAST(n_pairs AS BIGINT) AS n_pairs,
               {acf} AS acf_ppm
        FROM stats
    """.format(acf=ACF_PPM_SQL)


@query(
    "events_value_acf",
    # Exact-integer sufficient statistics (cents-integerized values, BIGINT
    # sums — order-independent), then ONE shared double formula
    # (operators/sequence.py ACF_PPM_SQL: *, -, /, sqrt are all IEEE
    # correctly rounded, so the identical expression tree produces
    # bit-identical doubles on both engines before the single ROUND site).
    oracle=_acf_oracle(),
    description="Pooled autocorrelation (lags 1-3) of the value series within each user's own event sequence, one Pearson coefficient per (event_type, lag) in integer ppm: ONE window shuffle partitioned by (type, user) — parallelism tracks series count, no global per-type timeline — then one hash aggregate over exact BIGINT sufficient statistics",
)
def events_value_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import pooled_acf

    return pooled_acf(load_events(spark, sf_dir))


@query(
    "events_interval_overlap",
    # Both interval sets derive from exact FLOOR'd epoch seconds, so every
    # boundary, overlap bound, and length is an exact BIGINT — raw pairs
    # value-check the operator's emit-exactly-once guarantee directly (a
    # double emission or a missed bucket is a row-count mismatch).
    oracle="""
        WITH base AS (
            SELECT user_id, event_type,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
            FROM events
        ),
        days AS (
            SELECT user_id,
                   CAST(FLOOR(t / 86400) AS BIGINT) AS day,
                   MIN(t) AS ls, MAX(t) AS le
            FROM base GROUP BY user_id, CAST(FLOOR(t / 86400) AS BIGINT)
        ),
        spans AS (
            SELECT user_id, event_type, MIN(t) AS rs, MAX(t) AS re
            FROM base GROUP BY user_id, event_type
        )
        SELECT d.user_id, d.day, s.event_type,
               GREATEST(d.ls, s.rs) AS overlap_start,
               LEAST(d.le, s.re) AS overlap_end,
               LEAST(d.le, s.re) - GREATEST(d.ls, s.rs) AS overlap_len
        FROM days d
        JOIN spans s
          ON d.user_id = s.user_id AND d.ls <= s.re AND s.rs <= d.le
    """,
    description="Interval-interval OVERLAP join (two-sided sibling of the bucketed range join): per-(user, day) activity spans x per-(user, event_type) lifetime spans, equi join on (key, value-bucket) with each overlapping pair emitted exactly once via the greatest-start bucket rule — no per-key quadratic fan-out, no dedup shuffle",
)
def events_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import interval_overlap_join

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", F.unix_timestamp("ts").cast("long").alias("t")
    )
    days = ev.groupBy(
        "user_id", F.floor(F.col("t") / 86400).cast("long").alias("day")
    ).agg(F.min("t").alias("ls"), F.max("t").alias("le"))
    spans = ev.groupBy("user_id", "event_type").agg(
        F.min("t").alias("rs"), F.max("t").alias("re")
    )
    pairs = interval_overlap_join(
        days, spans,
        left_key="user_id", right_key="user_id",
        left_start="ls", left_end="le",
        right_start="rs", right_end="re",
        bucket_size=21600,
    )
    return pairs.select(
        "user_id", "day", "event_type", "overlap_start", "overlap_end", "overlap_len"
    )


@query(
    "events_time_weighted_avg",
    # Pure-BIGINT arithmetic end to end: cents-integerized values x exact
    # epoch-second gaps, one round-half-up FLOOR division per group.
    # BOTH DuckDB's // and Spark's DIV truncate toward zero (verified
    # r10: SELECT -7 // 2 -> -3), so BOTH sides carry the explicit
    # negative-remainder floor correction — the two engines agree with
    # each other AND with floor(x + 1/2) for negative series too.
    # LAG/LEAD over the same unique (ts, event_id) order on both engines.
    oracle="""
        WITH seg AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS _v,
                   LEAD(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER w
                       - CAST(FLOOR(epoch(ts)) AS BIGINT) AS _gap
            FROM events
            WINDOW w AS (PARTITION BY event_type, user_id ORDER BY ts, event_id)
        )
        SELECT event_type,
               COUNT(*) AS n_segments,
               CAST(SUM(_gap) AS BIGINT) AS total_span_sec,
               CASE WHEN SUM(_gap) > 0 THEN
                   CAST((SUM(_v * _gap) * 200 + SUM(_gap)) // (2 * SUM(_gap))
                        - CASE WHEN (SUM(_v * _gap) * 200 + SUM(_gap)) % (2 * SUM(_gap)) <> 0
                                AND (SUM(_v * _gap) * 200 + SUM(_gap)) < 0
                               THEN 1 ELSE 0 END
                   AS BIGINT)
               ELSE NULL END AS twa_e4
        FROM seg WHERE _gap IS NOT NULL
        GROUP BY event_type
    """,
    description="Time-weighted average (the TSDB time_weight aggregate, LOCF form): each value holds until the user's next observation, weight = gap seconds, TWA = sum(value x gap)/sum(gap) per type in exact 1e-4 units — the correct mean for unevenly-sampled series where plain AVG over-weights bursts; ONE (type,user)-partitioned window pass + one hash aggregate",
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import time_weighted_avg

    return time_weighted_avg(load_events(spark, sf_dir))


def _trend_oracle() -> str:
    from ..operators.sequence import CORR_PPM_SQL, SLOPE_PPM_SQL

    return """
        WITH base AS (
            SELECT event_type,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS _t,
                   CAST(ROUND(value * 100) AS BIGINT) AS _y
            FROM events
            WHERE ts IS NOT NULL AND value IS NOT NULL
        ),
        t0 AS (
            SELECT event_type, MIN(_t) AS _t0 FROM base GROUP BY event_type
        ),
        xy AS (
            SELECT b.event_type, (b._t - t._t0) // 60 AS _x, b._y
            FROM base b JOIN t0 t USING (event_type)
        ),
        stats AS (
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(_x) AS BIGINT) AS sx,
                   CAST(SUM(_y) AS BIGINT) AS sy,
                   CAST(SUM(_x * _y) AS BIGINT) AS sxy,
                   CAST(SUM(_x * _x) AS BIGINT) AS sxx,
                   CAST(SUM(_y * _y) AS BIGINT) AS syy
            FROM xy GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               {slope} AS slope_ppm, {corr} AS corr_ppm
        FROM stats
    """.format(slope=SLOPE_PPM_SQL, corr=CORR_PPM_SQL)


@query(
    "events_value_trend",
    # Exact BIGINT sufficient statistics (per-group-centered minutes x
    # cents; centering keeps sum(x^2) far under 2^63 under ANSI), then
    # the shared SLOPE_PPM_SQL / CORR_PPM_SQL double trees — identical
    # IEEE expression graphs on both engines before the single ROUND.
    oracle=_trend_oracle(),
    description="Per-group OLS time trend over exact integer sufficient statistics (drift detection): slope of value-cents per minute and the Pearson time-value correlation, both in integer ppm — one tiny per-group MIN broadcast back + ONE corpus hash aggregate with map-side partials; no window, no per-group timeline sort (operators/sequence.grouped_trend)",
)
def events_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import grouped_trend

    return grouped_trend(load_events(spark, sf_dir))


@query(
    "events_interval_coverage",
    # Exact BIGINT epoch-second bounds end to end; the oracle replays the
    # same gaps-and-islands construction (strictly-preceding running MAX
    # opens islands, running SUM numbers them) — island flags are
    # order-independent under duplicate (start, end) ties, so segment ids
    # and bounds hash identically cross-engine.
    oracle="""
        WITH base AS (
            SELECT user_id, event_type,
                   CAST(FLOOR(epoch(ts)) AS BIGINT) AS t
            FROM events
        ),
        iv AS (
            SELECT user_id, MIN(t) AS s, MAX(t) AS e
            FROM base
            GROUP BY user_id, event_type, CAST(FLOOR(t / 86400) AS BIGINT)
        ),
        flagged AS (
            SELECT user_id, s, e,
                   CASE WHEN s <= MAX(e) OVER (
                            PARTITION BY user_id ORDER BY s, e
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        THEN 0 ELSE 1 END AS _new
            FROM iv
        ),
        islands AS (
            SELECT user_id, s, e,
                   SUM(_new) OVER (
                       PARTITION BY user_id ORDER BY s, e
                       ROWS UNBOUNDED PRECEDING) AS segment_id
            FROM flagged
        )
        SELECT user_id, CAST(segment_id AS BIGINT) AS segment_id,
               MIN(s) AS seg_start, MAX(e) AS seg_end,
               MAX(e) - MIN(s) AS seg_len,
               CAST(COUNT(*) AS BIGINT) AS n_merged
        FROM islands GROUP BY user_id, segment_id
    """,
    description="Interval coalescing/coverage (the union member of the range-join family): per-(user, event_type, day) activity spans merged into maximal per-user covered segments via gaps-and-islands over ONE (user)-partitioned window — running max of prior ends flags island openers, the closing (user, island) aggregate reuses the window's partitioning (one exchange, linear, never per-key quadratic); per-user covered seconds = SUM(seg_len)",
)
def events_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import interval_coalesce

    ev = load_events(spark, sf_dir).select(
        "user_id", "event_type", F.unix_timestamp("ts").cast("long").alias("t")
    )
    spans = ev.groupBy(
        "user_id", "event_type", F.floor(F.col("t") / 86400).cast("long").alias("_d")
    ).agg(F.min("t").alias("s"), F.max("t").alias("e"))
    return interval_coalesce(
        spans.select("user_id", "s", "e"), "user_id", "s", "e"
    )


from ..operators.sequence import interp_e2_sql as _interp_e2_sql  # noqa: E402


@query(
    "events_resample_10min_interp",
    # LINEAR-interpolation resampling — the gapfill sibling for
    # continuous signals (sensor levels, prices), where LOCF/zero-fill
    # biases downstream models: each empty 10-min bucket takes the
    # straight-line value between its nearest observed neighbors. The
    # per-bucket observed value is the bucket's LAST observation
    # (row_number over (ts, event_id) DESC — deterministic on both
    # engines); interpolation is exact BIGINT cents with sign-safe
    # round-half-up (the TWA recipe). Spine edges are always observed
    # (per-type min/max buckets), so every gap has both neighbors.
    oracle="""
        WITH base AS (
            SELECT event_type,
                   CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS bucket,
                   CAST(ROUND(value * 100) AS BIGINT) AS _v,
                   ts, event_id
            FROM events
        ),
        obs AS (
            SELECT event_type, bucket, _v AS v FROM (
                SELECT event_type, bucket, _v,
                       ROW_NUMBER() OVER (PARTITION BY event_type, bucket
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM base)
            WHERE rn = 1
        ),
        bounds AS (
            SELECT event_type, MIN(bucket) AS b0, MAX(bucket) AS b1
            FROM base GROUP BY 1
        ),
        spine AS (
            SELECT event_type, CAST(t.b AS BIGINT) AS bucket
            FROM bounds, UNNEST(generate_series(b0, b1)) t(b)
        ),
        j AS (
            SELECT s.event_type, s.bucket, o.v
            FROM spine s LEFT JOIN obs o USING (event_type, bucket)
        ),
        carried AS (
            SELECT event_type, bucket, v,
                   last_value(v IGNORE NULLS) OVER wb AS po_v,
                   last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
                       OVER wb AS po_b,
                   first_value(v IGNORE NULLS) OVER wf AS no_v,
                   first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS)
                       OVER wf AS no_b
            FROM j
            WINDOW wb AS (PARTITION BY event_type ORDER BY bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   wf AS (PARTITION BY event_type ORDER BY bucket
                          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        )
        SELECT event_type, bucket,
               CASE WHEN v IS NOT NULL THEN v ELSE {interp} END AS value_e2,
               v IS NULL AS interpolated
        FROM carried
    """.format(interp=_interp_e2_sql("//")),
    description="Linear-interpolation resampling (the continuous-signal sibling of LOCF gapfill): per-type 10-min spine, per-bucket last observation as the anchor, empty buckets take the exact straight-line BIGINT-cents value between nearest observed neighbors (sign-safe round-half-up, the TWA division recipe) — two window carries over ONE type-partitioned sort, never a per-gap search",
)
def events_resample_10min_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import resample_linear_interp

    return resample_linear_interp(load_events(spark, sf_dir))


# Shared verbatim by the Spark plan and the oracle: Benford's expected
# first-digit share in ppm — log10(1 + 1/d) over the 9 digit literals.
# One identical double expression tree (the bm25 ln() recipe); none of
# the nine results lands near a .5 ulp boundary, so FLOOR(x + 0.5) is
# stable across libm implementations.
BENFORD_EXPECTED_PPM_SQL = (
    "CAST(FLOOR(LOG10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1000000.0 + 0.5)"
    " AS BIGINT)"
)


@query(
    "events_value_benford",
    # Benford's-law audit of the value column (the standard
    # fabricated-data / instrumentation-bug screen: organic multiplicative
    # quantities follow log10(1+1/d); counters, caps, and synthetic fills
    # don't). First significant digit via BIGINT->string — digit-exact on
    # both engines, no float log in the extraction path; observed share
    # in exact round-half-up ppm; expected share from the one shared
    # double tree above.
    oracle="""
        WITH d AS (
            SELECT CAST(SUBSTR(CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR), 1, 1)
                        AS BIGINT) AS digit
            FROM events
            WHERE CAST(ROUND(value * 100) AS BIGINT) > 0
        ),
        c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
        t AS (SELECT SUM(n) AS tot FROM c)
        SELECT digit, n,
               CAST((n * 2000000 + tot) // (2 * tot) AS BIGINT) AS share_ppm,
               {expected} AS expected_ppm
        FROM c, t
    """.format(expected=BENFORD_EXPECTED_PPM_SQL),
    description="Benford's-law first-digit audit of event values (fabrication/instrumentation screen): digit via exact BIGINT->string extraction (no float log in the hot path), observed share in round-half-up ppm vs the log10(1+1/d) expectation — one 9-group hash aggregate with map-side partials plus a broadcast total",
)
def events_value_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    d = ev.select(cents.alias("_c")).filter(F.col("_c") > 0).select(
        F.substring(F.col("_c").cast("string"), 1, 1).cast("long").alias("digit")
    )
    c = d.groupBy("digit").agg(F.count("*").alias("n"))
    tot = c.agg(F.sum("n").alias("tot"))
    return c.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        F.expr("CAST((n * 2000000 + tot) DIV (2 * tot) AS BIGINT)").alias(
            "share_ppm"
        ),
        F.expr(BENFORD_EXPECTED_PPM_SQL).alias("expected_ppm"),
    )


@query(
    "documents_volume_median",
    # Volume-weighted median document length per source — "half this
    # source's CHARACTERS live in documents shorter than X" — the
    # token-budget statistic that drives shard sizing and truncation
    # policy (a plain median over-weights the long tail of tiny docs).
    # Classic running-weight cut: ascending (n_chars, doc_id) order, the
    # median is the first row whose doubled cumulative weight reaches the
    # source total; both engines evaluate the identical integer
    # comparisons, no division anywhere.
    oracle="""
        WITH ranked AS (
            SELECT source, n_chars,
                   SUM(n_chars) OVER (PARTITION BY source ORDER BY n_chars, doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
                   SUM(n_chars) OVER (PARTITION BY source) AS tot,
                   COUNT(*) OVER (PARTITION BY source) AS n_docs
            FROM documents WHERE n_chars > 0
        )
        SELECT source,
               CAST(MAX(n_docs) AS BIGINT) AS n_docs,
               CAST(MAX(tot) AS BIGINT) AS total_chars,
               CAST(MIN(n_chars) AS BIGINT) AS wmedian_chars
        FROM ranked
        WHERE 2 * cumw >= tot
        GROUP BY source
    """,
    description="Volume-weighted median document length per source (the shard-budget cut: half the corpus VOLUME lies below it): r12-migrated onto the frequency-table decomposition (operators/quantiles.py) — one map-side-combined hash aggregate to per-(source, n_chars) weight totals, then the weighted-median cut is a rank lookup over the tiny table with the character VOLUME as the count column (2*cumw >= tot == cumw >= (tot+1) DIV 2, pure integers; the old corpus-sized low-cardinality running-sum window was a per-source single-task sort at 100 TB); the oracle keeps the running-weight window formulation as the independent derivation",
)
def documents_volume_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import freq_table_rank_stats_from_counts

    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    # Per-(source, n_chars) totals: `w` is the VOLUME carried by that
    # length (the weighted-median's "count"), `nd` the document count.
    counts = (
        docs.groupBy("source", "n_chars")
        .agg(
            F.sum("n_chars").alias("w"),
            F.count("*").alias("nd"),
        )
        .localCheckpoint(eager=False)  # cut lookup + per-source totals
    )
    # Weighted median = smallest length whose cumulative volume reaches
    # ceil(tot/2); the doc_id tiebreak in the window form only reorders
    # rows WITHIN one length, which all agree on the value.
    cut = freq_table_rank_stats_from_counts(
        counts,
        "source",
        "n_chars",
        "w",
        {"wmedian_chars": "(n + 1) DIV 2"},
    )
    per_source = counts.groupBy("source").agg(
        F.sum("nd").cast("long").alias("n_docs")
    )
    return cut.join(per_source, "source").select(
        "source",
        "n_docs",
        F.col("n").alias("total_chars"),
        F.col("wmedian_chars").cast("long").alias("wmedian_chars"),
    )


from ..operators.sequence import CORR_PPM_SQL as _SEQ_CORR_PPM_SQL  # noqa: E402


@query(
    "events_type_comovement",
    # Cross-signal co-movement: Pearson correlation between every PAIR of
    # event types' per-10-min activity counts over the DENSE common
    # spine (zero-filled — correlation over only-shared-active buckets
    # would bias toward +1). The answer rides the repo's exact-BIGINT
    # sufficient-statistics recipe: counts are integers, the five sums
    # are order-independent BIGINT aggregates, and the only float math is
    # the shared CORR_PPM_SQL tree (same as pooled ACF / OLS trend) —
    # bit-identical cross-engine.
    oracle="""
        WITH base AS (
            SELECT event_type, CAST(FLOOR(epoch(ts) / 600) AS BIGINT) AS bucket
            FROM events
        ),
        bounds AS (SELECT MIN(bucket) AS b0, MAX(bucket) AS b1 FROM base),
        spine AS (
            SELECT CAST(t.b AS BIGINT) AS bucket
            FROM bounds, UNNEST(generate_series(b0, b1)) t(b)
        ),
        types AS (SELECT DISTINCT event_type FROM base),
        counts AS (
            SELECT event_type, bucket, COUNT(*) AS c FROM base GROUP BY 1, 2
        ),
        dense AS (
            SELECT ty.event_type, s.bucket,
                   CAST(COALESCE(c.c, 0) AS BIGINT) AS c
            FROM types ty CROSS JOIN spine s
            LEFT JOIN counts c
              ON c.event_type = ty.event_type AND c.bucket = s.bucket
        ),
        stats AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   COUNT(*) AS n,
                   CAST(SUM(a.c) AS BIGINT) AS sx,
                   CAST(SUM(b.c) AS BIGINT) AS sy,
                   CAST(SUM(a.c * b.c) AS BIGINT) AS sxy,
                   CAST(SUM(a.c * a.c) AS BIGINT) AS sxx,
                   CAST(SUM(b.c * b.c) AS BIGINT) AS syy
            FROM dense a JOIN dense b
              ON a.bucket = b.bucket AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT type_a, type_b, n, {corr} AS corr_ppm FROM stats
    """.format(corr=_SEQ_CORR_PPM_SQL),
    description="Pairwise event-type co-movement (Pearson corr of dense zero-filled 10-min activity counts, the 'which signals move together' scan): spine x types densification, one bucket-keyed self-equi-join (per-bucket fan-out = |types|^2, never row-quadratic), exact BIGINT sufficient statistics finalized by the shared CORR_PPM_SQL double tree",
)
def events_type_comovement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import pairwise_comovement

    return pairwise_comovement(load_events(spark, sf_dir))


@query(
    "events_type_run_lengths_bucketed",
    # Same gaps-and-islands answer as events_type_run_lengths, computed
    # through the TIME-RANGE PRE-BUCKETED two-level carry-stitch — the
    # hot-key mitigation the r10 Zipf probe's window_rle case measures
    # (a 50%-mass key's single sort task degrades ~10x at 64x; bucketing
    # splits it across per-(key, day) tasks and the stitch is a second
    # RLE over LOCAL RUNS, whose per-key row count is the key's run
    # count, not its row count). The oracle is the plain single-window
    # gaps-and-islands — the bucket size is invisible in the answer.
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts, event_type,
                   CASE WHEN LAG(event_type) OVER w IS NOT DISTINCT FROM event_type
                        THEN 0 ELSE 1 END AS chg
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        runs AS (
            SELECT user_id, event_id, event_type,
                   CAST(SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
            FROM flagged
        )
        SELECT user_id, run_id,
               MIN(event_type) AS event_type,
               COUNT(*) AS run_len,
               MIN(event_id) AS first_event_id
        FROM runs
        GROUP BY user_id, run_id
    """,
    description="Skew-resistant run-length encoding (time-range pre-bucketing + carry-stitch, operators/sequence.run_length_encode_bucketed): local RLE within (user, day) splits a hot key's sort across its buckets; consecutive in-bucket runs never share a type, so the boundary stitch is a second RLE over local RUNS (per-key cost = run count, not row count) — value-identical to the plain single-window form",
)
def events_type_run_lengths_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import run_length_encode_bucketed

    return run_length_encode_bucketed(
        load_table(spark, sf_dir, "events"), bucket_size=86400
    )


@query(
    "events_value_winsorized_stats",
    # Winsorized statistics — the data-cleaning twin of the MAD outlier
    # query: clip each type's values at its exact rank-based P1/P99 and
    # report the clipped aggregate (robust means for training-feature
    # normalization). Everything is integer arithmetic: bounds are the
    # cents values at ranks ceil(0.01·n)/ceil(0.99·n) under a total
    # (cents, event_id) order — no interpolated percentile, no float
    # boundary to disagree on — and the clipped mean uses the sign-safe
    # round-half-up BIGINT division both engines carry verbatim.
    oracle="""
        WITH base AS (
            SELECT event_type,
                   CAST(ROUND(value * 100) AS BIGINT) AS c,
                   event_id
            FROM events
        ),
        ranked AS (
            SELECT event_type, c,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY c, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM base
        ),
        bounds AS (
            SELECT event_type,
                   MIN(CASE WHEN rn = (n + 99) // 100 THEN c END) AS lo_e2,
                   MIN(CASE WHEN rn = (n * 99 + 99) // 100 THEN c END) AS hi_e2,
                   MAX(n) AS n
            FROM ranked GROUP BY event_type
        )
        SELECT b.event_type,
               CAST(bo.n AS BIGINT) AS n,
               bo.lo_e2, bo.hi_e2,
               CAST(SUM(CASE WHEN b.c < bo.lo_e2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
               CAST(SUM(CASE WHEN b.c > bo.hi_e2 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
               CAST(SUM(LEAST(GREATEST(b.c, bo.lo_e2), bo.hi_e2)) AS BIGINT) AS wins_sum_e2,
               CAST((SUM(LEAST(GREATEST(b.c, bo.lo_e2), bo.hi_e2)) * 2 + bo.n)
                        // (2 * bo.n)
                    - CASE WHEN (SUM(LEAST(GREATEST(b.c, bo.lo_e2), bo.hi_e2)) * 2 + bo.n)
                                % (2 * bo.n) <> 0
                            AND (SUM(LEAST(GREATEST(b.c, bo.lo_e2), bo.hi_e2)) * 2 + bo.n) < 0
                           THEN 1 ELSE 0 END
               AS BIGINT) AS wins_mean_e2
        FROM base b JOIN bounds bo ON b.event_type = bo.event_type
        GROUP BY b.event_type, bo.n, bo.lo_e2, bo.hi_e2
    """,
    description="Winsorized per-type statistics (rank-exact P1/P99 clipping, the robust-mean pass for feature normalization): r12-migrated onto the frequency-table decomposition (operators/quantiles.py) — ONE map-side-combined hash aggregate to per-(type, cents) counts is the only corpus-sized operator; bounds are rank lookups and the clipped sums are count-weighted aggregates over the SAME tiny count table (the old form re-scanned the corpus for the clipped pass and ran a corpus-sized low-cardinality rank window — a per-type single-task sort at 100 TB); sign-safe round-half-up mean, pure BIGINT end to end; the oracle keeps the ROW_NUMBER formulation as the independent derivation",
)
def events_value_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import freq_table_rank_stats_from_counts

    ev = load_events(spark, sf_dir)
    counts = (
        ev.select(
            "event_type", F.round(F.col("value") * 100).cast("long").alias("cts")
        )
        .groupBy("event_type", "cts")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=False)  # bounds + clipped pass, both tiny
    )
    bounds = freq_table_rank_stats_from_counts(
        counts,
        "event_type",
        "cts",
        "cnt",
        {"lo_e2": "(n + 99) DIV 100", "hi_e2": "(n * 99 + 99) DIV 100"},
    )
    clipped = F.least(F.greatest(F.col("cts"), F.col("lo_e2")), F.col("hi_e2"))
    agg = counts.join(F.broadcast(bounds), "event_type").groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("lo_e2").alias("lo_e2"),
        F.max("hi_e2").alias("hi_e2"),
        F.sum(F.when(F.col("cts") < F.col("lo_e2"), F.col("cnt")).otherwise(F.lit(0))).alias("n_clipped_lo"),
        F.sum(F.when(F.col("cts") > F.col("hi_e2"), F.col("cnt")).otherwise(F.lit(0))).alias("n_clipped_hi"),
        F.sum(clipped * F.col("cnt")).alias("wins_sum_e2"),
    )
    return agg.select(
        "event_type", "n", "lo_e2", "hi_e2", "n_clipped_lo", "n_clipped_hi",
        "wins_sum_e2",
        F.expr(
            "CAST((wins_sum_e2 * 2 + n) DIV (2 * n)"
            " - CASE WHEN (wins_sum_e2 * 2 + n) % (2 * n) != 0"
            "         AND (wins_sum_e2 * 2 + n) < 0 THEN 1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("wins_mean_e2"),
    )


@query(
    "events_conversion_time_profile",
    # "How fast do views convert, by hour of day" — the latency profile
    # of the label join: each view's gap to the user's next purchase
    # within 2h (the events_asof_next_purchase_2h semantics), summarized
    # per view-hour with RANK-EXACT median/p90 (the winsorize recipe —
    # values at ranks ceil(n/2)/ceil(9n/10) under a total (gap, id)
    # order; no interpolated percentile, no float boundary). DuckDB's
    # native ASOF is the independent join implementation.
    oracle="""
        -- The Spark side truncates both timestamps to whole epoch seconds
        -- (unix_timestamp) BEFORE the forward as-of; the oracle must join
        -- at the same granularity or a purchase earlier in the same second
        -- as a view would match on one engine only (the pattern
        -- events_asof_bucketed_latest_order's oracle already uses).
        WITH p AS (
            SELECT user_id, CAST(FLOOR(epoch(ts)) AS BIGINT) AS p_t
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, CAST(FLOOR(epoch(ts)) AS BIGINT)
        ),
        j AS (
            SELECT v.event_id,
                   v.view_hour,
                   p.p_t - v.t AS gap
            FROM (SELECT event_id, user_id,
                         CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
                         CAST(EXTRACT(hour FROM ts) AS INT) AS view_hour
                  FROM events WHERE event_type = 'view') v
            ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.t <= p.p_t
        ),
        m AS (
            SELECT view_hour, gap, event_id,
                   ROW_NUMBER() OVER (PARTITION BY view_hour
                                      ORDER BY gap, event_id) AS rn,
                   COUNT(*) OVER (PARTITION BY view_hour) AS n
            FROM j WHERE gap IS NOT NULL AND gap <= 7200
        )
        SELECT view_hour,
               CAST(MAX(n) AS BIGINT) AS n_conversions,
               MIN(CASE WHEN rn = (n + 1) // 2 THEN gap END) AS median_secs,
               MIN(CASE WHEN rn = (n * 9 + 9) // 10 THEN gap END) AS p90_secs
        FROM m GROUP BY view_hour
    """,
    description="Conversion-latency profile (view -> next purchase within 2h, per view hour-of-day): forward as-of for the gaps (union+window linear scan), then rank-exact median/p90 via the frequency-table decomposition (operators/quantiles.py, r12 migration — gap domain bounded at 7200 s, so the per-(hour, gap) count aggregate is the only post-join corpus-sized operator; the old 24-partition rank window was a single-task-per-hour sort at 100 TB) — pure integers end to end; the oracle keeps the ROW_NUMBER formulation as the independent derivation",
)
def events_conversion_time_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.asof import asof_join_forward
    from ..operators.quantiles import freq_table_rank_stats

    ev = load_events(spark, sf_dir)
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").cast("long").alias("t"),
        F.hour("ts").cast("int").alias("view_hour"),
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", F.unix_timestamp("ts").cast("long").alias("p_t"))
        .distinct()
    )
    joined = asof_join_forward(
        views, purchases,
        left_key="user_id", right_key="user_id",
        left_ts="t", right_ts="p_t",
        right_vals=["p_t"],
    )
    gaps = joined.select(
        "view_hour",
        (F.col("p_t") - F.col("t")).alias("gap"),
    ).filter(F.col("gap").isNotNull() & (F.col("gap") <= 7200))
    stats = freq_table_rank_stats(
        gaps,
        "view_hour",
        "gap",
        {"median_secs": "(n + 1) DIV 2", "p90_secs": "(n * 9 + 9) DIV 10"},
    )
    return stats.select(
        "view_hour",
        F.col("n").alias("n_conversions"),
        "median_secs",
        "p90_secs",
    )


@query(
    "events_user_entropy",
    # Behavioral-diversity ranking: Shannon entropy of each user's
    # event-type distribution, in ppm of a nat — bots and scripted
    # accounts sit near 0 (one dominant action), organic users spread
    # out. H = ln(n) − (Σ c·ln c)/n over exact integer counts, with ln
    # confined to exactly TWO per-row rounding sites quantized to ppm
    # (the bm25 recipe): one per (user, type) count row, one per user
    # total — every downstream step is exact-BIGINT (the inner division
    # is the shared round-half-up integer finalize). Top-50 with full
    # (entropy, user) tiebreak so rank ties can't flap cross-engine.
    oracle="""
        WITH c AS (
            SELECT user_id, event_type, COUNT(*) AS c
            FROM events GROUP BY 1, 2
        ),
        q AS (
            SELECT user_id, c,
                   CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1000000) AS BIGINT) AS lq
            FROM c
        ),
        s AS (
            SELECT user_id,
                   CAST(COUNT(*) AS BIGINT) AS n_types,
                   CAST(SUM(c) AS BIGINT) AS n_events,
                   CAST(SUM(c * lq) AS BIGINT) AS sq
            FROM q GROUP BY user_id
        )
        SELECT user_id, n_events, n_types,
               CAST(ROUND(LN(CAST(n_events AS DOUBLE)) * 1000000) AS BIGINT)
                 - (2 * sq + n_events) // (2 * n_events) AS entropy_ppm
        FROM s
        ORDER BY entropy_ppm DESC, user_id ASC
        LIMIT 50
    """,
    description="Per-user Shannon entropy of the event-type mix in ppm-nats (bot/script detection: scripted accounts concentrate on one action): two hash aggregates over exact integer counts, ln confined to two ppm-quantized rounding sites (bm25 recipe), exact-BIGINT round-half-up finalize, TakeOrderedAndProject top-50 with full tiebreaks",
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    c = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    q = c.select(
        "user_id",
        "c",
        F.expr("CAST(ROUND(LN(CAST(c AS DOUBLE)) * 1000000) AS BIGINT)").alias("lq"),
    )
    s = q.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_events"),
        F.sum(F.col("c") * F.col("lq")).cast("long").alias("sq"),
        F.max("lq").alias("_mlq"),
    )
    # Enforced headroom (the r11 guard family, threshold fixed in r12):
    # Σ c·lq ≤ n_events·max(lq) =: B, and the round-half-up finalize
    # computes 2·sq + n_events ≤ 3·B (n_events ≤ B whenever max lq ≥ 1;
    # the max_lq = 0 case means every count is 1, sq = 0, and the
    # finalize is just n_events — no overflow possible), so the guard
    # must hold 3·B under 2^63, not just B — the previous factor-2 gap
    # let sq ∈ (~4.6e18, 9e18) pass the guard yet wrap in the finalize.
    from ..operators._util import product_overflow_guard

    s = s.select(
        "user_id",
        "n_types",
        product_overflow_guard(
            "n_events",
            "_mlq",
            opname="events_user_entropy",
            remediation="quantize ln to e4 instead of ppm (rescale both"
            " engines' lq and the finalize) before the c*lq sum",
            group_col="user_id",
            finalize_multiplier=3.0,  # 2·sq + n_events ≤ 3·(n_events·max lq)
        ),
        "sq",
    )
    out = s.select(
        "user_id",
        "n_events",
        "n_types",
        F.expr(
            "CAST(ROUND(LN(CAST(n_events AS DOUBLE)) * 1000000) AS BIGINT)"
            " - (2 * sq + n_events) DIV (2 * n_events)"
        ).alias("entropy_ppm"),
    )
    return out.orderBy(F.desc("entropy_ppm"), F.asc("user_id")).limit(50)


@query(
    "events_peak_concurrency",
    # Peak load: the maximum number of simultaneously-open 30-minute
    # activity windows per event type, and WHEN it peaks — the classic
    # ±1 sweep (interval stabbing), not a self-join: each event opens
    # [t, t+1800) and contributes (+1 at t, −1 at t+1800); the running
    # delta sum under a total (t, delta, id) order IS the concurrency
    # (ends sort before starts at equal t — half-open intervals). The
    # Spark side runs the sweep SKEW-RESISTANTLY via the carry-stitch
    # decomposition (day-bucketed local prefix sums + a per-type
    # running carry over tiny day summaries — the asof/RLE r10 pattern
    # generalized to prefix sums), value-identical to the oracle's
    # single window; peak_ts is the earliest second achieving the peak.
    oracle="""
        WITH pts AS (
            SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) AS t,
                   CAST(1 AS BIGINT) AS delta, event_id
            FROM events
            UNION ALL
            SELECT event_type, CAST(FLOOR(epoch(ts)) AS BIGINT) + 1800,
                   CAST(-1 AS BIGINT), event_id
            FROM events
        ),
        run AS (
            SELECT event_type, t, delta,
                   SUM(delta) OVER (PARTITION BY event_type
                                    ORDER BY t, delta, event_id
                                    ROWS UNBOUNDED PRECEDING) AS conc
            FROM pts
        ),
        pk AS (
            SELECT event_type, CAST(MAX(conc) AS BIGINT) AS peak
            FROM run GROUP BY event_type
        )
        SELECT r.event_type,
               CAST(COUNT(*) AS BIGINT) // 2 AS n_intervals,
               MAX(p.peak) AS peak_concurrency,
               MIN(CASE WHEN r.conc = p.peak THEN r.t END) AS peak_ts_epoch
        FROM run r JOIN pk p USING (event_type)
        GROUP BY r.event_type
    """,
    description="Peak concurrent 30-min activity windows per event type + the second it peaks (capacity-planning sweep): ±1 boundary points, day-bucketed carry-stitch prefix sums on the Spark side (a hot type's sweep splits across ~span/86400 tasks instead of one — the r10 bucketed-window pattern generalized), single-window oracle, exact integers end to end",
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir).select(
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("t0"),
        "event_id",
    )
    pts = ev.select(
        "event_type", F.col("t0").alias("t"), F.lit(1).cast("long").alias("delta"),
        "event_id",
    ).unionAll(
        ev.select(
            "event_type", (F.col("t0") + 1800).alias("t"),
            F.lit(-1).cast("long").alias("delta"), "event_id",
        )
    ).withColumn("day", F.expr("t DIV 86400"))
    # Day-bucketed carry-stitch prefix sum (operators/sequence.py
    # prefix_scan_bucketed — the r10 skew pattern generalized to prefix
    # aggregates; measured against its single-window twin in skew_probe).
    from ..operators.sequence import prefix_scan_bucketed

    run = prefix_scan_bucketed(
        pts, key_col="event_type", order_cols=("t", "delta", "event_id"),
        value_col="delta", bucket_col="day", out_sum="conc",
    ).select(
        "event_type", "t", "conc"
    ).localCheckpoint(eager=False)  # 2 consumers: peak aggregate + final
    pk = run.groupBy("event_type").agg(F.max("conc").cast("long").alias("peak"))
    return run.join(F.broadcast(pk), "event_type").groupBy("event_type").agg(
        F.expr("COUNT(*) DIV 2").alias("n_intervals"),
        F.max("peak").alias("peak_concurrency"),
        F.min(F.when(F.col("conc") == F.col("peak"), F.col("t"))).alias(
            "peak_ts_epoch"
        ),
    )


@query(
    "events_value_cusum_alarm",
    # Upward-drift alarm per event type — the CUSUM/drawup change
    # detector: against the per-type mean as target, the running sum of
    # deviations S_t minus its running minimum IS the largest
    # accumulated upward drift ending at t (Page's one-sided CUSUM in
    # drawup form — no per-row clamp recurrence, so it stays a pair of
    # windows instead of a sequential scan). Alarm when the drawup
    # exceeds 50 mean-values. Exact integer cents end to end (the mean
    # is the sign-safe round-half-up BIGINT div both engines share);
    # the Spark side runs BOTH running aggregates through the
    # day-bucketed carry-stitch (prefix sums AND prefix minima stitch
    # across day buckets), so a hot type's scan splits across
    # ~span/86400 tasks — value-identical to the oracle's single
    # window.
    oracle="""
        WITH base AS (
            SELECT event_type, ts, event_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS c
            FROM events
        ),
        agg AS (
            SELECT event_type, CAST(SUM(c) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM base GROUP BY event_type
        ),
        mu AS (
            SELECT event_type, n,
                   CAST((s * 2 + n) // (2 * n)
                        - CASE WHEN (s * 2 + n) % (2 * n) != 0
                                AND (s * 2 + n) < 0 THEN 1 ELSE 0 END
                        AS BIGINT) AS mu
            FROM agg
        ),
        r AS (
            SELECT b.event_type, b.ts, b.event_id, m.mu, m.n,
                   b.c - m.mu AS d
            FROM base b JOIN mu m USING (event_type)
        ),
        s1 AS (
            SELECT event_type, ts, event_id, mu, n,
                   SUM(d) OVER (PARTITION BY event_type
                                ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS s
            FROM r
        ),
        s2 AS (
            SELECT event_type, ts, mu, n,
                   -- LEAST(0, ...): Page's CUSUM anchors at S_0 = 0 — a
                   -- strictly-positive early prefix must still measure
                   -- its drift from the start, not from its own minimum.
                   s - LEAST(0, MIN(s) OVER (PARTITION BY event_type
                                             ORDER BY ts, event_id
                                             ROWS UNBOUNDED PRECEDING)) AS m
            FROM s1
        )
        SELECT event_type,
               MAX(n) AS n,
               MAX(mu) AS mu_cents,
               CAST(MAX(m) AS BIGINT) AS max_drawup_cents,
               CAST(SUM(CASE WHEN m > 50 * mu THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_alarm_points,
               MIN(CASE WHEN m > 50 * mu
                        THEN CAST(FLOOR(epoch(ts)) AS BIGINT) END)
                   AS first_alarm_epoch
        FROM s2 GROUP BY event_type
    """,
    description="CUSUM drift alarm per event type (Page's one-sided detector in drawup form: running deviation sum minus its running minimum = max accumulated upward drift, alarm above 50 mean-values): exact integer cents, sign-safe round-half-up mean, and on the Spark side BOTH running aggregates (prefix sum + prefix min) go through the day-bucketed carry-stitch — the r10 skew pattern generalized from order statistics to prefix aggregates",
)
def events_value_cusum_alarm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    base = ev.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("c"),
    )
    agg = base.groupBy("event_type").agg(
        F.sum("c").alias("s"), F.count("*").cast("long").alias("n")
    )
    mu = agg.select(
        "event_type",
        "n",
        F.expr(
            "CAST((s * 2 + n) DIV (2 * n)"
            " - CASE WHEN (s * 2 + n) % (2 * n) != 0"
            "         AND (s * 2 + n) < 0 THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("mu"),
    )
    # One parquet scan total: base feeds both the mean aggregate and the
    # sweep; the lazy checkpoint keeps the second consumer off the scan.
    base = base.localCheckpoint(eager=False)
    r = base.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "ts",
        "event_id",
        "mu",
        "n",
        (F.col("c") - F.col("mu")).alias("d"),
        F.expr("unix_timestamp(ts) DIV 86400").alias("day"),
    )
    # Day-bucketed carry-stitch for BOTH running aggregates (prefix sum
    # + zero-anchored prefix min) — operators/sequence.py
    # prefix_scan_bucketed, measured against its single-window twin in
    # skew_probe; anchor_zero implements Page's S_0 = 0 contract.
    from ..operators.sequence import prefix_scan_bucketed

    scanned = prefix_scan_bucketed(
        r, key_col="event_type", order_cols=("ts", "event_id"),
        value_col="d", bucket_col="day",
        out_sum="s", out_min="rowmin", anchor_zero=True,
    )
    m = scanned.select(
        "event_type", "ts", "mu", "n", (F.col("s") - F.col("rowmin")).alias("m")
    )
    return m.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("mu").alias("mu_cents"),
        F.max("m").cast("long").alias("max_drawup_cents"),
        F.sum(F.when(F.col("m") > 50 * F.col("mu"), 1).otherwise(0))
        .cast("long")
        .alias("n_alarm_points"),
        F.min(
            F.when(
                F.col("m") > 50 * F.col("mu"),
                F.expr("CAST(FLOOR(unix_timestamp(ts)) AS BIGINT)"),
            )
        ).alias("first_alarm_epoch"),
    )


@query(
    "corpus_ngram_novelty",
    # Template/boilerplate detector per source: what fraction of a
    # source's 3-shingle occurrences are UNIQUE to their document
    # (corpus df = 1)? Organic prose is mostly novel shingles; scraped
    # templates and mirrored feeds share theirs — a low novelty_ppm
    # flags the sources whose mass is repetition (the curation signal
    # complementing the pairwise dedup family: no pair enumeration at
    # all, just two hash aggregates over the shingle table, so it runs
    # where the f² pair queries need caps). Exact integers; one
    # round-half-up BIGINT division per source.
    oracle=f"""
        WITH {_SQL_SHINGLES},
        hshingles AS (
            SELECT DISTINCT id, {_HASH64.format(x="shingle")} AS h FROM shingles
        ),
        df AS (SELECT h, COUNT(*) AS df FROM hshingles GROUP BY h),
        per_doc AS (
            SELECT s.id,
                   COUNT(*) AS tot,
                   CAST(SUM(CASE WHEN df.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS novel
            FROM hshingles s JOIN df USING (h)
            GROUP BY s.id
        )
        SELECT d.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(p.tot) AS BIGINT) AS n_shingle_occ,
               CAST(SUM(p.novel) AS BIGINT) AS n_novel,
               (2000000 * CAST(SUM(p.novel) AS BIGINT) + CAST(SUM(p.tot) AS BIGINT))
                   // (2 * CAST(SUM(p.tot) AS BIGINT)) AS novelty_ppm
        FROM per_doc p JOIN documents d ON p.id = d.doc_id
        GROUP BY d.source
    """,
    description="Per-source 3-shingle novelty (share of shingle occurrences unique to their doc, in ppm — the template/mirror detector that needs NO pair enumeration, so it scales where f² pair queries need df caps): distinct per-doc shingle hashes, one corpus df aggregate joined back, per-source exact-BIGINT sums with a round-half-up finalize",
)
def corpus_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.shingle_novelty(_docs(spark, sf_dir), k=3)


@query(
    "dedup_mass_by_source",
    # Curation ATTRIBUTION: which feeds contribute the duplicate mass —
    # per source, how many docs would exact dedup drop (non-survivors of
    # their content-hash group) and what share of the source that is.
    # The fix-the-feed lens the per-group dedup views can't give: a
    # 200k-ppm source is a mirror or a re-crawl. One content-hash
    # aggregate (the dedup_exact_groups plan) re-joined on the 8-byte
    # hash; survivor rule = min doc id, identical both engines.
    oracle=f"""
        WITH hashed AS (
            SELECT doc_id, source,
                   {_HASH64.format(x="trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))")} AS h
            FROM documents
        ),
        groups AS (SELECT h, MIN(doc_id) AS keep_id FROM hashed GROUP BY h)
        SELECT s.source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN s.doc_id <> g.keep_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dropped,
               (2000000 * CAST(SUM(CASE WHEN s.doc_id <> g.keep_id
                                        THEN 1 ELSE 0 END) AS BIGINT)
                + COUNT(*)) // (2 * COUNT(*)) AS drop_ppm
        FROM hashed s JOIN groups g USING (h)
        GROUP BY s.source
    """,
    description="Exact-duplicate mass attribution per source (the fix-the-feed lens: a high drop_ppm source is a mirror or re-crawl): one content-hash aggregate re-joined on the 8-byte hash, min-id survivor rule, per-source exact-BIGINT shares in round-half-up ppm",
)
def dedup_mass_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import normalize_text
    from ..operators.dedup import portable_hash64

    docs = _docs(spark, sf_dir)
    hashed = docs.select(
        "doc_id", "source", portable_hash64(normalize_text("text")).alias("h")
    ).localCheckpoint(eager=False)  # 2 consumers: groups + the re-join
    groups = hashed.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    j = hashed.join(groups, "h").select(
        "source", (F.col("doc_id") != F.col("keep_id")).cast("long").alias("dropped")
    )
    return j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("dropped").cast("long").alias("n_dropped"),
        F.expr(
            "(2000000 * SUM(dropped) + COUNT(*)) DIV (2 * COUNT(*))"
        ).alias("drop_ppm"),
    )


@query(
    "corpus_contamination_by_source",
    # The decontamination audit's attribution twin: per source, how many
    # training docs carry benchmark 5-grams past the >=3-hit threshold —
    # "which feed is quoting the eval set". Reuses the registered
    # doc_decontamination chain (broadcast semi join over hashed grams,
    # zero corpus-text shuffle) + one documents join + one aggregate.
    oracle=f"""
        WITH doc_toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+') AS toks
            FROM documents
        ),
        grams AS (
            SELECT DISTINCT doc_id AS id,
                   {_HASH64.format(x="array_to_string(list_slice(toks, i, i + 4), ' ')")} AS h
            FROM doc_toks, UNNEST(generate_series(1, len(toks) - 4)) t(i)
            WHERE len(toks) >= 5
        ),
        bench AS (SELECT DISTINCT h FROM grams WHERE id % 25 = 0),
        corpus AS (SELECT * FROM grams WHERE id % 25 <> 0),
        hits AS (
            SELECT id, COUNT(*) AS n_hits FROM corpus
            WHERE h IN (SELECT h FROM bench) GROUP BY id
        ),
        flags AS (
            SELECT d.doc_id, d.source,
                   COALESCE(ht.n_hits, 0) AS n_hits,
                   COALESCE(ht.n_hits, 0) >= 3 AS contaminated
            FROM (SELECT doc_id, source FROM documents WHERE doc_id % 25 <> 0) d
            LEFT JOIN hits ht ON ht.id = d.doc_id
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_contaminated,
               CAST(SUM(n_hits) AS BIGINT) AS total_hits,
               (2000000 * CAST(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END)
                               AS BIGINT)
                + COUNT(*)) // (2 * COUNT(*)) AS contam_ppm
        FROM flags GROUP BY source
    """,
    description="Benchmark-contamination attribution per source ('which feed quotes the eval set'): the registered doc_decontamination chain (broadcast hashed-5-gram semi join, >=3-hit flag) joined to the source dimension, per-source exact-BIGINT shares in round-half-up ppm",
)
def corpus_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    flags = doc_decontamination(spark, sf_dir).select(
        "doc_id", "n_hits", "contaminated"
    )
    src = _docs(spark, sf_dir).select("doc_id", "source")
    j = flags.join(src, "doc_id")
    return j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.col("contaminated").cast("long")).cast("long").alias("n_contaminated"),
        F.sum("n_hits").cast("long").alias("total_hits"),
        F.expr(
            "(2000000 * SUM(CAST(contaminated AS BIGINT)) + COUNT(*))"
            " DIV (2 * COUNT(*))"
        ).alias("contam_ppm"),
    )


@query(
    "embeddings_similarity_histogram",
    # Embedding-geometry health audit — "is the space collapsing?": the
    # distribution of pairwise cosine over a DETERMINISTIC linear pair
    # sample (ring offsets 1/17/401 on vec_id — three independent
    # stride classes, |pairs| ∝ corpus, never the quadratic all-pairs
    # table). A healthy space concentrates near 0; mass piling up at
    # 0.9+ is mode collapse / duplicated embeddings, a left shoulder at
    # -0.5 is an antipodal-cluster artifact. Cosine over the int8
    # quantization: integer-valued double sums are exact in any order,
    # sqrt/division are correctly-rounded IEEE, so the bucket id
    # floor(cosine*10) is bit-identical cross-engine even on bucket
    # boundaries. Zero-norm vectors drop (both engines).
    oracle="""
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
        pairs AS (
            -- a.vec_id rides along: (step, vec_id) uniquely identifies a
            -- sampled pair under the ring-offset scheme, so the dots
            -- GROUP BY below counts each pair ONCE even when two pairs
            -- share identical vector arrays (duplicated embeddings — the
            -- mode-collapse case this audit exists to detect; grouping
            -- by the arrays alone collapsed those rows and undercounted
            -- n_pairs vs the Spark side's per-row count — r12 ADVICE fix).
            SELECT s.step, a.vec_id, a.q AS qa, b.q AS qb
            FROM (SELECT UNNEST([1, 17, 401]) AS step) s
            JOIN qz a ON TRUE
            JOIN qz b ON b.vec_id = a.vec_id + s.step
        ),
        dots AS (
            SELECT step,
                   SUM(qa[i] * qb[i]) AS dot,
                   SUM(qa[i] * qa[i]) AS na,
                   SUM(qb[i] * qb[i]) AS nb
            FROM pairs, UNNEST(generate_series(1, len(qa))) t(i)
            GROUP BY step, vec_id
        ),
        cells AS (
            SELECT step,
                   CAST(FLOOR(dot / (sqrt(na) * sqrt(nb)) * 10) AS BIGINT) AS bucket
            FROM dots WHERE na > 0 AND nb > 0
        )
        SELECT CAST(step AS BIGINT) AS step, bucket,
               CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM cells GROUP BY step, bucket
    """,
    description="Pairwise-cosine histogram over deterministic ring-offset pair samples (strides 1/17/401 — linear in the corpus, never all-pairs): the embedding-space mode-collapse audit; int8-quantized cosine (exact integer sums, correctly-rounded sqrt/div) makes even the floor(c*10) bucket id bit-identical cross-engine",
)
def embeddings_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    q = S.quantize_int8(emb, "vec_id", "embedding").select(
        "vec_id", F.col("qvec").alias("q")
    ).localCheckpoint(eager=False)  # both pair sides
    steps = spark.range(0, 1).selectExpr("explode(array(1, 17, 401)) AS step")
    a = q.crossJoin(F.broadcast(steps)).select(
        "step", F.col("vec_id"), F.col("q").alias("qa"),
        (F.col("vec_id") + F.col("step")).alias("bid"),
    )
    b = q.select(F.col("vec_id").alias("bid"), F.col("q").alias("qb"))
    pairs = a.join(b, "bid")
    # int8 x int8 overflows TINYINT under ANSI — widen to double first
    # (integer-valued doubles, so the sums stay exact in any order).
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cells = pairs.select(
        "step",
        dot.alias("dot"),
        nrm(F.col("qa")).alias("na"),
        nrm(F.col("qb")).alias("nb"),
    ).filter((F.col("na") > 0) & (F.col("nb") > 0)).select(
        "step",
        F.floor(F.col("dot") / (F.sqrt("na") * F.sqrt("nb")) * 10)
        .cast("long")
        .alias("bucket"),
    )
    return cells.groupBy(F.col("step").cast("long").alias("step"), "bucket").agg(
        F.count("*").cast("long").alias("n_pairs")
    )


@query(
    "dedup_minhash_precision",
    # The LSH gate graded against its own ground truth (r12 — the dedup
    # twin of doc_langid_confusion): per band-agreement count, how many
    # candidate pairs are TRUE near-dups under exact 3-shingle Jaccard
    # >= 0.2. The truth test is pure integers (100·inter >= 20·union) —
    # no float boundary; the exact Jaccard runs ONLY over candidate
    # pairs (candidate-bounded, never the f² shared-shingle table).
    oracle=f"""
        WITH sig AS ({_minhash_sql()}),
        banded AS (
            SELECT doc_id AS id, (perm - 1) // 4 AS band,
                   {_HASH64.format(x="string_agg(concat(perm, ':', minhash), ',' ORDER BY concat(perm, ':', minhash))")} AS band_key
            FROM sig
            GROUP BY doc_id, (perm - 1) // 4
        ),
        cands AS (
            SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS n_bands
            FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
            WHERE a.id < b.id
            GROUP BY a.id, b.id
        ),
        {_SQL_SHINGLES},
        hsh AS (SELECT DISTINCT id, {_HASH64.format(x='shingle')} AS h FROM shingles),
        sizes AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM hsh GROUP BY id),
        inter AS (
            SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS i
            FROM cands c
            JOIN hsh a ON a.id = c.id_a
            JOIN hsh b ON b.id = c.id_b AND b.h = a.h
            GROUP BY c.id_a, c.id_b
        ),
        graded AS (
            SELECT c.n_bands,
                   COALESCE(i.i, 0) AS i0,
                   sa.n + sb.n - COALESCE(i.i, 0) AS den
            FROM cands c
            LEFT JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
            JOIN sizes sa ON sa.id = c.id_a
            JOIN sizes sb ON sb.id = c.id_b
        )
        SELECT n_bands,
               CAST(COUNT(*) AS BIGINT) AS n_candidates,
               CAST(SUM(CASE WHEN 100 * i0 >= 20 * den THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
               (2000000 * CAST(SUM(CASE WHEN 100 * i0 >= 20 * den THEN 1 ELSE 0 END) AS BIGINT)
                + COUNT(*)) // (2 * COUNT(*)) AS precision_ppm
        FROM graded GROUP BY n_bands
    """,
    description="MinHash-LSH precision audit per band-agreement count (the dedup gate graded against exact 3-shingle Jaccard >= 0.2, its own ground truth — the measured-classifier lens of doc_langid_confusion applied to dedup): exact Jaccard computed ONLY for candidate pairs (candidate-bounded join, never the f² shared-shingle table), integer truth test, round-half-up ppm (operators/dedup.minhash_precision_eval)",
)
def dedup_minhash_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_precision_eval(_docs(spark, sf_dir), num_perm=16, bands=4, k=3)


@query(
    "events_interarrival_profile",
    # Per-type interarrival-gap profile (traffic-shape audit: burstiness,
    # dead air, scrape cadence). The LAG runs DAY-BUCKETED: gaps within
    # each (type, day) partition locally; the one gap PER DAY BOUNDARY is
    # stitched from tiny per-(type, day) summaries (first event epoch vs
    # the previous non-empty day's last epoch, LAG over the day-summary
    # table) — a hot type's otherwise single-task corpus sort splits
    # across its days, the asof/RLE/prefix-scan carry pattern applied to
    # LAG; (day, t, id) order == (t, id) order since day = t DIV 86400.
    # Gap stats are rank-exact via the frequency-table decomposition.
    # The oracle is the plain single-window LAG + ROW_NUMBER form — an
    # independent derivation.
    oracle="""
        WITH g AS (
            SELECT event_type,
                   CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (
                         PARTITION BY event_type
                         ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id
                     ) AS gap
            FROM events
        ),
        gg AS (SELECT event_type, gap FROM g WHERE gap IS NOT NULL),
        ranked AS (
            SELECT event_type, gap,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY gap) AS rn,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM gg
        )
        SELECT event_type,
               CAST(MAX(n) AS BIGINT) AS n_gaps,
               MIN(CASE WHEN rn = (n + 1) // 2 THEN gap END) AS median_secs,
               MIN(CASE WHEN rn = (n * 9 + 9) // 10 THEN gap END) AS p90_secs,
               CAST(MIN(gap) AS BIGINT) AS min_secs,
               CAST(MAX(gap) AS BIGINT) AS max_secs
        FROM ranked GROUP BY event_type
    """,
    description="Per-type interarrival profile (burstiness / scrape-cadence audit): DAY-BUCKETED LAG — local gaps within (type, day), the one boundary gap per day stitched via LAG over tiny day summaries (the carry-stitch family applied to LAG; a hot type splits across its days instead of one sort task) — then rank-exact median/p90 via the frequency-table decomposition; the oracle's single-window LAG + ROW_NUMBER form is an independent derivation",
)
def events_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.quantiles import freq_table_rank_stats
    from ..operators.sequence import interarrival_gaps_bucketed

    ev = load_events(spark, sf_dir)
    base = ev.select(
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("t"),
        "event_id",
    )
    gaps = interarrival_gaps_bucketed(
        base, key_col="event_type", ts_col="t", id_col="event_id",
        bucket_size=86400,
    )
    stats = freq_table_rank_stats(
        gaps,
        "event_type",
        "gap",
        {"median_secs": "(n + 1) DIV 2", "p90_secs": "(n * 9 + 9) DIV 10"},
        extra_aggs={
            "min_secs": F.min("v").cast("long"),
            "max_secs": F.max("v").cast("long"),
        },
    )
    return stats.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        "median_secs",
        "p90_secs",
        "min_secs",
        "max_secs",
    )


@query(
    "embeddings_norm_profile",
    # The NORM half of the embedding-space health audit (the similarity
    # histogram covers direction; this covers magnitude — a normalization
    # bug, a dead encoder, or fp16 underflow shows up as norm-mass in the
    # wrong buckets long before cosine geometry degrades). Per-component
    # e4 integerization makes the squared norm an exact BIGINT in any
    # summation order; the only float ops are one correctly-rounded sqrt
    # + division + multiplication on identical integer inputs, so the
    # tenth-of-a-unit bucket id is bit-identical cross-engine (the
    # similarity-histogram argument).
    oracle="""
        WITH ns AS (
            SELECT vec_id,
                   (SELECT CAST(SUM(q * q) AS BIGINT) FROM (
                        SELECT CAST(ROUND(CAST(x AS DOUBLE) * 10000) AS BIGINT) AS q
                        FROM UNNEST(embedding) t(x)
                    )) AS ns
            FROM embeddings
            WHERE len(embedding) > 0
        ),
        cells AS (
            SELECT CAST(FLOOR(sqrt(CAST(ns AS DOUBLE)) / 10000 * 10) AS BIGINT) AS bucket
            FROM ns
        ),
        tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM cells)
        SELECT bucket,
               CAST(COUNT(*) AS BIGINT) AS n_vecs,
               (2000000 * CAST(COUNT(*) AS BIGINT) + MAX(tot.t)) // (2 * MAX(tot.t)) AS share_ppm
        FROM cells, tot
        GROUP BY bucket
    """,
    description="Embedding L2-norm histogram in tenth-of-a-unit buckets (the magnitude half of the embedding health audit — normalization bugs and dead encoders move norm mass before cosine geometry degrades): per-component e4 integerization makes the squared norm an exact BIGINT, one correctly-rounded sqrt/div per vector, round-half-up ppm shares; linear scan, one tiny aggregate",
)
def embeddings_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Empty-vector guard (ADVICE r12): Spark's F.aggregate over a
    # zero-length array yields the 0 seed (bucket 0) while the oracle's
    # scalar-subquery SUM over zero rows yields NULL — drop empties on
    # BOTH engines so a malformed fixture can't diverge them.
    emb = load_table(spark, sf_dir, "embeddings").where(F.size("embedding") > 0)
    ns = F.aggregate(
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 10000).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, q: acc + q * q,
    )
    cells = emb.select(
        F.floor(F.sqrt(ns.cast("double")) / 10000 * 10).cast("long").alias("bucket")
    )
    counts = cells.groupBy("bucket").agg(F.count("*").cast("long").alias("n_vecs"))
    tot = counts.agg(F.sum("n_vecs").alias("t"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_vecs",
        F.expr("(2000000 * n_vecs + t) DIV (2 * t)").alias("share_ppm"),
    )


@query(
    "corpus_chunk_dup_histogram",
    # WHERE the duplicated-passage mass lives: the document-frequency
    # histogram of 32-token chunks (df=2 mirrors vs df=50 boilerplate
    # floods need different fixes — a re-crawl dial vs a template
    # blocklist; the cluster-SIZE view of doc_chunk_dedup's per-doc
    # ratios). One chunk aggregate to per-hash df, then a tiny histogram
    # over df values; instance share = the fraction of all (doc, chunk)
    # occurrences sitting at that duplication level.
    oracle=f"""
        WITH doc_toks AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+') AS toks
            FROM documents
        ),
        chunks AS (
            SELECT DISTINCT doc_id,
                   {_HASH64.format(x="array_to_string(list_slice(toks, i * 32 + 1, i * 32 + 32), ' ')")} AS h
            FROM doc_toks,
                 UNNEST(generate_series(0, CAST(ceil(len(toks) / 32.0) AS INT) - 1)) t(i)
            WHERE len(toks) > 0
        ),
        dfreq AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS chunk_df FROM chunks GROUP BY h),
        hist AS (
            SELECT chunk_df,
                   CAST(COUNT(*) AS BIGINT) AS n_chunks,
                   CAST(SUM(chunk_df) AS BIGINT) AS n_instances
            FROM dfreq GROUP BY chunk_df
        ),
        tot AS (SELECT CAST(SUM(n_instances) AS BIGINT) AS t FROM hist)
        SELECT chunk_df, n_chunks, n_instances,
               (2000000 * n_instances + tot.t) // (2 * tot.t) AS instance_share_ppm
        FROM hist, tot
    """,
    description="Duplicated-passage histogram (the cluster-size view of passage dedup: df=2 mirrors vs df=50 template floods demand different fixes): distinct (doc, 32-token-chunk-hash) pairs, one df aggregate, tiny histogram over df with per-level instance share in round-half-up ppm — no pair enumeration anywhere",
)
def corpus_chunk_dup_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import token_chunks

    chunks = token_chunks(_docs(spark, sf_dir), chunk_size=32).select(
        "id", "chunk_hash"
    ).distinct()
    dfreq = chunks.groupBy("chunk_hash").agg(
        F.count("*").cast("long").alias("chunk_df")
    )
    hist = dfreq.groupBy("chunk_df").agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum("chunk_df").cast("long").alias("n_instances"),
    ).localCheckpoint(eager=False)  # total + final projection
    tot = hist.agg(F.sum("n_instances").alias("t"))
    return hist.crossJoin(F.broadcast(tot)).select(
        "chunk_df",
        "n_chunks",
        "n_instances",
        F.expr("(2000000 * n_instances + t) DIV (2 * t)").alias(
            "instance_share_ppm"
        ),
    )


# Shared verbatim by the Spark plan and the oracle (the bm25 recipe): the
# n in sigma = sqrt(n*ss - s^2)/n and mu = s/n cancels in (sigma-mu)/
# (sigma+mu), so ONE sqrt over the same BIGINT-derived doubles + one
# division decide the ppm — bit-identical cross-engine.
BURSTINESS_PPM_SQL = (
    # Degenerate-input guard (ADVICE r12): if every gap in a type is 0
    # (all events share one timestamp) then s = ss = 0, sigma = mu = 0
    # and the ratio is 0/0 — Spark's non-ANSI cast would silently turn
    # the NaN into NULL while DuckDB ERRORS on CAST(ROUND(nan) AS
    # BIGINT). Gaps are non-negative by construction (time-ordered LAG),
    # so the denominator sqrt(n*ss - s^2) + s is zero exactly when
    # s = 0 AND n*ss = s^2; the CASE emits NULL on BOTH engines there
    # (mirroring the total_span_sec guard in time-weighted averages).
    # The radicand is additionally clamped at 0 (r13 review): once s or
    # ss exceeds 2^53 the BIGINT->DOUBLE casts round, and for an
    # all-equal-gaps type (true variance 0, n*ss == s^2 exactly in
    # integers) fl(n)*fl(ss) can land strictly BELOW fl(s)^2 — the s>0
    # branch would then take sqrt of a negative and reintroduce the NaN
    # split the guard exists to close.
    "CASE WHEN s > 0 OR CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)"
    " > CAST(s AS DOUBLE) * CAST(s AS DOUBLE) THEN"
    " CAST(ROUND((sqrt(GREATEST(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)"
    " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE), CAST(0 AS DOUBLE))) - CAST(s AS DOUBLE))"
    " / (sqrt(GREATEST(CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)"
    " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE), CAST(0 AS DOUBLE))) + CAST(s AS DOUBLE))"
    " * 1000000) AS BIGINT)"
    " ELSE NULL END"
)


@query(
    "events_burstiness_index",
    # Goh–Barabási burstiness per event type: B = (σ−μ)/(σ+μ) over the
    # interarrival gaps — a Poisson process sits near 0, a scripted
    # periodic scraper near −1e6 ppm, human/bursty traffic positive.
    # Composes on the skew-resistant bucketed-LAG gap table; the
    # sufficient statistics (n, Σg, Σg²) are exact BIGINT aggregates and
    # the finalize is the ONE shared sqrt/div ppm tree above.
    oracle=f"""
        WITH g AS (
            SELECT event_type,
                   CAST(FLOOR(epoch(ts)) AS BIGINT)
                   - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT)) OVER (
                         PARTITION BY event_type
                         ORDER BY CAST(FLOOR(epoch(ts)) AS BIGINT), event_id
                     ) AS gap
            FROM events
        ),
        stats AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(gap) AS BIGINT) AS s,
                   CAST(SUM(gap * gap) AS BIGINT) AS ss
            FROM g WHERE gap IS NOT NULL
            GROUP BY event_type
        )
        SELECT event_type, n AS n_gaps, {BURSTINESS_PPM_SQL} AS burstiness_ppm
        FROM stats
    """,
    description="Goh-Barabasi burstiness index per event type ((sigma-mu)/(sigma+mu) over interarrival gaps in ppm: ~0 Poisson, negative periodic/scripted, positive bursty/human): gaps via the skew-resistant day-bucketed LAG, exact-BIGINT sufficient statistics, one shared sqrt/div ppm finalize — bit-identical cross-engine",
)
def events_burstiness_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sequence import interarrival_gaps_bucketed

    ev = load_events(spark, sf_dir)
    base = ev.select(
        "event_type",
        F.unix_timestamp("ts").cast("long").alias("t"),
        "event_id",
    )
    gaps = interarrival_gaps_bucketed(
        base, key_col="event_type", ts_col="t", id_col="event_id",
        bucket_size=86400,
    )
    stats = gaps.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("gap").cast("long").alias("s"),
        F.sum(F.col("gap") * F.col("gap")).cast("long").alias("ss"),
    )
    return stats.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.expr(BURSTINESS_PPM_SQL).alias("burstiness_ppm"),
    )


@query(
    "events_dau_wau_stickiness",
    # Product-analytics stickiness: DAU/WAU per day in round-half-up
    # ppm (how much of the weekly audience shows up daily — the
    # engagement dial). WAU is NOT re-aggregable from daily distinct
    # counts (users overlap across days), so the exact form rides the
    # interval-fanout trick: each distinct (user, active day) covers
    # the 7 days [day, day+6]; after a (user, covered day) distinct,
    # WAU_d is a plain count. Cost: one distinct-pair aggregate, a
    # bounded 7x fan-out, a second distinct — all hash aggregates with
    # map-side partials; only observed days are reported.
    oracle="""
        WITH pairs AS (
            SELECT DISTINCT user_id,
                   CAST(FLOOR(epoch(ts) / 86400) AS BIGINT) AS day
            FROM events
        ),
        dau AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM pairs GROUP BY day),
        cover AS (
            SELECT DISTINCT user_id, day + o.off AS cday
            FROM pairs, (SELECT UNNEST(generate_series(0, 6)) AS off) o
        ),
        wau AS (SELECT cday AS day, CAST(COUNT(*) AS BIGINT) AS wau FROM cover GROUP BY cday)
        SELECT d.day, d.dau, w.wau,
               (2000000 * d.dau + w.wau) // (2 * w.wau) AS stickiness_ppm
        FROM dau d JOIN wau w USING (day)
    """,
    description="DAU/WAU stickiness per day in round-half-up ppm (the engagement dial): exact WAU via the interval-fanout trick — each distinct (user, active day) covers [day, day+6], a second distinct makes WAU a plain count (weekly distincts are NOT re-aggregable from daily ones); two hash aggregates + a bounded 7x fan-out, pure BIGINT",
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_events(spark, sf_dir)
    pairs = (
        ev.select(
            "user_id",
            F.expr("CAST(FLOOR(unix_timestamp(ts) / 86400) AS BIGINT)").alias("day"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # dau + coverage fan-out
    )
    dau = pairs.groupBy("day").agg(F.count("*").cast("long").alias("dau"))
    cover = (
        pairs.select(
            "user_id",
            F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("cday"),
        )
        .distinct()
    )
    wau = cover.groupBy(F.col("cday").alias("day")).agg(
        F.count("*").cast("long").alias("wau")
    )
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.expr("(2000000 * dau + wau) DIV (2 * wau)").alias("stickiness_ppm"),
    )


@query(
    "dedup_minhash_recall",
    # The complement of dedup_minhash_precision: of the TRUE near-dup
    # pairs (exact 3-shingle Jaccard >= 0.2, the inverted-index join),
    # how many did the 4x4 banding produce as candidates — per 0.2-wide
    # jaccard band, so the measured curve is directly comparable to the
    # LSH theory curve 1-(1-s^4)^4. Both engines bucket the SAME
    # rounded-to-6 jaccard, so band edges cannot flap.
    oracle=(_RECALL_ORACLE := f"""
        WITH {_SQL_SHINGLES},
        hshingles AS (
            SELECT DISTINCT id, {_HASH64.format(x='shingle')} AS h FROM shingles
        ),
        sizes AS (SELECT id, COUNT(*) AS n FROM hshingles GROUP BY id),
        inter AS (
            SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
            FROM hshingles a JOIN hshingles b USING (h)
            WHERE a.id < b.id
            GROUP BY a.id, b.id
        ),
        true_pairs AS (
            SELECT id_a, id_b,
                   ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.id = id_a
            JOIN sizes sb ON sb.id = id_b
            WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.2
        ),
        sig AS ({_minhash_sql()}),
        banded AS (
            SELECT doc_id AS id, (perm - 1) // 4 AS band,
                   {_HASH64.format(x="string_agg(concat(perm, ':', minhash), ',' ORDER BY concat(perm, ':', minhash))")} AS band_key
            FROM sig
            GROUP BY doc_id, (perm - 1) // 4
        ),
        cands AS (
            SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
            WHERE a.id < b.id
        ),
        graded AS (
            SELECT LEAST(CAST(FLOOR(t.jaccard * 5) AS INT), 4) AS jaccard_band,
                   CASE WHEN c.id_a IS NOT NULL THEN 1 ELSE 0 END AS hit
            FROM true_pairs t
            LEFT JOIN cands c ON c.id_a = t.id_a AND c.id_b = t.id_b
        )
        SELECT jaccard_band,
               CAST(COUNT(*) AS BIGINT) AS n_true,
               CAST(SUM(hit) AS BIGINT) AS n_recalled,
               (2000000 * CAST(SUM(hit) AS BIGINT) + COUNT(*)) // (2 * COUNT(*)) AS recall_ppm
        FROM graded GROUP BY jaccard_band
    """),
    description="MinHash-LSH recall audit per 0.2-wide jaccard band (the complement of dedup_minhash_precision — together they grade the dedup gate from both sides; the measured curve is directly comparable to LSH theory 1-(1-s^4)^4): true pairs from the exact inverted-index join (the deliberate ground-truth cost — sample/cap it at 100 TB), candidates left-joined, round-half-up ppm (operators/dedup.minhash_recall_eval)",
)
def dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_recall_eval(_docs(spark, sf_dir), num_perm=16, bands=4, k=3)


# Definition-time pin for the textual surgery below (r13 review): the
# sampled oracle pushes its hash predicate into every `documents` read of
# _RECALL_ORACLE by string replacement, which is only sound while the
# oracle reads documents exactly twice (outer _SQL_SHINGLES + the nested
# _minhash_sql copy), bare and un-aliased. An alias or a new WHERE in
# either fragment must fail HERE, at import, not as wrong-sample SQL in
# the driver.
if _RECALL_ORACLE.count("FROM documents") != 2 or "FROM documents d" in _RECALL_ORACLE:
    raise RuntimeError(
        "dedup_minhash_recall_sampled: _RECALL_ORACLE no longer reads "
        "`FROM documents` exactly twice bare — rework the sampled "
        "oracle's predicate pushdown"
    )
# r14 (ADVICE r13): a WHERE (or a comma-join) directly after a bare
# `FROM documents` would survive the count check above yet make the
# replacement emit invalid double-WHERE SQL — loud at driver time, not
# at import as intended. Reject those shapes here too.
if _re.search(r"FROM documents\s*(WHERE|,)", _RECALL_ORACLE):
    raise RuntimeError(
        "dedup_minhash_recall_sampled: _RECALL_ORACLE gained a WHERE or "
        "comma-join directly after `FROM documents` — the sampled "
        "oracle's textual predicate pushdown would emit invalid SQL"
    )


@query(
    "dedup_minhash_recall_sampled",
    # The 100 TB-safe form of the recall audit (r13, VERDICT r12 item 4):
    # a deterministic portable-hash sample of the ID SPACE (md5(doc_id)
    # even — mod 2 here, dial it to ~1M docs in production) applied
    # BEFORE both the ground-truth enumeration and the candidate
    # generation, cutting the audit's deliberate f² true-pair cost by
    # mod² while still grading the production banding. The oracle is the
    # FULL recall oracle with the identical hash predicate pushed into
    # every `documents` read — sampling commutes with the audit, which
    # tests/test_r13_fixes.py pins on the fixture (mod-2 run == full
    # audit over the pre-filtered docs).
    oracle=_RECALL_ORACLE.replace(
        "FROM documents",
        f"FROM documents WHERE {_HASH64.format(x='doc_id')} % 2 = 0",
    ),
    description="Sampled MinHash-LSH recall audit (the 100 TB-safe dial on dedup_minhash_recall): deterministic md5-hash sample of the doc-id space (mod 2) applied before BOTH the exact ground-truth pair enumeration and the candidate generation — the audit's f² cost falls by mod² and sampling provably commutes with the audit; same 0.2-wide jaccard bands and round-half-up ppm (operators/dedup.minhash_recall_eval sample_mod/sample_rem)",
)
def dedup_minhash_recall_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_recall_eval(
        _docs(spark, sf_dir), num_perm=16, bands=4, k=3, sample_mod=2
    )


# Shared by the plain and bucketed path queries (the _MARKOV_ORACLE
# pattern — the skew-resistant twin must grade against the IDENTICAL
# text, so a future tweak to one cannot silently leave the other
# testing a stale definition). For the bucketed query this plain
# single-window SQL is also the INDEPENDENT derivation of the stitch.
_PATHS_ORACLE = """
        WITH seq AS (
            SELECT user_id, event_type,
                   LEAD(event_type, 1) OVER w AS t1,
                   LEAD(event_type, 2) OVER w AS t2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_type || '>' || t1 || '>' || t2 AS path,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE t1 IS NOT NULL AND t2 IS NOT NULL
        GROUP BY 1
        ORDER BY n DESC, path ASC
        LIMIT 20
    """


@query(
    "events_top_transition_paths",
    # Path analysis — the 3-step extension of the Markov transition
    # matrix (which only sees single steps): the top-20 most common
    # event-type trigrams along each user's timeline, with full
    # (count, path) tiebreaks. One window exchange on user_id (millions
    # of keys — natural parallelism), two LEADs over the same window,
    # one tiny hash aggregate, TakeOrderedAndProject.
    oracle=_PATHS_ORACLE,
    description="Top-20 3-step event-type paths per user timeline (path analysis — the trigram extension of the Markov matrix: funnels and scripted loops show up as dominant paths): one user-partitioned window exchange, two LEADs over the same window, tiny path aggregate, TakeOrderedAndProject with full tiebreaks",
)
def events_top_transition_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t1"),
        F.lead("event_type", 2).over(w).alias("t2"),
    ).filter(F.col("t1").isNotNull() & F.col("t2").isNotNull())
    paths = seq.select(
        F.concat_ws(">", "event_type", "t1", "t2").alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(20)
    )


@query(
    "events_top_transition_paths_bucketed",
    # r14 (VERDICT r13 item 4): the SKEW-RESISTANT twin of
    # events_top_transition_paths — the last plain-window member of the
    # LEAD family, measured 12.3× wall growth at 64× under a 50%-mass
    # Zipf key (`window_lead` in SCALING.md; the single-hot-task sort
    # class salting cannot fix because order forbids salt splits). Both
    # LEADs run locally within (key, day); boundary trigrams stitch
    # from per-bucket first-2/last-2 summaries (a 3-bucket span forces
    # the middle bucket to exactly one event, so 2 rows per side always
    # suffice — operators/sequence.transition_trigrams_bucketed). The
    # oracle is the IDENTICAL plain single-window SQL (shared
    # _PATHS_ORACLE), i.e. an independent derivation of the stitch.
    oracle=_PATHS_ORACLE,
    description="Top-20 3-step event-type paths, skew-resistant form (r14): LEAD-2 locally within (user, day) buckets + boundary trigrams stitched from per-bucket first-2/last-2 summaries over the tiny per-key bucket window — value-identical to the plain single-window form (shared oracle text), with the hot key's one corpus-sized sort task split across its time buckets (plain form measured 12.3x wall at 64x under a 50%-mass Zipf key; see SCALING.md window_lead2_*)",
)
def events_top_transition_paths_bucketed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from ..operators.sequence import transition_trigrams_bucketed

    ev = load_events(spark, sf_dir)
    tri = transition_trigrams_bucketed(ev, bucket_size=86400)
    return (
        tri.select(F.concat_ws(">", "t0", "t1", "t2").alias("path"))
        .groupBy("path")
        .agg(F.count("*").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("path"))
        .limit(20)
    )


@query(
    "doc_simhash_hamming_histogram",
    # The TEXT-side twin of embeddings_similarity_histogram: the
    # distribution of pairwise SimHash hamming distances over
    # deterministic ring-offset pair samples (strides 1/17 on doc_id —
    # linear in the corpus, never all-pairs). A healthy diverse corpus
    # concentrates near bits/2 (random fingerprints); mass near 0 is
    # template/mirror flooding. Pure integers: xor + bit_count, exact
    # counts, round-half-up ppm.
    oracle=f"""
        WITH {_SQL_SIMHASH},
        pairs AS (
            SELECT s.step, bit_count(xor(a.simhash, b.simhash)) AS hamming
            FROM (SELECT UNNEST([1, 17]) AS step) s
            JOIN fp a ON TRUE
            JOIN fp b ON b.id = a.id + s.step
        ),
        cells AS (
            SELECT CAST(step AS BIGINT) AS step, CAST(hamming AS BIGINT) AS hamming,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM pairs GROUP BY 1, 2
        ),
        tot AS (SELECT step, CAST(SUM(n_pairs) AS BIGINT) AS t FROM cells GROUP BY step)
        SELECT c.step, c.hamming, c.n_pairs,
               (2000000 * c.n_pairs + t.t) // (2 * t.t) AS share_ppm
        FROM cells c JOIN tot t USING (step)
    """,
    description="Pairwise SimHash hamming-distance histogram over deterministic ring-offset pair samples (strides 1/17 — linear, never all-pairs): the TEXT-side mode-collapse/template-flood audit (healthy corpora concentrate near bits/2; mass near 0 is mirror flooding) — xor + bit_count pure integers, per-stride shares in round-half-up ppm",
)
def doc_simhash_hamming_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    fp = D.simhash_fingerprints(_docs(spark, sf_dir), bits=32).localCheckpoint(
        eager=False
    )  # both pair sides
    steps = spark.range(0, 1).selectExpr("explode(array(1, 17)) AS step")
    a = fp.crossJoin(F.broadcast(steps)).select(
        "step",
        F.col("simhash").alias("sa"),
        (F.col("id") + F.col("step")).alias("bid"),
    )
    b = fp.select(F.col("id").alias("bid"), F.col("simhash").alias("sb"))
    cells = (
        a.join(b, "bid")
        .select(
            F.col("step").cast("long").alias("step"),
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
            .cast("long")
            .alias("hamming"),
        )
        .groupBy("step", "hamming")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .localCheckpoint(eager=False)  # totals + final join
    )
    tot = cells.groupBy("step").agg(F.sum("n_pairs").alias("t"))
    return cells.join(F.broadcast(tot), "step").select(
        "step",
        "hamming",
        "n_pairs",
        F.expr("(2000000 * n_pairs + t) DIV (2 * t)").alias("share_ppm"),
    )
