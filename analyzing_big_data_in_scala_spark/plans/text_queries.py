"""Text-analytics queries: TF-IDF search family (SURVEY.md §2.11 1-6),
entity word count (§2.11 7), and the beyond-reference text-analysis
operators for training-data pipelines (token stats, quality score, lang id).

Tokenization semantics are identical on both sides: lowercase, collapse
non-alphanumeric runs to single spaces, split on whitespace, drop empties
(ScalaNotebooks/MovieSearchEngine.scala:59-63,114-118). The language-ID
family alone tokenizes over the r13 UNICODE domain (_SQL_TOKS_UNI /
`tokens(unicode=True)` — explicit BMP script ranges, İ/ς neutralized);
every reference-parity query keeps the reference's exact ASCII class.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import STOP_WORDS, sql_stem_light, sql_stopword_list, stem_light, tokens
from ..operators import tfidf as T
from ..operators.sequence import CORR_PPM_SQL as _SEQ_CORR_PPM_SQL
from ..operators.sequence import SLOPE_PPM_SQL as _SEQ_SLOPE_PPM_SQL
from ..sources.catalog import load_table
from .registry import query, shared

# DuckDB twin of functions.text.tokens(): one row per (doc_id, term).
_SQL_TOKS = r"""
toks AS (
    SELECT doc_id, t AS term
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array(
                   trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                   '\s+')) AS t
        FROM documents
    )
    WHERE t <> ''
)
"""

_SQL_TF = _SQL_TOKS + """,
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY doc_id, term)
"""


def _sql_quality() -> str:
    """Shared CTE chain ending in q(doc_id, quality) — the ONE SQL
    definition of the quality formula, used by the doc_quality_scores
    oracle and every threshold/filter oracle built on it (a second
    hand-maintained copy would silently keep checking an old formula
    after a weights/rounding tweak)."""
    return f"""{_SQL_TOKS},
        stats AS (
            SELECT doc_id,
                   COUNT(*) AS n_tokens,
                   CAST(COUNT(DISTINCT term) AS DOUBLE) / COUNT(*) AS uniq_ratio,
                   AVG(CASE WHEN term IN {sql_stopword_list()} THEN 1.0 ELSE 0.0 END) AS stop_ratio
            FROM toks GROUP BY doc_id
        ),
        q AS (
            SELECT d.doc_id AS doc_id,
                   ROUND(0.5 * LEAST(s.n_tokens / 100.0, 1.0)
                       + 0.25 * s.uniq_ratio
                       + 0.25 * LEAST(s.stop_ratio * 4, 1.0), 6) AS quality
            FROM documents d JOIN stats s ON d.doc_id = s.doc_id
        )"""


_SQL_TFIDF_CORE = _SQL_TF + """,
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
idf AS (SELECT term, ln(n.n / df) AS idf FROM dfreq, n),
tfidf AS (SELECT tf.doc_id, tf.term, tf.tf * idf.idf AS w
          FROM tf JOIN idf USING (term))
"""

QUERY_TERMS = ("spark", "merge", "window", "big")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


@query(
    "tfidf_term_frequencies",
    oracle=f"WITH {_SQL_TF} SELECT doc_id, term, tf FROM tf",
    description="TF per (doc, term): MovieSearchEngine.scala:111-135 as explode+groupBy",
)
def tfidf_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.term_frequencies(_docs(spark, sf_dir))


@query(
    "tfidf_doc_frequencies",
    oracle=f"WITH {_SQL_TF} SELECT term, COUNT(*) AS df FROM tf GROUP BY term",
    description="DF per term (docs containing term): MovieSearchEngine.scala:140-151",
)
def tfidf_doc_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.doc_frequencies(T.term_frequencies(_docs(spark, sf_dir)))


@query(
    "tfidf_idf",
    oracle=f"""
        WITH {_SQL_TF},
        n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term)
        SELECT term, ROUND(ln(n.n / df), 6) AS idf FROM dfreq, n
    """,
    description="IDF = ln(N/df): MovieSearchEngine.scala:156-163",
)
def tfidf_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    tf = T.term_frequencies(docs)
    idf = T.inverse_doc_frequencies(T.doc_frequencies(tf), docs.count())
    return idf.select("term", F.round("idf", 6).alias("idf"))


@query(
    "tfidf_matrix",
    oracle=f"WITH {_SQL_TFIDF_CORE} SELECT doc_id, term, ROUND(w, 6) AS tfidf FROM tfidf",
    description="TF-IDF = tf*idf via broadcast join: MovieSearchEngine.scala:168-187",
)
def tfidf_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = T.tfidf_matrix(_docs(spark, sf_dir))
    return m.select("doc_id", "term", F.round("tfidf", 6).alias("tfidf"))


@query(
    "search_single_word",
    oracle=f"""
        WITH {_SQL_TFIDF_CORE}
        SELECT doc_id, ROUND(w, 6) AS score
        FROM tfidf WHERE term = 'merge'
        ORDER BY score DESC, doc_id ASC
        LIMIT 10
    """,
    description="Single-word search, rank by tf-idf: MovieSearchEngine.scala:237-257",
)
def search_single_word(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.search_single_term(T.tfidf_matrix(_docs(spark, sf_dir)), "merge")


def _search_sql(reference_semantics: bool) -> str:
    values = ", ".join(f"('{t}')" for t in QUERY_TERMS)
    if reference_semantics:
        qn, dn = "SUM(qw*qw)", "SUM(w*w)"
    else:
        qn, dn = "sqrt(SUM(qw*qw))", "sqrt(SUM(w*w))"
    return f"""
        WITH {_SQL_TFIDF_CORE},
        q AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS qtf
              FROM (VALUES {values}) v(term) GROUP BY term),
        qvec AS (SELECT q.term, q.qtf * idf.idf AS qw FROM q JOIN idf USING (term)),
        qnorm AS (SELECT {qn} AS qn FROM qvec),
        dots AS (SELECT doc_id, SUM(w * qw) AS dot
                 FROM tfidf JOIN qvec USING (term) GROUP BY doc_id),
        norms AS (SELECT doc_id, {dn} AS nrm FROM tfidf GROUP BY doc_id)
        SELECT d.doc_id AS doc_id, ROUND(d.dot / (n.nrm * qnorm.qn), 6) AS score
        FROM dots d JOIN norms n USING (doc_id), qnorm
        ORDER BY score DESC, doc_id ASC
        LIMIT 10
    """


@query(
    "search_multi_word_cosine",
    oracle=_search_sql(reference_semantics=False),
    description="Multi-word search, true cosine similarity: MovieSearchEngine.scala:263-308 (corrected Q1)",
)
def search_multi_word_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.search_query(_docs(spark, sf_dir), list(QUERY_TERMS), reference_semantics=False)


@query(
    "search_multi_word_reference",
    oracle=_search_sql(reference_semantics=True),
    description="Multi-word search under quirk Q1 (dot / (Σw²·Σq²), no sqrt): MovieSearchEngine.scala:232,291-304",
)
def search_multi_word_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.search_query(_docs(spark, sf_dir), list(QUERY_TERMS), reference_semantics=True)


BATCH_QUERIES = (
    (1, "spark merge"),
    (2, "window big table"),
    (3, "customer"),
)


@query(
    "search_batch_queries",
    oracle=f"""
        WITH {_SQL_TFIDF_CORE},
        queries(query_id, query) AS (VALUES {", ".join(f"({i}, '{q}')" for i, q in BATCH_QUERIES)}),
        qtok AS (
            SELECT query_id, t AS term
            FROM (SELECT query_id,
                         unnest(regexp_split_to_array(trim(regexp_replace(lower(query), '[^a-z0-9]+', ' ', 'g')), '\\s+')) AS t
                  FROM queries)
            WHERE t <> ''
        ),
        qtf AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM qtok GROUP BY query_id, term),
        qvec AS (SELECT query_id, qtf.term, qtf.qtf * idf.idf AS qw FROM qtf JOIN idf USING (term)),
        qnorms AS (SELECT query_id, sqrt(SUM(qw*qw)) AS qn FROM qvec GROUP BY query_id),
        dots AS (SELECT query_id, doc_id, SUM(w * qw) AS dot
                 FROM tfidf JOIN qvec USING (term) GROUP BY query_id, doc_id),
        norms AS (SELECT doc_id, sqrt(SUM(w*w)) AS nrm FROM tfidf GROUP BY doc_id),
        scored AS (
            SELECT d.query_id AS query_id, d.doc_id AS doc_id,
                   ROUND(d.dot / (n.nrm * q.qn), 6) AS score
            FROM dots d JOIN norms n USING (doc_id) JOIN qnorms q USING (query_id)
        )
        SELECT query_id, doc_id, score, CAST(rank AS INT) AS rank FROM (
            SELECT query_id, doc_id, score,
                   ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
            FROM scored
        ) WHERE rank <= 10
    """,
    description="Batched multi-query search: N queries ranked in ONE plan (fixes §3.1 driver loop)",
)
def search_batch_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    qdf = spark.createDataFrame(list(BATCH_QUERIES), "query_id int, query string")
    return T.search_many(docs, qdf, top_k=10)


@query(
    "entity_word_count",
    oracle=f"""
        WITH {_SQL_TOKS}
        SELECT term AS word, COUNT(*) AS cnt
        FROM toks
        WHERE term NOT IN {sql_stopword_list()}
        GROUP BY term
        ORDER BY cnt DESC, word ASC
    """,
    description="NamedEntitiesWordCount contract (:50-77): normalize, drop stopwords, count desc",
)
def entity_word_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        T.token_table(docs).select(F.col("term").alias("word"))
        .filter(~F.col("word").isin(*STOP_WORDS))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
    )


@query(
    "tfidf_doc_frequencies_stemmed",
    oracle=f"""
        WITH {_SQL_TOKS},
        stems AS (SELECT DISTINCT doc_id, {sql_stem_light("term")} AS term FROM toks)
        SELECT term, COUNT(*) AS df FROM stems GROUP BY term
    """,
    description="N5 stemmer (MovieSearchEngine.scala:66-68, disabled there): Porter-light suffix chain before document frequency — conflates inflected variants into one indexed term",
)
def tfidf_doc_frequencies_stemmed(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    stems = (
        T.token_table(docs)
        .select("doc_id", stem_light(F.col("term")).alias("term"))
        # distinct AFTER stemming: two surface forms of one stem in the
        # same doc must count once toward df.
        .distinct()
    )
    return stems.groupBy("term").agg(F.count("*").alias("df"))


# ---------------------------------------------------------------------------
# Beyond-reference: text analysis for training-data pipelines (BASELINE.json
# north star). All pure JVM-side expressions; oracle-checked.
# ---------------------------------------------------------------------------

@query(
    "doc_token_stats",
    oracle=f"""
        WITH {_SQL_TOKS}
        SELECT doc_id,
               COUNT(*) AS n_tokens,
               COUNT(DISTINCT term) AS n_unique,
               ROUND(AVG(CAST(len(term) AS DOUBLE)), 6) AS avg_token_len
        FROM toks GROUP BY doc_id
    """,
    description="Token counting per document (whitespace tokenizer)",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        T.token_table(docs)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.countDistinct("term").alias("n_unique"),
            F.round(F.avg(F.length("term").cast("double")), 6).alias("avg_token_len"),
        )
    )


BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


@query(
    "doc_bpe_token_stats",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(regexp_extract_all(lower(text), '{BPE_ISH_PATTERN}')) AS tok
            FROM documents
        )
        SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_unique
        FROM toks GROUP BY doc_id
    """,
    description="BPE-ish regex token counting (letter runs / digit runs / symbol runs)",
)
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all(F.lower("text"), F.lit(BPE_ISH_PATTERN), 0)
            ).alias("tok"),
        )
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.countDistinct("tok").alias("n_unique"))
    )


@query(
    "doc_quality_scores",
    oracle=f"""
        WITH {_sql_quality()}
        SELECT doc_id, quality FROM q
    """,
    description="Heuristic quality score: length, lexical diversity, stopword ratio",
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    stats = (
        T.token_table(docs)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            (F.countDistinct("term").cast("double") / F.count("*")).alias("uniq_ratio"),
            F.avg(F.when(F.col("term").isin(*STOP_WORDS), 1.0).otherwise(0.0)).alias("stop_ratio"),
        )
    )
    quality = (
        0.5 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
        + 0.25 * F.col("uniq_ratio")
        + 0.25 * F.least(F.col("stop_ratio") * 4, F.lit(1.0))
    )
    return docs.select("doc_id").join(stats, "doc_id").select(
        "doc_id", F.round(quality, 6).alias("quality")
    )


@query(
    "doc_repetition_filters",
    # DuckDB re-derives every n-gram occurrence (list_slice over
    # generate_series) and the same conditional-aggregate metrics. The
    # gate compares ROUNDED fractions on both sides so the boolean is
    # bit-stable. NULLIF guards divide-by-zero the same way try_divide
    # does (fixture docs are all long enough, but the guard keeps the
    # pair semantically identical).
    oracle="""
        WITH tk AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+') AS toks
            FROM documents
        ),
        grams AS (
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
        counts AS (SELECT doc_id, n, gram, COUNT(*) AS c FROM grams GROUP BY doc_id, n, gram),
        stats AS (SELECT doc_id, n, SUM(c) AS total, MAX(c) AS top, COUNT(*) AS uniq
                  FROM counts GROUP BY doc_id, n),
        metrics AS (
            SELECT doc_id,
                   ROUND(MAX(CASE WHEN n = 1 THEN CAST(top AS DOUBLE) / NULLIF(total, 0) END), 6) AS top_unigram_frac,
                   ROUND(MAX(CASE WHEN n = 2 THEN CAST(top AS DOUBLE) / NULLIF(total, 0) END), 6) AS top_bigram_frac,
                   ROUND(MAX(CASE WHEN n = 3 THEN 1.0 - CAST(uniq AS DOUBLE) / NULLIF(total, 0) END), 6) AS dup_trigram_frac
            FROM stats GROUP BY doc_id
        )
        SELECT doc_id, top_unigram_frac, top_bigram_frac, dup_trigram_frac,
               COALESCE(top_unigram_frac > 0.30 OR top_bigram_frac > 0.18
                        OR dup_trigram_frac > 0.30, FALSE) AS repetitive
        FROM metrics
    """,
    description="Gopher-style repetition filters: top-unigram / top-bigram / duplicate-trigram fractions per doc + boilerplate gate flag — one explode, two hash aggregates, nothing quadratic",
)
def doc_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.repetition import repetition_stats

    return repetition_stats(_docs(spark, sf_dir))


def _pii_oracle() -> str:
    from ..operators.pii import sql_pii_scan

    exprs = sql_pii_scan("aug")
    return f"""
        WITH aug_docs AS (
            SELECT doc_id,
                   CASE CAST(doc_id % 3 AS INT)
                     WHEN 0 THEN text || ' reach me at user' || CAST(doc_id AS VARCHAR) || '@example.com'
                     WHEN 1 THEN text || ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1 call +1 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
                     ELSE text
                   END AS aug
            FROM documents
        )
        SELECT doc_id,
               CAST({exprs["n_email"]} AS INT) AS n_email,
               CAST({exprs["n_ipv4"]} AS INT) AS n_ipv4,
               CAST({exprs["n_phone"]} AS INT) AS n_phone,
               ({exprs["n_email"]} + {exprs["n_ipv4"]} + {exprs["n_phone"]}) > 0 AS has_pii,
               md5({exprs["redacted"]}) AS redacted_hash
        FROM aug_docs
    """


@query(
    "doc_pii_scan",
    oracle=_pii_oracle(),
    description="PII scan + redaction (emails / IPv4 / phone runs) with typed placeholders; the fixture corpus holds no natural PII, so a deterministic injection (same expression both engines) lights up every code path — counts, the has_pii gate, and the md5 of the fully redacted text",
)
def doc_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pii import pii_scan

    docs = _docs(spark, sf_dir)
    mod3 = (F.col("doc_id") % 3).cast("int")
    aug = (
        F.when(
            mod3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" reach me at user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        )
        .when(
            mod3 == 1,
            F.concat(
                F.col("text"),
                F.lit(" from 10."),
                (F.col("doc_id") % 200).cast("string"),
                F.lit(".0.1 call +1 555-01"),
                F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
            ),
        )
        .otherwise(F.col("text"))
    )
    return pii_scan(docs.select("doc_id", aug.alias("text")))


_URL_BLOCKLIST = [f"spam{i}.bad.example" for i in range(5)]


def _url_oracle() -> str:
    from ..operators.urls import sql_url_stats

    exprs = sql_url_stats(_URL_BLOCKLIST, "aug")
    return f"""
        WITH aug_docs AS (
            SELECT doc_id,
                   CASE CAST(doc_id % 4 AS INT)
                     WHEN 0 THEN text || ' see https://site' || CAST(doc_id % 50 AS VARCHAR)
                                 || '.example.com/p' || CAST(doc_id AS VARCHAR)
                                 || ' plus http://www.ref' || CAST(doc_id % 20 AS VARCHAR) || '.example.org/x'
                     WHEN 1 THEN text || ' visit https://spam' || CAST(doc_id % 5 AS VARCHAR) || '.bad.example/offer now'
                     ELSE text
                   END AS aug
            FROM documents
        )
        SELECT doc_id,
               CAST({exprs["n_urls"]} AS INT) AS n_urls,
               CAST({exprs["n_domains"]} AS INT) AS n_domains,
               {exprs["primary_domain"]} AS primary_domain,
               {exprs["blocked"]} AS blocked
        FROM aug_docs
    """


@query(
    "doc_url_domains",
    oracle=_url_oracle(),
    description="URL extraction + domain normalization (lowercase, www-stripped) + blocklist gate; the fixture corpus holds no natural URLs, so a deterministic injection (same expression both engines) exercises extraction, dedup, the lexicographic primary domain, and the blocked flag",
)
def doc_url_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.urls import url_stats

    docs = _docs(spark, sf_dir)
    mod4 = (F.col("doc_id") % 4).cast("int")
    aug = (
        F.when(
            mod4 == 0,
            F.concat(
                F.col("text"),
                F.lit(" see https://site"),
                (F.col("doc_id") % 50).cast("string"),
                F.lit(".example.com/p"),
                F.col("doc_id").cast("string"),
                F.lit(" plus http://www.ref"),
                (F.col("doc_id") % 20).cast("string"),
                F.lit(".example.org/x"),
            ),
        )
        .when(
            mod4 == 1,
            F.concat(
                F.col("text"),
                F.lit(" visit https://spam"),
                (F.col("doc_id") % 5).cast("string"),
                F.lit(".bad.example/offer now"),
            ),
        )
        .otherwise(F.col("text"))
    )
    return url_stats(docs.select("doc_id", aug.alias("text")), _URL_BLOCKLIST)


# Shared oracle fragment for the r13 multilingual classifier (script-block
# character signal over the r12 stop-word-profile argmax). INDEPENDENT
# derivation: unnest+GROUP BY over the unicode-domain token stream (the
# Spark side is map-only size(filter(...))), script counts via the same
# explicit-BMP-range regex literals, the same pure-BIGINT decision tree
# (mirrors operators/curation.py language_profile_table — script
# precedence, zh/ja kana split, unknown floor, en-then-alphabetical ties).
from ..functions.text import LATIN_EXT_RANGES as _LATIN_RANGES  # noqa: E402
from ..functions.text import SCRIPT_BLOCKS as _SCRIPT_BLOCKS  # noqa: E402
from ..functions.text import sql_lang_profile as _sql_lang_profile  # noqa: E402
from ..functions.text import sql_normalize as _sql_normalize  # noqa: E402
from ..functions.text import sql_tokens_cjk as _sql_tokens_cjk  # noqa: E402

# Unicode-domain token CTE (the langid family's tokenizer; the rest of the
# text queries keep the reference's ASCII _SQL_TOKS above).
_SQL_TOKS_UNI = f"""
toks AS (
    SELECT doc_id, t AS term
    FROM (
        SELECT doc_id,
               unnest(regexp_split_to_array({_sql_normalize("text", unicode=True)}, '\\s+')) AS t
        FROM documents
    )
    WHERE t <> ''
)
"""

_SQL_SCRIPT_COUNTS = ",\n".join(
    f"           CAST(length(regexp_replace(text, '[^{rng}]+', '', 'g')) AS BIGINT) AS c_{name}"
    for name, rng in _SCRIPT_BLOCKS
)

_SCRIPT_BEST = "GREATEST(s_ar, s_el, s_he, s_hi, s_ja, s_ko, s_ru, s_zh)"

_SQL_LANGID = f""",
scripts AS (
    SELECT doc_id,
           CAST(length(regexp_replace(text, '[^a-zA-Z{_LATIN_RANGES}]+', '', 'g')) AS BIGINT) AS c_latin,
{_SQL_SCRIPT_COUNTS}
    FROM documents
),
script_scores AS (
    SELECT doc_id,
           c_latin + c_arabic + c_cyrillic + c_devanagari + c_greek
               + c_hangul + c_hebrew + c_kana + c_han AS total_letters,
           CASE WHEN c_kana > 0 AND c_kana * 10 >= c_han + c_kana
                THEN c_han + c_kana ELSE 0 END AS s_ja,
           CASE WHEN c_kana > 0 AND c_kana * 10 >= c_han + c_kana
                THEN 0 ELSE c_han + c_kana END AS s_zh,
           c_arabic AS s_ar, c_greek AS s_el, c_hebrew AS s_he,
           c_devanagari AS s_hi, c_hangul AS s_ko, c_cyrillic AS s_ru
    FROM scripts
),
lang_counts AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN term IN {_sql_lang_profile("de")} THEN 1 ELSE 0 END) AS BIGINT) AS c_de,
           CAST(SUM(CASE WHEN term IN {_sql_lang_profile("en")} THEN 1 ELSE 0 END) AS BIGINT) AS c_en,
           CAST(SUM(CASE WHEN term IN {_sql_lang_profile("es")} THEN 1 ELSE 0 END) AS BIGINT) AS c_es,
           CAST(SUM(CASE WHEN term IN {_sql_lang_profile("fr")} THEN 1 ELSE 0 END) AS BIGINT) AS c_fr
    FROM toks GROUP BY doc_id
),
lang_pred AS (
    SELECT c.doc_id,
           CASE WHEN {_SCRIPT_BEST} > 0 AND {_SCRIPT_BEST} * 10 >= total_letters * 3 THEN
                    CASE WHEN s_ar = {_SCRIPT_BEST} THEN 'ar'
                         WHEN s_el = {_SCRIPT_BEST} THEN 'el'
                         WHEN s_he = {_SCRIPT_BEST} THEN 'he'
                         WHEN s_hi = {_SCRIPT_BEST} THEN 'hi'
                         WHEN s_ja = {_SCRIPT_BEST} THEN 'ja'
                         WHEN s_ko = {_SCRIPT_BEST} THEN 'ko'
                         WHEN s_ru = {_SCRIPT_BEST} THEN 'ru'
                         ELSE 'zh' END
                WHEN GREATEST(c_de, c_en, c_es, c_fr) * 20 < n THEN 'unknown'
                WHEN c_en = GREATEST(c_de, c_en, c_es, c_fr) THEN 'en'
                WHEN c_de = GREATEST(c_de, c_en, c_es, c_fr) THEN 'de'
                WHEN c_es = GREATEST(c_de, c_en, c_es, c_fr) THEN 'es'
                ELSE 'fr' END AS pred_lang,
           ROUND(CAST(c_en AS DOUBLE) / n, 6) AS en_ratio
    FROM lang_counts c JOIN script_scores s ON s.doc_id = c.doc_id
)
"""


@shared("doc_langid_profile")
def _langid_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classifier pass (language_profile_table) the three langid
    queries share: ~10 regex scans per doc, their dominant cost."""
    from ..operators.curation import language_profile_table

    return language_profile_table(_docs(spark, sf_dir))


@query(
    "doc_language_id",
    uses=("doc_langid_profile",),
    oracle=f"""
        WITH {_SQL_TOKS_UNI}{_SQL_LANGID}
        SELECT doc_id, pred_lang, en_ratio FROM lang_pred
    """,
    description="Multilingual language ID (r13, VERDICT r12 item 2): Unicode script-block character signal over raw text (CJK/kana/Hangul/Cyrillic/Arabic/Greek/Hebrew/Devanagari — survives any tokenizer, incl. whitespace-free zh) with >=30% letter-mass precedence and a kana>=10% zh/ja split, falling back to the en/de/fr/es stop-word-profile argmax over unicode-domain tokens (accented forms now in the profiles); MAP-ONLY plan — zero shuffles, every decision pure BIGINT (operators/curation.py language_profile_table; real zh/ru/ja separation pinned cross-engine in tests/test_r13_unicode.py)",
)
def doc_language_id(spark: SparkSession, sf_dir: str, doc_langid_profile: DataFrame) -> DataFrame:
    return doc_langid_profile


# Script blocks + latin in the dominance tie-break order (alphabetical by
# block name — a per-query contract, independent of the classifier's
# per-LANGUAGE order).
_MIX_SCRIPTS = (
    "arabic", "cyrillic", "devanagari", "greek", "han", "hangul",
    "hebrew", "kana", "latin",
)


@query(
    "doc_script_mix_by_source",
    # Per-source script composition — the ingestion dashboard for a
    # multilingual corpus (which sources feed the zh/ru mixers; a crawl
    # that suddenly flips script mix is a routing bug). Counts RAW-text
    # characters per Unicode script block (same explicit BMP ranges as
    # the classifier), so it works on whitespace-free scripts too.
    # n_docs_dominant = docs whose argmax block is this script
    # (alphabetical tie-break; zero-letter docs have no dominant).
    # Pure-BIGINT counts; share is round-half-up ppm of the source's
    # script-attributed chars.
    oracle=f"""
        WITH chars AS (
            SELECT source,
                   CAST(length(regexp_replace(text, '[^a-zA-Z{_LATIN_RANGES}]+', '', 'g')) AS BIGINT) AS c_latin,
{_SQL_SCRIPT_COUNTS}
            FROM documents
        ),
        unp AS (
            SELECT source, script, c FROM chars
            CROSS JOIN LATERAL (VALUES
                ('arabic', c_arabic), ('cyrillic', c_cyrillic),
                ('devanagari', c_devanagari), ('greek', c_greek),
                ('han', c_han), ('hangul', c_hangul), ('hebrew', c_hebrew),
                ('kana', c_kana), ('latin', c_latin)) v(script, c)
        ),
        dom AS (
            SELECT source,
                   CASE WHEN c_arabic = m THEN 'arabic'
                        WHEN c_cyrillic = m THEN 'cyrillic'
                        WHEN c_devanagari = m THEN 'devanagari'
                        WHEN c_greek = m THEN 'greek'
                        WHEN c_han = m THEN 'han'
                        WHEN c_hangul = m THEN 'hangul'
                        WHEN c_hebrew = m THEN 'hebrew'
                        WHEN c_kana = m THEN 'kana'
                        ELSE 'latin' END AS script
            FROM (SELECT *, GREATEST(c_arabic, c_cyrillic, c_devanagari,
                                     c_greek, c_han, c_hangul, c_hebrew,
                                     c_kana, c_latin) AS m
                  FROM chars)
            WHERE m > 0
        ),
        agg AS (
            SELECT source, script, CAST(SUM(c) AS BIGINT) AS n_chars
            FROM unp GROUP BY source, script
        ),
        domc AS (
            SELECT source, script, CAST(COUNT(*) AS BIGINT) AS n_docs_dominant
            FROM dom GROUP BY source, script
        ),
        tot AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS t
                FROM agg GROUP BY source)
        SELECT a.source, a.script,
               COALESCE(d.n_docs_dominant, 0) AS n_docs_dominant,
               a.n_chars,
               (2000000 * a.n_chars + t.t) // (2 * t.t) AS char_share_ppm
        FROM agg a
        LEFT JOIN domc d ON d.source = a.source AND d.script = a.script
        JOIN tot t ON t.source = a.source
        WHERE a.n_chars > 0
    """,
    description="Per-source Unicode script composition (the multilingual-ingestion dashboard: which sources feed which script mixers, and a crawl whose script mix flips is a routing bug): raw-text character counts per explicit BMP script block + Latin, per-source char shares in round-half-up ppm, and per-script dominant-doc counts (argmax block, alphabetical ties, zero-letter docs excluded) — one scan, one narrow unpivot, two tiny hash aggregates, pure BIGINT",
)
def doc_script_mix_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.curation import script_char_counts

    docs = _docs(spark, sf_dir)
    # chars feeds BOTH the share aggregate and the dominance aggregate:
    # without the lineage cut each consumer re-runs the 9-regex scan
    # projection (the multi-consumer re-plan trap — measured 5.1 s vs
    # the counting itself at 0.8 s on sf0.1); the cut frame is narrow
    # (source + 9 longs, no text).
    chars = docs.select("source", *script_char_counts("text")).localCheckpoint(
        eager=False
    )
    stack_expr = "stack({n}, {pairs}) AS (script, c)".format(
        n=len(_MIX_SCRIPTS),
        pairs=", ".join(f"'{s}', _c_{s}" for s in _MIX_SCRIPTS),
    )
    unp = chars.select("source", F.expr(stack_expr))
    agg = (
        unp.groupBy("source", "script")
        .agg(F.sum("c").cast("long").alias("n_chars"))
        .localCheckpoint(eager=False)  # share totals + final projection
    )
    m = F.greatest(*[F.col(f"_c_{s}") for s in _MIX_SCRIPTS])
    dom_label = F.coalesce(
        *[F.when(F.col(f"_c_{s}") == m, F.lit(s)) for s in _MIX_SCRIPTS]
    )
    domc = (
        chars.where(m > 0)
        .select("source", dom_label.alias("script"))
        .groupBy("source", "script")
        .agg(F.count("*").cast("long").alias("n_docs_dominant"))
    )
    tot = agg.groupBy("source").agg(F.sum("n_chars").alias("t"))
    return (
        agg.join(domc, ["source", "script"], "left")
        .join(F.broadcast(tot), "source")
        .where(F.col("n_chars") > 0)
        .select(
            "source",
            "script",
            F.coalesce("n_docs_dominant", F.lit(0)).cast("long").alias(
                "n_docs_dominant"
            ),
            "n_chars",
            F.expr("(2000000 * n_chars + t) DIV (2 * t)").alias(
                "char_share_ppm"
            ),
        )
    )


@query(
    "doc_nfc_audit",
    # r14 (VERDICT r13 item 3): the ingest-side NFC audit. Real crawl
    # text mixes NFC and NFD encodings; an NFD "für" (u + combining
    # diaeresis) splits out of the unicode tokenizer and misses the
    # accented de/fr/es stop-word profiles — this query measures how
    # much of each source is NFD-contaminated before a curation
    # pre-pass (functions/text.nfc_col) composes it. The two engines
    # run genuinely INDEPENDENT NFC implementations (Python's
    # unicodedata via an Arrow-batched Pandas UDF vs DuckDB's
    # utf8proc), so the value-hash compare is itself a
    # cross-implementation differential of the normalization.
    # chars_removed = len(text) - len(nfc(text)) is engine-exact for
    # BMP text (combining marks are BMP; surrogate-pair length
    # differences cancel in the subtraction as long as NFC leaves
    # supplementary chars alone — the same explicit-BMP contract as
    # every r13 script counter).
    oracle="""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN text <> nfc_normalize(text)
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_changed,
               CAST(SUM(length(text) - length(nfc_normalize(text))) AS BIGINT)
                   AS chars_removed
        FROM documents GROUP BY source
    """,
    description="Per-source NFC-contamination audit (r14 ingest hygiene: NFD crawl text splits accented tokens and misses the de/fr/es profiles until composed): docs whose text changes under Unicode NFC and the character count the composition removes — Spark side is an Arrow-batched unicodedata Pandas UDF (no JVM NFC expression exists), DuckDB side utf8proc nfc_normalize, so the hash compare doubles as a cross-implementation differential of NFC itself; one scan, one tiny hash aggregate",
)
def doc_nfc_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import nfc_col

    docs = _docs(spark, sf_dir)
    base = docs.select(
        "source",
        F.col("text"),
        nfc_col("text").alias("_nfc"),
    )
    return base.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(
            F.when(F.col("text") != F.col("_nfc"), 1).otherwise(0)
        ).cast("long").alias("n_docs_changed"),
        F.sum(F.length("text") - F.length("_nfc")).cast("long").alias(
            "chars_removed"
        ),
    )


@query(
    "doc_token_stats_by_script",
    # r14 (VERDICT r13 item 2): token-budget sanity per dominant script.
    # The whitespace tokenizer degenerates on whitespace-free Han/kana
    # prose (a sentence becomes ONE giant token), so token budgets,
    # shingles, and chunking are silently wrong for the zh/ja sources
    # the r13 multilingual stack now routes. This query measures exactly
    # that: per dominant-script doc bucket (argmax raw-char block,
    # alphabetical ties, 'none' when the doc has no letters), the token
    # count under the plain unicode tokenizer vs the CJK-aware bigram
    # tokenizer (functions/text.tokens_cjk) side by side, with the
    # blowup in round-half-up ppm. Latin buckets sit at exactly 1e6
    # (the two tokenizers agree off-CJK by construction); han/kana
    # buckets explode — the measured size of the budget error.
    oracle=f"""
        WITH stats AS (
            SELECT CAST(length(regexp_replace(text, '[^a-zA-Z{_LATIN_RANGES}]+', '', 'g')) AS BIGINT) AS c_latin,
{_SQL_SCRIPT_COUNTS},
                   CAST(len(list_filter(regexp_split_to_array({_sql_normalize("text", unicode=True)}, '\\s+'), t -> t <> '')) AS BIGINT) AS n_plain,
                   CAST(len({_sql_tokens_cjk("text")}) AS BIGINT) AS n_cjk
            FROM documents
        ),
        lab AS (
            SELECT CASE WHEN m = 0 THEN 'none'
                        WHEN c_arabic = m THEN 'arabic'
                        WHEN c_cyrillic = m THEN 'cyrillic'
                        WHEN c_devanagari = m THEN 'devanagari'
                        WHEN c_greek = m THEN 'greek'
                        WHEN c_han = m THEN 'han'
                        WHEN c_hangul = m THEN 'hangul'
                        WHEN c_hebrew = m THEN 'hebrew'
                        WHEN c_kana = m THEN 'kana'
                        ELSE 'latin' END AS script,
                   n_plain, n_cjk
            FROM (SELECT *, GREATEST(c_arabic, c_cyrillic, c_devanagari,
                                     c_greek, c_han, c_hangul, c_hebrew,
                                     c_kana, c_latin) AS m
                  FROM stats)
        )
        SELECT script,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_plain) AS BIGINT) AS tokens_plain,
               CAST(SUM(n_cjk) AS BIGINT) AS tokens_cjk,
               CASE WHEN SUM(n_plain) > 0
                    THEN (2000000 * CAST(SUM(n_cjk) AS BIGINT)
                          + CAST(SUM(n_plain) AS BIGINT))
                         // (2 * CAST(SUM(n_plain) AS BIGINT))
               END AS cjk_blowup_ppm
        FROM lab GROUP BY script
    """,
    description="Token-budget sanity per dominant Unicode script (r14): per dominant-script doc bucket (argmax raw-char block, alphabetical ties, 'none' for letterless docs), token counts under the plain unicode whitespace tokenizer vs the CJK-aware character-bigram tokenizer (functions/text.tokens_cjk — Han/kana runs emit char bigrams, all space-delimited scripts stay word-split), with the blowup in round-half-up ppm — the measured size of the token-budget error whitespace tokenization commits on whitespace-free zh/ja text; one scan, one tiny hash aggregate",
)
def doc_token_stats_by_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens, tokens_cjk
    from ..operators.curation import script_char_counts

    docs = _docs(spark, sf_dir)
    # One scan computes the 9 script-count regexes + both token arrays;
    # the dominance CASE below references every _c_ column ~3x, and
    # when()/otherwise is excluded from codegen subexpression
    # elimination — without the lineage cut projection collapse would
    # re-evaluate each regex per reference (the doc_script_mix_by_source
    # trap, measured 5.1 s vs 0.8 s on sf0.1). The cut frame is narrow
    # (11 longs, no text).
    stats = docs.select(
        *script_char_counts("text"),
        F.size(tokens("text", unicode=True)).cast("long").alias("n_plain"),
        F.size(tokens_cjk("text")).cast("long").alias("n_cjk"),
    ).localCheckpoint(eager=False)
    m = F.greatest(*[F.col(f"_c_{s}") for s in _MIX_SCRIPTS])
    dom_label = F.coalesce(
        *[F.when(F.col(f"_c_{s}") == m, F.lit(s)) for s in _MIX_SCRIPTS]
    )
    lab = stats.select(
        F.when(m > 0, dom_label).otherwise(F.lit("none")).alias("script"),
        "n_plain",
        "n_cjk",
    )
    return lab.groupBy("script").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_plain").cast("long").alias("tokens_plain"),
        F.sum("n_cjk").cast("long").alias("tokens_cjk"),
        F.when(
            F.sum("n_plain") > 0,
            F.call_function(
                "div",
                F.lit(2_000_000).cast("long") * F.sum("n_cjk").cast("long")
                + F.sum("n_plain").cast("long"),
                F.lit(2).cast("long") * F.sum("n_plain").cast("long"),
            ),
        ).alias("cjk_blowup_ppm"),
    )


@query(
    "doc_perplexity_proxy",
    # The corpus's own unigram distribution is the LM; both engines derive
    # counts, totals, per-occurrence ln(c/T), and the per-doc average from
    # the same token stream. exp/ln are evaluated on identical doubles;
    # rounding to 6 leaves ~1e-13 reassociation noise far below resolution.
    oracle=f"""
        WITH {_SQL_TOKS},
        counts AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
        tot AS (SELECT SUM(c) AS t FROM counts),
        occ AS (
            SELECT toks.doc_id,
                   ln(CAST(counts.c AS DOUBLE) / (SELECT t FROM tot)) AS lp
            FROM toks JOIN counts USING (term)
        ),
        per_doc AS (
            SELECT doc_id, COUNT(*) AS n_tokens, AVG(lp) AS alp
            FROM occ GROUP BY doc_id
        )
        SELECT d.doc_id,
               COALESCE(p.n_tokens, 0) AS n_tokens,
               ROUND(p.alp, 6) AS avg_logprob,
               ROUND(exp(-p.alp), 6) AS ppl_proxy
        FROM documents d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    """,
    description="Unigram-LM perplexity proxy per document (CCNet/Gopher-style quality signal): avg ln p(token) under the corpus's own unigram model, ppl = exp(-avg)",
)
def doc_perplexity_proxy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import doc_logprob_profile

    return doc_logprob_profile(_docs(spark, sf_dir))


@query(
    "corpus_pmi_collocations",
    # min_count >= 5 kills the hapax-pair pathology; the top-k cut orders
    # by the ROUNDED pmi then (w1, w2) so both engines slice identically.
    oracle=f"""
        WITH {_SQL_TOKS},
        tk AS (
            SELECT doc_id,
                   regexp_split_to_array(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+') AS toks
            FROM documents
        ),
        pairs AS (
            SELECT toks[i] AS w1, toks[i + 1] AS w2
            FROM tk, UNNEST(generate_series(1, len(toks) - 1)) t(i)
            WHERE len(toks) >= 2 AND toks[i] <> '' AND toks[i + 1] <> ''
        ),
        c2 AS (SELECT w1, w2, COUNT(*) AS n_pairs FROM pairs GROUP BY w1, w2),
        c1 AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
        n1 AS (SELECT SUM(c) AS v FROM c1),
        n2 AS (SELECT SUM(n_pairs) AS v FROM c2)
        SELECT w1, w2, n_pairs,
               ROUND(ln((CAST(n_pairs AS DOUBLE) / (SELECT v FROM n2))
                     / ((CAST(a.c AS DOUBLE) / (SELECT v FROM n1))
                        * (CAST(b.c AS DOUBLE) / (SELECT v FROM n1)))), 6) AS pmi
        FROM c2
        JOIN c1 a ON a.term = c2.w1
        JOIN c1 b ON b.term = c2.w2
        WHERE n_pairs >= 5
        ORDER BY pmi DESC, w1 ASC, w2 ASC
        LIMIT 50
    """,
    description="Phrase mining: top-50 adjacent-pair collocations by PMI (ln(p(pair)/(p(w1)p(w2))), min pair count 5) — tokenizer-vocab / phrase-table signal over the corpus",
)
def corpus_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.lm import pmi_collocations

    return pmi_collocations(_docs(spark, sf_dir), min_count=5, topk=50)


@query(
    "documents_quality_topfrac",
    # Threshold-equality is float-SAFE by construction: the interpolated
    # p75 either falls strictly BETWEEN two adjacent round-6 quality
    # values (no doc's value lies in that open interval, so last-ulp
    # noise in the threshold cannot flip any comparison) or lands exactly
    # ON a tied data value (bit-identical on both engines). Spark
    # `percentile` and DuckDB `quantile_cont` share the linear-
    # interpolation definition (proven green in events_value_quartiles).
    oracle=f"""
        WITH {_sql_quality()},
        thr AS (SELECT quantile_cont(quality, 0.75) AS t FROM q)
        SELECT doc_id, quality FROM q WHERE quality >= (SELECT t FROM thr)
    """,
    description="Global-threshold quality curation: keep the top quartile of docs by corpus-relative quality (threshold = exact p75 as an in-plan 1-row broadcast, no driver round-trip). Exact percentile for oracle parity at test scale; at 10^10 docs swap percentile_approx (bounded GK sketch) into the identical plan shape",
)
def documents_quality_topfrac(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = doc_quality_scores(spark, sf_dir)
    thr = scored.agg(F.percentile("quality", F.lit(0.75)).alias("_t"))
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("quality") >= F.col("_t"))
        .select("doc_id", "quality")
    )


@query(
    "corpus_zipf_slope",
    # Zipf heavy-tail audit per source — the log-log slope of the term
    # rank-frequency curve (natural text sits near -1; synthetic fills,
    # boilerplate floods, and template spam bend it): OLS over
    # (ln rank, ln freq) with BOTH logs quantized to e4 integers PER
    # TERM (ln is not correctly rounded IEEE — one rounding site per
    # term, the bm25 recipe), then the five exact-BIGINT sums feed the
    # shared SLOPE/CORR trees (slope is unit-free: the e4 scales
    # cancel). Rank windows are PARTITIONED by source over the
    # vocab-sized frequency table — never the token stream.
    oracle="""
        WITH toks AS (
            SELECT source, t AS term
            FROM (
                SELECT source,
                       unnest(regexp_split_to_array(
                           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')),
                           '\\s+')) AS t
                FROM documents
            )
            WHERE t <> ''
        ),
        freq AS (
            SELECT source, term, COUNT(*) AS f FROM toks GROUP BY 1, 2
        ),
        ranked AS (
            SELECT source,
                   CAST(ROUND(LN(CAST(ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY f DESC, term ASC) AS DOUBLE)) * 10000)
                        AS BIGINT) AS x,
                   CAST(ROUND(LN(CAST(f AS DOUBLE)) * 10000) AS BIGINT) AS y,
                   f
            FROM freq
        ),
        stats AS (
            SELECT source,
                   COUNT(*) AS n,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(y) AS BIGINT) AS sy,
                   CAST(SUM(x * y) AS BIGINT) AS sxy,
                   CAST(SUM(x * x) AS BIGINT) AS sxx,
                   CAST(SUM(y * y) AS BIGINT) AS syy,
                   CAST(SUM(f) AS BIGINT) AS total_tokens
            FROM ranked GROUP BY source
        )
        SELECT source, n AS n_terms, total_tokens,
               {slope} AS slope_ppm,
               {corr} AS corr_ppm
        FROM stats
    """.format(slope=_SEQ_SLOPE_PPM_SQL, corr=_SEQ_CORR_PPM_SQL),
    description="Zipf rank-frequency slope per source (heavy-tail audit: natural text ~ -1e6 ppm; synthetic fills and template floods bend it): per-(source, term) count, source-PARTITIONED rank window over the vocab-sized frequency table (never the token stream), per-term e4-quantized logs (one ln rounding site per term — the bm25 recipe), exact BIGINT sufficient statistics into the shared SLOPE/CORR trees",
)
def corpus_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.sequence import CORR_PPM_SQL, SLOPE_PPM_SQL

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    toks = docs.select(
        "source", F.explode(tokens("text")).alias("term")
    )
    freq = toks.groupBy("source", "term").agg(F.count("*").alias("f"))
    w = Window.partitionBy("source").orderBy(F.desc("f"), F.asc("term"))
    ranked = (
        freq.select("source", "term", "f", F.row_number().over(w).alias("rk"))
        .select(
            "source",
            F.expr("CAST(ROUND(LN(CAST(rk AS DOUBLE)) * 10000) AS BIGINT)").alias("x"),
            F.expr("CAST(ROUND(LN(CAST(f AS DOUBLE)) * 10000) AS BIGINT)").alias("y"),
            "f",
        )
    )
    stats = ranked.groupBy("source").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum("f").alias("total_tokens"),
    )
    return stats.select(
        "source",
        F.col("n").alias("n_terms"),
        "total_tokens",
        F.expr(SLOPE_PPM_SQL).alias("slope_ppm"),
        F.expr(CORR_PPM_SQL).alias("corr_ppm"),
    )


@query(
    "doc_langid_confusion",
    uses=("doc_langid_profile",),
    # The fixture's `lang` column is GROUND TRUTH, so the heuristic
    # language gate gets a real evaluation: the confusion matrix of
    # actual language vs the stopword-ratio prediction, with each cell's
    # share of its actual-language row in round-half-up ppm — the
    # measurement that tells a curation pipeline how much non-English
    # text the 'en' gate lets through (zh/de/fr/es rows predicted 'en')
    # and how much English it drops. Only docs with >= 1 token are
    # evaluated (the tokenizer's domain — identical on both engines).
    oracle=f"""
        WITH {_SQL_TOKS_UNI}{_SQL_LANGID},
        j AS (
            SELECT d.lang, p.pred_lang
            FROM lang_pred p JOIN documents d USING (doc_id)
        ),
        cells AS (
            SELECT lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
            FROM j GROUP BY 1, 2
        ),
        tot AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS t FROM cells GROUP BY lang)
        SELECT c.lang, c.pred_lang, c.n,
               (2000000 * c.n + t.t) // (2 * t.t) AS share_ppm
        FROM cells c JOIN tot t USING (lang)
    """,
    description="Language-ID evaluation against the fixture's ground-truth lang column: confusion matrix of actual vs the r13 Unicode classifier's prediction (script-block signal over the stop-word-profile argmax) with per-actual-language cell shares in round-half-up ppm (the 'how much zh/de/fr/es leaks through the en gate' audit); one token aggregate + a documents join + two tiny hash aggregates. NOTE the synthetic fixture's text is language-signal-free (all lang labels share one 31-term vocabulary), so this matrix measures the gate's behavior on signal-free input; the classifier's real zh/ru/ja/accented separation is pinned cross-engine on a genuine multilingual micro-fixture in tests/test_r13_unicode.py",
)
def doc_langid_confusion(spark: SparkSession, sf_dir: str, doc_langid_profile: DataFrame) -> DataFrame:
    preds = doc_langid_profile.select("doc_id", "pred_lang")
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    cells = (
        preds.join(docs, "doc_id")
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=False)  # 2 consumers: totals + final join
    )
    tot = cells.groupBy("lang").agg(F.sum("n").alias("t"))
    return cells.join(F.broadcast(tot), "lang").select(
        "lang",
        "pred_lang",
        "n",
        F.expr("(2000000 * n + t) DIV (2 * t)").alias("share_ppm"),
    )


@query(
    "doc_language_mix_by_source",
    uses=("doc_langid_profile",),
    # The language classifier turned downstream curation dial: each
    # source's predicted-language composition (which feeds pick the
    # multilingual mixer, which sources are en-only) with per-source
    # shares in round-half-up ppm. Zero-token docs are outside the
    # tokenizer's domain on both engines (identical exclusion).
    oracle=f"""
        WITH {_SQL_TOKS_UNI}{_SQL_LANGID},
        j AS (
            SELECT d.source, p.pred_lang
            FROM lang_pred p JOIN documents d USING (doc_id)
        ),
        cells AS (
            SELECT source, pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM j GROUP BY 1, 2
        ),
        tot AS (SELECT source, CAST(SUM(n_docs) AS BIGINT) AS t
                FROM cells GROUP BY source)
        SELECT c.source, c.pred_lang, c.n_docs,
               (2000000 * c.n_docs + t.t) // (2 * t.t) AS share_ppm
        FROM cells c JOIN tot t USING (source)
    """,
    description="Per-source predicted-language mix (the curation mixer's composition dial, fed by the r13 Unicode classifier — script-block signal over the stop-word-profile argmax): language_profile_table joined to the source dimension, two tiny hash aggregates, per-source shares in round-half-up ppm — pure BIGINT finalize",
)
def doc_language_mix_by_source(spark: SparkSession, sf_dir: str, doc_langid_profile: DataFrame) -> DataFrame:
    preds = doc_langid_profile.select("doc_id", "pred_lang")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    cells = (
        preds.join(src, "doc_id")
        .groupBy("source", "pred_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .localCheckpoint(eager=False)  # totals + final join
    )
    tot = cells.groupBy("source").agg(F.sum("n_docs").alias("t"))
    return cells.join(F.broadcast(tot), "source").select(
        "source",
        "pred_lang",
        "n_docs",
        F.expr("(2000000 * n_docs + t) DIV (2 * t)").alias("share_ppm"),
    )


@query(
    "corpus_vocab_growth",
    # Heaps'-law vocabulary-growth curve: distinct vocabulary vs corpus
    # size at 10 checkpoints along the ingestion key (cutoffs are VALUE
    # fractions of the doc_id range — a pure per-row predicate, never a
    # global rank sort). Each term contributes at its FIRST document
    # (min doc_id), so the cumulative vocabulary at a cutoff is one
    # filter over the vocab-sized first-occurrence table; natural
    # corpora bend like V ~ k·N^b with b≈0.4–0.6 — a synthetic fill's
    # flat vocabulary is the tell. Pure integers end to end.
    oracle=f"""
        WITH {_SQL_TOKS},
        bounds AS (SELECT MIN(doc_id) AS mn, MAX(doc_id) AS mx FROM documents),
        spine AS (
            SELECT i, mn + ((mx - mn) * i) // 10 AS cutoff
            FROM bounds, UNNEST(generate_series(1, 10)) t(i)
        ),
        per_doc AS (SELECT doc_id, COUNT(*) AS nt FROM toks GROUP BY doc_id),
        first_occ AS (SELECT term, MIN(doc_id) AS fd FROM toks GROUP BY term),
        doc_stats AS (
            SELECT s.i, s.cutoff,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(p.nt) AS BIGINT) AS n_tokens
            FROM spine s JOIN per_doc p ON p.doc_id <= s.cutoff
            GROUP BY s.i, s.cutoff
        ),
        vocab AS (
            SELECT s.i, CAST(COUNT(*) AS BIGINT) AS vocab
            FROM spine s JOIN first_occ f ON f.fd <= s.cutoff
            GROUP BY s.i
        )
        SELECT CAST(d.i AS INT) AS checkpoint, CAST(d.cutoff AS BIGINT) AS cutoff_id,
               d.n_docs, d.n_tokens, v.vocab
        FROM doc_stats d JOIN vocab v ON v.i = d.i
    """,
    description="Heaps'-law vocabulary-growth curve (distinct vocabulary vs corpus size at 10 ingestion-key checkpoints — synthetic fills and template floods flatten the curve natural text bends at V~k*N^0.5): cutoffs are doc_id-range VALUE fractions (per-row predicates, never a global rank sort); per-term first-occurrence aggregate + vocab-sized filters; pure BIGINT",
)
def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = T.token_table(docs).localCheckpoint(eager=False)  # 2 aggregates
    bounds = docs.agg(
        F.min("doc_id").alias("_mn"), F.max("doc_id").alias("_mx")
    )
    spine = (
        spark.range(1, 11)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "i",
            F.expr("_mn + ((_mx - _mn) * i) DIV 10").alias("cutoff"),
        )
        .localCheckpoint(eager=False)  # both checkpoint joins
    )
    per_doc = toks.groupBy("doc_id").agg(F.count("*").alias("nt"))
    first_occ = toks.groupBy("term").agg(F.min("doc_id").alias("fd"))
    doc_stats = (
        spine.join(per_doc, per_doc.doc_id <= spine.cutoff)
        .groupBy("i", "cutoff")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("nt").cast("long").alias("n_tokens"),
        )
    )
    vocab = (
        spine.join(first_occ, first_occ.fd <= spine.cutoff)
        .groupBy("i")
        .agg(F.count("*").cast("long").alias("vocab"))
    )
    return doc_stats.join(vocab, "i").select(
        F.col("i").alias("checkpoint"),
        F.col("cutoff").cast("long").alias("cutoff_id"),
        "n_docs",
        "n_tokens",
        "vocab",
    )
