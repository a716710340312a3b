"""Column-level text building blocks.

Covers the reference's normalization/tokenization surface (SURVEY.md §2.7
F6-F11 and §2.8 N1-N8) as pure `pyspark.sql.functions` expressions — JVM-side,
whole-stage-codegen friendly, no Python UDFs in the hot path.

Reference sites:
- tokenize on whitespace/punctuation: ScalaNotebooks/MovieSearchEngine.scala:114-118
- normalize (lowercase, strip non-alphanumeric): ScalaNotebooks/MovieSearchEngine.scala:59-63
- stop-word removal with custom case-insensitive list: ScalaNotebooks/MovieSearchEngine.scala:71-75
- entity cleanup regex: ScalaNotebooks/NamedEntitiesWordCount.scala:55-56
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Compact english stop-word list; stands in for the reference's StopWords.txt
# driver file (ScalaNotebooks/MovieSearchEngine.scala:38). Deterministic and
# mirrored verbatim into the DuckDB oracle SQL, so both sides agree.
STOP_WORDS = (
    "a",
    "an",
    "and",
    "are",
    "as",
    "at",
    "be",
    "but",
    "by",
    "for",
    "if",
    "in",
    "into",
    "is",
    "it",
    "no",
    "not",
    "of",
    "on",
    "or",
    "such",
    "that",
    "the",
    "their",
    "then",
    "there",
    "these",
    "they",
    "this",
    "to",
    "was",
    "will",
    "with",
)


def sql_stopword_list() -> str:
    """The stop-word list as a SQL literal, for oracle queries."""
    return "(" + ", ".join(f"'{w}'" for w in STOP_WORDS) + ")"


# Per-language stop-word PROFILES for the r12 language classifier
# (doc_language_id): the en-only hit-ratio gate leaked any non-English
# text containing incidental English stopwords ('in'/'was'/'an' are also
# German words, 'a'/'no' Spanish, 'a' French) — the leak
# doc_langid_confusion measures. Scoring every language's profile and
# taking the argmax closes that class. r13: the classifier tokenizes
# with `normalize_text(unicode=True)`, so accented forms (für, à, más)
# now SURVIVE tokenization and each list carries them; under the
# default ASCII normalizer they simply never match (the accented forms
# contain characters that tokenizer destroys), so adding them is
# value-neutral for any ASCII-tokenized consumer. Keep these tuples in
# sync with the oracle literals via `sql_lang_profile`.
LANG_STOP_PROFILES: dict[str, tuple[str, ...]] = {
    "en": STOP_WORDS,
    "de": (
        "der", "die", "das", "und", "ist", "nicht", "ein", "eine", "einer",
        "mit", "von", "zu", "den", "dem", "des", "im", "am", "auf", "als",
        "auch", "sich", "sie", "er", "ich", "wir", "ihr", "aber", "oder",
        "wenn", "nur", "noch", "bei", "nach", "aus", "wie", "war", "waren",
        "sind", "werden", "wird", "hat", "haben", "kann", "mehr", "schon",
        "dann", "doch", "hier", "alle", "durch",
        "für", "über", "können", "müssen", "würde", "während",
    ),
    "fr": (
        "le", "la", "les", "de", "des", "du", "un", "une", "et", "est",
        "que", "qui", "dans", "pour", "pas", "sur", "avec", "au", "aux",
        "ce", "cette", "ces", "il", "elle", "nous", "vous", "ils", "elles",
        "ne", "se", "son", "sa", "ses", "mais", "ou", "si", "plus", "par",
        "sont", "tout", "tous", "comme", "bien", "leur", "votre", "notre",
        "a",
        "à", "où", "être", "été", "déjà", "très", "après", "même",
    ),
    "es": (
        "el", "la", "los", "las", "de", "del", "un", "una", "unos", "unas",
        "y", "es", "que", "en", "no", "se", "por", "con", "para", "su",
        "sus", "al", "lo", "como", "pero", "este", "esta", "estos", "estas",
        "son", "fue", "ser", "hay", "muy", "o", "si", "ya", "cuando",
        "sobre", "entre", "sin", "me", "mi", "tu", "a",
        "sí", "más", "está", "también", "años", "después", "así",
    ),
}


def sql_lang_profile(lang: str) -> str:
    """One language's stop-word profile as a SQL literal (oracle twin of
    LANG_STOP_PROFILES)."""
    return "(" + ", ".join(f"'{w}'" for w in LANG_STOP_PROFILES[lang]) + ")"


# ---------------------------------------------------------------------------
# r13 Unicode domain extension (VERDICT r12 item 2).
#
# The default normalizer keeps the REFERENCE's exact character class
# (`[^a-z0-9]` — ScalaNotebooks/MovieSearchEngine.scala:59-63): every
# reference-parity operator (tfidf/search/entities/shingles) and its
# oracle stay byte-identical. The `unicode=True` mode widens the KEEP
# class with EXPLICIT BMP codepoint ranges rather than `\p{L}` —
# property classes resolve against each engine's bundled Unicode tables
# (Java 17 regex vs DuckDB's RE2) and can disagree on exotic codepoints,
# while literal ranges mean the same thing everywhere. Ranges are BMP
# only, so Spark's UTF-16 `length()` and DuckDB's codepoint `length()`
# also agree on every kept character (supplementary-plane characters —
# emoji, CJK ext B — are stripped by both engines before any counting).
#
# Case note: `lower()` agrees across engines on these ranges for SIMPLE
# case mappings, but two standard-Unicode special cases diverge and are
# neutralized explicitly in unicode mode (measured against DuckDB's
# utf8proc in the r13 probe):
#   - U+0130 (İ): Java/Python lower to "i"+U+0307 (combining dot) while
#     utf8proc lowers to plain "i"; the combining dot is outside every
#     keep range, so the un-neutralized normalizer would SPLIT the token
#     ("i stanbul" vs "istanbul"). Pre-mapping İ→I before lower() makes
#     both engines emit "i...".
#   - Greek final sigma: Java/Python lowercase Σ context-sensitively
#     (word-final → ς) while utf8proc always emits σ; post-mapping ς→σ
#     after lower() canonicalizes both engines to σ.
# (Locale caveat: Spark's non-ASCII lower() uses the JVM default locale;
# under a Turkish default locale I→ı would still diverge. The containers
# this runs in are POSIX/root locale.)
# ---------------------------------------------------------------------------

# (name, range-literal) per script block, in the classifier's fixed
# tie-break order. Latin-1/Extended letters ride with [a-z] in the KEEP
# class but are not a "script block" for the classifier — they back the
# accented de/fr/es stop-word profiles instead.
SCRIPT_BLOCKS: tuple[tuple[str, str], ...] = (
    ("arabic", "؀-ۿ"),
    ("cyrillic", "Ѐ-ӿ"),
    ("devanagari", "ऀ-ॿ"),
    ("greek", "Ͱ-Ͽ"),
    ("hangul", "가-힣"),
    ("hebrew", "֐-׿"),
    ("kana", "぀-ヿ"),
    ("han", "一-鿿"),
)

# Accented Latin letters (Latin-1 Supplement minus × ÷, Latin Extended-A/B).
LATIN_EXT_RANGES = "À-ÖØ-öø-ɏ"

UNICODE_KEEP_RANGES = LATIN_EXT_RANGES + "".join(r for _, r in SCRIPT_BLOCKS)

# The two normalizer character classes — shared VERBATIM with every
# oracle via sql_normalize() so both engines always run the same regex.
NORM_CLASS_ASCII = "[^a-z0-9]+"
NORM_CLASS_UNICODE = f"[^a-z0-9{UNICODE_KEEP_RANGES}]+"


def nfc_col(col: Column | str) -> Column:
    """Unicode NFC composition as an Arrow-batched Pandas UDF (r14,
    VERDICT r13 item 2 of "What's missing"): real crawl text mixes NFC
    and NFD encodings, and an NFD "für" (u + combining diaeresis)
    tokenizes differently from NFC "für" — the combining mark is outside
    every keep range, so the un-composed form SPLITS the token and
    misses the accented de/fr/es stop-word profiles. No JVM-side NFC
    expression exists in Spark SQL (java.text.Normalizer's Form enum is
    unreachable from `reflect`), so this is one of the repo's few
    sanctioned Python sites — Arrow batch transfer, unicodedata.normalize
    per value. The DuckDB oracle twin is utf8proc's `nfc_normalize(x)` —
    a genuinely independent second NFC implementation, which makes every
    query built on this column a cross-implementation differential
    (pinned by the r14 fuzz incl. NFC(NFD(x)) == NFC(x))."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):  # executor-shipped: self-contained, local imports only
        import unicodedata

        return s.map(
            lambda x: unicodedata.normalize("NFC", x) if x is not None else None
        )

    c = F.col(col) if isinstance(col, str) else col
    return _nfc(c)


def sql_nfc(expr: str) -> str:
    """DuckDB twin of :func:`nfc_col` (utf8proc NFC)."""
    return f"nfc_normalize({expr})"


def normalize_text(
    col: Column | str, unicode: bool = False, nfc: bool = False
) -> Column:
    """N4/F11: lowercase and collapse every non-alphanumeric run to a single
    space (ScalaNotebooks/MovieSearchEngine.scala:59-63). With
    ``unicode=True`` the keep-class widens to the explicit BMP script
    ranges above (accented Latin, Greek, Cyrillic, Hebrew, Arabic,
    Devanagari, kana, Han, Hangul) — the r13 domain extension the
    multilingual language gate runs on; the default stays bit-identical
    to the reference's ASCII normalizer. ``nfc=True`` (r14) composes the
    input to NFC first (see :func:`nfc_col`) so NFD crawl text reaches
    the accented profiles; it requires ``unicode=True`` — under the
    ASCII reference-parity normalizer composition would CHANGE reference
    semantics (NFD é survives as 'e', NFC é is stripped), so the combo
    is rejected loudly."""
    if nfc and not unicode:
        raise ValueError(
            "normalize_text(nfc=True) requires unicode=True: under the "
            "ASCII reference-parity normalizer, composing NFD input would "
            "change reference semantics (NFD é survives as 'e', NFC "
            "é is stripped)"
        )
    c = F.col(col) if isinstance(col, str) else col
    if nfc:
        c = nfc_col(c)
    if not unicode:
        return F.trim(F.regexp_replace(F.lower(c), NORM_CLASS_ASCII, " "))
    # İ→I→i BEFORE lower(): the İ special case (above) plus r14
    # locale-proofing (ADVICE r13) — Spark's non-ASCII lower() uses the
    # JVM default locale, and a Turkish default would map I→ı (dotless),
    # splitting parity with DuckDB's locale-free utf8proc. Pre-mapping
    # I→i means lower() never sees the one locale-sensitive codepoint;
    # value-identical under POSIX (lower('I')='i' either way).
    pre = F.regexp_replace(F.regexp_replace(c, "İ", "I"), "I", "i")
    low = F.regexp_replace(F.lower(pre), "ς", "σ")  # ς → σ
    return F.trim(F.regexp_replace(low, NORM_CLASS_UNICODE, " "))


def sql_normalize(expr: str, unicode: bool = False, nfc: bool = False) -> str:
    """DuckDB twin of :func:`normalize_text` — the SAME character class
    literal (and the same İ/ς neutralizations in unicode mode), so the
    two engines can never drift. ``nfc=True`` wraps the input in
    utf8proc's nfc_normalize (the independent twin of the Spark side's
    unicodedata Pandas UDF)."""
    if nfc and not unicode:
        raise ValueError("sql_normalize(nfc=True) requires unicode=True")
    if nfc:
        expr = sql_nfc(expr)
    if not unicode:
        return f"trim(regexp_replace(lower({expr}), '{NORM_CLASS_ASCII}', ' ', 'g'))"
    pre = f"regexp_replace(regexp_replace({expr}, 'İ', 'I', 'g'), 'I', 'i', 'g')"
    low = f"regexp_replace(lower({pre}), 'ς', 'σ', 'g')"
    return f"trim(regexp_replace({low}, '{NORM_CLASS_UNICODE}', ' ', 'g'))"


def tokens(
    col: Column | str,
    normalize: bool = True,
    unicode: bool = False,
    nfc: bool = False,
) -> Column:
    """F6/N3: normalized token array; empty strings filtered out
    (ScalaNotebooks/MovieSearchEngine.scala:114-118). ``unicode=True``
    tokenizes over the widened r13 keep-class; ``nfc=True`` composes NFD
    input first (see normalize_text — requires unicode mode)."""
    if (unicode or nfc) and not normalize:
        # ADVICE r13: the unicode flag only widens the NORMALIZER's
        # keep-class — on pre-normalized input it is a silent no-op, so
        # a caller expecting the widened domain must be told loudly.
        raise ValueError(
            "tokens(unicode=True, normalize=False): the unicode flag "
            "widens normalize_text's keep-class and has no effect when "
            "normalization is skipped — normalize the input with "
            "normalize_text(unicode=True) or drop the flag"
        )
    c = (
        normalize_text(col, unicode=unicode, nfc=nfc)
        if normalize
        else (F.col(col) if isinstance(col, str) else col)
    )
    return F.filter(F.split(c, r"\s+"), lambda t: F.length(t) > 0)


# ---------------------------------------------------------------------------
# r14 CJK-aware tokenization (VERDICT r13 "What's missing" item 1).
#
# Han and kana prose carries no word spaces, so the whitespace tokenizer
# degenerates: an entire sentence becomes ONE giant token, silently
# breaking every token-budget, shingle, and chunking computation the
# moment the r13 multilingual stack routes zh/ja sources into them. The
# standard fix from CJK information retrieval is CHARACTER BIGRAMS
# within each Han/kana run (a length-1 run emits its single character);
# every space-delimited script — Latin, Cyrillic, Greek, Hangul (Korean
# uses spaces), Arabic, Hebrew, Devanagari — stays word-split exactly
# as tokens(unicode=True) splits it. Hangul is deliberately NOT in the
# bigram class. The reference tokenizer (default tokens()) is untouched.
# ---------------------------------------------------------------------------

# Kana (U+3040-30FF) + Han (U+4E00-9FFF) — the whitespace-free scripts.
CJK_RANGES = "぀-ヿ一-鿿"


def tokens_cjk(col: Column | str, nfc: bool = False) -> Column:
    """CJK-aware token array: normalize with the unicode keep-class, split
    Han/kana runs out of the whitespace stream, then expand each run into
    character bigrams (len-1 runs emit the single char); all other tokens
    are identical to ``tokens(col, unicode=True)``. BMP-only ranges keep
    Spark's UTF-16 length()/substring() and DuckDB's codepoint semantics
    in exact agreement (pinned cross-engine in tests/test_r14_cjk.py).
    ``nfc=True`` composes NFD input first (see normalize_text)."""
    norm = normalize_text(col, unicode=True, nfc=nfc)
    spaced = F.regexp_replace(norm, f"([{CJK_RANGES}]+)", " $1 ")
    toks = F.filter(F.split(spaced, r"\s+"), lambda t: F.length(t) > 0)

    def _explode(t: Column) -> Column:
        bigrams = F.transform(
            F.sequence(F.lit(1), F.length(t) - 1),
            lambda i: F.substring(t, i, F.lit(2)),
        )
        # CASE branches evaluate lazily, so sequence(1, 0) (which would
        # step BACKWARD) is unreachable for length-1 runs.
        return (
            F.when(~t.rlike(f"^[{CJK_RANGES}]+$"), F.array(t))
            .when(F.length(t) == 1, F.array(t))
            .otherwise(bigrams)
        )

    return F.flatten(F.transform(toks, _explode))


def sql_tokens_cjk(expr: str, nfc: bool = False) -> str:
    """DuckDB twin of :func:`tokens_cjk` — the same normalize/space-out/
    split/bigram chain over the same literal ranges, as a list-valued SQL
    expression."""
    norm = sql_normalize(expr, unicode=True, nfc=nfc)
    spaced = f"regexp_replace({norm}, '([{CJK_RANGES}]+)', ' \\1 ', 'g')"
    return (
        "flatten(list_transform("
        f"list_filter(regexp_split_to_array({spaced}, '\\s+'), t -> t <> ''), "
        f"t -> CASE WHEN NOT regexp_matches(t, '^[{CJK_RANGES}]+$') THEN [t] "
        "WHEN length(t) = 1 THEN [t] "
        "ELSE list_transform(range(1, length(t)), i -> substr(t, i, 2)) END))"
    )


def remove_stopwords(token_col: Column, stop_words: tuple[str, ...] = STOP_WORDS) -> Column:
    """N6: case-insensitive stop-word removal (the reference's
    StopWordsCleaner is configured caseSensitive=false,
    ScalaNotebooks/MovieSearchEngine.scala:71-75). Duplicates and order of
    the surviving tokens are preserved (`filter`, not `array_except`)."""
    lowered = tuple(w.lower() for w in stop_words)
    return F.filter(token_col, lambda t: ~F.lower(t).isin(*lowered))


# N5 stemmer (ScalaNotebooks/MovieSearchEngine.scala:66-68 — the reference
# wires a Stemmer stage but leaves it commented out, so this operator is
# optional-by-definition; we ship it as a deterministic "Porter-light"
# suffix chain). Rules run IN ORDER, each at most once (patterns are
# $-anchored so only one match is possible); `<1>` marks a backreference,
# rendered `$1` for Spark's Java regex and `\1` for DuckDB's RE2 — both
# engines apply the identical chain, keeping stemmed queries
# oracle-checkable. Length guards (`.{3}`) stand in for Porter's measure
# condition: never strip a suffix that would leave a stem under 3 chars.
STEM_RULES: tuple[tuple[str, str], ...] = (
    (r"sses$", "ss"),
    (r"ies$", "i"),
    (r"([^s])s$", "<1>"),
    (r"(.{3})ing$", "<1>"),
    (r"(.{3})ed$", "<1>"),
    (r"(.{3})ly$", "<1>"),
)


def stem_light(col: Column | str) -> Column:
    """Apply the STEM_RULES suffix chain to a single token column."""
    c = F.col(col) if isinstance(col, str) else col
    for pat, repl in STEM_RULES:
        c = F.regexp_replace(c, pat, repl.replace("<1>", "$1"))
    return c


def sql_stem_light(expr: str) -> str:
    """DuckDB-side twin of :func:`stem_light` (RE2 backrefs use \\1)."""
    out = expr
    for pat, repl in STEM_RULES:
        out = f"regexp_replace({out}, '{pat}', '{repl.replace('<1>', chr(92) + '1')}')"
    return out


def portable_hash64(col: Column | str) -> Column:
    """Deterministic 60-bit hash computable identically in Spark and DuckDB:
    first 15 hex digits of md5, parsed base-16.

    Spark:  conv(substring(md5(x), 1, 15), 16, 10) :: bigint
    DuckDB: CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT)

    Used by MinHash/SimHash so the dedup operators are fully oracle-checkable.
    On the hot path at 100 TB scale you would swap in xxhash64 (cheaper,
    JVM-intrinsic); the md5 form exists for cross-engine verifiability.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("long")


def sql_portable_hash64(expr: str) -> str:
    """DuckDB-side twin of :func:`portable_hash64`."""
    return f"CAST(concat('0x', substr(md5(CAST({expr} AS VARCHAR)), 1, 15)) AS BIGINT)"


def portable_hash40(col: Column | str) -> Column:
    """40-bit variant (first 10 hex digits of md5) for arithmetic hashing:
    small enough that `a * h + b` stays far below 2^63 (Spark 4 runs in ANSI
    mode, where bigint overflow raises instead of wrapping)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 10), 16, 10).cast("long")
