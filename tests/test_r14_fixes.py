"""Unit pins for the round-14 ADVICE fixes (ADVICE.md r13, items 1-4):

1. tokens(unicode=True, normalize=False) now raises instead of silently
   ignoring the flag.
2. corpus_temperature_mixture gains a plain-Python math.pow differential
   on the fixture's ACTUAL n_docs values (the ln-site differential
   pattern) so a platform where Java Math.pow's 1-ulp slack crosses the
   e6 ROUND half-boundary shows up as a red test, not silent drift.
3. The unicode normalizer's locale-proofing pre-map (İ→I→i before
   lower(), both engines) is VALUE-IDENTICAL under the POSIX locale —
   pinned against the pre-r14 Python brute force AND cross-engine.
4. The sampled-recall oracle's import-time pin now also rejects a WHERE
   or comma-join directly after a bare `FROM documents` (the shapes
   whose textual surgery would emit invalid double-WHERE SQL).

Item 5's bench fallback flag went with the bench's factory layer; the
shared-input graph that replaced it is pinned in
tests/test_shared_inputs.py.
"""

from __future__ import annotations

import math
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL
from tests.oracle_check import compare


def test_tokens_unicode_without_normalize_raises(spark):
    from analyzing_big_data_in_scala_spark.functions.text import tokens

    with pytest.raises(ValueError, match="unicode=True, normalize=False"):
        tokens("text", normalize=False, unicode=True)
    # The three legal combinations still build a Column.
    assert tokens("text") is not None
    assert tokens("text", normalize=False) is not None
    assert tokens("text", unicode=True) is not None


def test_temperature_weights_match_python_pow(spark):
    """ADVICE r13 item 2: recompute the temperature weights with Python's
    math.pow (a THIRD pow implementation beside Java Math.pow and DuckDB's
    libm) for the fixture's actual per-source counts. All three must agree
    after the e6 round-half-up quantization — if any platform's 1-ulp pow
    slack ever crosses a half boundary, this differential goes red."""
    from analyzing_big_data_in_scala_spark.plans import QUERIES

    got = {
        r["source"]: (r["n_docs"], r["share_ppm"], r["w03_ppm"], r["w07_ppm"])
        for r in QUERIES["corpus_temperature_mixture"].fn(spark, SF_SMALL).collect()
    }
    assert got, "fixture produced no sources"

    counts = {src: vals[0] for src, vals in got.items()}

    def q(n: int, alpha: float) -> int:  # e6 round-half-up quantization
        return int(math.floor(math.pow(float(n), alpha) * 1_000_000 + 0.5))

    t = sum(counts.values())
    t03 = sum(q(n, 0.3) for n in counts.values())
    t07 = sum(q(n, 0.7) for n in counts.values())
    for src, n in counts.items():
        expect = (
            n,
            (2_000_000 * n + t) // (2 * t),
            (2_000_000 * q(n, 0.3) + t03) // (2 * t03),
            (2_000_000 * q(n, 0.7) + t07) // (2 * t07),
        )
        assert got[src] == expect, (src, got[src], expect)


def test_unicode_normalizer_locale_premap_value_identical(spark):
    """ADVICE r13 item 3: the r14 locale-proofing (I pre-mapped to i so
    Spark's locale-sensitive lower() never sees it) must change NOTHING
    under POSIX: engine output == the pre-r14 brute force
    (replace İ→I, lower, replace ς→σ, split on the keep-class) — and the
    two engines must still agree on the same strings."""
    from analyzing_big_data_in_scala_spark.functions.text import (
        NORM_CLASS_UNICODE,
        normalize_text,
        sql_normalize,
    )

    strings = [
        "İstanbul IS big. TITLE CASE Iill",
        "Iı İi III ΚΟΣΜΟΣ ΑΣ τις",
        "MIXED Iİ tokens WITH I alone",
        "ПРИВЕТ Мир I İ",
    ]
    got = [
        r["norm"]
        for r in spark.createDataFrame([(i, s) for i, s in enumerate(strings)], "i int, text string")
        .orderBy("i")
        .select(normalize_text("text", unicode=True).alias("norm"))
        .collect()
    ]
    # Pre-r14 semantics, POSIX locale: İ→I, then locale-free str.lower().
    brute = [
        re.sub(NORM_CLASS_UNICODE, " ",
               s.replace("İ", "I").lower().replace("ς", "σ")).strip()
        for s in strings
    ]
    assert got == brute
    # Cross-engine: DuckDB runs the updated shared literal.
    con = duckdb.connect()
    for s, g in zip(strings, got):
        (o,) = con.execute(
            f"SELECT {sql_normalize('?', unicode=True)}", [s]
        ).fetchone()
        assert o == g, (s, o, g)


def test_recall_oracle_pin_rejects_where_and_comma_shapes():
    """ADVICE r13 item 4: the import-time pin's new shape check. The live
    oracle must NOT match; the two unsound-surgery shapes must."""
    from analyzing_big_data_in_scala_spark.plans.pipeline_queries import (
        _RECALL_ORACLE,
    )

    pat = re.compile(r"FROM documents\s*(WHERE|,)")
    assert not pat.search(_RECALL_ORACLE)
    assert pat.search("SELECT 1 FROM documents WHERE x = 1")
    assert pat.search("SELECT 1 FROM documents\n  WHERE x = 1")
    assert pat.search("SELECT 1 FROM documents, other")

