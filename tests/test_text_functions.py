"""Text building-block + NER + multimodal + streaming tests."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from analyzing_big_data_in_scala_spark.functions.text import (
    normalize_text,
    portable_hash40,
    portable_hash64,
    tokens,
)
from analyzing_big_data_in_scala_spark.operators import entities as E
from analyzing_big_data_in_scala_spark.operators import multimodal as MM


def test_normalize_and_tokenize(spark):
    df = spark.createDataFrame([("Hello, WORLD!! 42  ok",)], "text string")
    row = df.select(
        normalize_text("text").alias("n"), tokens("text").alias("t")
    ).first()
    assert row.n == "hello world 42 ok"
    assert row.t == ["hello", "world", "42", "ok"]


def test_tokens_drop_empties(spark):
    df = spark.createDataFrame([("...",), ("",), ("a",)], "text string")
    rows = [r.t for r in df.select(tokens("text").alias("t")).collect()]
    assert rows == [[], [], ["a"]]


def test_portable_hash_matches_duckdb(spark):
    import duckdb

    df = spark.createDataFrame([("abc",), ("xyz 123",)], "s string")
    got = {
        r.s: (r.h64, r.h40)
        for r in df.select(
            "s", portable_hash64("s").alias("h64"), portable_hash40("s").alias("h40")
        ).collect()
    }
    con = duckdb.connect()
    for s, (h64, h40) in got.items():
        o64, o40 = con.execute(
            "SELECT CAST(concat('0x', substr(md5(?), 1, 15)) AS BIGINT),"
            "       CAST(concat('0x', substr(md5(?), 1, 10)) AS BIGINT)",
            [s, s],
        ).fetchone()
        assert (h64, h40) == (o64, o40)


def test_capitalized_entity_extraction(spark):
    df = spark.createDataFrame(
        [("Sherlock Holmes met Dr Watson in London yesterday",)], "text string"
    )
    ents = df.select(E.extract_capitalized_entities("text").alias("e")).first().e
    assert "Sherlock Holmes" in ents
    assert "London" in ents
    assert "yesterday" not in " ".join(ents)


def test_entity_counts_cleanup_pipeline(spark):
    docs = spark.createDataFrame(
        [("London! London, Paris.",), ("the London",)], "text string"
    )
    out = E.entity_counts(docs, F.split(F.col("text"), " "))
    rows = {r.entity: r.cnt for r in out.collect()}
    # punctuation stripped, lowercased, stop word 'the' dropped
    assert rows == {"london": 3, "paris": 1}


def test_multimodal_features_match_hashlib(spark):
    docs = spark.createDataFrame([(7, "hello world")], "doc_id long, text string")
    row = MM.payload_features(MM.documents_as_binary(docs)).first()
    h = hashlib.md5(b"hello world").hexdigest()
    assert row.n_bytes == 11
    assert row.content_hash == h
    assert row.fake_width == int(h[:4], 16) % 1024
    assert row.fake_height == int(h[4:8], 16) % 1024


def test_decode_image_is_real_ppm_parser():
    """decode_image is REAL as of r9 (hand-rolled binary-PPM parser): a
    known 2x2 image decodes to exact integer stats, header comments are
    skipped, and malformed payloads fail loudly (wrong magic, 2-byte
    maxval, truncated raster) rather than mis-parsing."""
    # 2x2 RGB: pixels (R,G,B) = (10,20,30) (40,50,60) (70,80,90) (200,0,255)
    raster = bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 200, 0, 255])
    ppm = b"P6\n# comment in header\n2 2\n255\n" + raster
    assert MM.decode_image(ppm) == {
        "width": 2,
        "height": 2,
        "n_pixels": 4,
        "sum_r": 10 + 40 + 70 + 200,
        "sum_g": 20 + 50 + 80 + 0,
        "sum_b": 30 + 60 + 90 + 255,
        "peak": 255,
    }
    with pytest.raises(ValueError, match="not a binary PPM"):
        MM.decode_image(b"P5\n2 2\n255\n" + raster)
    with pytest.raises(ValueError, match="1-byte samples"):
        MM.decode_image(b"P6\n2 2\n65535\n" + raster * 2)
    with pytest.raises(ValueError, match="raster truncated"):
        MM.decode_image(b"P6\n2 2\n255\n" + raster[:-1])


def test_resize_ppm_nearest_neighbor_round_trips():
    """resize_ppm is REAL (r9): nearest-neighbor downscale/upscale matches
    the integer source-index map, and the output is a well-formed P6 that
    round-trips through decode_image."""
    # 2x1 source: left pixel (1,2,3), right pixel (9,8,7).
    src = b"P6\n2 1\n255\n" + bytes([1, 2, 3, 9, 8, 7])
    up = MM.resize_ppm(src, 4, 2)
    feats = MM.decode_image(up)
    assert (feats["width"], feats["height"]) == (4, 2)
    # sx for x in 0..3 over src_w=2: x*2//4 -> 0,0,1,1; both rows identical.
    want_row = bytes([1, 2, 3, 1, 2, 3, 9, 8, 7, 9, 8, 7])
    assert up.endswith(want_row + want_row)
    down = MM.resize_ppm(src, 1, 1)  # sx = 0 -> left pixel survives
    assert MM.decode_image(down) == {
        "width": 1, "height": 1, "n_pixels": 1,
        "sum_r": 1, "sum_g": 2, "sum_b": 3, "peak": 3,
    }
    with pytest.raises(ValueError, match="positive"):
        MM.resize_ppm(src, 0, 1)


def test_decode_audio_is_real():
    # decode_audio is REAL as of r8 (stdlib wave): round-trip a known WAV.
    import array
    import io
    import wave

    samples = array.array("h", [0, 1000, -1000, 7])
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(samples.tobytes())
    feats = MM.decode_audio(buf.getvalue())
    assert feats == {
        "n_channels": 1,
        "sample_rate": 8000,
        "n_frames": 4,
        "sum_sq": 1000 * 1000 * 2 + 49,
        "peak": 1000,
    }
    # Unsupported sample width fails loudly, never mis-parses.
    buf8 = io.BytesIO()
    with wave.open(buf8, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(1)
        w.setframerate(8000)
        w.writeframes(b"\x00\x01")
    with pytest.raises(ValueError, match="16-bit"):
        MM.decode_audio(buf8.getvalue())


def test_audio_features_decode_synthesized_corpus(spark):
    """End-to-end real-decode path: synth_wav_payloads -> audio_features
    equals decode_audio applied per payload (the Arrow batch path and the
    scalar decoder agree), and the synthesized arithmetic matches the
    oracle formula."""
    ids = spark.createDataFrame([(0,), (5,), (63,), (127,)], "doc_id long")
    wavs = {r.doc_id: bytes(r.payload) for r in MM.synth_wav_payloads(ids).collect()}
    got = {r.doc_id: r for r in MM.audio_features(MM.synth_wav_payloads(ids)).collect()}
    for d, payload in wavs.items():
        want = MM.decode_audio(payload)
        r = got[d]
        assert (r.n_channels, r.sample_rate, r.n_frames, r.sum_sq, r.peak) == (
            want["n_channels"], want["sample_rate"], want["n_frames"],
            want["sum_sq"], want["peak"],
        )
        n = 64 + d % 64
        assert r.n_frames == n
        assert r.sum_sq == sum((((d * 31 + i * 7) % 2001) - 1000) ** 2 for i in range(n))


def test_image_features_decode_synthesized_corpus(spark):
    """End-to-end real image decode (the audio test's twin): the Arrow
    batch path (synth_ppm_payloads -> image_features) equals the scalar
    decode_image per payload, and the synthesized arithmetic matches the
    oracle formula (channel-c sample at flat pixel p of doc d is
    (d*31 + p*7 + c*5) % 256 over a (4 + d%13) x (3 + d%11) raster)."""
    ids = spark.createDataFrame([(0,), (5,), (12,), (142,)], "doc_id long")
    ppms = {r.doc_id: bytes(r.payload) for r in MM.synth_ppm_payloads(ids).collect()}
    got = {r.doc_id: r for r in MM.image_features(MM.synth_ppm_payloads(ids)).collect()}
    for d, payload in ppms.items():
        want = MM.decode_image(payload)
        r = got[d]
        assert (r.width, r.height, r.n_pixels, r.sum_r, r.sum_g, r.sum_b, r.peak) == (
            want["width"], want["height"], want["n_pixels"],
            want["sum_r"], want["sum_g"], want["sum_b"], want["peak"],
        )
        w, h = 4 + d % 13, 3 + d % 11
        assert (r.width, r.height) == (w, h)
        assert r.sum_g == sum((d * 31 + p * 7 + 5) % 256 for p in range(w * h))
        # resize round-trip on real corpus bytes: 1x1 keeps pixel p=0.
        one = MM.decode_image(MM.resize_ppm(payload, 1, 1))
        assert one["sum_r"] == (d * 31) % 256


def test_stream_batch_equivalence(spark):
    """SURVEY.md §5.6: the streamed windowed aggregate equals the batch
    computation over the same fixture."""
    from analyzing_big_data_in_scala_spark.sources.catalog import load_events
    from analyzing_big_data_in_scala_spark.streaming import stream as ST

    sf = "/root/testdata/sf0.001"
    streamed = ST.run_available_now(
        ST.windowed_counts(ST.events_stream(spark, sf))
    ).collect()
    ev = load_events(spark, sf)
    batch = (
        ev.groupBy(
            F.floor(F.unix_timestamp("ts") / 600).cast("long").alias("bucket"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .collect()
    )
    assert sorted(map(tuple, streamed)) == sorted(map(tuple, batch))


def test_sentiment_labels(spark):
    from analyzing_big_data_in_scala_spark.streaming.stream import sentiment_label

    df = spark.createDataFrame(
        [("fast and big",), ("slow error mess",), ("plain words",)], "text string"
    )
    rows = [r.s for r in df.select(sentiment_label(F.col("text")).alias("s")).collect()]
    assert rows == ["POSITIVE", "NEGATIVE", "NEUTRAL"]


def test_frame_samples_shape_and_determinism(spark):
    docs = spark.createDataFrame(
        [(1, "0123456789abcdef"), (2, "xy")], "doc_id long, text string"
    )
    frames = MM.frame_samples(MM.documents_as_binary(docs), n_frames=4).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r.doc_id, []).append((r.frame_idx, r.frame_hash))
    assert len(by_doc[1]) == 4  # 16 bytes -> 4 frames
    assert len(by_doc[2]) == 2  # 2 bytes -> capped at payload length
    again = MM.frame_samples(MM.documents_as_binary(docs), n_frames=4).collect()
    assert sorted(map(tuple, frames)) == sorted(map(tuple, again))


def test_remove_stopwords_case_insensitive(spark):
    from analyzing_big_data_in_scala_spark.functions.text import remove_stopwords

    df = spark.createDataFrame([(["The", "fox", "AND", "dog", "the"],)], "t array<string>")
    out = df.select(remove_stopwords(F.col("t")).alias("r")).first().r
    assert out == ["fox", "dog"]


def test_stem_light_spark_duckdb_parity(spark):
    import duckdb

    from analyzing_big_data_in_scala_spark.functions.text import (
        sql_stem_light,
        stem_light,
    )

    words = [
        "studies", "running", "sing", "stresses", "ties", "was", "is", "ss",
        "s", "quickly", "fly", "tried", "red", "agreed", "classes", "miss",
        "dogs", "passes", "analysis", "windows", "merged", "merges", "merging",
    ]
    got = [
        r.s
        for r in spark.createDataFrame([(w,) for w in words], "w string")
        .select(stem_light("w").alias("s"))
        .collect()
    ]
    con = duckdb.connect()
    want = [con.execute(f"SELECT {sql_stem_light('?')}", [w]).fetchone()[0] for w in words]
    assert got == want
    # Spot-pin a few so a same-bug-both-sides regression can't hide.
    pinned = dict(zip(words, got))
    assert pinned["studies"] == "studi"
    assert pinned["running"] == "runn"
    assert pinned["sing"] == "sing"      # length guard: 3-char stem too short
    assert pinned["stresses"] == "stress"
    assert pinned["dogs"] == "dog"
    assert pinned["miss"] == "miss"      # trailing ss is preserved


def test_repetition_stats_flags_repetitive_docs(spark):
    from analyzing_big_data_in_scala_spark.operators.repetition import repetition_stats

    docs = spark.createDataFrame(
        [
            # 10x the same token: top_unigram_frac 1.0, every trigram equal.
            (1, "spam " * 10),
            # All-distinct tokens: no repetition on any metric.
            (2, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
            # Too short for trigrams: dup_trigram_frac must be NULL, not 0/err.
            (3, "one two"),
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert rows[1].top_unigram_frac == 1.0
    assert rows[1].dup_trigram_frac == pytest.approx(1 - 1 / 8)
    assert rows[1].repetitive is True
    assert rows[2].top_unigram_frac == pytest.approx(0.1)
    assert rows[2].dup_trigram_frac == 0.0
    assert rows[2].repetitive is False
    assert rows[3].dup_trigram_frac is None
    assert rows[3].top_bigram_frac == 1.0  # single bigram dominates trivially
    assert rows[3].repetitive is True  # 1.0 > 0.18 on the bigram gate


def test_pii_scan_counts_and_redacts(spark):
    from analyzing_big_data_in_scala_spark.operators.pii import pii_scan, redact_text

    docs = spark.createDataFrame(
        [
            (1, "mail bob.smith+spam@corp.example.co.uk or alice@ex.io today"),
            (2, "server 192.168.001.1 and 10.0.0.7 up"),
            (3, "call +1 555-0100 2398 now"),
            (4, "nothing sensitive here"),
            # An email whose local part is digits must not leak a phone hit.
            (5, "x 12345678901@digits.example.com y"),
        ],
        "doc_id int, text string",
    )
    rows = {r.doc_id: r for r in pii_scan(docs).collect()}
    assert (rows[1].n_email, rows[1].n_ipv4, rows[1].n_phone) == (2, 0, 0)
    assert (rows[2].n_email, rows[2].n_ipv4, rows[2].n_phone) == (0, 2, 0)
    assert rows[3].n_phone == 1 and rows[3].has_pii
    assert rows[4].has_pii is False
    assert (rows[5].n_email, rows[5].n_phone) == (1, 0)

    red = {
        r.doc_id: r.red
        for r in docs.select("doc_id", redact_text("text").alias("red")).collect()
    }
    assert red[1] == "mail <EMAIL> or <EMAIL> today"
    assert red[2] == "server <IP> and <IP> up"
    assert red[3] == "call <PHONE> now"
    assert red[5] == "x <EMAIL> y"


def test_url_stats_extraction_and_blocklist(spark):
    from analyzing_big_data_in_scala_spark.operators.urls import url_stats

    docs = spark.createDataFrame(
        [
            # Mixed case + www + repeated domain + path noise.
            (1, "read HTTPS://Example.COM/a and https://www.example.com/b?q=1 ok"),
            (2, "bad link https://spam.bad.example/x inline"),
            (3, "no links at all"),
            # Scheme required: bare domains must not match.
            (4, "see example.org or ftp://old.example.net/file"),
        ],
        "doc_id int, text string",
    )
    rows = {
        r.doc_id: r
        for r in url_stats(docs, blocklist=["spam.bad.example"]).collect()
    }
    # regexp matches are case-sensitive on the scheme: HTTPS:// is not
    # matched (Java and RE2 agree), so doc 1 yields one URL.
    assert (rows[1].n_urls, rows[1].n_domains) == (1, 1)
    assert rows[1].primary_domain == "example.com"  # lowercased + www-stripped
    assert rows[1].blocked is False
    assert rows[2].blocked is True and rows[2].n_urls == 1
    assert rows[3].n_urls == 0 and rows[3].primary_domain is None
    assert rows[4].n_urls == 0  # no scheme, no match


def test_doc_logprob_profile_hand_computed(spark):
    import math
    from analyzing_big_data_in_scala_spark.operators.lm import doc_logprob_profile

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "b c"), (3, "")],
        "doc_id long, text string",
    )
    # counts: a=2, b=2, c=1, T=5
    out = {r.doc_id: r for r in doc_logprob_profile(docs).collect()}
    assert out[1].n_tokens == 3
    assert out[1].avg_logprob == round(math.log(2 / 5), 6)
    assert out[1].ppl_proxy == 2.5  # exp(-ln 0.4) = 2.5
    assert out[2].n_tokens == 2
    assert out[2].avg_logprob == round((math.log(2 / 5) + math.log(1 / 5)) / 2, 6)
    assert out[2].ppl_proxy == round(1 / math.sqrt(0.08), 6)
    assert out[3].n_tokens == 0 and out[3].avg_logprob is None and out[3].ppl_proxy is None


def test_pmi_collocations_hand_computed(spark):
    import math
    from analyzing_big_data_in_scala_spark.operators.lm import pmi_collocations

    docs = spark.createDataFrame(
        [(1, "new york new york new york")],
        "doc_id long, text string",
    )
    # bigrams: (new,york)x3, (york,new)x2 -> N2=5; unigrams new=3 york=3 N1=6
    rows = pmi_collocations(docs, min_count=2, topk=10).collect()
    assert [(r.w1, r.w2, r.n_pairs) for r in rows] == [
        ("new", "york", 3),
        ("york", "new", 2),
    ]
    assert rows[0].pmi == round(math.log((3 / 5) / (0.5 * 0.5)), 6)
    assert rows[1].pmi == round(math.log((2 / 5) / (0.5 * 0.5)), 6)


def test_bpe_merges_greedy_order_and_overlap(spark):
    """Known micro-corpus: pair counts decide merge order with (count desc,
    pair asc) tie-break, and overlapping chains merge left-to-right."""
    from pyspark.sql import functions as F

    from analyzing_big_data_in_scala_spark.operators.bpe import (
        apply_merge,
        bpe_merge_table,
    )

    docs = spark.createDataFrame(
        # 'abab' x3 and 'ab' x2: pair counts a-b=8(?), b-a=3 ... the exact
        # winner matters less than determinism; assert full table below.
        [(1, "abab abab abab ab ab")],
        "doc_id long, text string",
    )
    rules = [tuple(r) for r in bpe_merge_table(docs, n_merges=2).collect()]
    # 'abab': pairs ab(2), ba(1); corpus: ab = 3*2 + 2*1 = 8, ba = 3.
    assert rules[0][:4] == (1, "a", "b", "ab") and rules[0][4] == 8
    # After merging ab: 'abab' -> 'ab ab', 'ab' -> 'ab'; best pair now
    # 'ab ab' with count 3.
    assert rules[1][:4] == (2, "ab", "ab", "abab") and rules[1][4] == 3

    # Overlap semantics: merging (a,a) over 'a a a' keeps the greedy
    # left-to-right result 'aa a'; over 'a a a a' -> 'aa aa'.
    row = spark.range(1).select(
        apply_merge(F.lit("a a a"), "a", "a").alias("x"),
        apply_merge(F.lit("a a a a"), "a", "a").alias("y"),
        apply_merge(F.lit("b a b a b"), "a", "b").alias("z"),
    ).first()
    assert row.x == "aa a"
    assert row.y == "aa aa"
    assert row.z == "b ab ab"  # both (a,b) occurrences merge (2-pass)


def test_bpe_segment_round_trip(spark):
    """Segmenting with the trained rules: pieces always concatenate back
    to the word, and words containing trained merges actually use them."""
    from pyspark.sql import functions as F

    from analyzing_big_data_in_scala_spark.operators.bpe import (
        bpe_merge_table,
        bpe_segment,
    )
    from analyzing_big_data_in_scala_spark.plans.pipeline_queries import _docs

    docs = _docs(spark, "/root/testdata/sf0.001").limit(50)
    rules = bpe_merge_table(docs, n_merges=4)
    merges = [(r.left, r.right) for r in rules.orderBy("step").collect()]
    assert len(merges) == 4
    seg = bpe_segment(docs, merges)
    bad = seg.filter(F.concat_ws("", F.col("pieces")) != F.col("word")).count()
    assert bad == 0
    # At least one word got a multi-char piece (the merges did something).
    assert seg.filter(
        F.exists(F.col("pieces"), lambda p: F.length(p) >= 2)
    ).count() > 0
