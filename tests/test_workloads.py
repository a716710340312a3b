"""End-to-end workload parity tests: each reference program's dataflow run
through analyzing_big_data_in_scala_spark.workloads on micro-fixtures,
including the S1-S5/S9 source/sink surface (text, TSV, header CSV,
comment-skipping CSV, CSV write)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from analyzing_big_data_in_scala_spark import workloads as W
from analyzing_big_data_in_scala_spark.operators import graph as G
from analyzing_big_data_in_scala_spark.operators import ml as M
from analyzing_big_data_in_scala_spark.sources.catalog import read_csv, read_text


@pytest.fixture(scope="module")
def corpus_files(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    (d / "plots.txt").write_text(
        "101 a dragon burns the castle and the knight fights the dragon\n"
        "102 a knight rides to the castle under the moon\n"
        "103 the chef cooks a wonderful meal tonight\n"
    )
    (d / "meta.tsv").write_text(
        "101\tf1\tDragon Movie\t2001\t\t\t\t\t\n"
        "102\tf2\tKnight Movie\t2002\t\t\t\t\t\n"
        "103\tf3\tChef Movie\t2003\t\t\t\t\t\n"
    )
    (d / "edges.tsv").write_text(
        "# comment line to skip\n1\t2\n2\t3\n1\t3\n3\t4\n"
    )
    return d


def test_s1_s2_sources_and_q2_framing(spark, corpus_files):
    lines = read_text(spark, str(corpus_files / "plots.txt"))  # S1
    assert lines.columns == ["value"]
    docs = W.parse_id_text_lines(lines)
    got = {r.doc_id: r.text for r in docs.collect()}
    assert set(got) == {"101", "102", "103"}
    assert got["103"] == "the chef cooks a wonderful meal tonight"

    meta = read_csv(  # S2: TSV + positional toDF rename
        spark,
        str(corpus_files / "meta.tsv"),
        sep="\t",
        column_names=["id", "freebase_id", "name", "release_date", "c4", "c5", "c6", "c7", "c8"],
    )
    assert meta.count() == 3 and meta.columns[2] == "name"


def test_s5_comment_csv(spark, corpus_files):
    edges = read_csv(  # S5: comment-skipping TSV edge list
        spark,
        str(corpus_files / "edges.tsv"),
        sep="\t",
        comment="#",
        column_names=["src", "dst"],
    )
    assert edges.count() == 4


def test_movie_search_engine_end_to_end(spark, corpus_files):
    docs = W.parse_id_text_lines(read_text(spark, str(corpus_files / "plots.txt")))
    meta = read_csv(
        spark,
        str(corpus_files / "meta.tsv"),
        sep="\t",
        column_names=["doc_id", "freebase_id", "name", "d", "c4", "c5", "c6", "c7", "c8"],
    ).select("doc_id", "name")
    results = W.movie_search_engine(docs, meta, ["dragon", "knight castle"])

    single = results["dragon"].collect()
    assert single[0].name == "Dragon Movie"  # tf=2 beats tf=0 elsewhere

    multi = {r.name: r.score for r in results["knight castle"].collect()}
    assert "Knight Movie" in multi and "Dragon Movie" in multi
    assert "Chef Movie" not in multi  # shares no query terms
    assert multi["Knight Movie"] > multi["Dragon Movie"]


def test_named_entities_word_count_end_to_end(spark):
    prose = spark.createDataFrame(
        [
            ("Sherlock Holmes and Watson walked. Holmes smiled!",),
            ("Watson met Sherlock Holmes in London.",),
        ],
        "text string",
    )
    counts = {r.entity: r.cnt for r in W.named_entities_word_count(prose).collect()}
    assert counts["sherlock holmes"] == 2
    assert counts["watson"] == 2
    assert counts["holmes"] == 1
    assert counts["london"] == 1


def test_epinions_graph_analysis_end_to_end(spark, corpus_files, tmp_path):
    edges = read_csv(
        spark,
        str(corpus_files / "edges.tsv"),
        sep="\t",
        comment="#",
        column_names=["src", "dst"],
    ).select(F.col("src").cast("long"), F.col("dst").cast("long"))
    out_dir = str(tmp_path / "epinions_out")
    results = W.epinions_graph_analysis(edges, out_dir=out_dir)

    assert {r.id: r.out_degree for r in results["out_degrees"].collect()}[1] == 2
    tri = {r.id: r.triangles for r in results["triangle_counts"].collect()}
    assert tri == {1: 1, 2: 1, 3: 1}
    comp_sizes = [r.size for r in results["component_sizes"].collect()]
    assert comp_sizes == [4]  # one component of 4 vertices

    # S9 sink round-trip: header CSV written per analysis
    back = read_csv(spark, os.path.join(out_dir, "out_degrees"), header=True)
    assert back.count() == len(results["out_degrees"].collect())


FLIGHTS = [
    ("10", "AAA", "20", "BBB"),
    ("20", "BBB", "30", "CCC"),
    ("30", "CCC", "10", "AAA"),
    ("10", "AAA", "30", "CCC"),
    ("10", "AAA", "30", "CCC"),  # parallel flight (Q5)
]
FLIGHTS_SCHEMA = "ORIGIN_AIRPORT_ID string, ORIGIN string, DEST_AIRPORT_ID string, DEST string"


def test_airport_pagerank_matches_reference_mode_operator(spark):
    """Differential test: the faithful PageRank.scala workload must produce
    the same numbers as graph.pagerank(reference_semantics=True) on the
    equivalent edge list (both implement quirks Q3-Q5)."""
    flights = spark.createDataFrame(FLIGHTS, FLIGHTS_SCHEMA)
    wl = {r.code: r.pageRank for r in W.airport_pagerank(flights, max_iterations=5).collect()}

    edges = flights.select(
        F.col("ORIGIN_AIRPORT_ID").alias("src"), F.col("DEST_AIRPORT_ID").alias("dst")
    )
    op = {
        r.id: r.pagerank
        for r in G.pagerank(edges, max_iterations=5, reference_semantics=True).collect()
    }
    code_of = {"10": "AAA", "20": "BBB", "30": "CCC"}
    assert set(wl) == {code_of[i] for i in op}
    for i, code in code_of.items():
        if i in op:
            assert wl[code] == pytest.approx(op[i], rel=1e-12)


def test_graph_workloads_leave_the_session_cache_empty(spark, corpus_files):
    """The graph workloads cut lineage with lazy localCheckpoints, which are
    reclaimed with their DataFrames; a .cache() would stay in the session's
    cache manager after the call. The cache is cleared first because the
    test session is shared with other tests."""
    spark.catalog.clearCache()
    edges = read_csv(
        spark, str(corpus_files / "edges.tsv"), sep="\t", comment="#", column_names=["src", "dst"]
    ).select(F.col("src").cast("long"), F.col("dst").cast("long"))
    for df in W.epinions_graph_analysis(edges).values():
        df.collect()
    W.airport_pagerank(spark.createDataFrame(FLIGHTS, FLIGHTS_SCHEMA), max_iterations=3).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_classification_metrics_leave_the_session_cache_empty(spark):
    """The metrics' confusion matrix feeds three aggregates through a lazy
    localCheckpoint, which is reclaimed with its DataFrame; a .cache()
    would stay in the session's cache manager after the call."""
    spark.catalog.clearCache()
    preds = spark.createDataFrame(
        [(0.0, 0.0), (1.0, 1.0), (1.0, 0.0)], "label double, prediction double"
    )
    assert len(M.classification_metrics(preds).collect()) == 2
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_airline_sentiment_pipeline_single_model(spark):
    """Pipeline stages M1-M6 + metrics M9 on a tiny labeled set (CV grid is
    exercised by the ml_sentiment_metrics query; here a single fit keeps the
    suite fast)."""
    labeled = spark.createDataFrame(
        [
            ("great flight wonderful crew", "positive"),
            ("awful delay terrible service", "negative"),
            ("the flight was fine", "neutral"),
            ("loved the wonderful service", "positive"),
            ("terrible awful experience", "negative"),
            ("it was a flight", "neutral"),
            ("null", "neutral"),  # must be filtered (:38)
        ],
        "text string, sentiment string",
    )
    clean = labeled.filter(F.col("text") != "null")
    model = M.build_pipeline(num_features=64).fit(clean)
    preds = model.transform(clean)
    metrics = M.classification_metrics(preds).collect()
    assert len(metrics) == 3
    for row in metrics:
        assert 0.0 <= row.precision <= 1.0 and 0.0 <= row.recall <= 1.0
    # single in-sample fit on separable toy data should be near-perfect
    cm = M.confusion_matrix(preds)
    diag = cm.filter(F.col("label") == F.col("prediction")).agg(F.sum("cnt")).first()[0]
    assert diag == clean.count()


def test_full_cv_grid_reference_parity(spark):
    """M7/M8 full parity: the registered full-grid query must search the
    reference's complete 3x3x2x2 = 36-combo grid x 2 folds
    (AirlineSentimentAnalysis.scala:72-85) and produce the 3-class metric
    table. Runs at sf0.001 (~1 min): the grid SIZE is the parity claim,
    not the data volume."""
    from analyzing_big_data_in_scala_spark.plans import QUERIES
    from pyspark.ml.tuning import CrossValidator

    seen_grid_sizes = []
    orig_fit = CrossValidator.fit

    def spy_fit(self, dataset):
        seen_grid_sizes.append(len(self.getEstimatorParamMaps()))
        return orig_fit(self, dataset)

    CrossValidator.fit = spy_fit
    try:
        rows = QUERIES["ml_sentiment_metrics_full_grid"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
    finally:
        CrossValidator.fit = orig_fit
    assert seen_grid_sizes == [36]
    assert len(rows) == 3
    for row in rows:
        assert 0.0 <= row.precision <= 1.0 and 0.0 <= row.recall <= 1.0


def test_streaming_sentiment_feed_foreach_batch(spark):
    sink: list = []
    W.streaming_sentiment_feed(spark, "/root/testdata/sf0.001", sink)
    assert len(sink) >= 1
    assert sum(n for _, n in sink) == 1000  # all events processed exactly once


def test_kafka_frame_contract_and_foreach_batch_producer(spark):
    import json

    from analyzing_big_data_in_scala_spark.streaming import stream as ST

    # Batch half: any frame shapes to the Kafka producer contract.
    df = spark.createDataFrame([(1, "big win"), (2, "slow error")], "id long, text string")
    frame = ST.to_kafka_frame(df, "sentiments", key_col="id")
    assert [f.name for f in frame.schema.fields] == ["topic", "key", "value"]
    assert {f.dataType.simpleString() for f in frame.schema.fields} == {"string"}
    rows = {r.key: r for r in frame.collect()}
    assert rows["1"].topic == "sentiments"
    assert json.loads(rows["2"].value) == {"id": 2, "text": "slow error"}

    # Streaming half: identical contract drained through foreachBatch.
    records: list = []
    src = ST.sentiment_stream(ST.events_stream(spark, "/root/testdata/sf0.001"))
    ST.kafka_sink_via_foreach_batch(src, "sentiments", records)
    assert len(records) == 1000  # one produced record per event
    topics = {t for t, _, _ in records}
    assert topics == {"sentiments"}
    labels = {json.loads(v)["sentiment"] for _, _, v in records}
    assert labels <= {"POSITIVE", "NEGATIVE", "NEUTRAL"}


def test_kafka_sink_raises_clear_error_without_connector(spark, tmp_path):
    from analyzing_big_data_in_scala_spark.streaming import stream as ST

    src = ST.sentiment_stream(ST.events_stream(spark, "/root/testdata/sf0.001"))
    with pytest.raises(NotImplementedError, match="spark-sql-kafka"):
        q = ST.kafka_sink(src, "t", "localhost:9092", str(tmp_path / "ckpt"))
        q.awaitTermination(30)  # pragma: no cover - reached only if connector exists
