"""End-to-end workload parity: one function per reference program.

A user of AshWije/Analyzing-Big-Data-In-Scala runs six programs; each
function here reproduces that program's full dataflow with this engine's
operators (idiomatic DataFrame plans — no RDD stages, cached/checkpointed
where the reference recomputes, SURVEY.md §4.3).

| Reference program | Here |
|---|---|
| ScalaNotebooks/MovieSearchEngine.scala | movie_search_engine |
| ScalaNotebooks/NamedEntitiesWordCount.scala | named_entities_word_count |
| StandaloneScala/AirlineSentimentAnalysis.scala | airline_sentiment_analysis |
| StandaloneScala/EpinionsGraphFrameAnalysis.scala | epinions_graph_analysis |
| StandaloneScala/PageRank.scala | airport_pagerank |
| StandaloneScala/TwitterStreaming.scala | streaming_sentiment_feed |
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.text import STOP_WORDS
from .operators import entities as E
from .operators import ml as M
from .operators import tfidf as T
from .operators import graph as G
from .sources.catalog import write_csv
from .streaming import stream as ST


def parse_id_text_lines(lines: DataFrame, value_col: str = "value") -> DataFrame:
    """MovieSearchEngine.scala:111-119 line framing (quirk Q2): the first
    whitespace-delimited token of each line is the doc id, the rest is the
    document. Returns (doc_id string, text string)."""
    first_space = F.instr(F.col(value_col), " ")
    return lines.select(
        F.substring_index(value_col, " ", 1).alias("doc_id"),
        F.when(first_space > 0, F.expr(f"substring({value_col}, instr({value_col}, ' ') + 1)"))
        .otherwise(F.lit(""))
        .alias("text"),
    ).filter(F.length("doc_id") > 0)


def movie_search_engine(
    corpus: DataFrame,
    names: DataFrame,
    search_terms: list[str],
    stop_words: tuple[str, ...] = STOP_WORDS,
    top_k: int = 10,
    reference_semantics: bool = False,
) -> dict[str, DataFrame]:
    """ScalaNotebooks/MovieSearchEngine.scala end-to-end.

    corpus: (doc_id, text) — from raw lines use parse_id_text_lines first.
    names:  (doc_id, name) dimension (the movie-metadata TSV join, :220).
    Single-word queries filter+rank by tf-idf (:237-257); multi-word run
    the similarity ranking (:263-308; true cosine unless
    reference_semantics reproduces quirk Q1). Returns {query: top-k DF
    with (doc_id, name, score)} — one Catalyst plan per query, shared
    scan, no driver-side per-term recompute loop (fixes §4.3.1).
    """
    cleaned = corpus.select(
        "doc_id",
        F.array_join(
            F.filter(
                F.split(F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")), r"\s+"),
                lambda t: (F.length(t) > 0) & ~t.isin(*stop_words),
            ),
            " ",
        ).alias("text"),
    )
    tfidf = T.tfidf_matrix(cleaned)
    name_dim = F.broadcast(names.select("doc_id", "name"))
    results: dict[str, DataFrame] = {}
    for q in search_terms:
        terms = [t for t in q.lower().split() if t]
        if len(terms) == 1:
            ranked = T.search_single_term(tfidf, terms[0], top_k=top_k)
        else:
            ranked = T.search_query(
                cleaned, terms, top_k=top_k, reference_semantics=reference_semantics
            )
        # the join would otherwise discard the top-k ordering — re-sort so
        # callers iterate results rank-first like the reference's output
        results[q] = (
            ranked.join(name_dim, "doc_id")
            .select("doc_id", "name", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )
    return results


def named_entities_word_count(
    text_df: DataFrame,
    text_col: str = "text",
    stop_words: tuple[str, ...] = STOP_WORDS,
) -> DataFrame:
    """ScalaNotebooks/NamedEntitiesWordCount.scala end-to-end: NER (the
    capitalized-run heuristic standing in for the spark-nlp model, :23,35)
    then the exact cleanup/count pipeline (:50-77). Returns (entity, cnt)
    descending."""
    return E.entity_counts(
        text_df, E.extract_capitalized_entities(F.col(text_col)), stop_words
    )


def airline_sentiment_analysis(labeled: DataFrame, small_grid: bool = True):
    """StandaloneScala/AirlineSentimentAnalysis.scala end-to-end: null-text
    filter (:38), 5-stage pipeline + CV grid (:43-90), confusion matrix and
    per-class metrics (:100-136). `labeled` needs (text, sentiment).
    Returns (cv_model, metrics DataFrame)."""
    clean = labeled.filter(F.col("text") != "null")
    train, test = clean.randomSplit([0.8, 0.2], seed=42)
    model = M.cross_validated_model(train, small_grid=small_grid)
    metrics = M.classification_metrics(model.transform(test))
    return model, metrics


def epinions_graph_analysis(
    edges: DataFrame, vertices: DataFrame | None = None, out_dir: str | None = None
) -> dict[str, DataFrame]:
    """StandaloneScala/EpinionsGraphFrameAnalysis.scala end-to-end: the five
    top-5 analyses over a directed edge list (:64-131), each optionally
    written to CSV like the reference (:71-75 etc., sink S9)."""
    # Five analyses read the edges; a lazy localCheckpoint computes them
    # once and, unlike .cache(), is reclaimed with the DataFrame.
    edges = edges.localCheckpoint(eager=False)
    pr = G.pagerank(edges, alpha=0.15, max_iterations=10)
    comps = G.connected_components(edges)
    results = {
        "out_degrees": G.out_degrees(edges).orderBy(F.desc("out_degree"), F.asc("id")).limit(5),
        "in_degrees": G.in_degrees(edges).orderBy(F.desc("in_degree"), F.asc("id")).limit(5),
        "pagerank": pr.orderBy(F.desc("pagerank"), F.asc("id")).limit(5),
        "component_sizes": G.component_sizes(comps).orderBy(F.desc("size"), F.asc("component")).limit(5),
        "triangle_counts": G.triangle_counts(edges).orderBy(F.desc("triangles"), F.asc("id")).limit(5),
    }
    if out_dir is not None:
        for name, df in results.items():
            write_csv(df, f"{out_dir}/{name}")
    return results


def airport_pagerank(flights: DataFrame, max_iterations: int) -> DataFrame:
    """StandaloneScala/PageRank.scala end-to-end with quirks Q3-Q5 intact:
    `graph.pagerank(reference_semantics=True)` over the airport-id edges
    (out-degree counts every flight, in-links dedup, init 10.0, inner-join
    dropout of airports without in-links), then joined to the airport codes.
    flights: (ORIGIN_AIRPORT_ID, ORIGIN, DEST_AIRPORT_ID, DEST).
    Returns (code, pageRank) descending."""
    edges = flights.select(
        F.col("ORIGIN_AIRPORT_ID").alias("src"), F.col("DEST_AIRPORT_ID").alias("dst")
    )
    # Q4 keeps only airports with in-links, so the DEST side has every code.
    codes = flights.select(F.col("DEST_AIRPORT_ID").alias("id"), F.col("DEST").alias("code")).distinct()
    return (
        G.pagerank(edges, alpha=0.15, max_iterations=max_iterations, reference_semantics=True)
        .join(codes, "id")
        .select("code", F.col("pagerank").alias("pageRank"))
        .orderBy(F.desc("pageRank"), F.asc("code"))
    )


def streaming_sentiment_feed(spark: SparkSession, sf_dir: str, sink: list) -> None:
    """StandaloneScala/TwitterStreaming.scala end-to-end in Structured
    Streaming: stream source (:104-105), stateless sentiment transform
    (:108-110), executor-side foreachBatch sink replacing the driver
    collect-then-Kafka loop (:116-120)."""
    stream = ST.events_stream(spark, sf_dir)
    labeled = ST.sentiment_stream(stream, text_col="event_type")
    ST.foreach_batch_collector(labeled, sink)
