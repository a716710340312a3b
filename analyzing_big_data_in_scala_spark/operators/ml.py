"""Sentiment-classification ML pipeline + metrics (SURVEY.md §2.9 M1-M9).

1:1 pyspark.ml re-expression of StandaloneScala/AirlineSentimentAnalysis.scala:
Tokenizer -> StopWordsRemover -> HashingTF -> StringIndexer ->
LogisticRegression (:43-67), CrossValidator over a param grid (:70-90),
and a DataFrame-native metrics report replacing MulticlassMetrics
(:100-136) — the confusion matrix is groupBy(label, prediction).count(),
per-label precision/recall/F1 are joins over its margins, all distributed
(the reference collects to the driver via RDD MulticlassMetrics).

The fixtures carry no labels; `with_synthetic_label` derives a
deterministic 3-class label from doc_id so runs are reproducible.
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.classification import LogisticRegression
from pyspark.ml.evaluation import MulticlassClassificationEvaluator
from pyspark.ml.feature import HashingTF, StopWordsRemover, StringIndexer, Tokenizer
from pyspark.ml.tuning import CrossValidator, ParamGridBuilder
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LABELS = ("positive", "negative", "neutral")


def with_synthetic_label(docs: DataFrame) -> DataFrame:
    """Deterministic stand-in for airline_sentiment
    (StandaloneScala/AirlineSentimentAnalysis.scala:36-38)."""
    idx = F.pmod(F.col("doc_id"), F.lit(3)).cast("int")
    label = F.element_at(F.array(*[F.lit(x) for x in LABELS]), idx + 1)
    return docs.select("doc_id", "text", label.alias("sentiment")).filter(F.col("text") != "null")


def hash_split(labeled: DataFrame, id_col: str = "doc_id", test_buckets: int = 5):
    """Deterministic (train, test) split: one hash bucket in `test_buckets`
    goes to test (~20%). Unlike `randomSplit`, the assignment depends only
    on the row's id — not on partitioning, session, or read layout — so the
    split (and therefore the seed-fixed model's confusion matrix) is
    bit-reproducible anywhere, which is what lets the query layer pin the
    metrics to a constants oracle."""
    is_test = F.pmod(F.xxhash64(F.col(id_col)), F.lit(test_buckets)) == 0
    return labeled.filter(~is_test), labeled.filter(is_test)


def build_pipeline(num_features: int = 1000) -> Pipeline:
    """M1-M6 (AirlineSentimentAnalysis.scala:43-67)."""
    tokenizer = Tokenizer(inputCol="text", outputCol="words")
    remover = StopWordsRemover(inputCol="words", outputCol="filtered")
    tf = HashingTF(inputCol="filtered", outputCol="features", numFeatures=num_features)
    indexer = StringIndexer(inputCol="sentiment", outputCol="label")
    lr = LogisticRegression(maxIter=10, regParam=0.01, elasticNetParam=0.01)
    return Pipeline(stages=[tokenizer, remover, tf, indexer, lr])


def cross_validated_model(train: DataFrame, parallelism: int = 2, small_grid: bool = True):
    """M7/M8 (AirlineSentimentAnalysis.scala:70-90). The reference's grid is
    36 combos x 2 folds; `small_grid` shrinks it for CI-speed runs while
    keeping the search machinery identical."""
    pipeline = build_pipeline()
    stages = pipeline.getStages()
    tf, lr = stages[2], stages[4]
    builder = ParamGridBuilder()
    if small_grid:
        builder = builder.addGrid(tf.numFeatures, [100, 1000]).addGrid(lr.regParam, [0.1, 0.01])
    else:
        builder = (
            builder.addGrid(tf.numFeatures, [10, 100, 1000])
            .addGrid(lr.maxIter, [5, 10, 20])
            .addGrid(lr.elasticNetParam, [0.1, 0.01])
            .addGrid(lr.regParam, [0.1, 0.01])
        )
    cv = CrossValidator(
        estimator=pipeline,
        estimatorParamMaps=builder.build(),
        evaluator=MulticlassClassificationEvaluator(metricName="accuracy"),
        numFolds=2,
        parallelism=parallelism,
        seed=42,
    )
    return cv.fit(train)


def confusion_matrix(predictions: DataFrame) -> DataFrame:
    """M9 confusion matrix (AirlineSentimentAnalysis.scala:105) as a
    DataFrame aggregate — stays distributed."""
    return (
        predictions.groupBy(
            F.col("label").cast("int").alias("label"),
            F.col("prediction").cast("int").alias("prediction"),
        )
        .agg(F.count("*").alias("cnt"))
        .orderBy("label", "prediction")
    )


def classification_metrics(predictions: DataFrame) -> DataFrame:
    """M9 per-label precision/recall/F1 + accuracy row
    (AirlineSentimentAnalysis.scala:108-136), computed from confusion-matrix
    margins with joins — no driver-side MulticlassMetrics. The confusion
    matrix feeds three aggregates, so a lazy localCheckpoint cuts its
    lineage (reclaimed with the DataFrame, unlike a .cache() that would
    stay in the session's cache manager)."""
    cm = confusion_matrix(predictions).localCheckpoint(eager=False)
    tp = cm.filter(F.col("label") == F.col("prediction")).select(
        F.col("label").alias("klass"), F.col("cnt").alias("tp")
    )
    pred_tot = cm.groupBy(F.col("prediction").alias("klass")).agg(F.sum("cnt").alias("pred_n"))
    true_tot = cm.groupBy(F.col("label").alias("klass")).agg(F.sum("cnt").alias("true_n"))
    per_label = (
        true_tot.join(pred_tot, "klass", "full_outer")
        .join(tp, "klass", "left")
        .select(
            "klass",
            F.coalesce("tp", F.lit(0)).alias("tp"),
            F.coalesce("true_n", F.lit(0)).alias("true_n"),
            F.coalesce("pred_n", F.lit(0)).alias("pred_n"),
        )
        .withColumn("precision", F.when(F.col("pred_n") > 0, F.col("tp") / F.col("pred_n")).otherwise(0.0))
        .withColumn("recall", F.when(F.col("true_n") > 0, F.col("tp") / F.col("true_n")).otherwise(0.0))
        .withColumn(
            "f1",
            F.when(
                (F.col("precision") + F.col("recall")) > 0,
                2 * F.col("precision") * F.col("recall") / (F.col("precision") + F.col("recall")),
            ).otherwise(0.0),
        )
    )
    return per_label.select(
        "klass",
        "tp",
        "true_n",
        "pred_n",
        F.round("precision", 6).alias("precision"),
        F.round("recall", 6).alias("recall"),
        F.round("f1", 6).alias("f1"),
    ).orderBy("klass")
