"""LDA topic modeling + topic filtering.

Reference: kargo/topic_modeling.py — sklearn TF-IDF vectorizer (Porter
stemmed, stopwords = sklearn ∪ spacy, max_df=0.75, min_df=20 at 14-25)
feeding sklearn LDA (n_topics=10, run_lda at 66-92, argmax topic at 81-82),
then ``get_top_news_from_topic`` keeps docs of a chosen topic with
prob > threshold (94-107; 0.9 default, 0.85 per README.md:23).

Spark-native: pyspark.ml feature pipeline (RegexTokenizer ->
StopWordsRemover -> [optional Porter stem, stemming.py] ->
CountVectorizer(minDF, maxDF) -> IDF) -> LDA(k). Stemming defaults off
(the one Python hop in an otherwise JVM pipeline; topic-filter semantics
do not depend on it) — pass ``stem=True`` for reference parity. All
transforms are estimator/transformer objects — the idiomatic Spark ML
shape, fully distributed.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.ml.clustering import LDA
from pyspark.ml.feature import CountVectorizer, IDF, RegexTokenizer, StopWordsRemover
from pyspark.ml.functions import vector_to_array
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def topic_model(
    docs: DataFrame,
    text_col: str = "content",
    k: int = 10,
    min_df: float = 2.0,
    max_df: float = 0.75,
    vocab_size: int = 1 << 16,
    max_iter: int = 20,
    seed: int = 1337,
    stem: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Fit LDA; returns (doc_topics, topic_words).

    doc_topics:  (doc_id, topic_id, topic_prob) — argmax topic per doc
                 (topic_modeling.py:81-82 parity).
    topic_words: (topic_id, term_indices -> words, weights) top-10 words
                 per topic (topic_modeling.py:78-80).
    """
    tok = RegexTokenizer(inputCol=text_col, outputCol="__words", pattern=r"[^a-zA-Z0-9]+")
    swr = StopWordsRemover(inputCol="__words", outputCol="__filtered")
    cv = CountVectorizer(
        inputCol="__filtered", outputCol="__tf", minDF=min_df, maxDF=max_df,
        vocabSize=vocab_size,
    )
    idf = IDF(inputCol="__tf", outputCol="features")
    lda = LDA(k=k, maxIter=max_iter, seed=seed, featuresCol="features")

    staged = swr.transform(tok.transform(docs))
    if stem:
        # Porter stemming (reference topic_modeling.py:17,25) — the one
        # Python hop in the topics path, Arrow-batched with a per-batch memo
        from .stemming import make_stemmer_udf

        staged = staged.withColumn("__filtered", make_stemmer_udf()(F.col("__filtered")))
    cv_model = cv.fit(staged)
    tf = cv_model.transform(staged)
    idf_model = idf.fit(tf)
    feats = idf_model.transform(tf)
    model = lda.fit(feats)
    transformed = model.transform(feats)

    probs = vector_to_array("topicDistribution")
    doc_topics = transformed.select(
        "doc_id",
        (F.array_position(probs, F.array_max(probs)) - 1).cast("int").alias("topic_id"),
        F.array_max(probs).alias("topic_prob"),
    )
    # vocab lookup via broadcast join, NOT a vocabSize-wide literal array in
    # the plan (65k-literal plans bloat codegen/serialization at scale)
    vocab_df = docs.sparkSession.createDataFrame(pa.table({
        "idx": pa.array(range(len(cv_model.vocabulary)), pa.int32()),
        "word": pa.array(cv_model.vocabulary, pa.string()),
    }))
    topics = model.describeTopics(10)
    ex = topics.select(
        F.col("topic").alias("topic_id"),
        F.col("termWeights").alias("weights"),
        F.posexplode("termIndices").alias("pos", "idx"),
    )
    topic_words = (
        ex.join(F.broadcast(vocab_df), "idx")
        .groupBy("topic_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "word"))), lambda s: s["word"]
            ).alias("words"),
            F.first("weights").alias("weights"),
        )
    )
    return doc_topics, topic_words


def filter_by_topic(
    docs: DataFrame, doc_topics: DataFrame, topic_id: int, threshold: float = 0.9
) -> DataFrame:
    """Topic filter (topic_modeling.py:94-107): keep docs whose argmax topic
    is ``topic_id`` with prob > threshold — semi-join back to documents."""
    keep = doc_topics.filter(
        (F.col("topic_id") == topic_id) & (F.col("topic_prob") > threshold)
    ).select("doc_id")
    return docs.join(keep, "doc_id", "left_semi")


def topic_csv_shape(doc_topics: DataFrame) -> DataFrame:
    """Export shape (document_id, topic_id, topic_prob) — topic_modeling.py:83-91."""
    return doc_topics.select(
        F.col("doc_id").alias("document_id"), "topic_id", F.round("topic_prob", 6).alias("topic_prob")
    )
