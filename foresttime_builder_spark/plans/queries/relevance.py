"""relevance benchmark queries; this module declares its own ``QUERIES`` entries."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, functions as F
from foresttime_builder_spark.sources import load_table

from foresttime_builder_spark.plans.queries._shared import (  # noqa: F401
    QuerySpec,
    _BM25_TERMS,
)


def q82_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance mining (`operators/relevance.bm25_scores`): score
    every document against a fixed query-term bag. Spark-first: one 1-row
    stats aggregate (N, avgdl, per-term df) broadcast into a zero-shuffle
    scoring scan; tf via built-in `size(array_remove(...))`, no lambda
    HOFs, no explode."""
    from foresttime_builder_spark.operators.relevance import bm25_scores

    d = load_table(spark, sf_dir, "documents")
    return bm25_scores(d, "doc_id", "text", _BM25_TERMS)

def _bm25_oracle() -> str:
    from foresttime_builder_spark.operators.relevance import bm25_scores_oracle_sql

    return bm25_scores_oracle_sql("doc_id", "text", "documents", _BM25_TERMS)

def q86_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical-LM scoring (`operators/lm.ngram_lm_score`):
    corpus-trained add-k-smoothed bigram log-prob totals per document —
    the perplexity-filter signal. Per-bigram log-probs quantize to e6
    BIGINTs BEFORE summation so the aggregate is order-free integer
    arithmetic; bigrams stream from a hoisted-split explode(sequence) +
    element_at projection (no lambda HOFs)."""
    from foresttime_builder_spark.operators.lm import ngram_lm_score

    d = load_table(spark, sf_dir, "documents")
    return ngram_lm_score(d, "doc_id", "text")

def _lm_score_oracle() -> str:
    from foresttime_builder_spark.operators.lm import ngram_lm_score_oracle_sql

    return ngram_lm_score_oracle_sql("doc_id", "text", "documents")

def q88_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (`operators/dsir.dsir_logweights`):
    hashed unigram+bigram bag models (Xie et al. 2023) — target = the
    English subset, raw = the whole corpus — scoring every document by
    the e6-quantized integer sum of per-bucket log-likelihood ratios.
    Bucket model broadcasts (<= n_buckets rows); feature stream is the
    hoisted-split explode(sequence) projection with map-side
    pre-aggregation per (doc, bucket)."""
    from foresttime_builder_spark.operators.dsir import dsir_logweights

    d = load_table(spark, sf_dir, "documents").withColumn(
        "is_target", F.col("lang") == F.lit("en")
    )
    return dsir_logweights(d, "doc_id", "text", "is_target")

def _dsir_oracle() -> str:
    from foresttime_builder_spark.operators.dsir import (
        dsir_logweights_oracle_sql,
    )

    return dsir_logweights_oracle_sql(
        "doc_id", "text", "documents", "lang = 'en'"
    )

def q89_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build (`operators/invindex.inverted_index`): term ->
    (df, cf, top-3 postings by tf with full deterministic tie-break),
    with the stopword-elision bound `max_doc_freq=400` exercised (drops
    corpus-ubiquitous terms before the per-term window so the worst key
    stays bounded)."""
    from foresttime_builder_spark.operators.invindex import inverted_index

    d = load_table(spark, sf_dir, "documents")
    return inverted_index(d, "doc_id", "text", k=3, max_doc_freq=400)

def _inverted_index_oracle() -> str:
    from foresttime_builder_spark.operators.invindex import (
        inverted_index_oracle_sql,
    )

    return inverted_index_oracle_sql(
        "doc_id", "text", "documents", k=3, max_doc_freq=400
    )

def q94_tfidf_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF signature terms
    (`operators/text.tfidf_signature_terms`): top-5 terms per source by
    group-level tf-idf with fully-ordered ties — the "what makes this
    crawl different" profile."""
    from foresttime_builder_spark.operators.text import tfidf_signature_terms

    d = load_table(spark, sf_dir, "documents")
    return tfidf_signature_terms(d, "source", "text", k=5)

def _tfidf_signatures_oracle() -> str:
    from foresttime_builder_spark.operators.text import (
        tfidf_signature_terms_oracle_sql,
    )

    return tfidf_signature_terms_oracle_sql("source", "text", "documents", k=5)


QUERIES: dict[str, QuerySpec] = {
    "q82_bm25_scores": QuerySpec(q82_bm25_scores, _bm25_oracle()),
    "q86_lm_score": QuerySpec(q86_lm_score, _lm_score_oracle()),
    "q88_dsir_weights": QuerySpec(q88_dsir_weights, _dsir_oracle()),
    "q89_inverted_index": QuerySpec(q89_inverted_index, _inverted_index_oracle()),
    "q94_tfidf_signatures": QuerySpec(
        q94_tfidf_signatures, _tfidf_signatures_oracle()
    ),
}
