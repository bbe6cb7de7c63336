"""text benchmark queries; this module declares its own ``QUERIES`` entries."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, functions as F
from foresttime_builder_spark.functions.encoding import (
    fixed,
    fixed_sql,
    hash60,
    hash60_sql,
)
from foresttime_builder_spark.functions.tokens import token_set_sql, words, words_sql
from foresttime_builder_spark.operators.dedup import tokens
from foresttime_builder_spark.operators.text import (
    language_id_oracle_sql,
    repetition_quality_oracle_sql,
    token_count_bpe_oracle_sql,
    winnow_fingerprint_oracle_sql,
)
from foresttime_builder_spark.sources import load_table

from foresttime_builder_spark.plans.queries.sampling import ORACLE_Q57
from foresttime_builder_spark.plans.queries._shared import (  # noqa: F401
    QuerySpec,
    _PII_SUFFIX_SQL,
    _URL_SQL,
    _pii_suffix_spark,
    _url_spark,
)


def q13_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring: token count, mean word length, stopword ratio
    (text-analysis operator family)."""
    d = load_table(spark, sf_dir, "documents")
    toks = words("text")
    stop = F.array([F.lit(s) for s in ["the", "a", "of", "and", "to"]])
    n_tok = F.size(toks)
    n_stop = F.size(F.array_intersect(toks, stop))
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        fixed(F.length("text") / n_tok, 4).alias("mean_tok_len_e4"),
        fixed(
            F.size(F.filter(toks, lambda t: F.array_contains(stop, t))) / n_tok, 4
        ).alias("stopword_ratio_e4"),
        (n_stop > 0).alias("has_stopword"),
    )

_TOKS = words_sql("text")

ORACLE_Q13 = f"""
SELECT doc_id,
       len({_TOKS}) AS n_tokens,
       {fixed_sql(f"length(text) / len({_TOKS})", 4)}
         AS mean_tok_len_e4,
       {fixed_sql(
           f"len(list_filter({_TOKS},"
           " t -> list_contains(['the','a','of','and','to'], t)))"
           f" / len({_TOKS})",
           4,
       )} AS stopword_ratio_e4,
       len(list_intersect({_TOKS},
                          ['the','a','of','and','to'])) > 0 AS has_stopword
FROM documents
"""

def q14_token_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-frequency table over distinct tokens (inverted-index /
    fingerprinting building block)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 10)
    )

ORACLE_Q14 = f"""
SELECT token, count(*) AS df
FROM (SELECT doc_id, unnest({token_set_sql('text')}) AS token
      FROM documents) t
GROUP BY token HAVING count(*) >= 10
"""

def q15_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit-ish content fingerprint from the document's token multiset
    (engine-portable md5-based hashing)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(words("text")).alias("token"))
    return toks.groupBy("doc_id").agg(
        F.min(hash60(F.col("token"))).alias("min_token_hash"),
        F.max(hash60(F.col("token"))).alias("max_token_hash"),
        F.count(F.lit(1)).alias("n_tokens"),
    )

ORACLE_Q15 = f"""
SELECT doc_id,
       min({hash60_sql('token')}) AS min_token_hash,
       max({hash60_sql('token')}) AS max_token_hash,
       count(*) AS n_tokens
FROM (SELECT doc_id, unnest({_TOKS}) AS token FROM documents) t
GROUP BY doc_id
"""

def q32_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID heuristic (text-analysis family)."""
    from foresttime_builder_spark.operators.text import language_id

    return language_id(load_table(spark, sf_dir, "documents"), "doc_id", "text")

def q33_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-flavored subword token counting (text-analysis family)."""
    from foresttime_builder_spark.operators.text import token_count_bpe

    return token_count_bpe(load_table(spark, sf_dir, "documents"), "doc_id", "text")

def q34_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-k-gram winnowing fingerprints (rolling-hash family)."""
    from foresttime_builder_spark.operators.text import winnow_fingerprint

    return winnow_fingerprint(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )

def q58_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: train docs (sources other than
    src0/src1) sharing any token 5-gram with the eval slice (src0/src1).
    Distinct-before-join + broadcast eval side — one shuffle total
    (``operators/decontaminate.py``)."""
    from foresttime_builder_spark.operators.decontaminate import contamination

    d = load_table(spark, sf_dir, "documents")
    ev = d.filter(F.col("source").isin("src0", "src1"))
    tr = d.filter(~F.col("source").isin("src0", "src1"))
    return contamination(tr, ev, n=5)

ORACLE_Q58 = f"""
WITH toks AS (
  SELECT doc_id, source, {_TOKS} AS t FROM documents
), grams AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(t) - 4),
                               i -> array_to_string(t[i:i+4], ' '))) AS gram
  FROM toks
), ev AS (
  SELECT DISTINCT gram, doc_id AS eval_doc FROM grams
  WHERE source IN ('src0', 'src1')
), tr AS (
  SELECT DISTINCT doc_id, gram FROM grams
  WHERE source NOT IN ('src0', 'src1')
)
SELECT t.doc_id,
       count(DISTINCT t.gram) AS n_collided_grams,
       count(DISTINCT e.eval_doc) AS n_eval_docs
FROM tr t JOIN ev e USING (gram)
GROUP BY t.doc_id
"""

def q59_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (top-n-gram coverage, duplicate
    tokens) — the quality gate a corpus pipeline runs before training
    (`operators/text.repetition_quality`; Rae et al. 2021 §A1.1)."""
    from foresttime_builder_spark.operators.text import repetition_quality

    return repetition_quality(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )

def q60_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect-and-mask (emails / IPv4 / phone-shaped spans) — the
    hygiene pass between ingest and dedup in a corpus pipeline
    (`operators/scrub.pii_scrub`; narrow, shuffle-free, codegen'd)."""
    from foresttime_builder_spark.operators.scrub import pii_scrub

    d = load_table(spark, sf_dir, "documents").withColumn(
        "text_pii", F.concat(F.col("text"), *_pii_suffix_spark())
    )
    return pii_scrub(d, "doc_id", "text_pii")

def _pii_oracle() -> str:
    from foresttime_builder_spark.operators.scrub import pii_scrub_oracle_sql

    return (
        "WITH enriched AS (SELECT doc_id, "
        f"text || {_PII_SUFFIX_SQL} AS text_pii FROM documents) "
        + pii_scrub_oracle_sql("doc_id", "text_pii", "enriched")
    )

def q61_domain_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + per-domain quota (keep top-8 docs per host
    by size) — the crawl-balance cap, run through the skew-resistant
    two-stage path (`operators/scrub.domain_cap(two_stage=True)`), which
    the gate proves equals the plain single-window semantics."""
    from foresttime_builder_spark.operators.scrub import (
        canonicalize_url,
        domain_cap,
    )

    d = load_table(spark, sf_dir, "documents").withColumn("url", _url_spark())
    capped = domain_cap(
        canonicalize_url(d, "url"),
        "host",
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        cap=8,
        two_stage=True,
        salt_on=F.col("doc_id"),
    )
    return capped.select(
        "doc_id",
        "host",
        "canon_url",
        F.col("rank_in_domain").cast("long").alias("rank_in_domain"),
    )

def _domain_quota_oracle() -> str:
    from foresttime_builder_spark.operators.scrub import canonical_url_sql

    canon, host = canonical_url_sql("url")
    return f"""
WITH with_url AS (
  SELECT doc_id, n_chars, {_URL_SQL} AS url FROM documents
), canon AS (
  SELECT doc_id, n_chars, {canon} AS canon_url, {host} AS host FROM with_url
), ranked AS (
  SELECT doc_id, host, canon_url,
         row_number() OVER (PARTITION BY host ORDER BY n_chars DESC, doc_id ASC)
           AS rank_in_domain
  FROM canon
)
SELECT doc_id, host, canon_url, rank_in_domain
FROM ranked WHERE rank_in_domain <= 8
"""

def q64_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level frequent-n-gram heavy hitters (partial-agg count +
    TakeOrdered top-k — `operators/text.top_token_ngrams`)."""
    from foresttime_builder_spark.operators.text import top_token_ngrams

    return top_token_ngrams(
        load_table(spark, sf_dir, "documents"), "text", n=3, k=20
    )

def _top_ngrams_oracle() -> str:
    from foresttime_builder_spark.operators.text import (
        top_token_ngrams_oracle_sql,
    )

    return top_token_ngrams_oracle_sql("text", "documents", n=3, k=20)

def q72_novelty_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest novelty check: which src0 documents are content-
    new relative to the rest of the corpus — one hash left-anti join (the
    batch-vs-corpus exact dedup every incremental pipeline runs before
    admitting a crawl drop)."""
    d = load_table(spark, sf_dir, "documents")
    new = d.filter(F.col("source") == "src0")
    base_hashes = (
        d.filter(F.col("source") != "src0")
        .select(F.md5("text").alias("h"))
        .distinct()
    )
    novel = new.join(
        base_hashes, F.md5(new["text"]) == F.col("h"), "left_anti"
    )
    return novel.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_novel"),
        F.sum("n_chars").alias("total_chars"),
    )

ORACLE_Q72 = """
SELECT lang, count(*) AS n_novel,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents n
WHERE source = 'src0' AND NOT EXISTS (
  SELECT 1 FROM documents b
  WHERE b.source <> 'src0' AND md5(b.text) = md5(n.text)
)
GROUP BY lang
"""

def q63_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication coverage (Lee et al. 2022 ExactSubstr,
    re-expressed as a distributed rolling-window inventory + per-document
    interval union — `operators/substr.duplicated_span_coverage`)."""
    from foresttime_builder_spark.operators.substr import (
        duplicated_span_coverage,
    )

    return duplicated_span_coverage(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n=8
    )

def _dup_spans_oracle() -> str:
    from foresttime_builder_spark.operators.substr import (
        duplicated_span_coverage_oracle_sql,
    )

    return duplicated_span_coverage_oracle_sql("doc_id", "text", "documents", n=8)

def q80_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (`operators/text.chunk_tokens`):
    every document split into 32-token windows advancing by 16 — the step
    between a cleaned corpus and a context-window-bounded trainer/embedder.
    Spark-first: one hoisted split projection, explode(sequence) chunk
    indices, one slice per chunk; rows never leave the JVM."""
    from foresttime_builder_spark.operators.text import chunk_tokens

    d = load_table(spark, sf_dir, "documents")
    return chunk_tokens(d, "doc_id", "text", size=32, stride=16)

def _chunk_tokens_oracle() -> str:
    from foresttime_builder_spark.operators.text import chunk_tokens_oracle_sql

    return chunk_tokens_oracle_sql(
        "doc_id", "text", "documents", size=32, stride=16
    )

def q81_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus statistics profile (`operators/text.corpus_profile`):
    doc counts, token totals, and the exact token-length distribution
    (min / median / p95 / max) per `source` — the data-card numbers a
    curator reads before mixing sources.  One partial-aggregating shuffle."""
    from foresttime_builder_spark.operators.text import corpus_profile

    d = load_table(spark, sf_dir, "documents")
    return corpus_profile(d, "text", "source")

def _corpus_profile_oracle() -> str:
    from foresttime_builder_spark.operators.text import corpus_profile_oracle_sql

    return corpus_profile_oracle_sql("text", "source", "documents")

def q83_quota_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q57's quota sampling through the guarded hash-threshold prefilter
    (`prefilter_safety=2.0`): each source ranks only ~2x its quota instead
    of every row; sources the probabilistic cut undershot are re-ranked
    exactly in-plan. The oracle is q57's plain full-ranking SQL — passing
    proves the prefilter is lossless."""
    from foresttime_builder_spark.operators.sampling import quota_sample

    d = load_table(spark, sf_dir, "documents")
    quotas = (
        d.select("source")
        .distinct()
        .select(
            "source",
            (5 + F.substring("source", 4, 10).try_cast("long") % 7).alias("quota"),
        )
    )
    out = quota_sample(
        d.select("doc_id", "source"), quotas, prefilter_safety=2.0
    )
    return out.select("doc_id", "source", "sample_rank", "quota")

def q85_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality gate
    (`operators/text.quality_gate`): five rule predicates (length, mean
    word length, symbol ratio, distinct stopwords, repetition) folded
    into one pass/fail verdict + deterministic fail-reason string per
    document. Single scan, zero shuffles, no lambda HOFs."""
    from foresttime_builder_spark.operators.text import quality_gate

    d = load_table(spark, sf_dir, "documents")
    return quality_gate(d, "doc_id", "text")

def _quality_gate_oracle() -> str:
    from foresttime_builder_spark.operators.text import quality_gate_oracle_sql

    return quality_gate_oracle_sql("doc_id", "text", "documents")

def q91_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diversity matrix (`operators/text.vocabulary_overlap`):
    pairwise vocabulary Jaccard between sources, distinct-reduced before
    the token self-join so join input is vocabulary-sized."""
    from foresttime_builder_spark.operators.text import vocabulary_overlap

    d = load_table(spark, sf_dir, "documents")
    return vocabulary_overlap(d, "source", "text")

def _vocab_overlap_oracle() -> str:
    from foresttime_builder_spark.operators.text import (
        vocabulary_overlap_oracle_sql,
    )

    return vocabulary_overlap_oracle_sql("source", "text", "documents")


def q123_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document line deduplication (`operators/text.line_dedup` —
    the RefinedWeb/Falcon curation step): drop every occurrence of any
    "line" appearing in more than one document, reassemble documents from
    surviving lines in order.  The synthetic corpus carries no newlines,
    so the gate splits on the literal token ' line ' (deterministic,
    frequent) — the operator's machinery (posexplode, md5 doc-frequency,
    anti-ish join, in-group ordered reassembly) is delimiter-agnostic."""
    from foresttime_builder_spark.operators.text import line_dedup

    return line_dedup(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        delimiter_regex=" line ",
        max_doc_freq=1,
        joiner=" | ",
    )


def _line_dedup_oracle() -> str:
    from foresttime_builder_spark.operators.text import line_dedup_oracle_sql

    return line_dedup_oracle_sql(
        "doc_id", "text", "documents",
        delimiter_regex=" line ", max_doc_freq=1, joiner=" | ",
    )


#: deterministic case/whitespace mangling shared by q124's Spark and
#: DuckDB sides: the synthetic corpus is uniformly lowercase and
#: single-spaced, so WITHOUT this the normalize=True path would be
#: vacuously green (keys identical to raw lines).  Docs ≡0 mod 3 are
#: uppercased, ≡1 mod 3 get doubled spaces — cross-doc boilerplate lines
#: then differ textually but collide under the normalized key, which is
#: exactly the behavior the query gates.
#: the upper() arm must RESTORE the delimiter after case-folding — the
#: split regex ' line ' is case-sensitive, so a fully-uppercased doc
#: would never split and the case-fold arm would be vacuous (r15 review
#: catch: a lower()/case-folding divergence between engines would have
#: passed green)
_Q124_MANGLE = (
    "CASE WHEN doc_id % 3 = 0 THEN replace(upper(text), ' LINE ', ' line ') "
    "WHEN doc_id % 3 = 1 THEN replace(text, ' ', '  ') "
    "ELSE text END"
)


def q124_line_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line dedup with RefinedWeb-style production knobs
    (`operators/text.line_dedup(normalize=True)` + the `dup_frac_e6`
    thresholding column): lines match on a normalized key (collapse
    whitespace, trim, case-fold) while reassembly preserves original
    text, and each doc reports its duplicate-line fraction.  Input text
    is deterministically case/space-mangled (see `_Q124_MANGLE`) so
    normalization is load-bearing, not vacuous."""
    from foresttime_builder_spark.operators.text import line_dedup

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(_Q124_MANGLE).alias("text")
    )
    return line_dedup(
        d,
        "doc_id",
        "text",
        delimiter_regex=" line ",
        max_doc_freq=1,
        joiner=" | ",
        normalize=True,
    )


def _line_dedup_normalized_oracle() -> str:
    from foresttime_builder_spark.operators.text import line_dedup_oracle_sql

    mangled = f"(SELECT doc_id, {_Q124_MANGLE} AS text FROM documents)"
    return line_dedup_oracle_sql(
        "doc_id", "text", mangled,
        delimiter_regex=" line ", max_doc_freq=1, joiner=" | ",
        normalize=True,
    )


QUERIES: dict[str, QuerySpec] = {
    "q13_text_quality": QuerySpec(q13_text_quality, ORACLE_Q13),
    "q14_token_df": QuerySpec(q14_token_df, ORACLE_Q14),
    "q15_doc_fingerprint": QuerySpec(q15_doc_fingerprint, ORACLE_Q15),
    "q32_language_id": QuerySpec(
        q32_language_id,
        language_id_oracle_sql("doc_id", "text", "documents"),
    ),
    "q33_bpe_tokens": QuerySpec(
        q33_bpe_tokens,
        token_count_bpe_oracle_sql("doc_id", "text", "documents"),
    ),
    "q34_winnow_fingerprint": QuerySpec(
        q34_winnow_fingerprint,
        winnow_fingerprint_oracle_sql("doc_id", "text", "documents"),
    ),
    "q58_decontamination": QuerySpec(q58_decontamination, ORACLE_Q58),
    "q59_repetition_quality": QuerySpec(
        q59_repetition_quality,
        repetition_quality_oracle_sql("doc_id", "text", "documents"),
    ),
    "q60_pii_scrub": QuerySpec(q60_pii_scrub, _pii_oracle()),
    "q61_domain_quota": QuerySpec(q61_domain_quota, _domain_quota_oracle()),
    "q63_dup_spans": QuerySpec(q63_dup_spans, _dup_spans_oracle()),
    "q64_top_ngrams": QuerySpec(q64_top_ngrams, _top_ngrams_oracle()),
    "q72_novelty_check": QuerySpec(q72_novelty_check, ORACLE_Q72),
    "q80_chunk_tokens": QuerySpec(q80_chunk_tokens, _chunk_tokens_oracle()),
    "q81_corpus_profile": QuerySpec(q81_corpus_profile, _corpus_profile_oracle()),
    "q83_quota_prefilter": QuerySpec(q83_quota_prefilter, ORACLE_Q57),
    "q85_quality_gate": QuerySpec(q85_quality_gate, _quality_gate_oracle()),
    "q91_vocab_overlap": QuerySpec(q91_vocab_overlap, _vocab_overlap_oracle()),
    "q123_line_dedup": QuerySpec(q123_line_dedup, _line_dedup_oracle()),
    "q124_line_dedup_normalized": QuerySpec(
        q124_line_dedup_normalized, _line_dedup_normalized_oracle()
    ),
}
