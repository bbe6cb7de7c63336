"""Corpus-hygiene operators: PII redaction and URL canonicalization with
per-domain quotas.

These are the scrubbing passes a web-scale training-data pipeline runs
between raw ingest and dedup (cf. the C4/MassiveText/RefinedWeb pipelines):

- :func:`pii_scrub`: detect-and-mask emails / IPv4 addresses / phone-like
  numbers with ``regexp_replace`` chains — pure JVM column algebra, zero
  shuffle, linear scan.  At 100 TB this is the cheapest kind of operator
  there is: narrow, no exchange, whole-stage codegen'd end to end.
- :func:`canonicalize_url`: scheme/www/query-fragment stripping + host
  extraction, the normalization step before URL-level dedup.
- :func:`domain_cap`: keep at most ``cap`` documents per host under a
  deterministic ranking — the per-domain quota that stops a single boiler-
  plate site from dominating a crawl.  Single hash shuffle on host; the
  ``two_stage=True`` path pre-reduces per (host, salt) so a head domain
  with millions of pages never lands in one task (top-``cap`` is a monoid,
  so the pre-reduction is lossless).

Every regex below is written in the common Java-regex / RE2 subset
(character classes, bounded quantifiers, ``\\b``; no backrefs, no
lookaround) so the Spark plan and the DuckDB oracle twin execute the
byte-identical pattern.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

#: (name, pattern, mask) — applied in order; order matters only if masks
#: could re-match, which ``<...>`` tokens cannot.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    ("phone", r"\b[0-9]{3}-[0-9]{4}\b", "<PHONE>"),
)

_SCHEME_WWW = r"^https?://(www\.)?"
_QUERY_FRAGMENT = r"[?#].*$"
_HOST = r"^[^/?#]+"


def pii_scrub(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Count and mask PII-shaped spans.

    Returns ``(id, n_email, n_ipv4, n_phone, clean_len, clean_md5)`` —
    the counts drive pipeline QA dashboards, the masked text (surfaced
    here as its md5 + length so the gate hashes stay compact) is what a
    real pipeline would write back to the corpus.
    """
    text = F.col(text_col)
    counts = [
        F.size(F.regexp_extract_all(text, F.lit(pat), 0)).alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    clean = text
    for _, pat, mask in PII_PATTERNS:
        clean = F.regexp_replace(clean, pat, mask)
    return df.select(
        F.col(id_col),
        *counts,
        F.length(clean).alias("clean_len"),
        F.md5(clean).alias("clean_md5"),
    )


def pii_scrub_oracle_sql(id_col: str, text_col: str, table: str) -> str:
    """DuckDB twin of :func:`pii_scrub` (identical patterns, 'g' flag for
    Spark's replace-all default)."""
    counts = ", ".join(
        f"len(regexp_extract_all({text_col}, '{pat}')) AS n_{name}"
        for name, pat, _ in PII_PATTERNS
    )
    clean = text_col
    for _, pat, mask in PII_PATTERNS:
        clean = f"regexp_replace({clean}, '{pat}', '{mask}', 'g')"
    return f"""
SELECT {id_col}, {counts},
       length({clean}) AS clean_len,
       md5({clean}) AS clean_md5
FROM {table}
"""


def canonicalize_url(df: DataFrame, url_col: str) -> DataFrame:
    """Append ``canon_url`` (scheme/www/query/fragment stripped) and
    ``host`` columns."""
    stripped = F.regexp_replace(F.col(url_col), _SCHEME_WWW, "")
    canon = F.regexp_replace(stripped, _QUERY_FRAGMENT, "")
    return df.withColumns(
        {"canon_url": canon, "host": F.regexp_extract(stripped, _HOST, 0)}
    )


def canonical_url_sql(url_expr: str) -> tuple[str, str]:
    """DuckDB (canon_url, host) expression twins of :func:`canonicalize_url`."""
    stripped = f"regexp_replace({url_expr}, '{_SCHEME_WWW}', '', 'g')"
    return (
        f"regexp_replace({stripped}, '{_QUERY_FRAGMENT}', '', 'g')",
        f"regexp_extract({stripped}, '{_HOST}')",
    )


def domain_cap(
    df: DataFrame,
    host_col: str,
    order_cols: list[Column],
    cap: int,
    two_stage: bool = False,
    n_salts: int = 16,
    salt_on: Column | None = None,
) -> DataFrame:
    """Keep the top ``cap`` rows per host under ``order_cols`` (which must
    be a total order — include a unique id as the last key), with the rank
    exposed as ``rank_in_domain``.

    ``two_stage=True`` first takes the top ``cap`` within each of
    ``n_salts`` deterministic sub-buckets of the host (salt = the hash of
    ``salt_on``, a stable row-unique value column — e.g. the document id),
    then re-ranks the survivors globally per host.  Identical output — the
    global top-``cap`` always survives stage 1 — but the heaviest per-task
    group shrinks from |head domain| to ~|head domain| / n_salts, which is
    the difference between a straggler and an even stage when one domain
    owns 1% of a 100 TB crawl.
    """
    if two_stage:
        if salt_on is None:
            raise ValueError("two_stage=True requires salt_on (a stable row-unique column)")
        salt = F.pmod(F.xxhash64(salt_on), F.lit(n_salts))
        w1 = Window.partitionBy(F.col(host_col), salt).orderBy(*order_cols)
        df = (
            df.withColumn("_rn1", F.row_number().over(w1))
            .filter(F.col("_rn1") <= cap)
            .drop("_rn1")
        )
    w = Window.partitionBy(host_col).orderBy(*order_cols)
    return (
        df.withColumn("rank_in_domain", F.row_number().over(w))
        .filter(F.col("rank_in_domain") <= cap)
    )
