"""Deterministic source-mixing / quota sampling for corpus construction.

Training mixes are specified as per-source quotas ("X docs (or tokens)
from source S").  The operator draws each source's quota by ranking its
documents on a content-independent deterministic hash of the id — i.e. a
reproducible uniform sample that is stable under corpus re-partitioning
and appends (a doc's rank only changes if higher-hash docs are added, so
samples are ~consistent as the corpus grows, unlike ``LIMIT``/physical
order which is nondeterministic in a distributed scan).

Scale shape: one shuffle — the rank is a window keyed by the mix column;
quotas arrive as a broadcast dim.  Skewed sources (one source with 10^9
docs) are handled by ``prefilter_safety``: the candidate set is first cut
by an approximate per-source hash threshold (``hash <= quota/count *
MAX_HASH * safety``) so each source sorts only ~``safety * quota`` rows
instead of all of them, and a guard re-ranks exactly any source the
probabilistic cut undershot — the final sample is therefore IDENTICAL to
the unfiltered path by construction (the hash order is total), which the
q83 gate proves against the plain-ranking SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from foresttime_builder_spark.functions.encoding import hash60, hash60_sql

#: hash60 values are 15 hex digits -> [0, 2^60)
_MAX_HASH60 = (1 << 60) - 1

#: the train/val/test split weights in basis points, and the hash salt of
#: split_assign and stratified_split_exact
SPLITS = (("train", 8000), ("val", 1000), ("test", 1000))
SPLIT_SALT = "split-v1"


def quota_sample(
    df: DataFrame,
    quotas: DataFrame,
    mix_col: str = "source",
    prefilter_safety: float | None = None,
) -> DataFrame:
    """Keep the ``quota`` lowest-hash rows (by ``doc_id``) of each
    ``mix_col`` group.

    ``quotas`` is a small (mix_col, quota) dim — broadcast.  Output adds
    ``sample_rank`` (1-based hash rank within the source).

    ``prefilter_safety`` engages the scale path for giant sources: rows
    are pre-cut to ``hash <= quota/count * MAX_HASH * safety`` before the
    per-source ranking sort, so a 10^9-doc source sorts ~``safety*quota``
    rows, not 10^9.  Sources where the cut kept fewer than
    ``min(quota, count)`` rows (probability ~``exp(-quota(s-1)^2/(s+1))``
    per source, deterministic for a given corpus) are detected in-plan
    and re-ranked WITHOUT the cut, so the output is exactly the
    unfiltered sample for every source.  ``None`` (default) ranks every
    row — right when no source is much larger than its quota.
    """
    # NULL-id rows are excluded (here and in every rank-based sampler
    # below, identically in the oracle twins): deterministic sampling is
    # keyed on the id, and a row without identity has no reproducible
    # hash/rank — NULL md5 even ERRORS inside DuckDB's '0x' cast.  Ids
    # must also be unique per the documented precondition (duplicate ids
    # tie the (hash, id) order and make peer ranks engine-arbitrary).
    df = df.filter(F.col("doc_id").isNotNull())
    h = hash60(F.col("doc_id").cast("string"))
    rank = F.row_number().over(
        W.partitionBy(mix_col).orderBy(h.asc(), F.col("doc_id").asc())
    )
    # passthrough contract: every non-key column of the quotas dim survives
    # (q74 reads temperature_quotas' n_docs/weight downstream)
    out_cols = [
        *df.columns,
        "sample_rank",
        *[c for c in quotas.columns if c != mix_col],
    ]

    if prefilter_safety is None:
        ranked = df.withColumn("sample_rank", rank)
        return ranked.join(F.broadcast(quotas), mix_col).filter(
            F.col("sample_rank") <= F.col("quota")
        ).select(*out_cols)

    if prefilter_safety <= 0:
        raise ValueError(f"prefilter_safety must be positive, got {prefilter_safety}")

    counts = df.groupBy(mix_col).agg(F.count(F.lit(1)).alias("_n_docs"))
    dim = quotas.join(counts, mix_col).withColumn(
        "_thr",
        F.least(
            F.lit(_MAX_HASH60),
            F.ceil(
                F.lit(float(_MAX_HASH60))
                * F.col("quota")
                * F.lit(prefilter_safety)
                / F.col("_n_docs")
            ).cast("long"),
        ),
    )
    surv = df.join(F.broadcast(dim), mix_col).filter(h <= F.col("_thr"))
    kept = surv.withColumn("sample_rank", rank).filter(
        F.col("sample_rank") <= F.col("quota")
    )
    # guard: a source undershot iff the cut kept fewer rows than the full
    # ranking would return. kept counts are <= quota per source, so this
    # aggregate is tiny; sources with zero survivors surface via the left
    # join from the dim.
    kc = kept.groupBy(mix_col).agg(F.count(F.lit(1)).alias("_kept"))
    undershot = (
        dim.join(kc, mix_col, "left")
        .filter(
            F.coalesce(F.col("_kept"), F.lit(0))
            < F.least(F.col("quota"), F.col("_n_docs"))
        )
        .select(mix_col)
    )
    redo = (
        df.join(F.broadcast(undershot), mix_col, "semi")
        .withColumn("sample_rank", rank)
        .join(F.broadcast(quotas), mix_col)
        .filter(F.col("sample_rank") <= F.col("quota"))
    )
    good = kept.join(F.broadcast(undershot), mix_col, "anti")
    return good.select(*out_cols).unionByName(redo.select(*out_cols))


def split_assign(
    df: DataFrame,
    id_col: str = "doc_id",
    splits: tuple[tuple[str, int], ...] = SPLITS,
    salt: str = SPLIT_SALT,
) -> DataFrame:
    """Deterministic train/val/test assignment: bucket each row by an
    engine-portable content-independent hash of ``(salt, id)`` into 10,000
    cells and carve the cells by the cumulative split weights (given in
    basis points; must sum to 10,000).

    Properties a training pipeline needs and ``randomSplit`` lacks: the
    assignment is a pure function of the id — stable under repartitioning,
    re-runs, appends, and engine (the DuckDB twin reproduces it exactly);
    changing ``salt`` re-rolls every assignment at once.  Narrow, zero
    shuffle."""
    total = sum(w for _, w in splits)
    if total != 10_000:
        raise ValueError(f"split weights must sum to 10000 bp, got {total}")
    # NULL ids hash via a sentinel (all NULL-id rows land in one
    # deterministic split) — pure per-row assignment needs no rank, so
    # unlike the samplers above NULL ids stay IN; the sentinel also keeps
    # DuckDB's md5(NULL) from collapsing to the uncastable '0x'
    bucket = hash60(
        F.concat(
            F.lit(salt + ":"),
            F.coalesce(F.col(id_col).cast("string"), F.lit("<NULL>")),
        )
    ) % 10_000
    expr = None
    cum = 0
    for name, w in splits[:-1]:
        cum += w
        cond = bucket < cum
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = splits[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn("split", expr)


def split_assign_oracle_sql() -> str:
    """DuckDB CASE expression computing the identical ``split`` column of
    ``doc_id`` at the default splits and salt."""
    bucket = (
        hash60_sql(
            f"'{SPLIT_SALT}:' || coalesce(CAST(doc_id AS VARCHAR), '<NULL>')"
        )
        + " % 10000"
    )
    parts, cum = [], 0
    for name, w in SPLITS[:-1]:
        cum += w
        parts.append(f"WHEN {bucket} < {cum} THEN '{name}'")
    return f"CASE {' '.join(parts)} ELSE '{SPLITS[-1][0]}' END"


def upsample_to_quota(df: DataFrame, quotas: DataFrame) -> DataFrame:
    """Draw EXACTLY ``quota`` rows per ``source`` (of ``quotas``' (source,
    quota) dim), ranked by ``doc_id`` hash, repeating documents when a
    source is smaller than its quota — the "epoch upsampling" half of a
    training mix ("3.2 epochs of the small high-quality source") that
    :func:`quota_sample` (downsampling only) cannot express.

    Every document of a source with ``n`` docs and quota ``q`` appears
    ``floor(q/n)`` times, and the ``q mod n`` lowest-hash documents once
    more; an ``epoch`` column (1-based) distinguishes the copies so a
    downstream shuffler can spread them across the output order.  For
    ``q <= n`` this degrades to exactly :func:`quota_sample`'s draw (every
    kept doc has epoch 1).  Pure integer arithmetic on a deterministic
    hash rank — reproducible across engines, re-runs, and repartitioning.

    Scale shape: one ranking window per source (compose with
    ``quota_sample(prefilter_safety=...)``-style cuts upstream if a
    source is both giant and downsampled) plus an explode bounded by
    ``ceil(q/n)`` copies per row — output-size-bound, never more.
    """
    df = df.filter(F.col("doc_id").isNotNull())  # see quota_sample
    h = hash60(F.col("doc_id").cast("string"))
    rank = F.row_number().over(
        W.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    )
    counts = df.groupBy("source").agg(F.count(F.lit(1)).alias("_n_docs"))
    dim = quotas.join(counts, "source")
    ranked = df.withColumn("sample_rank", rank).join(F.broadcast(dim), "source")
    base = F.floor(F.col("quota") / F.col("_n_docs")).cast("long")
    rem = F.col("quota") % F.col("_n_docs")
    n_copies = base + (F.col("sample_rank") <= rem).cast("long")
    return (
        ranked.filter(n_copies > 0)
        .withColumn("epoch", F.explode(F.sequence(F.lit(1).cast("long"), n_copies)))
        .select(*df.columns, "sample_rank", "quota", "epoch")
    )


def upsample_to_quota_oracle_sql(table: str, quotas_sql: str) -> str:
    """DuckDB twin of :func:`upsample_to_quota` (``quotas_sql`` is a
    subquery yielding (source, quota))."""
    hash_sql = hash60_sql("CAST(doc_id AS VARCHAR)")
    return f"""
WITH ranked AS (
  SELECT t.*,
         row_number() OVER (
           PARTITION BY source ORDER BY {hash_sql} ASC, doc_id ASC
         ) AS sample_rank,
         count(*) OVER (PARTITION BY source) AS n_docs
  FROM {table} t
  WHERE doc_id IS NOT NULL
), withq AS (
  SELECT r.*, q.quota
  FROM ranked r JOIN ({quotas_sql}) q USING (source)
)
SELECT w.* EXCLUDE (n_docs), e.epoch
FROM withq w,
     LATERAL (
       SELECT unnest(generate_series(
         1,
         CAST(floor(quota / n_docs)
              + CASE WHEN sample_rank <= quota % n_docs THEN 1 ELSE 0 END
              AS BIGINT)
       )) AS epoch
     ) e
"""


def temperature_quotas(
    df: DataFrame,
    mix_col: str = "source",
    budget: int = 10_000,
) -> DataFrame:
    """Temperature-reweighted mixture quotas (alpha = 0.5): each source's
    share of ``budget`` is proportional to sqrt(its document count) — the
    standard move (UniMax / multilingual-sampling family) that upweights
    small sources relative to proportional sampling without letting a
    giant source dominate.

    Engine-exact by construction: per-source weights are
    ``floor(sqrt(count) * 1e6)`` BIGINTs (sqrt is IEEE-correctly-rounded
    in both engines, the scale-and-floor makes the weight an integer), the
    weight total is an exact integer sum, and the quota is
    ``floor(budget * w / W)`` over doubles that are exactly representable
    (< 2^53) — so Spark and the SQL twin agree bit-for-bit, which a
    float-weighted formulation (pow(), float sums in engine-specific
    order) would not.

    Returns the small (mix_col, n_docs, weight, quota) dim — broadcast it
    into :func:`quota_sample`.
    """
    counts = df.groupBy(mix_col).agg(F.count(F.lit(1)).alias("n_docs"))
    w = counts.withColumn(
        "weight", F.floor(F.sqrt(F.col("n_docs")) * 1_000_000).cast("long")
    )
    total = w.agg(F.sum("weight").alias("W"))
    return (
        w.crossJoin(F.broadcast(total))  # 1-row total: benign BNLJ
        .withColumn(
            "quota",
            F.floor(F.lit(budget) * F.col("weight") / F.col("W")).cast("long"),
        )
        .select(mix_col, "n_docs", "weight", "quota")
    )


def calibrate_scores(
    df: DataFrame,
    id_col: str,
    group_col: str,
    score_col: str,
) -> DataFrame:
    """Per-group score calibration: percent_rank of ``score_col`` within
    each group, e6-quantized — the normalization step before applying a
    single global quality threshold across heterogeneous sources (a raw
    LM score of -3.2 means different things in src_wiki vs src_crawl;
    the within-source rank does not).

    Ties share a rank (standard percent_rank), so equal scores calibrate
    equally regardless of id — deterministic without needing a tiebreak.
    Returns ``(id_col, group_col, score_col, pct_e6)`` with
    ``pct_e6 = floor(percent_rank * 1e6)`` (0 for singleton groups, by
    percent_rank's (rank-1)/(n-1) definition in both engines).

    Scale shape: ONE shuffle (the group window); the sort within each
    group is the unavoidable rank cost and AQE splits oversized groups'
    partitions upstream.  No joins, no driver state.
    """
    # NULL scores rank FIRST, pinned explicitly: Spark's ascending
    # default is nulls-first but DuckDB's is nulls-last, so an implicit
    # order would silently disagree between the engines
    w = W.partitionBy(group_col).orderBy(F.asc_nulls_first(score_col))
    return df.select(
        F.col(id_col),
        F.col(group_col),
        F.col(score_col),
        F.floor(F.percent_rank().over(w) * 1_000_000)
        .cast("long")
        .alias("pct_e6"),
    )


def calibrate_scores_oracle_sql(
    id_col: str, group_col: str, score_col: str, table: str
) -> str:
    """DuckDB twin of :func:`calibrate_scores` — percent_rank is
    (rank-1)/(n-1) in both engines; the division is the identical IEEE
    double op, floored at e6."""
    return f"""
SELECT {id_col}, {group_col}, {score_col},
       CAST(floor(percent_rank() OVER (
         PARTITION BY {group_col} ORDER BY {score_col} NULLS FIRST
       ) * 1000000) AS BIGINT) AS pct_e6
FROM {table}
"""


def weighted_sample(
    df: DataFrame,
    id_col: str,
    group_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k per group — the
    Efraimidis-Spirakis A-ES scheme (2006): each row draws a reproducible
    uniform u from its hashed id and ranks by ``u^(1/w)`` descending;
    the top-k are a true weight-proportional without-replacement sample.
    The mixing-pipeline primitive for "sample 10k docs per source,
    proportional to quality weight, reproducibly".

    Engine parity: u = hash60('ws:' || id) / 2^60 clamped into
    [2^-60, 1 - 2^-53] — the clamp matters at BOTH ends: near the top,
    double rounding would otherwise let u reach exactly 1.0 (key 0, an
    unconditional rank-1 winner regardless of weight); at the bottom,
    u = 0 diverges between engines (Spark ``log(0)`` is NULL, DuckDB is
    -inf).  Ranking uses the monotone transform ``ln(u)/w`` (same order
    as u^(1/w) for w > 0); ``ln`` itself is transcendental, so a
    last-ulp JVM-vs-libm disagreement could in principle flip a near-tie
    between two rows' keys — the same accepted-risk class as the repo's
    e-floor ``ln``/``pow`` family, needing a ~2^-50 coincidence across
    md5-derived values.  Hash/weight ties break on ascending id.  No
    float is emitted: the output carries ids, weights, and the integer
    rank.

    Rows with NULL or non-positive weight are excluded (zero weight =
    never sampled; ES keys are undefined there).

    Scale shape: ONE window shuffle on the group; everything else is
    map-side column algebra.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    u = F.greatest(
        F.least(
            hash60(F.concat(F.lit("ws:"), F.col(id_col).cast("string")))
            / F.lit(2.0**60),
            F.lit(1.0 - 2.0**-53),
        ),
        F.lit(2.0**-60),
    )
    key = F.log(u) / F.col(weight_col)
    w = W.partitionBy(group_col).orderBy(F.desc("_es_key"), F.asc(id_col))
    return (
        df.filter(
            F.col(id_col).isNotNull()  # see quota_sample
            & F.col(weight_col).isNotNull()
            & (F.col(weight_col) > 0)
        )
        .withColumn("_es_key", key)
        .withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= k)
        .select(id_col, group_col, weight_col, "sample_rank")
    )


def weighted_sample_oracle_sql(
    id_col: str,
    group_col: str,
    weight_col: str,
    table: str,
    k: int,
) -> str:
    """DuckDB twin of :func:`weighted_sample` — identical u construction
    and ln(u)/w ranking."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = hash60_sql(f"'ws:' || CAST({id_col} AS VARCHAR)")
    u = (
        f"greatest(least({h} / {2.0**60!r}, {1.0 - 2.0**-53!r}), "
        f"{2.0**-60!r})"
    )
    return f"""
SELECT {id_col}, {group_col}, {weight_col},
       CAST(sample_rank AS INTEGER) AS sample_rank
FROM (
  SELECT {id_col}, {group_col}, {weight_col},
         row_number() OVER (
           PARTITION BY {group_col}
           ORDER BY ln({u}) / {weight_col} DESC, {id_col}
         ) AS sample_rank
  FROM {table}
  WHERE {id_col} IS NOT NULL
    AND {weight_col} IS NOT NULL AND {weight_col} > 0
)
WHERE sample_rank <= {k}
"""


def stratified_split_exact(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    splits: tuple[tuple[str, int], ...] = SPLITS,
) -> DataFrame:
    """EXACT stratified split: within every stratum, rows are ranked by
    the deterministic (SPLIT_SALT, id) hash and the rank range is carved by the
    cumulative split weights — so each stratum's split counts are exact
    to the rounding of ``floor(n * cum_bp / 10000)``, not merely expected
    (the :func:`split_assign` hash-cell method is stable under appends
    but only proportional in expectation, which under-fills small
    strata).  Use this one when per-stratum quotas must be exact and the
    corpus snapshot is fixed; use ``split_assign`` when assignments must
    survive appends.

    Returns ``(id_col, stratum_col, split)``.  One window shuffle on the
    stratum; ranking is the same hash order as quota_sample.
    """
    total = sum(w for _, w in splits)
    if total != 10_000:
        raise ValueError(f"split weights must sum to 10000 bp, got {total}")
    df = df.filter(F.col(id_col).isNotNull())  # see quota_sample
    h = hash60(F.concat(F.lit(SPLIT_SALT + ":"), F.col(id_col).cast("string")))
    w = W.partitionBy(stratum_col).orderBy(h.asc(), F.col(id_col).asc())
    n = W.partitionBy(stratum_col)
    ranked = df.select(
        F.col(id_col),
        F.col(stratum_col),
        F.row_number().over(w).alias("_rk"),
        F.count(F.lit(1)).over(n).alias("_n"),
    )
    expr = None
    cum = 0
    for name, bp in splits[:-1]:
        cum += bp
        cond = F.col("_rk") <= F.floor(F.col("_n") * cum / 10_000)
        expr = (
            F.when(cond, F.lit(name))
            if expr is None
            else expr.when(cond, F.lit(name))
        )
    expr = expr.otherwise(F.lit(splits[-1][0]))
    return ranked.select(id_col, stratum_col, expr.alias("split"))


def stratified_split_exact_oracle_sql(
    id_col: str, stratum_col: str, table: str
) -> str:
    """DuckDB twin of :func:`stratified_split_exact` at the default
    splits."""
    h = hash60_sql(f"'{SPLIT_SALT}:' || CAST({id_col} AS VARCHAR)")
    case = "CASE "
    cum = 0
    for name, bp in SPLITS[:-1]:
        cum += bp
        case += f"WHEN rk <= floor(n * {cum} / 10000) THEN '{name}' "
    case += f"ELSE '{SPLITS[-1][0]}' END"
    return f"""
SELECT {id_col}, {stratum_col}, {case} AS split
FROM (
  SELECT {id_col}, {stratum_col},
         row_number() OVER (
           PARTITION BY {stratum_col} ORDER BY {h}, {id_col}
         ) AS rk,
         count(*) OVER (PARTITION BY {stratum_col}) AS n
  FROM {table}
  WHERE {id_col} IS NOT NULL
)
"""
