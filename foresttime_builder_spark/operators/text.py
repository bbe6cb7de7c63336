"""Text-analysis operators for large-scale training-data pipelines.

All pure Column algebra (JVM-side, codegen-friendly): no UDFs, no shuffles
except the aggregations a caller adds.  Each has an exact SQL twin for the
DuckDB correctness gate.

- :func:`language_id`: stopword-profile n-gram heuristic over a fixed
  language set; deterministic argmax tie-break by profile order;
- :func:`token_count_bpe`: subword-ish token counting via a BPE-flavored
  regex (letter runs capped at 4 chars + digits + punctuation marks);
- :func:`winnow_fingerprint`: character-k-gram rolling fingerprints with
  winnowing (min hash per sliding window of w positions) — the standard
  local fingerprinting scheme for near-dup/plagiarism detection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from foresttime_builder_spark.functions.encoding import (
    fixed,
    fixed_sql,
    hash60,
    hash60_sql,
)
from foresttime_builder_spark.functions.tokens import words, words_sql
from foresttime_builder_spark.operators.spread import spread as _spread

#: tiny deterministic stopword profiles (order = tie-break priority)
LANG_PROFILES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "and", "of", "to", "in", "is", "that", "it")),
    ("de", ("der", "die", "und", "das", "ist", "nicht", "ein", "zu")),
    ("fr", ("le", "la", "et", "les", "des", "est", "une", "que")),
    ("es", ("el", "la", "que", "de", "los", "es", "una", "para")),
)

#: BPE-flavored segmentation: letter chunks of <=4, single digits, marks
BPE_PATTERN = "[A-Za-z]{1,4}|[0-9]|[^A-Za-z0-9 ]"


def language_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document language guess: count profile-word occurrences per
    language, pick the max (earlier profile wins ties), 'und' when no
    profile word occurs at all."""
    toks = words(F.lower(F.col(text_col)))

    def _score(ws: tuple[str, ...]):
        profile = F.array(*[F.lit(w) for w in ws])
        return F.size(F.filter(toks, lambda t: F.array_contains(profile, t)))

    scores = {lang: _score(ws) for lang, ws in LANG_PROFILES}
    best = None
    lang_col = F.lit("und")
    # build right-to-left so earlier profiles win ties via strict >
    for lang, _ in reversed(LANG_PROFILES):
        s = scores[lang]
        if best is None:
            best = s
            lang_col = F.when(s > 0, F.lit(lang)).otherwise(F.lit("und"))
        else:
            lang_col = F.when((s > 0) & (s >= best), F.lit(lang)).otherwise(
                lang_col
            )
            best = F.greatest(s, best)
    out = df.select(
        F.col(id_col),
        lang_col.alias("lang"),
        *[scores[lang].alias(f"score_{lang}") for lang, _ in LANG_PROFILES],
    )
    return out


def language_id_oracle_sql(id_col: str, text_col: str, table: str) -> str:
    """DuckDB twin of :func:`language_id`."""
    toks = words_sql(f"lower({text_col})")
    score = {
        lang: f"len(list_filter({toks}, t -> list_contains({list(ws)}, t)))"
        for lang, ws in LANG_PROFILES
    }
    # replicate the right-to-left when-chain exactly
    expr = "'und'"
    best = None
    for lang, _ in reversed(LANG_PROFILES):
        s = score[lang]
        if best is None:
            expr = f"CASE WHEN {s} > 0 THEN '{lang}' ELSE 'und' END"
            best = s
        else:
            expr = (
                f"CASE WHEN {s} > 0 AND {s} >= {best} THEN '{lang}' "
                f"ELSE {expr} END"
            )
            best = f"greatest({s}, {best})"
    cols = ", ".join(f"{score[lang]} AS score_{lang}" for lang, _ in LANG_PROFILES)
    return f"SELECT {id_col}, {expr} AS lang, {cols} FROM {table}"


def token_count_bpe(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Subword token counts via :data:`BPE_PATTERN` (whitespace tokens
    alongside for a compression-ratio signal)."""
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_PATTERN), 0)
    n_words = F.size(words(text_col))
    return df.select(
        F.col(id_col),
        F.size(pieces).alias("n_bpe_tokens"),
        n_words.alias("n_words"),
        fixed(F.size(pieces) / F.nullif(n_words, F.lit(0)), 4).alias(
            "tokens_per_word_e4"
        ),
    )


def token_count_bpe_oracle_sql(id_col: str, text_col: str, table: str) -> str:
    pat = BPE_PATTERN.replace("'", "''")
    pieces = f"len(regexp_extract_all({text_col}, '{pat}'))"
    n_words = f"len({words_sql(text_col)})"
    return f"""
SELECT {id_col},
       {pieces} AS n_bpe_tokens,
       {n_words} AS n_words,
       {fixed_sql(f"{pieces} / nullif({n_words}, 0)", 4)} AS tokens_per_word_e4
FROM {table}
"""


def winnow_fingerprint(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints: hash every character ``k``-gram,
    keep the minimum hash of each sliding window of ``w`` consecutive
    positions, then the distinct mins are the document's fingerprints.

    Spark-first shape (r12 rewrite): explode gram POSITIONS to rows, hash
    each gram with codegen'd scalar md5/conv, take the sliding-window min
    with a row-frame window over ``(id, pos)``, and fold the distinct
    mins with one hash aggregate.  The previous form computed both stages
    as nested ``transform()`` lambdas — array HOFs are CodegenFallback
    (interpreted, per-element InterpretedSafeProjection), the cost class
    q59/q64 were rewritten out of, and the slice-based window min was
    O(n·w) per document besides.  This plan is all whole-stage-codegen
    scalar work plus ONE hash exchange on the doc id; the window sort and
    the final aggregate reuse that same partitioning, and documents too
    short to have any window (< k+w-1 chars) never enter the exchange —
    they rejoin as zero-fingerprint rows through the left join.

    NULL text is treated as '' (zero grams, zero fingerprints, NULL
    min/max — identical in the oracle, and the same contract the HOF
    form honored, including the fuzz-sweep descending-sequence class:
    position generation is gated on ``n_windows >= 1`` so no descending
    ``sequence()`` can arise)."""
    from pyspark.sql import Window as _W

    text = F.coalesce(F.col(text_col), F.lit(""))
    n_grams = F.greatest(F.length(text) - F.lit(k - 1), F.lit(0))
    # per-ROW semantics, like the HOF form: the fuzz corpora carry NULL
    # and duplicate doc ids, and each input row must fingerprint its own
    # text (grouping by id would merge every NULL-id document into one).
    # The surrogate row id lives inside ONE linear pipeline (scan →
    # explode → window → agg), so it is evaluated exactly once — the
    # short-document rows rejoin through a union, never a self-join whose
    # two branches would each re-evaluate monotonically_increasing_id.
    base = df.select(
        F.col(id_col), text.alias("_t"), n_grams.alias("_ng")
    ).withColumn("_rid", F.monotonically_increasing_id())
    short = base.filter(F.col("_ng") < w).select(
        F.col(id_col),
        F.lit(0).cast("int").alias("n_fingerprints"),
        F.lit(None).cast("long").alias("min_fp"),
        F.lit(None).cast("long").alias("max_fp"),
    )
    # _spread BEFORE the explode+hash: the md5-per-gram stage is the CPU
    # cost and it runs in the SCAN stage, upstream of the window's
    # exchange — at gate SFs the corpus arrives as 1-2 parquet splits, so
    # without this every gram hash of the corpus lands in one task
    # (measured 3.16 s single-task vs parallel at sf0.1).  Docs are
    # spread (bytes ~ corpus), not grams, so the extra exchange is tiny;
    # at production scale the scan already has >= parallelism splits and
    # spread is the identity.
    grams = (
        _spread(base.filter(F.col("_ng") >= w))
        .select(
            id_col,
            "_rid",
            "_t",
            (F.col("_ng") - F.lit(w - 1)).alias("_nw"),
            F.explode(F.sequence(F.lit(1), F.col("_ng"))).alias("_p"),
        )
        .select(
            id_col,
            "_rid",
            "_p",
            "_nw",
            hash60(F.col("_t").substr(F.col("_p"), F.lit(k))).alias("_h"),
        )
    )
    win = (
        _W.partitionBy("_rid")
        .orderBy("_p")
        .rowsBetween(_W.currentRow, w - 1)
    )
    mins = (
        grams.select(
            id_col, "_rid", "_p", "_nw", F.min("_h").over(win).alias("_m")
        )
        .filter(F.col("_p") <= F.col("_nw"))
        .groupBy("_rid", id_col)
        .agg(
            F.countDistinct("_m").cast("int").alias("n_fingerprints"),
            F.min("_m").alias("min_fp"),
            F.max("_m").alias("max_fp"),
        )
        .select(id_col, "n_fingerprints", "min_fp", "max_fp")
    )
    return mins.unionByName(short)


def winnow_fingerprint_oracle_sql(
    id_col: str, text_col: str, table: str, k: int = 8, w: int = 4
) -> str:
    txt = f"coalesce({text_col}, '')"
    h = hash60_sql(f"substr({txt}, CAST(p AS INT), {k})")
    return f"""
WITH grams AS (
  SELECT {id_col},
    list_transform(generate_series(1, greatest(length({txt}) - {k - 1}, 0)),
                   p -> {h}) AS hs
  FROM {table}
),
wins AS (
  SELECT {id_col},
    list_distinct(
      list_transform(generate_series(1, greatest(len(hs) - {w - 1}, 0)),
                     i -> list_min(hs[CAST(i AS INT):CAST(i + {w - 1} AS INT)]))
    ) AS fps
  FROM grams
)
SELECT {id_col}, len(fps) AS n_fingerprints,
       list_min(fps) AS min_fp, list_max(fps) AS max_fp
FROM wins
"""


def top_token_ngrams(
    df: DataFrame, text_col: str, n: int = 3, k: int = 20
) -> DataFrame:
    """Corpus-level frequent token ``n``-grams: the heavy-hitters statistic
    quality teams read before writing boilerplate filters.

    Spark-first shape: explode → hash-partitioned count (map-side partial
    aggregation does the heavy lifting — each task emits at most its
    distinct grams, not its rows) → global top-``k`` via ``orderBy.limit``,
    which Catalyst executes as TakeOrdered (per-partition heaps + a k-row
    driver merge, never a full sort).  The ``(count desc, gram asc)``
    tie-break makes the result a deterministic set, so the gate can
    hash-compare it.

    Gram assembly is ONE lookahead regex over the text with a SENTINEL
    space prepended — `` (?=([^ ]* [^ ]* [^ ]*))`` for n=3: every token
    start (including the first) now sits right after a real space, each
    match consumes exactly that boundary space, and the lookahead group
    captures the n-token window as the finished gram STRING — no split
    array, no per-gram struct, no post-aggregation concat.  The sentinel
    matters: an ``(?:^| )`` alternation is ZERO-width at ``^``, and after
    a zero-width match the engine resumes one char later — so a text
    with a LEADING space (fuzz whitespace soup) lost the gram starting
    at token 1 (caught by the fuzz gate, invisible on clean data).
    ``[^ ]*`` (not ``\\S+``) reproduces the tokens of
    :func:`~foresttime_builder_spark.functions.tokens.words` exactly —
    consecutive spaces yield empty tokens that participate in grams.  It
    is the one whitespace tokenizer spelled outside that module, on
    purpose: it never builds the token array, which is what it saves.
    Two predecessors, for the record (all three verified
    output-identical at sf0.1/sf1/sf10): ``transform(sequence(...))``
    struct grams (interpreted HOF — the standing hot-path trap; sf0.1
    0.56 s); the codegen'd ``arrays_zip`` over n shifted slices unroll
    (sf0.1 0.53-0.56 s in-session, 4.24-4.45 s sf10).  The regex form
    measured 0.44 s sf0.1 median-of-5, 0.77 s sf1, 2.89-3.28 s sf10 —
    the JVM regex scan beats materializing 2.4M-row token arrays and
    gram structs through the exchange.  The quantifiers are POSSESSIVE
    (``[^ ]*+``): a single-char class that cannot match the delimiter
    never needs to backtrack, so possessive matching is semantically
    identical (verified output-identical) while skipping the
    backtrack-state bookkeeping — a further −20% (0.373 → 0.297 s sf0.1
    median-of-7; 1.08x the DuckDB oracle)."""
    pat = r" (?=(" + " ".join(["[^ ]*+"] * n) + r"))"
    return (
        _spread(
            df.select(F.concat(F.lit(" "), F.col(text_col)).alias("_t"))
        )
        .select(
            F.explode(
                F.regexp_extract_all(F.col("_t"), F.lit(pat), 1)
            ).alias("gram")
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("gram").asc())
        .limit(k)
    )


def top_token_ngrams_oracle_sql(
    text_col: str, table: str, n: int = 3, k: int = 20
) -> str:
    """DuckDB twin of :func:`top_token_ngrams`."""
    return f"""
WITH toks AS (
  SELECT {words_sql(text_col)} AS t FROM {table}
), grams AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - {n - 1}),
                               i -> array_to_string(t[i:i+{n - 1}], ' ')))
           AS gram
  FROM toks WHERE len(t) >= {n}
)
SELECT gram, count(*) AS cnt FROM grams GROUP BY gram
ORDER BY cnt DESC, gram ASC LIMIT {k}
"""


def repetition_quality(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher/MassiveText-style repetition filters (Rae et al. 2021 §A1.1,
    adapted to token grain): fraction of tokens covered by the most
    frequent 2-gram and 3-gram, duplicate-token fraction, and the
    resulting keep/drop flag.

    The per-document mode (top n-gram count) is computed as the longest
    run in the document's SORTED gram array — ``array_sort`` over
    struct-typed grams, then one linear ``aggregate`` pass — entirely
    inside one projection: zero shuffles, zero joins, embarrassingly
    parallel.  Two earlier formulations are documented for the record:

    - a nested higher-order lambda (O(distinct_grams × grams) per
      document) gated fine at 500 docs but cost 35 minutes for 50k docs
      at sf1 — quadratic string-equality volume;
    - the relational shape (explode grams, count per (doc, gram), max per
      doc, join back) is linear with map-side combine but pays two
      shuffles + a join: 1.2 s sf0.1 / 5.1 s sf1 / 24.2 s sf10.

    The sorted-run formulation is O(L log L) per doc and measured 0.70 s
    sf0.1 / 3.2 s sf1 / 9.6 s sf10 (median-of-3, noop sink, local[32]),
    bit-identical outputs at every SF.  Two constants matter: grams are
    STRUCTS of the n tokens, not concatenated strings (the string
    allocation tripled sf10 cost: 28.7 s vs 9.6 s), and the lambda state
    is a single flat struct (prev, run, best).  At 100 TB the projection
    pipelines with the scan — no shuffle exists to become the bottleneck;
    the narrow parent scan is round-robin spread (operators/spread.py) so
    a few-split documents file still uses every core.
    """
    toks = words(text_col)

    # narrow-scan spread: the per-doc sort+scan does orders of magnitude
    # more work per row than the scan reads bytes (operators/spread.py)
    # per-document op keyed by id: the oracle's per-id join cannot track
    # NULL-id docs (they'd lump into one group) — excluded identically
    base = _spread(
        df.filter(F.col(id_col).isNotNull()).select(
            F.col(id_col), toks.alias("_toks")
        )
    )
    T = F.col("_toks")
    n_tok = F.size(T)

    dup_frac = fixed(F.lit(1.0) - F.size(F.array_distinct(T)) / n_tok, 4)

    def top_run(n: int) -> Column:
        # max multiplicity in the gram multiset == longest equal-run in
        # the sorted gram array (any total order works; struct ordering
        # is field-lexicographic)
        fields = "abc"[:n]
        grams = F.transform(
            F.sequence(F.lit(0), n_tok - F.lit(n)),
            lambda i: F.struct(
                *[F.element_at(T, i + k + 1).alias(fields[k]) for k in range(n)]
            ),
        )
        g = F.array_sort(grams)
        typ = "struct<" + ",".join(f"{f}:string" for f in fields) + ">"
        best = F.aggregate(
            g,
            F.struct(
                F.lit(None).cast(typ).alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda a, x: F.struct(
                x.alias("prev"),
                F.when(x == a["prev"], a["run"] + 1)
                .otherwise(F.lit(1))
                .alias("run"),
                F.greatest(
                    a["best"],
                    F.when(x == a["prev"], a["run"] + 1).otherwise(F.lit(1)),
                ).alias("best"),
            ),
            lambda a: a["best"],
        )
        # documents too short for any n-gram report NULL (matches the
        # relational left-join semantics and the DuckDB twin)
        return F.when(n_tok >= n, best)

    def frac(n: int, top: Column) -> Column:
        # identical float-op order to the DuckDB twin: (top*n)/n_tok
        return fixed(top * n / n_tok, 4)

    t2, t3 = top_run(2), top_run(3)
    top2, top3 = frac(2, t2), frac(3, t3)
    return base.select(
        F.col(id_col),
        n_tok.alias("n_tokens"),
        top2.alias("top2gram_frac_e4"),
        top3.alias("top3gram_frac_e4"),
        dup_frac.alias("dup_token_frac_e4"),
        # Gopher thresholds: drop if top-2-gram coverage > 0.20 or
        # top-3-gram coverage > 0.18 (ours are token-fractions, same bar)
        (
            (F.coalesce(top2, F.lit(0)) <= 2000)
            & (F.coalesce(top3, F.lit(0)) <= 1800)
        ).alias("keep"),
    )


def repetition_quality_oracle_sql(id_col: str, text_col: str, table: str) -> str:
    """DuckDB twin of :func:`repetition_quality` (identical arithmetic).

    Set-based formulation: the Spark side's per-document mode is a nested
    list lambda (O(distinct x grams) inside one codegen'd expression, fast
    on the JVM); DuckDB evaluates the same lambda interpretively ~40x
    slower, so the oracle computes each document's top n-gram count the
    relational way — unnest, count per (doc, gram), max per doc — which is
    the identical quantity."""

    def gram_cte(n: int) -> str:
        return (
            f"SELECT {id_col}, unnest(list_transform("
            f"generate_series(1, n_tok - {n - 1}), "
            f"i -> array_to_string(toks[i:i+{n - 1}], ' '))) AS gram "
            f"FROM base WHERE n_tok >= {n}"
        )

    def top_frac(n: int) -> str:
        return fixed_sql(f"m{n}.top * {n} / b.n_tok", 4)

    return f"""
WITH base AS (
  SELECT {id_col}, {words_sql(text_col)} AS toks, len({words_sql(text_col)}) AS n_tok
  FROM {table}
  WHERE {id_col} IS NOT NULL
), g2 AS ({gram_cte(2)}), g3 AS ({gram_cte(3)}),
m2 AS (
  SELECT {id_col}, max(cnt) AS top FROM (
    SELECT {id_col}, gram, count(*) AS cnt FROM g2 GROUP BY {id_col}, gram
  ) GROUP BY {id_col}
),
m3 AS (
  SELECT {id_col}, max(cnt) AS top FROM (
    SELECT {id_col}, gram, count(*) AS cnt FROM g3 GROUP BY {id_col}, gram
  ) GROUP BY {id_col}
)
SELECT b.{id_col},
  b.n_tok AS n_tokens,
  {top_frac(2)} AS top2gram_frac_e4,
  {top_frac(3)} AS top3gram_frac_e4,
  {fixed_sql('1.0 - len(list_distinct(b.toks)) / b.n_tok', 4)} AS dup_token_frac_e4,
  coalesce({top_frac(2)}, 0) <= 2000 AND coalesce({top_frac(3)}, 0) <= 1800
    AS keep
FROM base b
LEFT JOIN m2 ON b.{id_col} = m2.{id_col}
LEFT JOIN m3 ON b.{id_col} = m3.{id_col}
"""


def chunk_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    size: int = 128,
    stride: int = 64,
) -> DataFrame:
    """Sliding-window document chunking: split each document's token
    sequence into windows of ``size`` tokens advancing by ``stride`` —
    the step between a cleaned corpus and a context-window-bounded
    trainer/embedder (every long-document pipeline has one; the reference
    has no counterpart — LLM-pipeline family).

    Contract: chunk ``i`` covers tokens ``[1 + i*stride, ... + size)``
    (1-based); the last chunk is the first whose window reaches the final
    token (``max_idx = ceil(max(n - size, 0) / stride)``, integer
    arithmetic), so every token is covered, the tail chunk may be short,
    and no chunk is a suffix-duplicate of its predecessor.  Documents
    shorter than ``size`` emit exactly one chunk.

    Spark-first shape: the token split is hoisted to one projection
    (multi-referenced arrays must be materialized once — interpreted
    lambda re-evaluation is O(L²), the round-7 q59 lesson), chunk indices
    come from ``explode(sequence(...))`` (rows never leave the JVM), and
    each chunk is one ``slice`` of the materialized array.  Narrow
    parent scans are round-robin spread so a 1–2-split corpus still
    chunks on every core.
    """
    if size < 1 or stride < 1:
        raise ValueError("size and stride must be >= 1")
    if stride > size:
        # stride > size skips the tokens between consecutive windows,
        # violating the every-token-covered contract, and lets the last
        # window start past the array end (an empty trailing chunk).
        # With stride <= size the last start is
        # ceil((n-size)/stride)*stride + 1 <= n - size + stride <= n,
        # so every chunk is non-empty by construction.
        raise ValueError(
            f"stride ({stride}) must be <= size ({size}): larger strides "
            "skip inter-window tokens"
        )
    base = _spread(
        df.select(F.col(id_col), words(text_col).alias("_toks"))
    ).withColumn("_n", F.size(F.col("_toks")))
    max_idx = F.floor(
        (F.greatest(F.col("_n") - F.lit(size), F.lit(0)) + F.lit(stride - 1))
        / F.lit(stride)
    ).cast("int")
    idx = F.explode(F.sequence(F.lit(0), max_idx)).alias("chunk_idx")
    start = (F.col("chunk_idx") * F.lit(stride) + F.lit(1)).alias(
        "start_token"
    )
    chunked = base.select(F.col(id_col), F.col("_toks"), idx).select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        start.cast("long"),
        F.slice(
            F.col("_toks"), F.col("chunk_idx") * F.lit(stride) + F.lit(1), size
        ).alias("_chunk"),
    )
    return chunked.select(
        F.col(id_col),
        "chunk_idx",
        "start_token",
        F.size(F.col("_chunk")).cast("long").alias("n_tokens"),
        F.array_join(F.col("_chunk"), " ").alias("chunk_text"),
    )


def chunk_tokens_oracle_sql(
    id_col: str,
    text_col: str,
    table: str,
    size: int = 128,
    stride: int = 64,
) -> str:
    """DuckDB twin of :func:`chunk_tokens` (identical integer index
    arithmetic; DuckDB list slicing is 1-based inclusive, so the window
    is ``toks[s : s + size - 1]``)."""
    if size < 1 or stride < 1:
        raise ValueError("size and stride must be >= 1")
    if stride > size:
        raise ValueError(
            f"stride ({stride}) must be <= size ({size}): larger strides "
            "skip inter-window tokens"
        )
    return f"""
WITH base AS (
  SELECT {id_col}, {words_sql(text_col)} AS toks, len({words_sql(text_col)}) AS n_tok
  FROM {table}
), idx AS (
  SELECT {id_col}, toks,
         unnest(generate_series(
           0, (greatest(n_tok - {size}, 0) + {stride - 1}) // {stride}
         )) AS chunk_idx
  FROM base
)
SELECT {id_col},
  CAST(chunk_idx AS BIGINT) AS chunk_idx,
  CAST(chunk_idx * {stride} + 1 AS BIGINT) AS start_token,
  CAST(len(toks[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {size}])
       AS BIGINT) AS n_tokens,
  array_to_string(
    toks[chunk_idx * {stride} + 1 : chunk_idx * {stride} + {size}], ' '
  ) AS chunk_text
FROM idx
"""


def corpus_profile(
    df: DataFrame, text_col: str, group_col: str
) -> DataFrame:
    """Per-group corpus statistics profile — the data-card numbers a
    training-data curator reads before mixing sources: document count,
    token totals, and the exact token-length distribution (min / median /
    p95 / max).

    One partial-aggregating shuffle on the group key; quantiles use exact
    ``percentile`` (R-7 linear interpolation, the same definition DuckDB's
    ``quantile_cont`` implements) — at 100 TB swap in ``approx_percentile``
    and drop the bit-gate to a tolerance check; the plan shape is
    unchanged.
    """
    d = df.select(
        F.col(group_col),
        F.size(words(text_col)).alias("_n"),
    )
    return (
        d.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").cast("long").alias("total_tokens"),
            F.min("_n").cast("long").alias("min_tokens"),
            F.percentile(F.col("_n"), F.lit(0.5)).alias("_med"),
            F.percentile(F.col("_n"), F.lit(0.95)).alias("_p95"),
            F.max("_n").cast("long").alias("max_tokens"),
        )
        .select(
            group_col,
            "n_docs",
            "total_tokens",
            "min_tokens",
            fixed("_med", 4).alias("median_tokens_e4"),
            fixed("_p95", 4).alias("p95_tokens_e4"),
            "max_tokens",
        )
    )


def corpus_profile_oracle_sql(
    text_col: str, group_col: str, table: str
) -> str:
    """DuckDB twin of :func:`corpus_profile`."""
    return f"""
WITH base AS (
  SELECT {group_col}, len({words_sql(text_col)}) AS n
  FROM {table}
)
SELECT {group_col},
  count(*) AS n_docs,
  CAST(sum(n) AS BIGINT) AS total_tokens,
  CAST(min(n) AS BIGINT) AS min_tokens,
  {fixed_sql('quantile_cont(n, 0.5)', 4)}
    AS median_tokens_e4,
  {fixed_sql('quantile_cont(n, 0.95)', 4)}
    AS p95_tokens_e4,
  CAST(max(n) AS BIGINT) AS max_tokens
FROM base GROUP BY {group_col}
"""


#: quality_gate rule set — (name, bounds) documented per rule below.
#: Adapted from the Gopher quality heuristics (Rae et al. 2021, A1.1),
#: restricted to rules expressible as built-in column algebra in BOTH
#: engines (no lambda HOFs — the interpreted-HOF trap — and no regex
#: features RE2 lacks, so the DuckDB twin is exact).
QUALITY_STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is")
QUALITY_SYMBOLS_PATTERN = "[#%$@^*]"


def quality_gate(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_stopword_hits: int = 2,
    min_distinct_ratio: float = 0.1,
) -> DataFrame:
    """Composite document-quality gate: one boolean verdict per document
    plus a deterministic comma-joined list of the rules it failed — the
    single-pass curation filter a pipeline applies before dedup/mixing.

    Rules (each a pure-Column predicate, zero shuffles, one scan):

    - ``len``: ``min_tokens <= n_tokens <= max_tokens``;
    - ``word_len``: mean non-space characters per token within
      ``[min_mean_word_len, max_mean_word_len]``;
    - ``symbols``: symbol-to-token ratio (:data:`QUALITY_SYMBOLS_PATTERN`
      occurrences / tokens) at most ``max_symbol_ratio``;
    - ``stopwords``: at least ``min_stopword_hits`` DISTINCT members of
      :data:`QUALITY_STOPWORDS` present;
    - ``repetition``: distinct-token ratio at least
      ``min_distinct_ratio`` (collapses pathological repetition).

    Floats only feed comparisons, never the output (booleans, counts and
    the reason string are emitted), so the cross-engine hash sees no
    rounding boundary.
    """
    # NULL text → '' so both engines give the NULL document one
    # deterministic verdict: raw NULL makes Spark's size(split) = -1 fail
    # the len rule while DuckDB's NULL predicates drop out of the fail
    # list entirely (the junk row would PASS the oracle's gate).
    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = words(txt)
    n = F.size(toks)
    mean_wl = (F.length(txt) - (n - F.lit(1))) / n
    sym = F.size(F.regexp_extract_all(txt, F.lit(QUALITY_SYMBOLS_PATTERN), 0))
    stop_hits = F.size(
        F.array_intersect(toks, F.array(*[F.lit(s) for s in QUALITY_STOPWORDS]))
    )
    distinct_ratio = F.size(F.array_distinct(toks)) / n

    rules = [
        ("len", (n >= min_tokens) & (n <= max_tokens)),
        ("word_len", (mean_wl >= min_mean_word_len) & (mean_wl <= max_mean_word_len)),
        ("symbols", sym / n <= max_symbol_ratio),
        ("stopwords", stop_hits >= min_stopword_hits),
        ("repetition", distinct_ratio >= min_distinct_ratio),
    ]
    fails = F.array_compact(
        F.array(*[F.when(~ok, F.lit(name)) for name, ok in rules])
    )
    return df.select(
        F.col(id_col),
        n.cast("long").alias("n_tokens"),
        (F.size(fails) == 0).alias("passes"),
        F.size(fails).cast("long").alias("n_failed"),
        F.concat_ws(",", fails).alias("fail_reasons"),
    )


def quality_gate_oracle_sql(
    id_col: str,
    text_col: str,
    table: str,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_stopword_hits: int = 2,
    min_distinct_ratio: float = 0.1,
) -> str:
    """DuckDB twin of :func:`quality_gate` — identical rule order and
    constants (embedded via ``repr``); NULL text coalesced to '' exactly
    like the Spark side."""
    txt = f"coalesce({text_col}, '')"
    ts = words_sql(txt)
    n = f"len({ts})"
    mean_wl = f"((length({txt}) - ({n} - 1)) / {n})"
    sym = f"len(regexp_extract_all({txt}, '{QUALITY_SYMBOLS_PATTERN}'))"
    stops = "[" + ", ".join(f"'{s}'" for s in QUALITY_STOPWORDS) + "]"
    stop_hits = f"len(list_intersect({ts}, {stops}))"
    distinct_ratio = f"(len(list_distinct({ts})) / {n})"
    rules = [
        ("len", f"({n} >= {min_tokens} AND {n} <= {max_tokens})"),
        (
            "word_len",
            f"({mean_wl} >= {min_mean_word_len!r} AND {mean_wl} <= {max_mean_word_len!r})",
        ),
        ("symbols", f"({sym} / {n} <= {max_symbol_ratio!r})"),
        ("stopwords", f"({stop_hits} >= {min_stopword_hits})"),
        ("repetition", f"({distinct_ratio} >= {min_distinct_ratio!r})"),
    ]
    arr = (
        "list_filter(["
        + ", ".join(f"CASE WHEN NOT {ok} THEN '{name}' END" for name, ok in rules)
        + "], x -> x IS NOT NULL)"
    )
    return f"""
SELECT {id_col},
       CAST({n} AS BIGINT) AS n_tokens,
       len({arr}) = 0 AS passes,
       CAST(len({arr}) AS BIGINT) AS n_failed,
       coalesce(list_aggregate({arr}, 'string_agg', ','), '') AS fail_reasons
FROM {table}
"""


def vocabulary_overlap(
    df: DataFrame, group_col: str, text_col: str
) -> DataFrame:
    """Pairwise vocabulary Jaccard between groups (sources/domains) — the
    corpus-diversity matrix a mixing pipeline reads before setting
    sampling weights ("are these two crawls the same thing?").

    Emits ``(group_a, group_b, n_common, jaccard)`` for every group pair
    sharing at least one distinct token, ``group_a < group_b``, jaccard
    rounded to 4 decimals (the q16 convention).

    Scale shape: the (group, token) projection is distinct-reduced BEFORE
    the self-join (one shuffle, map-side partial), so join input is
    vocabulary-sized, not corpus-sized.  The token self-join emits one
    row per (shared token, group pair) — inherently |G|^2 per ubiquitous
    token, the exact-overlap price; with thousands of groups switch to
    per-group KMV sketches (`operators/sketch.py`) and estimate instead.
    """
    vocab = (
        df.select(
            F.col(group_col).alias("_g"),
            F.explode(words(text_col)).alias("_tok"),
        )
        .distinct()
    )
    sizes = vocab.groupBy("_g").agg(F.count(F.lit(1)).alias("_sz"))
    a = vocab.select(F.col("_g").alias("group_a"), "_tok")
    b = vocab.select(F.col("_g").alias("group_b"), "_tok")
    common = (
        a.join(b, "_tok")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("_g").alias("group_a"), F.col("_sz").alias("_sza"))
    sb = sizes.select(F.col("_g").alias("group_b"), F.col("_sz").alias("_szb"))
    return (
        common.join(sa, "group_a")
        .join(sb, "group_b")
        .select(
            "group_a",
            "group_b",
            F.col("n_common").cast("long").alias("n_common"),
            F.round(
                F.col("n_common")
                / (F.col("_sza") + F.col("_szb") - F.col("n_common")),
                4,
            ).alias("jaccard"),
        )
    )


def vocabulary_overlap_oracle_sql(
    group_col: str, text_col: str, table: str
) -> str:
    """DuckDB twin of :func:`vocabulary_overlap`."""
    return f"""
WITH vocab AS (
  SELECT DISTINCT {group_col} AS g, unnest({words_sql(text_col)}) AS tok
  FROM {table}
), sizes AS (
  SELECT g, count(*) AS sz FROM vocab GROUP BY g
), common AS (
  SELECT a.g AS group_a, b.g AS group_b, count(*) AS n_common
  FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.g < b.g
  GROUP BY a.g, b.g
)
SELECT group_a, group_b,
       CAST(n_common AS BIGINT) AS n_common,
       round(n_common / (sa.sz + sb.sz - n_common), 4) AS jaccard
FROM common
JOIN sizes sa ON sa.g = group_a
JOIN sizes sb ON sb.g = group_b
"""


def tfidf_signature_terms(
    df: DataFrame, group_col: str, text_col: str, k: int = 10
) -> DataFrame:
    """Top-k TF-IDF signature terms per group (source/domain) — "what
    makes this crawl different": each group is treated as one aggregate
    document, term frequency is the group's occurrence count, and
    idf = ln(1 + G / df_t) over the number of groups containing the term.

    Emits ``(group_col, term, tf, score_e6, rank)`` with rank 1..k by
    (score desc, term asc).  ``score_e6 = floor(tf * idf * 1e6)`` — the
    only transcendental is ``ln`` under the usual e-floor accepted-risk
    class; ties are fully ordered so engines agree.

    Scale shape: one (group, term) shuffle with map-side partial counts;
    df_t is a second vocabulary-sized aggregate joined back on term;
    G is a 1-row broadcast; the top-k window partitions by group.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    tf = (
        df.select(
            F.col(group_col).alias("_g"),
            F.explode(words(text_col)).alias("term"),
        )
        .groupBy("_g", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_dft"))
    groups = tf.select("_g").distinct().agg(F.count(F.lit(1)).alias("_ngroups"))
    scored = (
        tf.join(dft, "term")
        .crossJoin(F.broadcast(groups))  # 1-row group count: benign BNLJ
        .withColumn(
            "score_e6",
            F.floor(
                F.col("tf")
                * F.log(F.lit(1.0) + F.col("_ngroups") / F.col("_dft"))
                * 1_000_000
            ).cast("long"),
        )
    )
    w = Window.partitionBy("_g").orderBy(F.desc("score_e6"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_g").alias(group_col),
            "term",
            F.col("tf").cast("long").alias("tf"),
            "score_e6",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def tfidf_signature_terms_oracle_sql(
    group_col: str, text_col: str, table: str, k: int = 10
) -> str:
    """DuckDB twin of :func:`tfidf_signature_terms`."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return f"""
WITH tf AS (
  SELECT g, term, count(*) AS tf
  FROM (
    SELECT {group_col} AS g, unnest({words_sql(text_col)}) AS term
    FROM {table}
  )
  GROUP BY g, term
), dft AS (
  SELECT term, count(*) AS dft FROM tf GROUP BY term
), groups AS (
  -- count(*) over DISTINCT g: count(DISTINCT g) would EXCLUDE the NULL
  -- group that Spark's distinct().count() includes
  SELECT count(*) AS G FROM (SELECT DISTINCT g FROM tf)
), scored AS (
  SELECT tf.g, tf.term, tf.tf,
         CAST(floor(tf.tf * ln(1.0 + groups.G / dft.dft) * 1000000)
              AS BIGINT) AS score_e6
  FROM tf JOIN dft USING (term) CROSS JOIN groups
)
SELECT g AS {group_col}, term,
       CAST(tf AS BIGINT) AS tf, score_e6,
       CAST(rank AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY g ORDER BY score_e6 DESC, term)
            AS rank
  FROM scored
)
WHERE rank <= {k}
"""


def _line_key(line: Column, normalize: bool) -> Column:
    """Match key for one line: identity, or (collapse ``[ \\t\\r]+`` →
    one space, trim, lower).  The whitespace class is EXPLICIT — Java
    regex and DuckDB's RE2 disagree on ``\\s`` (vertical tab is in
    Java's, not RE2's), and after splitting on the line delimiter these
    three are the intra-line whitespace that actually occurs.  Idempotent
    by construction (collapsed text has no runs left to collapse; trim
    and lower are idempotent)."""
    if not normalize:
        return line
    return F.lower(F.trim(F.regexp_replace(line, "[ \t\r]+", " ")))


def line_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    delimiter_regex: str = "\\n",
    max_doc_freq: int = 1,
    joiner: str = "\n",
    normalize: bool = False,
) -> DataFrame:
    """Cross-document LINE deduplication (the RefinedWeb/Falcon curation
    step): drop every occurrence of any line whose DOCUMENT frequency
    exceeds ``max_doc_freq`` — boilerplate headers, navigation chrome,
    cookie banners — and reassemble each document from its surviving
    lines in original order.

    Reference parity note: the FIA reference has no text layer; this is
    part of the SURVEY §2 training-data extension family (exact dedup is
    document-grained q12; this removes the sub-document duplication that
    document-grained dedup cannot see).

    Semantics (pinned for engine parity):

    - a "line" is a ``split(text, delimiter_regex)`` fragment — regex
      split on BOTH engines (DuckDB twin uses ``string_split_regex``);
      empty fragments are real lines (two docs ending in the delimiter
      share an empty line);
    - doc frequency counts DISTINCT documents (a line repeated inside one
      document is not cross-corpus boilerplate and is kept — all copies);
    - dropping removes EVERY occurrence corpus-wide (no canonical-copy
      survivor: boilerplate is noise, not content — this differs from
      doc-level dedup where one representative survives);
    - NULL text → NULL ``clean_text`` with zero counts (the doc row
      itself always survives);
    - a document whose every line is dropped keeps an EMPTY
      ``clean_text`` ('' — distinguishable from NULL input);
    - ``normalize=True`` matches lines on a normalized KEY — collapse
      runs of ``[ \\t\\r]`` to one space (an explicit class: Java and
      RE2 disagree on ``\\s`` membership, e.g. vertical tab), trim,
      case-fold — while reassembly keeps each surviving line's ORIGINAL
      text (RefinedWeb-style pipelines normalize before matching so
      near-identical chrome collapses; the content itself is never
      rewritten).  The key function is idempotent, so re-running
      line_dedup over its own output with the same settings is a no-op
      on already-clean docs.

    Returns ``(id_col, clean_text, n_kept, n_dropped, dup_frac_e6)``
    where ``dup_frac_e6`` = round(n_dropped / (n_kept + n_dropped) *
    1e6) — the per-document duplicate-line fraction production pipelines
    threshold on (drop whole docs whose boilerplate fraction is too
    high).  Scaled-integer (e6) so engine comparison is exact; NULL for
    NULL-text docs (0/0 — Spark would yield NaN, DuckDB NULL; pinned to
    NULL on both engines).

    Scale shape (100 TB): posexplode is linear; the doc-frequency
    aggregation runs on md5(line) 32-byte keys (two partial-aggregated
    shuffles for the distinct count); the dup-line relation joined back
    contains ONLY lines over the threshold — boilerplate vocabulary, a
    tiny fraction of distinct lines — so Spark can broadcast it when
    stats allow; reassembly is one groupBy(doc) with an in-group
    array_sort, no window.  Nothing in the plan is quadratic and no
    driver-side collection exists.
    """
    lines = _spread(df).select(
        F.col(id_col).alias("_id"),
        F.posexplode(F.split(F.col(text_col), delimiter_regex)).alias(
            "_pos", "_line"
        ),
    ).withColumn("_lh", F.md5(_line_key(F.col("_line"), normalize)))
    # distinct-doc frequency via two partial-aggregated shuffles (a direct
    # countDistinct would plan an Expand over the full line stream)
    dup = (
        lines.select("_lh", "_id").distinct()
        .groupBy("_lh").agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_doc_freq)
        .select("_lh")
    )
    flagged = lines.join(dup.withColumn("_dup", F.lit(True)), "_lh", "left")
    agg = flagged.groupBy("_id").agg(
        F.sum(F.when(F.col("_dup").isNull(), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0)).alias(
            "n_dropped"
        ),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_dup").isNull(),
                            F.struct(F.col("_pos"), F.col("_line")),
                        )
                    )
                ),
                lambda s: s.getField("_line"),
            ),
            joiner,
        ).alias("clean_text"),
    )
    out = (
        df.select(F.col(id_col))
        .join(agg.withColumnRenamed("_id", id_col), id_col, "left")
        .select(
            id_col,
            "clean_text",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("int").alias("n_kept"),
            F.coalesce(F.col("n_dropped"), F.lit(0)).cast("int").alias(
                "n_dropped"
            ),
        )
    )
    total = F.col("n_kept") + F.col("n_dropped")
    # double multiply BEFORE the int counts can overflow int32 (a
    # >2147-line doc would wrap n_dropped * 1e6 in integer arithmetic);
    # identical IEEE double ops on both engines -> exact e6 parity, so the
    # 1e6 scale is applied here and the emission rounds at 0 decimals
    return out.withColumn(
        "dup_frac_e6",
        F.when(  # NULL-text docs: total 0 -> NULL (never NaN)
            total > 0, fixed(F.col("n_dropped").cast("double") * 1.0e6 / total, 0)
        ),
    )


def line_dedup_oracle_sql(
    id_col: str,
    text_col: str,
    table: str,
    delimiter_regex: str = "\\n",
    max_doc_freq: int = 1,
    joiner: str = "\n",
    normalize: bool = False,
) -> str:
    """DuckDB twin of :func:`line_dedup` — identical split regex, md5 line
    keys, distinct-doc frequency, order-preserving reassembly.

    Supported parameter character sets (the twin splices these into SQL
    text, escaping only what the registered callers need):

    - ``joiner``: printable characters, single quotes, and newlines.
      Backslashes are NOT supported — DuckDB string literals would need
      their own escaping pass and no caller uses them.
    - ``delimiter_regex``: a regex meaning the same thing to Java's
      ``java.util.regex`` (Spark ``split``) and DuckDB's RE2.  Stay
      within the shared common subset: literal chars, ``\\n``, ``\\t``,
      simple classes like ``[ \\t]+``.  Constructs the engines interpret
      differently (backreferences, lookbehind, ``\\R``, possessive
      quantifiers) silently diverge rather than fail.

    Both constraints are asserted below so an out-of-contract caller
    fails loudly at twin-construction time, not with a hash mismatch.
    """
    if "\\" in joiner:
        raise ValueError(
            "line_dedup_oracle_sql: backslash in joiner is outside the "
            "supported character set (see docstring)"
        )
    for bad in ("(?<", "\\R", "\\G"):
        if bad in delimiter_regex:
            raise ValueError(
                f"line_dedup_oracle_sql: {bad!r} in delimiter_regex is not "
                "portable between Java regex and DuckDB RE2 (see docstring)"
            )
    joiner_sql = joiner.replace("'", "''").replace("\n", "' || chr(10) || '")
    delim_sql = delimiter_regex.replace("'", "''")
    # the normalized KEY mirrors _line_key exactly: explicit [ \t\r]
    # class (portable between Java regex and RE2 — see _line_key), 'g'
    # flag because DuckDB regexp_replace is first-match-only by default
    # where Spark's is global
    key_sql = (
        "lower(trim(regexp_replace(_line, '[ \t\r]+', ' ', 'g')))"
        if normalize
        else "_line"
    )
    return f"""
WITH lines AS (
  SELECT {id_col} AS _id,
         generate_subscripts(string_split_regex({text_col}, '{delim_sql}'), 1)
           AS _pos,
         unnest(string_split_regex({text_col}, '{delim_sql}')) AS _line
  FROM {table}
), hashed AS (
  SELECT _id, _pos, _line, md5({key_sql}) AS _lh FROM lines
), dup AS (
  SELECT _lh FROM (
    SELECT _lh, count(*) AS _df
    FROM (SELECT DISTINCT _lh, _id FROM hashed) GROUP BY 1
  ) WHERE _df > {max_doc_freq}
), flagged AS (
  SELECT h.*, d._lh IS NOT NULL AS _dup
  FROM hashed h LEFT JOIN dup d USING (_lh)
), agg AS (
  SELECT _id,
         count(*) FILTER (WHERE NOT _dup) AS n_kept,
         count(*) FILTER (WHERE _dup) AS n_dropped,
         coalesce(
           string_agg(CASE WHEN NOT _dup THEN _line END, '{joiner_sql}'
                      ORDER BY _pos),
           '') AS clean_text
  FROM flagged GROUP BY 1
)
SELECT t.{id_col},
       agg.clean_text,
       CAST(coalesce(agg.n_kept, 0) AS INTEGER) AS n_kept,
       CAST(coalesce(agg.n_dropped, 0) AS INTEGER) AS n_dropped,
       CASE WHEN coalesce(agg.n_kept, 0) + coalesce(agg.n_dropped, 0) > 0
            THEN {fixed_sql(
                "CAST(agg.n_dropped AS DOUBLE) * 1000000.0"
                " / (agg.n_kept + agg.n_dropped)",
                0,
            )}
       END AS dup_frac_e6
FROM {table} t LEFT JOIN agg ON t.{id_col} = agg._id
"""
