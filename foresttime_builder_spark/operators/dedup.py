"""Deduplication operators for large-scale document pipelines.

All hashing is md5-derived (``functions.encoding.hash60``) so results are
reproducible in any engine (the DuckDB oracles use the same construction) —
Spark's murmur ``F.hash`` has no cross-engine twin.

Scale design notes:

- ``exact_dedup``: one hash-shuffle on the content hash; linear.
- The exact-Jaccard pair family (``token_jaccard_pairs``,
  ``minhash_lsh_pairs``, ``lsh_representatives``) is one candidate→verify
  pipeline.  A candidate source emits ``(doc_a, doc_b)``: the lossless
  All-Pairs/SSJoin prefix self-join (:func:`_prefix_candidates`), banded
  MinHash-LSH buckets (the sub-quadratic path when even prefix filtering
  is too dense), or bucket-hub star edges.  :func:`_verify_candidates`
  then verifies exactly on the tier :func:`choose` picks.  For
  vocabularies of <= 64 tokens ``token_jaccard_pairs`` instead collapses
  identical token sets first (:func:`_jaccard_bitmask`).
- Adaptive choices read facts, not probe jobs.  Each operator call makes
  one bounded pass over its corpus (:func:`_corpus_facts`: the corpus
  whole when it fits ``sample_docs``, else a count and a uniform sample),
  computes the vocabulary, mean set size and projected candidate streams
  from those rows on the driver, and asks the pure :func:`choose` for its
  strategy, budget degrade and verify tier.  Every choice is written to
  stderr as one ``{"event": "dedup.decision", ...}`` JSON line.
- ``containment_pairs``: asymmetric ``|A ∩ B| / |A|`` over the
  containment prefix of the contained side.
- ``simhash``: 60-bit SimHash per document for Hamming-distance near-dup.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window, functions as F

from foresttime_builder_spark.functions.encoding import hash60
from foresttime_builder_spark.functions.tokens import words
from foresttime_builder_spark.operators.cache import carry_cache, release_on_gc
from foresttime_builder_spark.operators.spread import spread as _sp


def tokens(text: Column | str) -> Column:
    """The distinct whitespace tokens of ``text``; DuckDB twin:
    :func:`~foresttime_builder_spark.functions.tokens.token_set_sql`."""
    return F.array_distinct(words(text))


def char_ngrams(text: str, n: int = 3) -> Column:
    """Distinct character n-gram (shingle) set of a text column — the
    n-gram flavor of set-similarity dedup (vs whitespace tokens). SQL-text
    construction: one JVM round trip, and `sequence` is guarded because
    Spark's sequence(1, 0) yields a DESCENDING [1, 0], not empty."""
    return F.expr(
        f"CASE WHEN length(`{text}`) < {n} THEN array() "
        f"ELSE array_distinct(transform(sequence(1, length(`{text}`) - {n - 1}), "
        f"i -> substring(`{text}`, i, {n}))) END"
    )


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Group identical content; emit (content_hash, keep_id, n_copies)."""
    return df.groupBy(F.md5(F.col(content_col)).alias("content_hash")).agg(
        F.min(id_col).alias(f"keep_{id_col}"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def derive_candidate_budget(
    spark,
    safety: float = 0.25,
    bytes_per_candidate: int = 64,
    n_workers: int = 1,
) -> int:
    """Conservative default for ``candidate_budget`` derived from the
    machine the shuffle will actually spill to.

    The guarded family (:func:`token_jaccard_pairs`,
    ``graph.cluster_near_dups``) treats ``candidate_budget=None`` as
    unguarded — correct for tests, a foot-gun in production where a dense
    corpus can project a candidate stream that exceeds local shuffle
    storage.  This helper turns the guard default-safe with one line::

        pairs = token_jaccard_pairs(
            df, "doc_id", "text",
            candidate_budget=derive_candidate_budget(spark),
            on_budget="degrade",
        )

    Derivation: free bytes across the distinct ``spark.local.dir``
    shuffle directories × ``safety`` ÷ ``bytes_per_candidate`` (two ids +
    overlap counters + shuffle framing ≈ 64 B/candidate both in flight
    and on disk).  ``safety`` defaults to 0.25 so the candidate shuffle
    claims at most a quarter of the free spill space — the verification
    join and whatever else the job runs need the rest.

    On a real cluster the driver cannot see executor disks: pass
    ``n_workers`` (budget scales linearly — each executor spills its own
    partitions) and point ``spark.local.dir`` at a path with
    representative free space, or skip the helper and pass an explicit
    figure from your infrastructure.  Floors at 1M candidates so a nearly
    full dev disk still lets small corpora through (1M candidates is
    ≤64 MB — noise even on a laptop).
    """
    import shutil

    conf_dirs = spark.conf.get(
        "spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/tmp")
    )
    free = 0
    seen = set()
    for d in conf_dirs.split(","):
        d = d.strip() or "/tmp"
        try:
            # count each filesystem once even if several dirs share it —
            # keyed by device id, not by (total, free), which can both
            # collapse distinct same-sized idle disks and double-count one
            # filesystem whose free bytes moved between the two stat calls
            key = os.stat(d).st_dev
            usage = shutil.disk_usage(d)
        except OSError:
            continue
        if key in seen:
            continue
        seen.add(key)
        free += usage.free
    budget = int(free * safety / bytes_per_candidate) * max(n_workers, 1)
    return max(budget, 1_000_000)


def _check_threshold(threshold: float) -> None:
    """The pair family's threshold contract: ``t`` in (0, 1].  At ``t <= 0``
    "every pair with J >= t" includes pairs that share no token or band,
    which no candidate source can enumerate."""
    if threshold <= 0 or threshold > 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")


class CorpusFacts(NamedTuple):
    """What the pair family's adaptive choices read about a ``(doc_id,
    toks, sz)`` corpus, gathered by one bounded pass (:func:`_corpus_facts`)."""

    n_docs: int
    p: float  # the fraction of documents in ``sample``
    vocab: list[str] | None  # sorted, None past _INTARRAYS_VOCAB_CAP tokens
    avg_sz: float  # mean set size of the first 4096 documents
    sample: pa.Table  # the (doc_id, toks, sz) rows the projections replay


def _corpus_facts(docsets: DataFrame, sample_docs: int = 20_000) -> CorpusFacts:
    """One bounded pass over ``docsets`` for every fact the pair family's
    choices read.

    A corpus of at most ``sample_docs`` documents is read whole by one
    ``limit(max(sample_docs, 4096) + 1)`` Arrow collect, a single Spark
    job, whose first 4096 rows give ``avg_sz``.  A larger one adds a count
    and the ``sample(p, seed=7)`` rows (``p = sample_docs / n_docs``);
    per-key document frequencies scale ~``p`` under uniform document
    sampling, which the projections undo.  The sample's vocabulary is a
    lower bound on the corpus's: past the cap the answer is None,
    otherwise a sampled corpus confirms with one bounded ``limit(cap + 1)``
    collect of its distinct tokens, whose sorted values number the mask
    and int tiers' dictionary.  NULL tokens are not vocabulary: the
    dictionary join drops them."""
    bound = max(sample_docs, 4096)
    head = docsets.limit(bound + 1).toArrow()
    first = head.column("sz").slice(0, 4096)
    n_sz = len(first) - first.null_count
    avg_sz = (pc.sum(first).as_py() or 0) / n_sz if n_sz else 0.0
    n_docs = head.num_rows if head.num_rows <= bound else docsets.count()
    p = min(1.0, sample_docs / n_docs) if n_docs else 1.0
    sample = head if p == 1.0 else docsets.sample(fraction=p, seed=7).toArrow()
    cap = _INTARRAYS_VOCAB_CAP  # read at call time, so tests can shrink it
    words = pc.unique(pc.list_flatten(sample.column("toks"))).drop_null()
    vocab = sorted(words.to_pylist()) if len(words) <= cap else None
    if vocab is not None and p < 1.0:
        rows = (
            docsets.select(F.explode("toks").alias("token"))
            .filter(F.col("token").isNotNull())
            .distinct()
            .limit(cap + 1)
            .collect()
        )
        vocab = sorted(r["token"] for r in rows) if len(rows) <= cap else None
    return CorpusFacts(n_docs, p, vocab, avg_sz, sample)


def _sample_tokens(
    sample: pa.Table,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, list[str]]:
    """``(row, doc, tok, words)`` per token element of the sample's
    non-NULL ``toks``: the element's sample row, its document code (equal
    doc ids share one, as they share a Spark group; NULL is a code too),
    its index into ``words`` (the distinct tokens; a NULL element gets
    ``len(words)``), and ``words``."""
    toks = sample.column("toks").combine_chunks()
    row = pc.list_parent_indices(toks).to_numpy()
    enc = pc.dictionary_encode(pc.list_flatten(toks))
    words = enc.dictionary.to_pylist()
    tok = enc.indices.fill_null(len(words)).to_numpy(zero_copy_only=False)
    ids = pc.dictionary_encode(
        sample.column("doc_id").combine_chunks(), null_encoding="encode"
    ).indices.to_numpy(zero_copy_only=False)
    return row, ids[row], tok.astype(np.int64), words


def _prefix_projection(
    facts: CorpusFacts, threshold: float, containment: bool = False
) -> int:
    """The prefix join's projected pre-``distinct`` candidate stream,
    scaled from ``facts.sample`` by ``1/p^2`` (pair counts are products of
    two frequencies).  Replays :func:`_rarest_prefix` on the sample in
    numpy: each token element's sample document frequency ``df``, its
    rank in its document under the global ``(df, token)`` order, and the
    same prefix bound in the same double arithmetic.  Jaccard's stream is
    ``sum over tokens of C(prefix_df, 2)``; containment's is ``sum over
    prefix rows of (df - 1)``, each prefix posting joining every OTHER
    posting of its token in the full inverted index."""
    row, doc, tok, words = _sample_tokens(facts.sample)
    real = tok < len(words)  # the frequency join drops NULL tokens
    if not real.any():
        return 0
    row, doc, tok = row[real], doc[real], tok[real]
    sz = facts.sample.column("sz").combine_chunks().to_numpy(
        zero_copy_only=False
    )[row].astype(np.float64)
    v = len(words)
    df = np.bincount(tok, minlength=v)
    # each token's place in the global (df, token) order; Python orders
    # str by code point, which is Spark's UTF-8 byte order
    by_token = np.empty(v, np.int64)
    by_token[sorted(range(v), key=words.__getitem__)] = np.arange(v)
    place = np.empty(v, np.int64)
    place[np.lexsort((by_token, df))] = np.arange(v)
    order = np.argsort(doc * v + place[tok])
    grouped = doc[order]
    pos = np.arange(len(order))
    starts = np.r_[True, grouped[1:] != grouped[:-1]]
    rnk = np.empty(len(order), np.int64)
    rnk[order] = pos - np.maximum.accumulate(np.where(starts, pos, 0)) + 1
    need = (
        np.ceil(threshold * sz - 1e-9) if containment
        else np.ceil((threshold - 1e-4) * sz)
    )
    kept = tok[rnk <= sz - need + 1]
    if containment:
        pairs = int((df[kept] - 1).sum())
    else:
        n = np.bincount(kept, minlength=len(words))
        pairs = int((n * (n - 1) // 2).sum())
    return int(float(pairs) / (facts.p * facts.p))


def _lsh_projection(facts: CorpusFacts, n_hashes: int, band_size: int) -> int:
    """The banded-LSH self-join's projected stream, ``sum over (band,
    band_key) buckets of C(n_bucket, 2)`` scaled from ``facts.sample`` by
    ``1/p^2``.  The sample's MinHash signatures are computed in numpy from
    the same ``hash60(concat('i|', token))`` values
    :func:`minhash_signatures` takes the min of: md5 runs once per
    distinct sample token and hash.  A NULL token hashes to NULL, which
    the min skips; a document of NULL tokens only has NULL minima, so its
    band keys (``concat_ws`` skips NULLs) equal every such document's.

    A CONSERVATIVE upper bound: no in-join size cut (see
    :func:`minhash_lsh_pairs`)."""
    _, doc, tok, words = _sample_tokens(facts.sample)
    if not len(tok):
        return 0
    null = np.uint64(2**64 - 1)  # above every 60-bit hash: the min skips it
    h = np.full((n_hashes, len(words) + 1), null, np.uint64)
    encoded = [w.encode() for w in words]
    for i in range(n_hashes):
        salt = b"%d|" % i
        digests = b"".join([hashlib.md5(salt + w).digest() for w in encoded])
        h[i, :-1] = np.frombuffer(digests, ">u8")[::2] >> np.uint64(4)
    order = np.argsort(doc, kind="stable")  # rows arrive grouped: O(n)
    doc, tok = doc[order], tok[order]
    starts = np.flatnonzero(np.r_[True, doc[1:] != doc[:-1]])
    sig = [np.minimum.reduceat(h[i][tok], starts) for i in range(n_hashes)]
    pairs = 0
    for b in range(n_hashes // band_size):
        band = sig[b * band_size:(b + 1) * band_size]
        keys = [k[np.lexsort(band)] for k in band]
        first = np.r_[True, np.any([k[1:] != k[:-1] for k in keys], axis=0)]
        n = np.diff(np.r_[np.flatnonzero(first), len(first)])
        pairs += int((n * (n - 1) // 2).sum())
    return int(float(pairs) / (facts.p * facts.p))


def estimate_candidate_pairs(
    docsets: DataFrame, threshold: float, sample_docs: int = 20_000
) -> int:
    """Projected pre-``distinct`` candidate volume of the exact prefix
    self-join, from a bounded document sample.

    The quantity that bounds the exact path's feasibility is the candidate
    *stream* the join shuffles — ``sum over joined tokens of
    C(df_token, 2)`` — not the verified output (at sf10 this stream hit
    ~1.25e9 rows and exceeded local disk while the gate-visible output was
    tiny).  See :func:`_corpus_facts` and :func:`_prefix_projection`."""
    return _prefix_projection(_corpus_facts(docsets, sample_docs), threshold)


def token_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    strategy: str = "auto",
    tokenizer: Column | None = None,
    candidate_budget: int | None = None,
    on_budget: str = "error",
    degrade_budget: int | None = None,
) -> DataFrame:
    """All pairs of documents with token-set Jaccard >= threshold (exact).

    Returns columns (doc_a, doc_b, n_common, jaccard) with doc_a < doc_b and
    jaccard rounded to 4 decimals.  ``threshold`` must be in (0, 1].
    ``tokenizer`` defaults to whitespace tokens; pass e.g.
    ``char_ngrams(text_col)`` for shingle (n-gram) set similarity (a
    custom tokenizer is distinct-wrapped, see :func:`_docsets`).

    Strategies (both lossless — they produce identical results):

    - ``bitmask``: for small vocabularies (<= 64 distinct tokens): encode
      each document's token set as one 64-bit mask, collapse documents with
      identical sets, compare *distinct sets* pairwise with popcount
      arithmetic, then expand back to document pairs
      (:func:`_jaccard_bitmask`).  Tiny vocabularies collapse billions of
      documents into at most ``2^V`` (in practice ~thousands of) sets.
    - ``prefix``: general vocabularies: the All-Pairs/SSJoin prefix
      self-join (:func:`_prefix_candidates`) verified by
      :func:`_verify_candidates`.  When the vocabulary fits
      :data:`_BLOCKMASK_VOCAB_CAP` tokens the join keys on dictionary
      positions and verifies on the ``blockmask`` tier; otherwise it keys
      on token strings and verifies on ``arrays``.
    - ``auto``: ``bitmask`` if the vocabulary fits in 64 bits else
      ``prefix``, settled by the call's one fact pass
      (:func:`_corpus_facts`), whose vocabulary also numbers the blockmask
      dictionary; :func:`choose` makes every choice from those facts.

    ``candidate_budget`` is the regime guard for the prefix path: before
    any full-corpus shuffle, :func:`_prefix_projection` projects the
    join's candidate stream from the fact pass's document sample; if the
    projection exceeds the budget the operator either raises with
    actionable advice (``on_budget='error'``) or degrades to banded
    MinHash-LSH candidates with the same exact verification and output
    schema (``on_budget='degrade'``: high recall instead of
    guaranteed-total recall; ``n_hashes=16, band_size=4`` centers the
    collision s-curve near ``(1/4)^(1/4) ~ 0.71``, matched to the default
    0.8 threshold).
    The guard never fires for ``bitmask`` (candidates are bounded by
    distinct token-SETS squared, not documents).

    The fallback is guarded too: the banded stream can itself be
    output-bound on a self-similar corpus (q23 at sf10 projected ~2.3e9
    banded candidates), so the degrade call inherits ``candidate_budget``
    ×4 — budgets are denominated in ~64 B exact-verification rows, banded
    candidate rows are two ids (~16 B) — and raises the designed
    feasibility error rather than exhausting shuffle disk.  When the
    caller's budget is a deliberate forcing lever rather than a physical
    limit (demos, tests), pass ``degrade_budget`` — the fallback is then
    guarded by THAT figure (e.g. ``derive_candidate_budget(spark)``).
    """
    _check_threshold(threshold)
    if on_budget not in ("error", "degrade"):
        raise ValueError(f"bad on_budget {on_budget!r}")
    if strategy not in ("auto", "bitmask", "prefix"):
        raise ValueError(f"bad strategy {strategy!r}")
    # the tokenized relation feeds the candidate join AND both verification
    # sides — persist it so the corpus is tokenized once, not 3-4 times
    docsets = _docsets(df, id_col, text_col, tokenizer).persist()

    facts = _corpus_facts(docsets)
    projected = (
        None if candidate_budget is None else _prefix_projection(facts, threshold)
    )
    d = _decide(
        "token_jaccard_pairs", facts, projected, pin=strategy,
        budget=candidate_budget, on_budget=on_budget,
    )
    if d.choice in ("error", "degrade"):
        docsets.unpersist()
    if d.choice == "error":
        raise ValueError(
            f"token_jaccard_pairs: projected candidate stream "
            f"~{projected:,} pairs exceeds candidate_budget="
            f"{candidate_budget:,}; the exact all-pairs answer is "
            f"shuffle/output-bound in this regime. Re-run with "
            f"on_budget='degrade' (banded MinHash-LSH candidates, "
            f"exact verification, same schema), or use "
            f"minhash_lsh_pairs / dup_clusters directly."
        )
    if d.choice == "degrade":
        return minhash_lsh_pairs(
            df, id_col, text_col, n_hashes=16, band_size=4,
            threshold=threshold, tokenizer=tokenizer,
            candidate_budget=(
                candidate_budget * 4 if degrade_budget is None
                else degrade_budget
            ),
        )
    if d.choice == "bitmask":
        return release_on_gc(
            _jaccard_bitmask(docsets, threshold, facts.vocab), docsets
        )
    if d.choice == "blockmask":
        # the dictionary numbers the join keys (int shuffle keys) AND the
        # blockmask bits, built once; popcount verification is ~10x
        # cheaper per pair than merging string arrays (sf1: verification
        # was 48 of 65 s on 122M candidates in this regime)
        positions = _token_positions(docsets, "blockmask", facts.vocab)
        tok, key = positions[0], "pos"
    else:
        positions, key = None, "token"
        tok = docsets.select("doc_id", "sz", F.explode("toks").alias("token"))
    cand = _prefix_candidates(tok, key, threshold)
    return release_on_gc(
        _verify_candidates(
            cand, docsets, d.choice, threshold, facts.vocab, positions
        ),
        docsets,
    )


_BLOCKMASK_VOCAB_CAP = 4096  # 64 longs of bitset per document

#: int-array tier cap: unlike the blockmask, the int tier's per-pair cost
#: is O(sz) regardless of vocabulary width, so its only bound is the
#: driver-collect + broadcast of the position dictionary — 64k tokens is a
#: ~2 MB broadcast.
_INTARRAYS_VOCAB_CAP = 65536


def _token_positions(
    docsets: DataFrame, tier: str, vocab: list[str] | None
) -> tuple[DataFrame, int]:
    """``((doc_id, sz, pos) relation, vocab size)``: every document token
    numbered by its place in the sorted vocabulary — the one dictionary
    encoding behind the mask and int tiers.  Positions are explicit per
    token (no hashing), so set intersections over them are exact.

    ``vocab`` is :attr:`CorpusFacts.vocab` (None past every cap), so the
    numbering runs no job.  A pinned tier on a corpus past its cap raises
    here, at plan time, instead of letting positions wrap into colliding
    bits."""
    # caps read at call time, so tests can shrink them
    cap = {
        "bitmask": 64,
        "blockmask": _BLOCKMASK_VOCAB_CAP,
        "intarrays": _INTARRAYS_VOCAB_CAP,
    }[tier]
    if vocab is None or len(vocab) > cap:
        raise ValueError(
            f"{tier} verification requires vocabulary <= {cap} distinct "
            f"tokens; use strategy='prefix', verify='arrays' or 'auto'"
        )
    vocab_df = docsets.sparkSession.createDataFrame(
        [(t, i) for i, t in enumerate(vocab)], "token string, pos int"
    )
    tokp = (
        docsets.select("doc_id", "sz", F.explode("toks").alias("token"))
        .join(F.broadcast(vocab_df), "token")
        .select("doc_id", "sz", "pos")
    )
    return tokp, len(vocab)


def _rarest_prefix(
    tok: DataFrame, key: str, threshold: float, containment: bool = False
) -> DataFrame:
    """Each document's rarest-first prefix — the one ranking behind every
    prefix filter.  ``tok`` is ``(doc_id, sz, <key>)``; rows gain the
    key's document frequency ``df`` and a per-document rank ``rnk`` under
    the global ``(df, key)`` order (ties broken by the key for
    determinism), and are kept while ``rnk <= L - ceil(t·L) + 1``.

    - Jaccard (All-Pairs/SSJoin) ranks with the slacked ``t - 1e-4``: the
      final filter admits raw jaccard down to ``t - 5e-5`` (4-dp HALF_UP),
      so a prefix from the exact ``t`` is one token short when ``t·L``
      sits within ``1e-4·L`` above an integer.
    - Containment filters the unrounded ratio, so it uses ``t`` with a
      ``1e-9`` float guard: ``0.55 * 100`` is ``55.00000000000001``, whose
      bare ceil shortens the prefix by one token and drops pairs at
      exactly ``t``.

    Either adjustment lengthens a prefix by at most one token, which is
    lossless."""
    sz = F.col("sz")
    need = (
        F.ceil(F.lit(threshold) * sz - F.lit(1e-9))
        if containment
        else F.ceil(F.lit(threshold - 1e-4) * sz)
    )
    dfreq = tok.groupBy(key).agg(F.count(F.lit(1)).alias("df"))
    return (
        tok.join(F.broadcast(dfreq), key)
        .withColumn(
            "rnk",
            F.row_number().over(Window.partitionBy("doc_id").orderBy("df", key)),
        )
        .filter(F.col("rnk") <= sz - need + 1)
    )


def _size_compatible(sz_a: Column, sz_b: Column, threshold: float) -> Column:
    """All-Pairs/SSJoin length filter: ``jaccard(A,B) <= min(|A|,|B|) /
    max(|A|,|B|)`` (the intersection is at most the smaller set), so a
    pair whose token-count ratio is below the threshold cannot reach the
    output — a LOSSLESS pre-filter, two integer comparisons per candidate.
    The 1e-4 slack covers the 4-dp output rounding: the final filter is on
    round4(jaccard) >= t, which admits raw jaccard down to t - 5e-5."""
    return F.least(sz_a, sz_b) >= (
        F.lit(threshold) - F.lit(1e-4)
    ) * F.greatest(sz_a, sz_b)


def _positional_bound_ok(
    rnk_a: Column, rnk_b: Column, sz_a: Column, sz_b: Column, threshold: float
) -> Column:
    """PPJoin-style positional filter (Xiao et al., "Efficient Similarity
    Joins for Near Duplicate Detection"), evaluated per matched prefix
    token INSIDE the candidate join, before the ``distinct`` shuffle and
    verification.

    For a candidate generated by a shared token at per-document ranks
    ``(i, j)`` under one consistent global order (rarest-first ``(df,
    key)`` — so any common token sits on the same side of the match in
    BOTH documents), the overlap decomposes into common-before plus
    common-from-the-match-on::

        overlap <= min(i-1, j-1)  +  1 + min(sz_a - i, sz_b - j)

    Jaccard >= t requires ``overlap >= t/(1+t) * (sz_a + sz_b)``; a row
    whose bound cannot reach that is discarded.  LOSSLESS per row (not
    just per pair): a truly-similar pair satisfies the bound at EVERY
    shared token, so each of its join rows survives and the pair cannot
    be lost — which is what makes the filter expressible as a pure join
    predicate.  The threshold carries the same 1e-4 rounding slack as
    :func:`_size_compatible` plus 1e-9 float headroom, so boundary pairs
    are kept, never dropped."""
    t = threshold - 1e-4
    ubound = (
        F.least(rnk_a, rnk_b)
        + F.least(sz_a - rnk_a, sz_b - rnk_b)
    )
    return ubound >= F.lit(t / (1.0 + t)) * (sz_a + sz_b) - F.lit(1e-9)


def _prefix_candidates(tok: DataFrame, key: str, threshold: float) -> DataFrame:
    """``(doc_a, doc_b)`` candidates of the All-Pairs/SSJoin prefix
    self-join: a pair with Jaccard >= t must share a token among both
    documents' rarest-first prefixes (:func:`_rarest_prefix`), so only
    prefix rows enter the join, which collapses the quadratic blowup from
    ubiquitous tokens.  The size and positional bounds prune inside the
    join, before the ``distinct``.

    ``tok`` is ``(doc_id, sz, <key>)`` with ``key`` either ``token``
    (strings) or ``pos`` (dictionary positions, 4-byte shuffle keys).
    Positions are assigned in token order, so ``(df, pos)`` ranks exactly
    like ``(df, token)`` and both keys yield the same candidates."""
    ranked = _rarest_prefix(tok, key, threshold).select(
        "doc_id", key, "sz", "rnk"
    )
    a, b = ranked.alias("a"), ranked.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.{key}") == F.col(f"b.{key}"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & _size_compatible(F.col("a.sz"), F.col("b.sz"), threshold)
            & _positional_bound_ok(
                F.col("a.rnk"), F.col("b.rnk"),
                F.col("a.sz"), F.col("b.sz"), threshold,
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _jaccard(n_common: Column, sz_a: Column, sz_b: Column) -> Column:
    """The family's fixed-point jaccard, ``|A∩B| / |A∪B|`` rounded to 4 dp
    (HALF_UP): the value every path emits and every threshold compares.
    ``|A∪B| = |A| + |B| - |A∩B|`` in integers, so a popcount union gives
    the same double."""
    return F.round(n_common / (sz_a + sz_b - n_common), 4)


def _blockmasks(tokp: DataFrame, n_words: int) -> DataFrame:
    """``(doc_id, sz, rep)`` multi-word bitsets from a ``(doc_id, sz, pos)``
    relation: one conditional sum per 64-bit word (sum == OR for the
    distinct positions of one document's token set)."""
    word_aggs = [
        F.sum(
            F.when(
                (F.col("pos") >= 64 * w) & (F.col("pos") < 64 * (w + 1)),
                F.expr("shiftleft(CAST(1 AS BIGINT), pos % 64)"),
            ).otherwise(F.lit(0).cast("long"))
        ).alias(f"_w{w}")
        for w in range(n_words)
    ]
    return (
        tokp.groupBy("doc_id", "sz")
        .agg(*word_aggs)
        .select(
            "doc_id", "sz",
            F.array(*[f"_w{w}" for w in range(n_words)]).alias("rep"),
        )
    )


def _doc_masks(docsets: DataFrame, vocab: list[str] | None) -> DataFrame:
    """(doc_id, mask): each document's token set as one 64-bit bitmask.

    Only valid when the corpus vocabulary has <= 64 distinct tokens
    (enforced at plan time by :func:`_token_positions` — a pinned bitmask
    on a corpus that outgrew 64 tokens raises rather than letting
    ``shiftleft`` wrap pos & 63 into silently-colliding bit positions).
    """
    tokp, _ = _token_positions(docsets, "bitmask", vocab)
    return (
        tokp.groupBy("doc_id")
        # arithmetic sum == bitwise OR for distinct bit positions (the sign
        # bit for pos 63 wraps but stays a valid mask in two's complement)
        .agg(F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), pos)")).alias("mask"))
    )


def _jaccard_bitmask(
    docsets: DataFrame, threshold: float, vocab: list[str] | None
) -> DataFrame:
    """Exact Jaccard pairs for vocabularies that fit one 64-bit mask.

    docsets: (doc_id, toks array, sz). See :func:`token_jaccard_pairs`;
    ``vocab`` is :attr:`CorpusFacts.vocab`.
    """
    # feeds both sides of the identical-set join AND the distinct-set roll-up:
    # persist, or the explode+shuffle mask build runs three times
    masks = _doc_masks(docsets, vocab).persist()

    # identical-set pairs: join on equal mask (Jaccard exactly 1)
    ma, mb = masks.alias("a"), masks.alias("b")
    intra = (
        ma.join(
            mb,
            (F.col("a.mask") == F.col("b.mask"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(F.col("a.mask")).cast("int").alias("n_common"),
            F.lit(1.0).alias("jaccard"),
        )
    )

    # distinct-set pairwise comparison, then expand each qualifying set pair
    # back to its documents.  A naive all-pairs nested loop is |sets|²; the
    # SSJoin size filter makes it a hash equi-join instead: J >= t forces
    # t·|A| <= |B| <= |A|/t, so explode each set over its admissible
    # popcount window and join on exact popcount.  The epsilon only widens
    # the window (extra candidates are removed by the exact jaccard filter
    # below), guarding against float fuzz like 0.8*15 = 12.0000000000000007.
    sets = masks.groupBy("mask").agg(F.collect_list("doc_id").alias("members"))
    pcs = sets.withColumn("pc", F.bit_count("mask").cast("int"))
    lo = F.ceil(F.lit(threshold) * F.col("pc") - F.lit(1e-9)).cast("int")
    hi = F.floor(F.col("pc") / F.lit(threshold) + F.lit(1e-9)).cast("int")
    sa = pcs.withColumn("pc_b", F.explode(F.sequence(lo, hi))).alias("sa")
    sb = pcs.alias("sb")
    inter_bits = F.bit_count(F.col("sa.mask").bitwiseAND(F.col("sb.mask")))
    set_pairs = (
        sa.join(
            sb,
            (F.col("sa.pc_b") == F.col("sb.pc"))
            & (F.col("sa.mask") < F.col("sb.mask")),
        )
        .withColumn("n_common", inter_bits.cast("int"))
        .withColumn(
            "jaccard",
            _jaccard(F.col("n_common"), F.col("sa.pc"), F.col("sb.pc")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    inter = (
        set_pairs.select(
            F.explode("sa.members").alias("x"),
            F.col("sb.members").alias("ys"),
            "n_common",
            "jaccard",
        )
        .select(
            "x", F.explode("ys").alias("y"), "n_common", "jaccard"
        )
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "n_common",
            "jaccard",
        )
    )
    return release_on_gc(intra.unionByName(inter), masks)


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    tokenizer: Column | None = None,
    with_size: bool = False,
) -> DataFrame:
    """MinHash signature per document: n_hashes min-of-seeded-hash columns
    (mh_00 .. mh_NN), engine-portable via md5.  ``tokenizer`` overrides the
    whitespace token set (e.g. ``char_ngrams(text_col)`` for shingle
    MinHash — the original MinHash use-case).  ``with_size`` adds a ``sz``
    column (token-set size) in the SAME groupBy — zero extra shuffles — so
    banded joins can apply the All-Pairs length cut (r14; see
    :func:`_size_compatible`)."""
    # a custom tokenizer may emit duplicates; wrap it in array_distinct —
    # MinHash values are duplicate-INVARIANT (min over repeated tokens is
    # identical), and ``sz`` must be the DISTINCT token count for the
    # All-Pairs cut to be lossless under BOTH verification modes: bitmask
    # jaccard is over distinct sets, and for the arrays mode
    # n <= d_min and (ms_a + ms_b - d_min) >= ms_max >= d_max give
    # j <= d_min/d_max, so d-denominated pruning can never drop a pair the
    # verifier would keep (the r14 review's multiset counterexample:
    # 'x x x x' vs 'x' — multiset cut pruned a bitmask-jaccard-1.0 pair)
    tok_col = (
        tokens(text_col) if tokenizer is None else F.array_distinct(tokenizer)
    )
    # _spread: the n_hashes x md5-per-token work is orders of magnitude
    # above the scan bytes, so a small parquet arrives as 1 split and the
    # whole signature stage runs single-threaded (q119 sf0.1 measured
    # ~3.5 s of md5 on 1 of 32 cores — the q34 r12 finding, same fix).
    # Values are unaffected: min is order-free.  At production scale the
    # scan already has >= parallelism splits and spread is identity.
    tok = _sp(df).select(
        F.col(id_col).alias("doc_id"), F.explode(tok_col).alias("token")
    )
    aggs = [
        F.min(hash60(F.concat(F.lit(f"{i}|"), F.col("token")))).alias(f"mh_{i:02d}")
        for i in range(n_hashes)
    ]
    if with_size:
        # count of exploded rows == F.size(tok_col) (explode emits one row
        # per element, duplicates and NULL elements included), so this sz
        # EQUALS the ``sz`` _docsets computes for verification — the
        # equality the length cut's losslessness rests on
        aggs.append(F.count(F.lit(1)).alias("sz"))
    return tok.groupBy("doc_id").agg(*aggs)


def _stacked_bands(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int,
    band_size: int,
    out_id: str = "doc_id",
    tokenizer: Column | None = None,
    with_size: bool = False,
) -> DataFrame:
    """(out_id, band_key[, sz]) rows: MinHash signatures banded and exploded
    — the shared LSH blocking stage of :func:`minhash_lsh_pairs` and
    :func:`incremental_dedup` (one definition, so the banding scheme
    cannot silently diverge between the two paths).  ``with_size`` carries
    the token-set size (one extra int per band row) so callers can prune
    size-incompatible candidates INSIDE the band join, before the
    ``distinct`` shuffle pays for them."""
    sigs = minhash_signatures(
        df, id_col, text_col, n_hashes, tokenizer, with_size=with_size
    )
    n_bands = n_hashes // band_size
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                F.lit(str(b)),
                *[F.col(f"mh_{b * band_size + j:02d}") for j in range(band_size)],
            )
        ).alias(f"band_{b}")
        for b in range(n_bands)
    ]
    extra = ["sz"] if with_size else []
    return sigs.select("doc_id", *extra, *band_cols).select(
        F.col("doc_id").alias(out_id),
        *extra,
        F.explode(F.array(*[F.col(f"band_{b}") for b in range(n_bands)])).alias(
            "band_key"
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    band_size: int = 2,
    threshold: float = 0.5,
    verify: str = "auto",
    tokenizer: Column | None = None,
    candidate_budget: int | None = None,
    on_budget: str = "error",
) -> DataFrame:
    """Banded-LSH candidate pairs verified with exact Jaccard.

    Signature rows are banded (``n_hashes / band_size`` bands); documents
    colliding in any band become candidates; candidates are verified against
    the exact token-set Jaccard (:func:`_verify_candidates`, tier ``verify``)
    so the output has no false positives (recall depends on banding
    parameters, as usual for LSH).  ``threshold`` must be in (0, 1].
    ``tokenizer`` switches both the signatures and the verification to a
    custom token set (e.g. ``char_ngrams`` shingles).

    ``candidate_budget`` is the feasibility guard: banding is only
    sub-quadratic when true similarity is SPARSE — on a corpus where a
    large fraction of pairs really are near-dups, near-dup pairs collide
    in most bands and the candidate stream approaches
    ``n_bands × true_pairs`` (the r11 sf10 sweep measured ~7e9 projected
    candidates for q23 — past local shuffle disk).  When the sampled
    projection (:func:`_lsh_projection`) exceeds the budget the
    operator's default posture (``on_budget='error'``) RAISES with the
    projection and the levers — there is no lossless degrade below pair
    enumeration: if the pair list itself is the bottleneck, the answer is
    a coarser artifact (``dup_clusters``/``dedup_finalize`` keep one row
    per doc), a higher threshold with tighter banding, or corpus sharding.
    ``on_budget='representatives'`` takes the first lever automatically:
    it returns :func:`lsh_representatives` — the linear-stream cluster
    assignment ``(doc_id, rep_id, cluster_size)``, a DIFFERENT schema from
    the pair list (one row per doc, not per pair) — so a caller at
    pair-infeasible scale gets a usable dedup artifact instead of advice.
    """
    _check_threshold(threshold)
    if on_budget not in ("error", "representatives"):
        raise ValueError(f"bad on_budget {on_budget!r}")
    _check_verify(verify)
    docsets = _docsets(df, id_col, text_col, tokenizer)
    facts = _corpus_facts(docsets)
    projected = (
        None if candidate_budget is None
        else _lsh_projection(facts, n_hashes, band_size)
    )
    d = _decide(
        "minhash_lsh_pairs", facts, projected, pin=verify,
        budget=candidate_budget, on_budget=on_budget,
    )
    if d.choice == "representatives":
        return lsh_representatives(
            df,
            id_col,
            text_col,
            n_hashes=n_hashes,
            band_size=band_size,
            threshold=threshold,
            verify=verify,
            tokenizer=tokenizer,
        )
    if d.choice == "error":
        raise ValueError(
            f"minhash_lsh_pairs: projected candidate stream "
            f"~{projected:,} pairs exceeds candidate_budget="
            f"{candidate_budget:,}; at this similarity density the "
            f"enumerated pair list is itself the bottleneck. Use "
            f"lsh_representatives (one row per doc; reachable as "
            f"minhash_lsh_pairs(on_budget='representatives') when "
            f"calling that operator directly), dup_clusters/"
            f"dedup_finalize, raise threshold with tighter banding "
            f"(larger band_size), or shard the corpus."
        )
    stacked = _stacked_bands(
        df, id_col, text_col, n_hashes, band_size, tokenizer=tokenizer,
        with_size=True,
    )
    a, b = stacked.alias("a"), stacked.alias("b")
    # the size cut inside the join keeps size-incompatible collisions out
    # of the distinct shuffle (the sf10 stream measured 452.8M rows pre-cut)
    cand = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & _size_compatible(F.col("a.sz"), F.col("b.sz"), threshold),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return _verify_candidates(cand, docsets, d.choice, threshold, facts.vocab)


def _docsets(
    df: DataFrame, id_col: str, text_col: str, tokenizer: Column | None
) -> DataFrame:
    """The ``(doc_id, toks, sz)`` verification input shared by
    :func:`token_jaccard_pairs`, :func:`minhash_lsh_pairs` and
    :func:`lsh_representatives`.

    A custom tokenizer is distinct-wrapped: the operator's contract is
    token-SET jaccard, and a duplicate-emitting tokenizer would otherwise
    make the tiers disagree — popcount tiers compute set jaccard while
    arrays would divide by multiset sizes ('x x x x' vs 'x': 1.0 vs
    0.25)."""
    tok_col = tokens(text_col) if tokenizer is None else F.array_distinct(tokenizer)
    return df.select(
        F.col(id_col).alias("doc_id"),
        tok_col.alias("toks"),
    ).withColumn("sz", F.size("toks"))


class Decision(NamedTuple):
    """One adaptive choice of the pair family: what was picked, why, and
    the facts it was picked from."""

    choice: str
    reasons: tuple[str, ...]
    facts: dict


def choose(
    op: str,
    facts: dict,
    pin: str = "auto",
    budget: int | None = None,
    on_budget: str = "error",
) -> Decision:
    """The pair family's adaptive policy, a pure function of the corpus
    facts (``n_docs``, ``vocab_n`` — None past the vocabulary cap —,
    ``avg_sz`` and ``projected``, the candidate stream projected when the
    caller has a budget) and the caller's pins.  ``op`` names the operator;
    ``pin`` is its ``strategy`` (``token_jaccard_pairs``) or ``verify``
    (``minhash_lsh_pairs``, ``lsh_representatives``).  The choice is:

    - ``on_budget`` (``error``, ``degrade`` or ``representatives``) when
      the projection exceeds the budget.  ``bitmask`` is never guarded:
      its candidates are bounded by distinct token SETS squared;
    - ``token_jaccard_pairs``: ``bitmask`` (``auto`` picks it when the
      vocabulary fits 64 bits), else the prefix join, keyed on dictionary
      positions and verified on ``blockmask`` when the vocabulary fits
      :data:`_BLOCKMASK_VOCAB_CAP`, else on token strings and ``arrays``;
    - ``containment_pairs``: ``prefix``;
    - otherwise the pinned verify tier, or for ``auto`` this ladder, each
      boundary measured with interleaved same-JVM A/Bs and identical
      checksums:

      - vocab <= 64 → ``bitmask`` (one long, popcount);
      - sparse streams (``lsh_representatives``: hub edges are LINEAR in
        the corpus) → ``arrays``: a dictionary build is an O(corpus) fixed
        cost that never amortizes there (q119 14.1 s arrays vs 20.6 s
        blockmask);
      - vocab <= :data:`_BLOCKMASK_VOCAB_CAP` and the mask no wider than
        the token array (``n_words <= avg_sz``) → ``blockmask`` (sf1, 5
        words vs ~31 tokens: 9.0 s vs 15.5 s intarrays vs 36.4 s arrays);
      - vocab <= :data:`_INTARRAYS_VOCAB_CAP` and a projected stream at
        least 2× the token relation (``n_docs × avg_sz``) → ``intarrays``.
        Its dictionary build must amortize: sf10 token family, ratio ~29,
        226.6 s intarrays vs 293.7 s arrays; q54's shingle degrade, ratio
        0.4, 189 s vs 84 s.  2× splits the two with >5× margin each side;
      - otherwise → ``arrays``."""
    vocab_n, avg_sz = facts.get("vocab_n"), facts.get("avg_sz")
    projected, n_docs = facts.get("projected"), facts.get("n_docs")
    why: list[str] = []

    def pick(choice: str, reason: str) -> Decision:
        seen = facts if budget is None else {**facts, "budget": budget}
        return Decision(choice, (*why, reason), seen)

    if op == "token_jaccard_pairs" and pin == "auto":
        pin = "bitmask" if vocab_n is not None and vocab_n <= 64 else "prefix"
        why.append(f"vocab {vocab_n} {'<=' if pin == 'bitmask' else '>'} 64")
    if op == "token_jaccard_pairs" and pin == "bitmask":
        return pick("bitmask", "bitmask: candidates bounded by distinct sets")
    if budget is not None:
        if projected > budget:
            return pick(on_budget, f"projected {projected} > budget {budget}")
        why.append(f"projected {projected} <= budget {budget}")
    if op == "containment_pairs":
        return pick("prefix", "containment prefix join")
    if op == "token_jaccard_pairs":
        if vocab_n and vocab_n <= _BLOCKMASK_VOCAB_CAP:
            return pick("blockmask", f"vocab {vocab_n} <= {_BLOCKMASK_VOCAB_CAP}")
        return pick("arrays", f"vocab {vocab_n} not in 1..{_BLOCKMASK_VOCAB_CAP}")
    if pin != "auto":
        return pick(pin, "pinned")
    if vocab_n is None:
        return pick("arrays", f"vocab > {_INTARRAYS_VOCAB_CAP}")
    if vocab_n <= 64:
        return pick("bitmask", f"vocab {vocab_n} <= 64")
    if op == "lsh_representatives":
        return pick("arrays", "sparse hub-edge stream")
    n_words = (vocab_n + 63) // 64
    if vocab_n <= _BLOCKMASK_VOCAB_CAP and n_words <= avg_sz:
        return pick("blockmask", f"{n_words} mask words <= avg_sz {avg_sz}")
    if (
        projected is not None
        and avg_sz > 0
        and vocab_n <= _INTARRAYS_VOCAB_CAP
        and projected >= 2 * n_docs * avg_sz
    ):
        return pick("intarrays", "projected >= 2 x token relation")
    return pick("arrays", "no encoded tier amortizes")


def _decide(
    op: str, facts: CorpusFacts | None, projected: int | None = None, **pins
) -> Decision:
    """:func:`choose` over ``facts``, written to stderr as one
    ``{"event": "dedup.decision", ...}`` JSON line."""
    known = {} if facts is None else {
        "n_docs": facts.n_docs,
        "sample_p": facts.p,
        "vocab_n": None if facts.vocab is None else len(facts.vocab),
        "avg_sz": facts.avg_sz,
    }
    if projected is not None:
        known["projected"] = projected
    d = choose(op, known, **pins)
    print(
        json.dumps(
            {"event": "dedup.decision", "op": op, "choice": d.choice,
             "reasons": list(d.reasons), "facts": d.facts}
        ),
        file=sys.stderr,
        flush=True,
    )
    return d


def _check_verify(verify: str) -> None:
    if verify not in ("auto", "bitmask", "blockmask", "intarrays", "arrays"):
        raise ValueError(f"bad verify {verify!r}")


def _verify_candidates(
    cand: DataFrame,
    docsets: DataFrame,
    tier: str,
    threshold: float,
    vocab: list[str] | None,
    positions: tuple[DataFrame, int] | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of a ``(doc_a, doc_b)`` candidate frame
    against a ``(doc_id, toks, sz)`` docsets frame — the one verifier of
    the pair family, whatever the candidate source (prefix join, banded
    LSH, representative hub edges).  It alone joins both sides, applies
    the All-Pairs size cut (:func:`_size_compatible`), computes
    ``n_common`` and the 4-dp :func:`_jaccard`, and thresholds; returns
    ``(doc_a, doc_b, n_common, jaccard)``.

    A tier supplies only its per-document representation and its
    ``n_common`` expression.  All tiers are exact — the encoded ones use
    explicit dictionary positions (:func:`_token_positions`), no hashing:

    - ``bitmask``: one 64-bit mask (vocab <= 64), ``bit_count`` of the AND;
    - ``blockmask``: a multi-word bitset (vocab <=
      :data:`_BLOCKMASK_VOCAB_CAP`), popcount folded over the words with
      ``zip_with``/``aggregate`` — measured 3× faster than a plan-time
      unrolled ``get`` sum, which re-traverses the joined arrays per word
      (q54 sf1, 30 words: 36.3 s vs 116.4 s);
    - ``intarrays``: ``array_intersect`` over int positions (vocab <=
      :data:`_INTARRAYS_VOCAB_CAP`) — O(sz) per pair regardless of
      vocabulary width, ~4 B/token join rows instead of strings;
    - ``arrays``: ``array_intersect`` over the token strings (general).

    The caller picks ``tier`` (:func:`choose`); ``vocab`` is its
    :attr:`CorpusFacts.vocab`, and ``positions`` a :func:`_token_positions`
    result it already built (the prefix path keys its join on it)."""
    a, b = F.col("rep_a"), F.col("rep_b")
    n_common = F.size(F.array_intersect(a, b))
    if tier == "arrays":
        rep = docsets.select("doc_id", "sz", F.col("toks").alias("rep"))
    elif tier == "bitmask":
        rep = _doc_masks(docsets, vocab).select(
            "doc_id",
            F.bit_count("mask").cast("int").alias("sz"),
            F.col("mask").alias("rep"),
        )
        n_common = F.bit_count(a.bitwiseAND(b))
    else:
        tokp, vocab_n = positions or _token_positions(docsets, tier, vocab)
        if tier == "intarrays":
            rep = tokp.groupBy("doc_id", "sz").agg(
                F.collect_list("pos").alias("rep")
            )
        else:
            rep = _blockmasks(tokp, (max(vocab_n, 1) + 63) // 64)
            n_common = F.aggregate(
                F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseAND(y))),
                F.lit(0),
                lambda acc, x: acc + x,
            )

    def side(s: str) -> DataFrame:
        return rep.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("sz").alias(f"sz_{s}"),
            F.col("rep").alias(f"rep_{s}"),
        )

    return (
        cand.join(side("a"), "doc_a")
        .join(side("b"), "doc_b")
        .filter(_size_compatible(F.col("sz_a"), F.col("sz_b"), threshold))
        .withColumn("n_common", n_common.cast("int"))
        .withColumn(
            "jaccard", _jaccard(F.col("n_common"), F.col("sz_a"), F.col("sz_b"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def lsh_representatives(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    band_size: int = 2,
    threshold: float = 0.5,
    verify: str = "auto",
    tokenizer: Column | None = None,
) -> DataFrame:
    """One row per document — ``(doc_id, rep_id, cluster_size)`` — via a
    LINEAR-candidate-stream LSH clustering: the measured escape hatch for
    the regime where :func:`minhash_lsh_pairs` raises its feasibility guard
    (``on_budget='representatives'`` routes here).

    On a self-similar corpus the banded pair join's shuffle approaches
    ``n_bands × true_pairs`` (the r11 sf10 sweep projected ~2.3e9 candidates
    for q23) because a bucket of m near-identical documents enumerates
    C(m, 2) candidates.  This operator never enumerates within-bucket
    pairs: each (band, bucket) contributes STAR EDGES from the bucket's
    minimum doc id to its other members — at most ``n_docs × n_bands``
    rows REGARDLESS of similarity density; every star edge is verified
    with the exact token Jaccard (also linear in edges), and clusters +
    representatives come from the O(log n)-round large-star/small-star
    connected components.  Every shuffle in the chain is linear in the
    corpus, so the plan survives the density that kills pair enumeration.

    Semantics vs enumerating all pairs then clustering: connectivity flows
    through verified hub edges only, so two documents that collide in a
    bucket but are each below-threshold-similar to the bucket hub do not
    merge through that bucket (every retained EDGE is exactly verified —
    no false merges via transitive false positives; recall is bounded by
    the banding as usual for LSH, minus hub-path misses).  That trade is
    what buys the linear stream — at pair-list-infeasible scale the
    alternative is no answer at all.  One recall guarantee IS absolute:
    exact-text duplicates always co-cluster (a dedicated md5(text) star
    tier, immune to bucket-hub hijack by a dissimilar lower-id doc).

    Output contract: exactly one row per non-NULL-id input document
    (NULL ids violate the id-keyed precondition shared with
    ``exact_dedup``); cluster members share ``rep_id`` (the component's
    minimum doc id), everything else is a singleton (``rep_id = doc_id``,
    ``cluster_size = 1``).  NULL-text documents produce no signature and
    no exact-tier hash, so they always stay singletons; EMPTY-string
    text is a real value (``tokens('') == ['']``) — empty docs co-cluster
    with other empties at jaccard 1.0, like any other identical text."""
    from foresttime_builder_spark.operators.graph import connected_components

    _check_threshold(threshold)
    _check_verify(verify)
    docsets = _docsets(df, id_col, text_col, tokenizer)
    facts = _corpus_facts(docsets)
    d = _decide("lsh_representatives", facts, pin=verify)
    stacked = _stacked_bands(
        df, id_col, text_col, n_hashes, band_size, tokenizer=tokenizer,
        with_size=True,
    )
    # hub = bucket minimum via one window over the band shuffle.  The min
    # is over a NULL-masked (doc_id, sz) struct so the hub's token-set
    # size rides along for free: struct ordering is by doc_id first
    # (unique), the mask keeps NULL-id rows out of the min exactly as the
    # previous plain min("doc_id") did, and a NULL doc_id still fails the
    # <> filter — NULL-id rows can never mint an edge on either engine.
    hub = F.min(
        F.when(F.col("doc_id").isNotNull(), F.struct("doc_id", "sz"))
    ).over(Window.partitionBy("band_key"))
    edges = (
        stacked.withColumn("_hub", hub)
        .filter(F.col("doc_id") != F.col("_hub.doc_id"))
        # lossless All-Pairs length cut vs the hub (r14): a pruned edge has
        # jaccard < threshold and would fail _verify_candidates anyway, so
        # the verified edge set — the only thing connectivity flows
        # through — is unchanged; the cut just keeps the edge out of the
        # distinct shuffle and the verification joins
        .filter(_size_compatible(F.col("sz"), F.col("_hub.sz"), threshold))
        .select(
            F.col("_hub.doc_id").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
        .distinct()
    )
    verified = _verify_candidates(
        edges, docsets, d.choice, threshold, facts.vocab
    ).select("doc_a", "doc_b")
    # exact-duplicate star tier: hub edges alone cannot GUARANTEE that
    # two identical documents co-cluster — a dissimilar lower-id doc can
    # take the bucket-hub role and fail verification against both, a
    # hub-path miss (found by the property suite's identical-text
    # invariant).  One md5(text) window (32-byte shuffle keys, linear)
    # stars each exact-text group to its minimum id; those edges are
    # jaccard 1.0 by construction, so no verification join is needed.
    # NULL-text docs are excluded: they carry no signature and must stay
    # singletons per the output contract.
    exact_hub = F.min("doc_id").over(Window.partitionBy("_th"))
    exact_edges = (
        df.select(
            F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("_th")
        )
        .filter(F.col("_th").isNotNull())
        .withColumn("hub", exact_hub)
        .filter(F.col("doc_id") != F.col("hub"))
        .select(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    comp = connected_components(
        verified.unionByName(exact_edges), src="doc_a", dst="doc_b"
    )
    ids = df.select(F.col(id_col).alias("doc_id")).filter(
        F.col("doc_id").isNotNull()
    )
    assigned = ids.join(
        comp.withColumnRenamed("id", "doc_id"), "doc_id", "left"
    ).select(
        "doc_id", F.coalesce(F.col("comp"), F.col("doc_id")).alias("rep_id")
    )
    # cluster_size over one rep_id window — a single linear exchange,
    # no self-join (the CC output is checkpointed, so re-evaluating
    # `assigned` would be cheap, but one pass is cheaper still)
    size = F.count(F.lit(1)).over(Window.partitionBy("rep_id"))
    return carry_cache(assigned.withColumn("cluster_size", size), comp)


def simhash(df: DataFrame, id_col: str, text_col: str, n_bits: int = 60) -> DataFrame:
    """SimHash fingerprint: sign-sum of per-token hash bits.

    Bit k of the fingerprint is 1 iff the majority of the document's distinct
    tokens have bit k set in their 60-bit hash. Emitted as a bigint
    ``simhash`` plus the token count.
    """
    tok = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("token")
    ).withColumn("h", hash60(F.col("token")))
    bit_sums = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        *[
            F.sum(F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1))).alias(f"b{k}")
            for k in range(n_bits)
        ],
    )
    fp = None
    for k in range(n_bits):
        bit = (F.col(f"b{k}") * 2 > F.col("n_tokens")).cast("long") * F.lit(2**k).cast(
            "long"
        )
        fp = bit if fp is None else fp + bit
    return bit_sums.select("doc_id", fp.alias("simhash"), "n_tokens")


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    key_col: str,
    max_dist: int = 1,
    max_key_len: int = 64,
) -> DataFrame:
    """All pairs whose ``key_col`` strings are within edit distance
    ``max_dist`` (insert / delete / substitute), via deletion-neighborhood
    blocking — the sub-quadratic fuzzy-match join (the FastSS / SymSpell
    family):

    every key generates its full ≤ ``max_dist``-deletion neighborhood
    (itself, its |key| single-character deletions, and for ``max_dist=2``
    every double deletion — built by EXPLODING the 1-deletion step twice,
    so the deeper neighborhood composes from the shallow one instead of a
    nested-lambda HOF); two keys are within distance d **only if** their
    depth-d neighborhoods intersect (FastSS theorem).  Candidates come
    from one equi-join on the variant, a cheap length-difference cut
    prunes, exact ``levenshtein`` verifies — no all-pairs stage, and the
    blocking is lossless so the result equals the quadratic oracle.

    ``max_dist`` ≤ 2: the neighborhood is O(|key|^d) variants per row
    (~L²/2 at d=2), so d=2 is practical for the short keys fuzzy joins
    actually use (names, titles, SKUs) and is guarded by ``max_key_len``
    (a 1-scan plan-time probe raises with the offending length rather
    than silently exploding a 10 kB key into 50M variants).  Past d=2
    the right scale tool is q16/q23's set-similarity machinery.
    """
    if max_dist not in (1, 2):
        raise NotImplementedError(
            "deletion-neighborhood blocking supports max_dist in (1, 2); "
            "use token/shingle set similarity (q16/q23) for looser matches"
        )
    key = F.col(key_col)

    def _del1(col):
        # the string plus all its single-character deletions
        return F.array_union(
            F.array(col),
            F.when(
                F.length(col) > 0,
                F.transform(
                    F.sequence(F.lit(1), F.length(col)),
                    lambda i: F.concat(
                        F.substring(col, 1, i - 1),
                        col.substr(i + 1, F.length(col)),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )

    if max_dist == 2:
        probe = df.agg(F.max(F.length(key)).alias("m")).collect()[0]["m"]
        if probe is not None and probe > max_key_len:
            raise ValueError(
                f"max_dist=2 with keys up to {probe} chars would explode "
                f"~{probe * probe // 2} variants/row; raise max_key_len "
                f"above {probe} to accept, or use set-similarity (q16/q23)"
            )

    v = df.select(
        F.col(id_col).alias("vid"),
        key.alias("vkey"),
        F.explode(_del1(key)).alias("variant"),
    )
    if max_dist == 2:
        v = v.select(
            "vid",
            "vkey",
            F.explode(_del1(F.col("variant"))).alias("variant"),
        ).distinct()
    b = v.select(
        F.col("vid").alias("vid_b"),
        F.col("vkey").alias("vkey_b"),
        "variant",
    )
    cands = (
        v.join(b, "variant")
        .filter(F.col("vid") < F.col("vid_b"))
        .select(
            F.col("vid").alias("id_a"),
            F.col("vid_b").alias("id_b"),
            F.col("vkey").alias("key_a"),
            F.col("vkey_b").alias("key_b"),
        )
        .distinct()
    )
    return (
        cands.filter(
            F.abs(F.length("key_a") - F.length("key_b")) <= max_dist
        )
        .filter(F.levenshtein(F.col("key_a"), F.col("key_b")) <= max_dist)
        .select("id_a", "id_b", F.levenshtein("key_a", "key_b").alias("dist"))
    )


def incremental_dedup(
    history: DataFrame,
    batch: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 16,
    band_size: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """Dedup a NEW batch against an already-kept history — the nightly
    production shape: the corpus is deduped once, then every ingest batch
    is checked against the persisted index instead of re-clustering the
    world.

    Per batch document, emits ``(id_col, verdict, match_id)``:

    - ``exact_hist``  — content hash collides with a history document
      (``match_id`` = smallest such history id);
    - ``exact_batch`` — content hash collides within the batch and this
      row is not the smallest id (``match_id`` = the keeper);
    - ``near_hist``   — shares a MinHash LSH band with a history document
      AND exact token-Jaccard >= ``threshold`` (``match_id`` = smallest
      verified history match) — no false positives, LSH-bounded recall;
    - ``kept``        — none of the above (``match_id`` NULL).

    The three predicates are computed independently and prioritized in
    that order, so the verdict is deterministic and order-free.

    Scale shape (100 TB history): every join is a hash equi-join — the
    content-hash anti/left joins shuffle 16-byte keys, the band join is
    the standard banded-LSH candidate shape (never all-pairs), and
    verification touches only candidates.  At production scale the
    history side's signatures/hashes would be persisted and incrementally
    maintained rather than recomputed; this operator recomputes them so
    the semantics stay self-contained (swap ``history`` for the persisted
    projection — the plan below the scan is identical).
    """
    _check_threshold(threshold)
    if n_hashes % band_size != 0:
        raise ValueError(
            f"band_size {band_size} must divide n_hashes {n_hashes}"
        )

    # NULL text gets a tagged sentinel hash rather than md5(NULL)=NULL —
    # NULL keys never equi-join, so without this a NULL-text row would
    # silently vanish from the output instead of being judged
    content_h = F.when(
        F.col(text_col).isNull(), F.lit("<NULL>")
    ).otherwise(F.md5(F.col(text_col)))
    b_hash = batch.select(
        F.col(id_col).alias("_bid"),
        content_h.alias("_h"),
    )
    hist_keep = (
        history.select(content_h.alias("_h"), F.col(id_col).alias("_hid"))
        .groupBy("_h")
        .agg(F.min("_hid").alias("exact_hist_id"))
    )
    batch_keep = b_hash.groupBy("_h").agg(F.min("_bid").alias("batch_keep_id"))

    b_bands = _stacked_bands(
        batch, id_col, text_col, n_hashes, band_size, "_bid", with_size=True
    ).withColumnRenamed("sz", "_bsz0")
    h_bands = _stacked_bands(
        history, id_col, text_col, n_hashes, band_size, "_hid", with_size=True
    ).withColumnRenamed("sz", "_hsz0")
    cand = (
        b_bands.join(h_bands, "band_key")
        # lossless All-Pairs length cut (r14): a size-incompatible pair has
        # jaccard < threshold and would fail the near_keep verification —
        # pruning it here keeps it out of the distinct shuffle
        .filter(_size_compatible(F.col("_bsz0"), F.col("_hsz0"), threshold))
        .select("_bid", "_hid")
        .distinct()
    )
    bsets = batch.select(
        F.col(id_col).alias("_bid"),
        tokens(text_col).alias("_btoks"),
        F.size(tokens(text_col)).alias("_bsz"),
    )
    hsets = history.select(
        F.col(id_col).alias("_hid"),
        tokens(text_col).alias("_htoks"),
        F.size(tokens(text_col)).alias("_hsz"),
    )
    inter = F.size(F.array_intersect("_btoks", "_htoks"))
    union = F.col("_bsz") + F.col("_hsz") - inter
    near_keep = (
        cand.join(bsets, "_bid")
        .join(hsets, "_hid")
        .filter(inter / union >= F.lit(threshold))
        .groupBy("_bid")
        .agg(F.min("_hid").alias("near_hist_id"))
    )

    out = (
        b_hash.join(hist_keep, "_h", "left")
        .join(batch_keep, "_h")
        .join(near_keep, "_bid", "left")
    )
    verdict = (
        F.when(F.col("exact_hist_id").isNotNull(), F.lit("exact_hist"))
        .when(F.col("_bid") != F.col("batch_keep_id"), F.lit("exact_batch"))
        .when(F.col("near_hist_id").isNotNull(), F.lit("near_hist"))
        .otherwise(F.lit("kept"))
    )
    match_id = (
        F.when(F.col("exact_hist_id").isNotNull(), F.col("exact_hist_id"))
        .when(F.col("_bid") != F.col("batch_keep_id"), F.col("batch_keep_id"))
        .otherwise(F.col("near_hist_id"))
    )
    return out.select(
        F.col("_bid").alias(id_col),
        verdict.alias("verdict"),
        match_id.alias("match_id"),
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    candidate_budget: int | None = None,
) -> DataFrame:
    """Asymmetric near-superset detection: pairs where containment
    ``C(A, B) = |A ∩ B| / |A|`` >= threshold — document A is (almost)
    entirely inside B, which symmetric Jaccard misses when B is much
    longer (J = inter/union shrinks with |B|; C does not).  The
    RefinedWeb-style signal for "this page is a quoted copy plus
    boilerplate".

    Blocking is a LOSSLESS containment prefix filter, not LSH: for
    C(A, B) >= t, B must contain at least ``ceil(t*|A|)`` of A's tokens,
    so B must contain at least one of A's first ``|A| - ceil(t*|A|) + 1``
    tokens in rarest-first order (:func:`_rarest_prefix`; if it missed all
    of them it already misses too many).  Only those prefix tokens of the
    CONTAINED side join the full inverted index of the container side —
    exact recall, and because the prefix picks the rarest tokens, the
    candidate stream stays small (symmetric-MinHash banding was tried
    first and rejected: a 1.0-containment pair with Jaccard 0.3 — the
    operator's whole point — collides in a band with probability ~3%).

    Returns ``(contained_id, container_id, n_common, containment)`` with
    containment rounded to 4 decimals (the q16 convention); both
    directions of a mutual pair emit independently.

    ``candidate_budget``: the prefix filter keeps the stream small on
    REAL text (rare tokens are rare); on a synthetic heavily-duplicated
    corpus the output itself is near-quadratic (sf1 measured 141M pairs)
    and the prefix⋈index stream with it.  When the sampled projection
    (:func:`_prefix_projection`) exceeds the budget the
    operator RAISES — containment has no lossless sub-enumeration form;
    the levers are a higher threshold, dedup-then-contain (cluster
    representatives first), or corpus sharding.
    """
    _check_threshold(threshold)
    # persisted: the tokenized relation feeds the prefix stage, the full
    # inverted index, AND both verification sides (without it the corpus
    # re-tokenizes ~5x)
    docsets = df.select(
        F.col(id_col).alias("doc_id"), tokens(text_col).alias("toks")
    ).withColumn("sz", F.size("toks")).persist()
    facts = None if candidate_budget is None else _corpus_facts(docsets)
    projected = (
        None if facts is None
        else _prefix_projection(facts, threshold, containment=True)
    )
    d = _decide("containment_pairs", facts, projected, budget=candidate_budget)
    if d.choice == "error":
        docsets.unpersist()
        raise ValueError(
            f"containment_pairs: projected candidate stream "
            f"~{projected:,} pairs exceeds candidate_budget="
            f"{candidate_budget:,}; the containment pair list is "
            f"output-bound on this corpus. Raise threshold, collapse "
            f"to representatives first (lsh_representatives or "
            f"dedup_finalize) and contain those, or shard the corpus."
        )
    tok = docsets.select(
        "doc_id", "sz", F.explode("toks").alias("token")
    ).persist()
    prefix = _rarest_prefix(tok, "token", threshold, containment=True).select(
        F.col("doc_id").alias("contained_id"), "token"
    )
    index = tok.select(F.col("doc_id").alias("container_id"), "token")
    cand = (
        prefix.join(index, "token")
        .filter(F.col("contained_id") != F.col("container_id"))
        .select("contained_id", "container_id")
        .distinct()
    )
    sa = docsets.select(
        F.col("doc_id").alias("contained_id"),
        F.col("toks").alias("toks_a"),
        F.col("sz").alias("sz_a"),
    )
    sb = docsets.select(
        F.col("doc_id").alias("container_id"),
        F.col("toks").alias("toks_b"),
    )
    out = (
        cand.join(sa, "contained_id")
        .join(sb, "container_id")
        .withColumn("n_common", F.size(F.array_intersect("toks_a", "toks_b")))
        # filter on the UNROUNDED ratio: the prefix filter's lossless
        # guarantee holds for true containment >= t; a rounded filter
        # would admit boundary pairs the blocking never promised to find
        .filter(F.col("n_common") / F.col("sz_a") >= F.lit(threshold))
        .withColumn(
            "containment", F.round(F.col("n_common") / F.col("sz_a"), 4)
        )
        .select("contained_id", "container_id", "n_common", "containment")
    )
    return release_on_gc(out, docsets, tok)
