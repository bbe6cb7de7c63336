"""dedup benchmark queries; this module declares its own ``QUERIES`` entries."""

from __future__ import annotations
from pyspark.sql import DataFrame, SparkSession, functions as F
from foresttime_builder_spark.functions.encoding import fixed, fixed_sql, hash60_sql
from foresttime_builder_spark.functions.tokens import token_set_sql, words_sql
from foresttime_builder_spark.operators.cache import carry_cache
from foresttime_builder_spark.operators.dedup import (
    derive_candidate_budget,
    minhash_lsh_pairs,
    simhash,
    token_jaccard_pairs,
)
from foresttime_builder_spark.sources import load_table

from foresttime_builder_spark.plans.queries._shared import (  # noqa: F401
    QuerySpec,
    _MH_BAND,
    _MH_N,
    _SH_BITS,
)


def q12_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: survivor id + group size per distinct
    text (dedup operator family, BASELINE.json north star)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )

ORACLE_Q12 = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""

def q16_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-duplicate pairs with prefix filtering
    (n-gram dedup family). The oracle is the naive quadratic inverted-index
    join — prefix filtering is lossless, so results are identical while the
    Spark plan only self-joins each document's rarest-token prefix."""
    d = load_table(spark, sf_dir, "documents")
    # strategy='auto': the driver SFs have a 31-token vocabulary, so the
    # probe picks the 64-bit-mask path there; scaled corpora (tools/
    # make_sf.py shifts the vocabulary per copy) exceed 64 tokens and the
    # probe flips to the SSJoin prefix filter.  The probe job IS the scale
    # path — pinning 'bitmask' here overflowed the mask sum the first time
    # the query ran on a >64-token corpus (caught by run_at_scale at sf1).
    # Budget guard (q54's adjudicated pattern): sf0.01 (gate) and sf1 stay
    # exact under any real budget; at sf10 the exact projection (~1.25e9
    # candidates) exceeds local shuffle disk — measured: unguarded q16
    # killed its JVM at 132 s in the r11 sweep — so it degrades to banded
    # LSH with identical verification and schema.
    pairs = token_jaccard_pairs(
        d, "doc_id", "text", threshold=0.8, strategy="auto",
        candidate_budget=derive_candidate_budget(spark),
        on_budget="degrade",
    )
    # carry_cache: the fixed-point projection is the frame we return; without
    # re-attaching, the operator's persisted docsets would be unpersisted the
    # moment `pairs` goes out of scope — before the plan ever executes
    return carry_cache(
        pairs.select(
            "doc_a",
            "doc_b",
            "n_common",
            fixed("jaccard", 4).alias("jaccard_e4"),
        ),
        pairs,
    )

#: Each document's distinct whitespace tokens (``operators.dedup.tokens``).
_TOKSET = token_set_sql("text")

#: The oracles round the jaccard to 4 decimals as the Spark operators do.
_JACCARD_E4_SQL = fixed_sql("round(n_common / (sa.sz + sb.sz - n_common), 4)", 4)

def _exact_jaccard_sql(token_rows: str) -> str:
    """The naive quadratic inverted-index join: every document pair with
    Jaccard >= 0.8 over ``token_rows``' ``(doc_id, token)`` rows, one per
    distinct token of a document."""
    return f"""
WITH toks AS ({token_rows}),
sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_common,
       {_JACCARD_E4_SQL} AS jaccard_e4
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(n_common / (sa.sz + sb.sz - n_common), 4) >= 0.8
"""

ORACLE_Q16 = _exact_jaccard_sql(
    f"SELECT doc_id, unnest({_TOKSET}) AS token FROM documents"
)

def q54_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram (shingle) set-similarity pairs — the n-gram flavor
    of exact Jaccard dedup (vs q16's whitespace tokens). The trigram
    vocabulary (~380) rules out the 64-bit mask path, so this exercises the
    SSJoin prefix filter with a dense shingle alphabet.

    100x-scale posture: the dense alphabet is the prefix filter's WORST
    vocabulary — at sf10 the exact path's candidate stream physically
    exceeds local shuffle disk (measured: 8 GB heap died at ~150 s, 48 GB
    heap filled 74 GB of /tmp and died at ~556 s with 'No space left on
    device').  So q54 carries the candidate-budget guard with
    on_budget='degrade' (like q76 documents for the token family): when
    the sampled projection exceeds the disk-derived budget the plan
    switches to banded shingle-MinHash-LSH candidates with the same exact
    verification and schema — high recall instead of guaranteed-total
    recall, which is the only honest posture once exact pairs are
    output-bound.  The sf0.01 gate stays on the exact path (projection
    far below any real budget), so the oracle hash-match still proves the
    exact machinery.

    Measured at sf10 (166,700 docs, idle local[32]): exact-path sampled
    projection 2.96e9 candidates vs a 2.9e8 disk-derived budget → degrade
    fires; the banded shingle-LSH candidate stream is 12.5e6 rows (236x
    below the exact projection) and the query completes in 294.8 s on the
    default 8 GB heap (2,600 verified pairs)."""
    from foresttime_builder_spark.operators.dedup import (
        char_ngrams,
        derive_candidate_budget,
        token_jaccard_pairs,
    )

    # deterministic corpus slice: the ORACLE is a naive trigram
    # inverted-index self-join that goes quadratic at larger SFs (the Spark
    # side's prefix filter would cope; the gate is sized for its twin)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") % 3 == 0)
    pairs = token_jaccard_pairs(
        d,
        "doc_id",
        "text",
        threshold=0.8,
        strategy="prefix",
        tokenizer=char_ngrams("text"),
        candidate_budget=derive_candidate_budget(spark),
        on_budget="degrade",
    )
    # carry_cache: keep the persisted shingle relation alive past the
    # wrapper's fixed-point projection (see q16)
    return carry_cache(
        pairs.select(
            "doc_a",
            "doc_b",
            "n_common",
            fixed("jaccard", 4).alias("jaccard_e4"),
        ),
        pairs,
    )

ORACLE_Q54 = _exact_jaccard_sql("""
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN length(text) < 3 THEN []
         ELSE list_transform(range(1, length(text) - 1),
                             i -> substring(text, CAST(i AS INT), 3)) END
  )) AS token
  FROM documents WHERE doc_id % 3 = 0
""")

def q23_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH near-dup candidates verified with exact Jaccard
    (the sub-quadratic dedup path). Oracle replicates the identical banding
    construction, so candidate recall is bit-for-bit reproducible."""
    d = load_table(spark, sf_dir, "documents")
    # verify='auto' (see q16 note): the probe picks the popcount mask path
    # at the driver SFs, general array_intersect on wider vocabularies
    pairs = minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        n_hashes=_MH_N,
        band_size=_MH_BAND,
        threshold=0.5,
        verify="auto",
        # feasibility guard, 16 B per (long, long) candidate row: on this
        # deliberately self-similar corpus the banded stream approaches
        # n_bands x true_pairs (~7e9 projected at sf10 — the unguarded
        # query died there at 176 s); sf0.01/sf1 run under budget
        candidate_budget=derive_candidate_budget(
            spark, bytes_per_candidate=16
        ),
    )
    # fixed-point gate emission of the (already 4-rounded) jaccard;
    # carry_cache keeps the operator's persisted mask relation alive until
    # this returned projection is itself dropped
    return carry_cache(
        pairs.select(
            "doc_a",
            "doc_b",
            "n_common",
            fixed("jaccard", 4).alias("jaccard_e4"),
        ),
        pairs,
    )

def _minhash_band_sql(n_hashes: int, band_size: int) -> tuple[str, str, str]:
    """The DuckDB MinHash blocks the LSH oracles share: ``mins`` (one
    ``min(hash60)`` signature column ``mh_NN`` per hash over ``token``),
    ``bands`` (one md5 key ``band_B`` per ``band_size`` signature columns)
    and ``band_list`` (the band column names)."""
    n_bands = n_hashes // band_size
    mins = ",\n         ".join(
        f"min({hash60_sql(repr(str(i) + '|') + ' || token')}) AS mh_{i:02d}"
        for i in range(n_hashes)
    )
    bands = ",\n         ".join(
        "md5(concat_ws('|', '{b}', {cols})) AS band_{b}".format(
            b=b,
            cols=", ".join(
                f"CAST(mh_{b * band_size + j:02d} AS VARCHAR)"
                for j in range(band_size)
            ),
        )
        for b in range(n_bands)
    )
    band_list = ", ".join(f"band_{b}" for b in range(n_bands))
    return mins, bands, band_list

def _minhash_lsh_oracle(
    n_hashes: int = _MH_N, band_size: int = _MH_BAND, threshold: float = 0.5
) -> str:
    mins, bands, band_list = _minhash_band_sql(n_hashes, band_size)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKSET}) AS token
  FROM documents
),
sigs AS (
  SELECT doc_id,
         {mins}
  FROM tok GROUP BY doc_id
),
banded AS (
  SELECT doc_id,
         {bands}
  FROM sigs
),
stacked AS (
  SELECT doc_id, unnest([{band_list}]) AS band_key FROM banded
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM stacked a JOIN stacked b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
docsets AS (
  SELECT doc_id, {_TOKSET} AS toks,
         len({_TOKSET}) AS sz
  FROM documents
)
SELECT doc_a, doc_b,
       len(list_intersect(sa.toks, sb.toks)) AS n_common,
       {fixed_sql(
           "round(len(list_intersect(sa.toks, sb.toks))"
           " / (sa.sz + sb.sz - len(list_intersect(sa.toks, sb.toks))), 4)",
           4,
       )}
         AS jaccard_e4
FROM cand
JOIN docsets sa ON sa.doc_id = doc_a
JOIN docsets sb ON sb.doc_id = doc_b
WHERE round(len(list_intersect(sa.toks, sb.toks))
            / (sa.sz + sb.sz - len(list_intersect(sa.toks, sb.toks))), 4) >= {threshold}
"""

def q24_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints (Hamming-distance near-dup family)."""
    d = load_table(spark, sf_dir, "documents")
    return simhash(d, "doc_id", "text", n_bits=_SH_BITS)

def _simhash_oracle() -> str:
    h = hash60_sql("token")
    bits = " + ".join(
        f"(CASE WHEN sum((h >> {k}) & 1) * 2 > count(*) THEN CAST({2**k} AS BIGINT) ELSE 0 END)"
        for k in range(_SH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, {h} AS h
  FROM (SELECT doc_id, unnest({_TOKSET}) AS token
        FROM documents) t
)
SELECT doc_id, {bits} AS simhash, count(*) AS n_tokens
FROM tok GROUP BY doc_id
"""

def q50_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clustering: connected components over the exact
    token-Jaccard pair graph (operators.graph, alternating large-star/
    small-star), yielding a deterministic canonical cluster id (min doc_id)
    and cluster size — the step a training-data pipeline runs after dup
    detection to keep one representative per cluster."""
    from foresttime_builder_spark.operators.graph import cluster_near_dups

    d = load_table(spark, sf_dir, "documents")
    # strategy='auto' (see q16 note): probes the vocabulary and only takes
    # the 64-bit mask path when it is provably applicable.  Budget guard
    # wired HERE (the earlier comment claimed run_at_scale passed it —
    # it never did, and the unguarded exact pair stream OOM'd the r11
    # sf10 sweep at 130 s): gate SFs stay exact, scale degrades to banded
    # LSH edges feeding the same components/clustering.
    return cluster_near_dups(
        d, "doc_id", "text", threshold=0.8, strategy="auto",
        candidate_budget=derive_candidate_budget(spark),
        on_budget="degrade",
    )

#: Depth of the DuckDB connected-components chain.  It bounds ONLY the
#: oracles: the Spark side runs star CC under its own bound
#: (``operators.graph.STAR_MAX_ITER``) and certifies its output.  Each
#: round propagates neighbour minima and then pointer-jumps, so the chain
#: covers diameters far beyond 16 hops: measured on DuckDB, a 40-node path
#: converges in 5 rounds and a 100,000-node path in 16, where a plain
#: 16-round min-label unroll leaves the 40-node path in 24 pieces.
MAX_ITER_DEFAULT = 16

def _components_sql(sym: str = "sym") -> str:
    """CTE definitions ``lab0 .. lab{MAX_ITER_DEFAULT}`` and ``comp(id, lab)``: the
    connected components of the symmetric edge CTE ``sym(a, b)``, ``lab``
    the component's minimum id, as :func:`~foresttime_builder_spark.
    operators.graph.connected_components` labels them.

    Min-label layers with POINTER JUMPING: each round propagates neighbour
    minima AND shortcuts ``lab := min(lab, lab[lab])``, so the reach of a
    label grows geometrically rather than one hop per round.  The shortcut
    join is sound because a label is always the id of a node in the same
    component (init lab=id; propagate and shortcut both take minima over
    same-component node ids).  A recursive reachability-closure CTE is
    also exact but materializes |component|²-scale intermediates — it ran
    minutes on the avg-degree-120 q50 graph where the layered form runs in
    milliseconds.  Every layer is MATERIALIZED: DuckDB inlines CTEs per
    reference, and each layer references its predecessor twice — unmarked,
    the chain expands exponentially."""
    layers = [
        "lab0 AS MATERIALIZED (\n"
        f"  SELECT id, id AS lab FROM (SELECT DISTINCT a AS id FROM {sym})\n)"
    ]
    for i in range(MAX_ITER_DEFAULT):
        layers.append(
            f"lab{i + 1}p AS MATERIALIZED ("
            f"  SELECT n.id, least(n.lab, coalesce(m.minlab, n.lab)) AS lab"
            f"  FROM lab{i} n LEFT JOIN ("
            f"    SELECT s.b AS id, min(l.lab) AS minlab"
            f"    FROM {sym} s JOIN lab{i} l ON l.id = s.a GROUP BY s.b"
            f"  ) m ON n.id = m.id),\n"
            f"lab{i + 1} AS MATERIALIZED ("
            f"  SELECT n.id, least(n.lab, l2.lab) AS lab"
            f"  FROM lab{i + 1}p n JOIN lab{i + 1}p l2 ON n.lab = l2.id)"
        )
    layers.append(f"comp AS (SELECT id, lab FROM lab{MAX_ITER_DEFAULT})")
    return ",\n".join(layers)

def _dup_clusters_oracle() -> str:
    """Connected components (:func:`_components_sql`) over the exact
    token-Jaccard pairs (q16's oracle), with cluster sizes."""
    return f"""
WITH pairs AS (SELECT doc_a, doc_b FROM ({ORACLE_Q16})),
sym AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b, doc_a FROM pairs
),
{_components_sql()},
csize AS (SELECT lab, count(*) AS cluster_size FROM comp GROUP BY 1)
SELECT id AS doc_id, comp.lab AS cluster_id, cluster_size
FROM comp JOIN csize ON comp.lab = csize.lab
"""

def q71_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-match: document-title pairs within edit distance 1 via
    deletion-neighborhood blocking (`operators/dedup.edit_distance_pairs`
    — FastSS/SymSpell family; lossless blocking + exact levenshtein
    verify, no all-pairs stage).  The corpus slice exists only because the
    ORACLE is the quadratic levenshtein cross join; Spark's path is
    sub-quadratic and runs unsliced at scale (sf1/sf10 sweeps)."""
    from foresttime_builder_spark.operators.dedup import edit_distance_pairs

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", F.substring("text", 1, 24).alias("title"))
    )
    return edit_distance_pairs(d, "doc_id", "title")

ORACLE_Q71 = """
WITH t AS (
  SELECT doc_id, substr(text, 1, 24) AS title
  FROM documents WHERE doc_id % 2 = 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.title, b.title) AS dist
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE levenshtein(a.title, b.title) <= 1
"""

def q76_jaccard_budget_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-pair regime guard in its degrade mode
    (`operators/dedup.token_jaccard_pairs(candidate_budget=..., on_budget=
    'degrade')`): the sample-based estimator projects the prefix join's
    candidate stream BEFORE any full-corpus shuffle, and a deliberately
    tiny budget forces the banded-MinHash fallback — LSH candidates with
    the same exact verification and output schema as q16, centered for the
    0.8 threshold (n_hashes=16, band_size=4).  This is the in-engine
    escape hatch for the regime where q16's exact answer is physically
    output-bound (sf10: ~1.25e9-candidate shuffle > local disk).

    ``candidate_budget=1`` is the FORCING lever (any projection exceeds
    it), so the fallback is guarded by ``degrade_budget`` — the physical
    disk-derived figure — instead of inheriting the demo budget: the
    banded stream completes wherever it physically fits (349 s / 72.8M
    pairs at sf10) and raises the designed feasibility error where even
    it would not.

    The explicit degrade budget is denominated at the BANDED row weight
    (``bytes_per_candidate=16``: two 8-byte ids framed), not the 64 B
    exact-verification default — the same regime re-denomination the
    r12 sweep-refresh regression taught for the inherited-budget path
    (an unrescaled figure spuriously raised at sf10 on a box with ~74 GB
    free where the 452.8M-pair banded stream is only ~7 GB — caught by
    the r13 sweep)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = token_jaccard_pairs(
        d, "doc_id", "text", threshold=0.8, strategy="prefix",
        candidate_budget=1, on_budget="degrade",
        degrade_budget=derive_candidate_budget(spark, bytes_per_candidate=16),
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "n_common",
        fixed("jaccard", 4).alias("jaccard_e4"),
    )

def q77_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup FINALIZE — the step after clustering (q50) that a training
    pipeline actually ships: keep exactly one representative per near-dup
    cluster, chosen by a quality rule (longest document, doc_id
    tie-break), and pass every singleton through.  Delegates to
    ``operators.graph.dedup_finalize`` — the guarded entry point whose
    ``candidate_budget``/``on_budget`` passes through the whole chain
    (scale runs use on_budget='degrade'; the gate runs the exact path).
    One extra hash shuffle on the cluster key over q50; keep rule is a
    total order, so the result is deterministic and engine-portable."""
    from foresttime_builder_spark.operators.graph import dedup_finalize

    d = load_table(spark, sf_dir, "documents")
    # budget guard wired like q50 (the unguarded chain OOM'd the r11 sf10
    # sweep); gate SFs stay exact
    return dedup_finalize(
        d, "doc_id", "text", threshold=0.8, strategy="auto",
        candidate_budget=derive_candidate_budget(spark),
        on_budget="degrade",
    )

def _dedup_keep_best_oracle() -> str:
    return f"""
WITH clusters AS ({_dup_clusters_oracle()}),
toks AS (
  SELECT doc_id, len({words_sql('text')}) AS n_tokens FROM documents
),
joined AS (
  SELECT t.doc_id, t.n_tokens,
         coalesce(c.cluster_id, t.doc_id) AS cluster_id,
         coalesce(c.cluster_size, 1) AS cluster_size
  FROM toks t LEFT JOIN clusters c ON t.doc_id = c.doc_id
),
ranked AS (
  SELECT *, row_number() OVER
    (PARTITION BY cluster_id ORDER BY n_tokens DESC, doc_id) AS rnk
  FROM joined
)
SELECT doc_id, cluster_id, cluster_size, n_tokens
FROM ranked WHERE rnk = 1
"""

def q87_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication END-TO-END: embedding-cosine
    near-dup pairs (q40's LSH-bucketed candidates + exact verify) feed
    connected components (q50's operator), every vector joins
    back so singletons form their own cluster, and the representative is
    the smallest vec_id — which IS the component label, so `kept` is a
    pure comparison. The whole chain is existing gated operators
    composed; the oracle replays the identical pair SQL + the shared
    fixed-depth components chain."""
    from foresttime_builder_spark.operators.ann import embedding_neardup_pairs
    from foresttime_builder_spark.operators.graph import connected_components

    emb = load_table(spark, sf_dir, "embeddings")
    # SemDeDup keeps only true semantic duplicates: a HIGH cosine bar
    # (0.85) — which also keeps components small and dense (0.3 produced
    # a sprawling diameter->17 chain at sf0.1)
    pairs = embedding_neardup_pairs(emb, threshold=0.85)
    comp = connected_components(pairs, "id_a", "id_b")
    assigned = (
        emb.select("vec_id")
        .join(comp, emb["vec_id"] == comp["id"], "left")
        .select(
            "vec_id", F.coalesce("comp", "vec_id").alias("cluster_id")
        )
    )
    sizes = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    out = assigned.join(sizes, "cluster_id").select(
        "vec_id",
        "cluster_id",
        "cluster_size",
        (F.col("vec_id") == F.col("cluster_id")).alias("kept"),
    )
    return carry_cache(out, comp)

def _semantic_dedup_oracle() -> str:
    """Connected components (:func:`_components_sql`) over the embedding
    near-dup pair SQL, with singleton attach + kept flag."""
    from foresttime_builder_spark.operators.ann import (
        embedding_neardup_oracle_sql,
    )

    return f"""
WITH pairs AS MATERIALIZED (
  SELECT id_a, id_b FROM ({embedding_neardup_oracle_sql(threshold=0.85)}) p
),
sym AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
),
{_components_sql()},
assigned AS (
  SELECT e.vec_id, coalesce(c.lab, e.vec_id) AS cluster_id
  FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.id
),
csize AS (SELECT cluster_id, count(*) AS cluster_size FROM assigned GROUP BY 1)
SELECT vec_id, assigned.cluster_id, cluster_size,
       vec_id = assigned.cluster_id AS kept
FROM assigned JOIN csize ON assigned.cluster_id = csize.cluster_id
"""

def q90_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental batch-vs-history dedup
    (`operators/dedup.incremental_dedup`): the nightly-ingest shape —
    batch docs are checked against an already-kept history via content
    hash (exact) and banded MinHash + exact-Jaccard verify (near).  The
    overlapping id split (history < 300, batch >= 200) makes the
    exact_hist arm fire on real rows; near_hist fires on the corpus'
    genuine near-dups crossing the split."""
    from foresttime_builder_spark.operators.dedup import incremental_dedup

    d = load_table(spark, sf_dir, "documents")
    history = d.filter(F.col("doc_id") < 300)
    batch = d.filter(F.col("doc_id") >= 200)
    return incremental_dedup(history, batch, "doc_id", "text")

def _incremental_dedup_oracle() -> str:
    """DuckDB twin of :func:`q90_incremental_dedup` at the operator's
    16 hashes, bands of 4 and threshold 0.5."""
    mins, bands, band_list = _minhash_band_sql(16, 4)

    def _stack(src: str) -> str:
        return f"""(
  SELECT doc_id, unnest([{band_list}]) AS band_key FROM (
    SELECT doc_id, {bands} FROM (
      SELECT doc_id, {mins}
      FROM (SELECT doc_id, unnest({_TOKSET}) AS token
            FROM {src})
      GROUP BY doc_id
    )
  )
)"""

    return f"""
WITH history AS (SELECT * FROM documents WHERE doc_id < 300),
batch AS (SELECT * FROM documents WHERE doc_id >= 200),
b_hash AS (SELECT doc_id AS bid, CASE WHEN text IS NULL THEN '<NULL>' ELSE md5(text) END AS h FROM batch),
hist_keep AS (
  SELECT CASE WHEN text IS NULL THEN '<NULL>' ELSE md5(text) END AS h, min(doc_id) AS exact_hist_id FROM history GROUP BY 1
),
batch_keep AS (SELECT h, min(bid) AS batch_keep_id FROM b_hash GROUP BY h),
cand AS (
  SELECT DISTINCT b.doc_id AS bid, h.doc_id AS hid
  FROM {_stack("batch")} b JOIN {_stack("history")} h USING (band_key)
),
bsets AS (
  SELECT doc_id AS bid, {_TOKSET} AS btoks,
         len({_TOKSET}) AS bsz
  FROM batch
),
hsets AS (
  SELECT doc_id AS hid, {_TOKSET} AS htoks,
         len({_TOKSET}) AS hsz
  FROM history
),
near_keep AS (
  SELECT bid, min(hid) AS near_hist_id
  FROM cand JOIN bsets USING (bid) JOIN hsets USING (hid)
  WHERE len(list_intersect(btoks, htoks))
        / (bsz + hsz - len(list_intersect(btoks, htoks))) >= 0.5
  GROUP BY bid
)
SELECT bid AS doc_id,
       CASE WHEN exact_hist_id IS NOT NULL THEN 'exact_hist'
            WHEN bid <> batch_keep_id THEN 'exact_batch'
            WHEN near_hist_id IS NOT NULL THEN 'near_hist'
            ELSE 'kept' END AS verdict,
       CASE WHEN exact_hist_id IS NOT NULL THEN exact_hist_id
            WHEN bid <> batch_keep_id THEN batch_keep_id
            ELSE near_hist_id END AS match_id
FROM b_hash
LEFT JOIN hist_keep USING (h)
JOIN batch_keep USING (h)
LEFT JOIN near_keep USING (bid)
"""

def q111_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-superset detection
    (`operators/dedup.containment_pairs`): pairs where |A∩B|/|A| >= 0.8
    — the quoted-copy-plus-boilerplate signal symmetric Jaccard misses.
    LOSSLESS containment prefix-filter blocking (rarest tokens of the
    contained side vs the full inverted index), exact verify."""
    from foresttime_builder_spark.operators.dedup import containment_pairs

    d = load_table(spark, sf_dir, "documents")
    # feasibility guard (16 B per candidate row — see q23): the
    # containment pair list is output-bound on this corpus (sf1 measured
    # 141M pairs; the unguarded sf10 run died at 138 s)
    return containment_pairs(
        d, "doc_id", "text", threshold=0.8,
        candidate_budget=derive_candidate_budget(
            spark, bytes_per_candidate=16
        ),
    )

def _containment_oracle() -> str:
    """DuckDB twin of :func:`q111_containment_pairs` at threshold 0.8."""
    return f"""
WITH docsets AS (
  SELECT doc_id, {_TOKSET} AS toks,
         len({_TOKSET}) AS sz
  FROM documents
),
tok AS (
  SELECT doc_id, sz, unnest(toks) AS token FROM docsets
),
dfreq AS (SELECT token, count(*) AS df FROM tok GROUP BY token),
prefix AS (
  SELECT doc_id AS contained_id, token
  FROM (
    SELECT t.doc_id, t.token, t.sz,
           row_number() OVER (
             PARTITION BY t.doc_id ORDER BY d.df, t.token
           ) AS rnk
    FROM tok t JOIN dfreq d USING (token)
  )
  WHERE rnk <= sz - ceil(0.8 * sz) + 1
),
cand AS (
  SELECT DISTINCT p.contained_id, i.doc_id AS container_id
  FROM prefix p JOIN tok i USING (token)
  WHERE p.contained_id != i.doc_id
)
SELECT contained_id, container_id,
       len(list_intersect(sa.toks, sb.toks)) AS n_common,
       round(len(list_intersect(sa.toks, sb.toks)) / sa.sz, 4) AS containment
FROM cand
JOIN docsets sa ON sa.doc_id = contained_id
JOIN docsets sb ON sb.doc_id = container_id
WHERE len(list_intersect(sa.toks, sb.toks)) / sa.sz >= 0.8
"""

def q116_fuzzy_join_d2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy self-match at edit distance <= 2 — q71's deeper variant via
    COMPOSED deletion neighborhoods (explode the 1-deletion step twice;
    FastSS: depth-2 neighborhoods intersect iff distance <= 2), with the
    max_key_len probe guarding the O(L^2) explode.  Oracle = quadratic
    levenshtein cross join."""
    from foresttime_builder_spark.operators.dedup import edit_distance_pairs

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", F.substring("text", 1, 12).alias("title"))
    )
    return edit_distance_pairs(d, "doc_id", "title", max_dist=2)

ORACLE_Q116 = """
WITH t AS (
  SELECT doc_id, substr(text, 1, 12) AS title
  FROM documents WHERE doc_id % 2 = 0
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.title, b.title) AS dist
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE levenshtein(a.title, b.title) <= 2
"""

def q119_lsh_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-stream LSH clustering (`operators/dedup.lsh_representatives`)
    — the measured escape hatch the q23 feasibility raise points at: one
    ``(doc_id, rep_id, cluster_size)`` row per document via bucket-star
    edges (≤ n_docs × n_bands, REGARDLESS of similarity density), exact
    verification of each star edge, and O(log n) star CC.  Same banding
    parameters as q23, so this is exactly q23's workload answered with a
    linear plan — it must complete at the sf10 density where q23's pair
    enumeration correctly raises."""
    from foresttime_builder_spark.operators.dedup import lsh_representatives

    d = load_table(spark, sf_dir, "documents")
    return lsh_representatives(
        d, "doc_id", "text", n_hashes=_MH_N, band_size=_MH_BAND,
        threshold=0.5, verify="auto",
    )

def _lsh_representatives_oracle(threshold: float = 0.5) -> str:
    """DuckDB twin of :func:`q119_lsh_representatives`: identical minhash/
    banding construction as the q23 oracle, bucket-min star edges via a
    window (min ignores NULL ids; ``<>`` drops NULL-id rows — matching the
    Spark operator's NULL contract), exact-jaccard edge verification, then
    connected components (:func:`_components_sql`)."""
    mins, bands, band_list = _minhash_band_sql(_MH_N, _MH_BAND)
    return f"""
WITH tok AS (
  SELECT doc_id, unnest({_TOKSET}) AS token
  FROM documents
),
sigs AS (
  SELECT doc_id,
         {mins}
  FROM tok GROUP BY doc_id
),
banded AS (
  SELECT doc_id,
         {bands}
  FROM sigs
),
stacked AS (
  SELECT doc_id, unnest([{band_list}]) AS band_key FROM banded
),
edges AS (
  SELECT DISTINCT hub AS doc_a, doc_id AS doc_b FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY band_key) AS hub
    FROM stacked
  ) s WHERE doc_id <> hub
),
docsets AS (
  SELECT doc_id, {_TOKSET} AS toks,
         len({_TOKSET}) AS sz
  FROM documents
),
ver AS MATERIALIZED (
  SELECT doc_a, doc_b
  FROM edges
  JOIN docsets sa ON sa.doc_id = doc_a
  JOIN docsets sb ON sb.doc_id = doc_b
  WHERE round(len(list_intersect(sa.toks, sb.toks))
              / (sa.sz + sb.sz - len(list_intersect(sa.toks, sb.toks))), 4)
        >= {threshold}
),
eedges AS (
  -- exact-duplicate star tier (jaccard 1.0 by construction, no verify):
  -- identical texts must co-cluster even when a dissimilar lower-id doc
  -- holds every shared bucket's hub role
  SELECT hub AS doc_a, doc_id AS doc_b FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS hub
    FROM documents WHERE text IS NOT NULL
  ) e WHERE doc_id <> hub
),
sym AS MATERIALIZED (
  SELECT doc_a AS a, doc_b AS b FROM ver
  UNION SELECT doc_b, doc_a FROM ver
  UNION SELECT doc_a, doc_b FROM eedges
  UNION SELECT doc_b, doc_a FROM eedges
),
{_components_sql()},
assigned AS (
  SELECT d.doc_id, coalesce(c.lab, d.doc_id) AS rep_id
  FROM (SELECT doc_id FROM documents WHERE doc_id IS NOT NULL) d
  LEFT JOIN comp c ON c.id = d.doc_id
)
SELECT doc_id, rep_id,
       count(*) OVER (PARTITION BY rep_id) AS cluster_size
FROM assigned
"""

def q120_cluster_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The clustering degrade LADDER end-to-end (`operators/graph.
    cluster_near_dups(on_budget='representatives')`) with a forcing
    budget, so the gate certifies the final rung: exact prefix-join
    infeasible → banded LSH degrade infeasible → linear bucket-star
    representatives, adapted to the cluster_near_dups contract (same
    columns, singletons excluded).  The DuckDB twin replays the q119
    construction filtered to non-singletons — the adapter (rename +
    filter) is exactly what this gate pins."""
    from foresttime_builder_spark.operators.graph import cluster_near_dups

    d = load_table(spark, sf_dir, "documents")
    # candidate_budget=1 forces both upper rungs infeasible at any SF;
    # degrade_budget=1 keeps the LSH rung's forwarded budget forcing too.
    # strategy is PINNED to 'prefix' because the candidate-budget guard
    # applies to the prefix join strategy only — 'auto' resolves
    # to the mask family at gate vocabularies and runs the exact path,
    # never reaching the ladder (found while gating this query: the
    # 'forced' run silently produced the exact clustering instead)
    return cluster_near_dups(
        d, "doc_id", "text", threshold=0.5, strategy="prefix",
        candidate_budget=1, on_budget="representatives", degrade_budget=1,
    )

def _cluster_ladder_oracle() -> str:
    return (
        "SELECT doc_id, rep_id AS cluster_id, cluster_size FROM ("
        + _lsh_representatives_oracle(threshold=0.5)
        + ") z WHERE cluster_size > 1"
    )


QUERIES: dict[str, QuerySpec] = {
    "q12_dedup_exact": QuerySpec(q12_dedup_exact, ORACLE_Q12),
    "q16_jaccard_pairs": QuerySpec(q16_jaccard_pairs, ORACLE_Q16),
    "q23_minhash_lsh": QuerySpec(q23_minhash_lsh, _minhash_lsh_oracle()),
    "q24_simhash": QuerySpec(q24_simhash, _simhash_oracle()),
    "q50_dup_clusters": QuerySpec(q50_dup_clusters, _dup_clusters_oracle()),
    "q54_ngram_jaccard": QuerySpec(q54_ngram_jaccard, ORACLE_Q54),
    "q71_fuzzy_join": QuerySpec(q71_fuzzy_join, ORACLE_Q71),
    "q76_jaccard_budget_guard": QuerySpec(
        q76_jaccard_budget_guard,
        _minhash_lsh_oracle(n_hashes=16, band_size=4, threshold=0.8),
    ),
    "q77_dedup_keep_best": QuerySpec(
        q77_dedup_keep_best, _dedup_keep_best_oracle()
    ),
    "q87_semantic_dedup": QuerySpec(q87_semantic_dedup, _semantic_dedup_oracle()),
    "q90_incremental_dedup": QuerySpec(
        q90_incremental_dedup, _incremental_dedup_oracle()
    ),
    "q111_containment_pairs": QuerySpec(
        q111_containment_pairs, _containment_oracle()
    ),
    "q116_fuzzy_join_d2": QuerySpec(q116_fuzzy_join_d2, ORACLE_Q116),
    "q119_lsh_representatives": QuerySpec(
        q119_lsh_representatives, _lsh_representatives_oracle()
    ),
    "q120_cluster_ladder": QuerySpec(q120_cluster_ladder, _cluster_ladder_oracle()),
}
