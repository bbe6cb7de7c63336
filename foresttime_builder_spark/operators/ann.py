"""Approximate nearest-neighbor search over embedding columns.

Three paths over an ``array<float>`` embedding column:

- brute-force cosine top-k (the exactness baseline; see q17 in the query
  registry) — O(probes × corpus);
- :func:`lsh_topk`: random-hyperplane LSH — deterministic pseudo-random
  hyperplanes derived from md5 (so the construction is reproducible across
  engines and runs), sign-bit signatures, candidates restricted to the same
  bucket, exact cosine re-ranking inside the bucket;
- :func:`ivf_topk`: IVF — a deterministic mini k-means coarse quantizer
  (fixed Lloyd iterations, md5-seeded init) partitions the corpus into
  inverted lists; probes scan only the ``nprobe`` nearest lists.

Scale notes: the signature computation is a narrow map; the bucket join
shuffles on the bucket key; re-ranking touches only same-bucket pairs,
turning the quadratic all-pairs into sum-of-squared-bucket-sizes.  Both
families SELF-SCALE their partitioning parameter from one plan-time
count: LSH grows ``n_bits`` until expected occupancy hits a target
(:func:`adaptive_bits` — candidate stream ~ N·occupancy, linear), and IVF
grows ``k_clusters`` to the smallest power of two with ``k² ≥ N`` (Lloyd
assignment O(N·k) and probe scan O(N/k · probes) balance at k ~ √N).
The DuckDB oracle twins derive the identical parameters from the same
counts via integer comparison chains, so the gates hold at every SF.
Centroid assignment runs as a vectorized Arrow kernel with the k-row
centroid matrix in the task closure (see ``_assign_arrow`` for why the
relational forms were measured 10-50x slower).

All numpy scoring — centroid distances and the one exact cosine top-k
kernel (:func:`_cosine_topk`) behind both brute force and IVF — sums
inner products with the index-order fold (:func:`_fold_dots`), never a
GEMM.  The fold is the same left-associated chain as ``dot_unrolled``
and DuckDB's ``list_dot_product``, so raw cosines are bit-identical to
the oracles'.  A GEMM re-associates the sum: on a 512x16384x64 draw it
differed from the fold in 5.88M of 8.39M entries, and a value within
~1e-14 of a 6-dp rounding step then rounds the other way.  The fold
costs more CPU (about 0.28 s vs 0.006 s for 80 probes x 20,000 x 64);
that is the price of oracle parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from foresttime_builder_spark.functions.encoding import (
    fixed,
    fixed_sql,
    hash60,
    hash60_sql,
)
from foresttime_builder_spark.operators.spread import spread as _spread


def _plane_component(bit: int, dim: int) -> Column:
    """Deterministic pseudo-random hyperplane weight in [-1, 1]."""
    h = hash60(F.lit(f"{bit}_{dim}"))
    return ((h % 2001) - 1000) / 1000.0


#: LSH bucket-occupancy target of lsh_topk (embedding_neardup_pairs
#: targets twice it): buckets of ~this many vectors keep the candidate
#: stream ~linear in corpus size (candidates ~ N * occupancy)
LSH_TARGET_OCCUPANCY = 64
LSH_MIN_BITS, LSH_MAX_BITS = 2, 20
#: leading vector components the LSH hyperplane signature reads
LSH_SIG_DIMS = 32
#: neighbours per probe of lsh_topk and ivf_topk
TOPK = 3


def adaptive_bits(n: int, target: int) -> int:
    """Smallest ``nb`` in [LSH_MIN_BITS, LSH_MAX_BITS] with
    ``target * 2^nb >= n`` — i.e. grow the signature until expected bucket
    occupancy falls to ``target``.  Integer comparisons only (no float
    log2), so the SQL twin (:func:`adaptive_bits_sql`) is bit-identical on
    any engine."""
    nb = LSH_MIN_BITS
    while nb < LSH_MAX_BITS and n > target * (1 << nb):
        nb += 1
    return nb


def adaptive_bits_sql(n_expr: str, target: int) -> str:
    """SQL twin of :func:`adaptive_bits` as a CASE chain over ``n_expr``."""
    arms = "\n    ".join(
        f"WHEN {n_expr} <= {target * (1 << nb)} THEN {nb}"
        for nb in range(LSH_MIN_BITS, LSH_MAX_BITS)
    )
    return f"CASE {arms} ELSE {LSH_MAX_BITS} END"


def _probe_width(emb: DataFrame, vec_col: str) -> int:
    """Actual embedding width, from one row (arrays carry no static length
    in the schema; the dataset's width is uniform by contract).  One tiny
    plan-time job — the price of unrolling the verify arithmetic into
    whole-stage codegen instead of interpreted array folds."""
    row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None or row["d"] <= 0:
        raise ValueError(f"cannot probe vector width of {vec_col!r}")
    return int(row["d"])


def signature_bits(vec: Column, dims: int, n_bits: int) -> Column:
    """Sign-bit LSH signature as a bit-string column."""
    bits = []
    for b in range(n_bits):
        dot = None
        for j in range(dims):
            term = vec.getItem(j).cast("double") * _plane_component(b, j)
            dot = term if dot is None else dot + term
        bits.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*bits)


#: probes of the IVF operator and of q17/q101 are the ids ``% PROBE_MOD == 0``
PROBE_MOD = 25

#: extra local candidates kept per probe by :func:`_cosine_topk` beyond
#: ``k``: the kernel's 6-dp bucket ``floor(x*1e6+0.5)`` can sit one step
#: off the JVM's HALF_UP ``round`` for a value within an ulp of a half-way
#: point, and a few dozen spare local candidates absorb such strays
_MARGIN = 32
_PROBE_BLOCK = 256  # probe rows per scoring block
_MEMB_CHUNK = 16384  # member rows per scoring chunk

_KERNEL_SCHEMA = (
    "probe_id long, neighbor_id long, cosine_raw double, is_nan boolean"
)


def _fold_dots(A, BT):
    """(n x d) x (d x m) -> n x m inner products accumulated in index order
    (a left fold over d, bit-identical to ``dot_unrolled`` and DuckDB's
    ``list_dot_product``), NOT a GEMM.  ``BT`` is the contiguous transposed
    right side and every term is multiplied into one preallocated temp —
    measured 0.95 -> 0.28 s at 80 x 20,000 x 64 over the strided form."""
    import numpy as np

    acc = np.zeros((A.shape[0], BT.shape[1]))
    tmp = np.empty_like(acc)
    for j in range(A.shape[1]):
        np.multiply(A[:, j, None], BT[j], out=tmp)
        acc += tmp
    return acc


def _fold_self(A):
    """Per-row self inner products of ``A`` in the same index order."""
    import numpy as np

    acc = np.zeros(A.shape[0])
    for col in A.T:
        acc += col * col
    return acc


def _top_block(cos, key, ids2d, selfm, width):
    """Tie-safe top-``width`` per row by (key asc, id asc); returns
    (cos, key, ids, selfmask) column-pruned arrays."""
    import numpy as np

    m = key.shape[1]
    if m > 4 * width:
        part = np.argpartition(key, 4 * width - 1, axis=1)[:, : 4 * width]
        keyp = np.take_along_axis(key, part, axis=1)
        # boundary-tie detection: an EXCLUDED candidate tying the largest
        # kept key means the partition chose an arbitrary subset of a tie
        # group — resolve those rows by full sort
        kth = keyp.max(axis=1, keepdims=True)
        bad = (key == kth).sum(axis=1) > (keyp == kth).sum(axis=1)
        for r in np.where(bad)[0]:
            full = np.lexsort((ids2d[r], key[r]))[: 4 * width]
            part[r] = full
            keyp[r] = key[r][full]
        cosp = np.take_along_axis(cos, part, axis=1)
        idp = np.take_along_axis(ids2d, part, axis=1)
        selfp = np.take_along_axis(selfm, part, axis=1)
    else:
        cosp, keyp, idp, selfp = cos, key, ids2d, selfm
    order = np.lexsort((idp, keyp), axis=1)[:, :width]
    return (
        np.take_along_axis(cosp, order, axis=1),
        np.take_along_axis(keyp, order, axis=1),
        np.take_along_axis(idp, order, axis=1),
        np.take_along_axis(selfp, order, axis=1),
    )


def _cosine_topk(pvecs, pids, mvecs, mids, k: int):
    """The one exact cosine top-k kernel: for every probe, its local top
    ``k + _MARGIN`` members by cosine, as a pandas frame of
    ``_KERNEL_SCHEMA``.  ``pvecs``/``mvecs`` are 1-D arrays of vectors,
    ``pids``/``mids`` their ids.  A global window (:func:`_rank_topk`)
    over the union of every call's rows then takes the exact top-k.

    Ordering parity with the engines' ``ORDER BY cosine DESC, neighbor_id``:
    - the raw cosine is the index-order fold dot over the folded norms
      (:func:`_fold_dots`), bit-identical to the oracle's;
    - the cut ranks by the 6-dp cosine bucket, not the raw value, so
      candidates that round equal resolve by id here exactly as in the
      global window — however many share the bucket (a raw-value cut
      keeps the raw-largest of a group of near-duplicates, not the
      smallest ids);
    - NaN cosines (NaN-component vectors — ``_valid(cosine=True)``
      already excludes NULL-component and zero-norm ones) rank FIRST, as
      both engines treat NaN as greatest: the sort key maps NaN -> -inf so
      they survive the cut, and each row carries an explicit ``is_nan``
      flag because the pandas->Arrow conversion turns float NaN into
      NULL, which Spark sorts last under DESC (:func:`_restore_nan`);
    - bucket ties are id-resolved even at the cut (see
      :func:`_top_block`), so the smallest ids of a tie group are kept;
    - a probe's own row is keyed last and dropped after selection.
    Members are scored in chunks of ``_MEMB_CHUNK`` (a skew-collapsed IVF
    list never materializes a score matrix beyond block x chunk) with a
    running per-probe pool merged tie-safely across chunks: a dropped id
    always has >= take smaller ids at the same key in its own chunk, so
    the merged top-take is exact."""
    import numpy as np
    import pandas as pd

    if not len(pids) or not len(mids):
        return pd.DataFrame(
            {"probe_id": [], "neighbor_id": [], "cosine_raw": [], "is_nan": []}
        ).astype({"probe_id": "int64", "neighbor_id": "int64",
                  "cosine_raw": "float64", "is_nan": "bool"})
    take = k + _MARGIN
    P = np.stack(pvecs).astype("float64")
    pnorm = np.sqrt(_fold_self(P))
    blocks = range(0, len(pids), _PROBE_BLOCK)
    pools = [None] * len(blocks)  # per block: (cos, key, ids, selfmask)
    for mlo in range(0, len(mids), _MEMB_CHUNK):
        M = np.stack(mvecs[mlo : mlo + _MEMB_CHUNK]).astype("float64")
        MT = np.ascontiguousarray(M.T)
        ids = mids[mlo : mlo + _MEMB_CHUNK]
        mnorm = np.sqrt(_fold_self(M))
        for b, lo in enumerate(blocks):
            bp = pids[lo : lo + _PROBE_BLOCK]
            S = _fold_dots(P[lo : lo + _PROBE_BLOCK], MT) / (
                pnorm[lo : lo + _PROBE_BLOCK, None] * mnorm[None, :]
            )
            selfm = ids[None, :] == bp[:, None]
            key = -np.floor(S * 1e6 + 0.5)
            key[np.isnan(S)] = -np.inf
            key[selfm] = np.inf
            top = _top_block(S, key, np.broadcast_to(ids, S.shape), selfm, take)
            if pools[b] is not None:
                merged = (np.concatenate(ab, axis=1) for ab in zip(pools[b], top))
                top = _top_block(*merged, take)
            pools[b] = top
    out = []
    for lo, (cosq, _, idq, selfq) in zip(blocks, pools):
        keep = ~selfq.ravel()
        bp = pids[lo : lo + _PROBE_BLOCK]
        cos = cosq.ravel()[keep]
        out.append(pd.DataFrame({
            "probe_id": np.repeat(bp, cosq.shape[1])[keep],
            "neighbor_id": idq.ravel()[keep],
            "cosine_raw": cos,
            "is_nan": np.isnan(cos),
        }))
    return pd.concat(out, ignore_index=True)


def _restore_nan(local: DataFrame) -> DataFrame:
    """Kernel rows -> (probe_id, neighbor_id, cosine): the 6-dp rounded
    cosine, with a literal NaN where the kernel flagged one."""
    return local.withColumn(
        "cosine",
        F.when(F.col("is_nan"), F.lit(float("nan"))).otherwise(
            F.round(F.col("cosine_raw"), 6)
        ),
    )


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """The one rank tail of every top-k operator: per probe, the first
    ``k`` rows by (cosine desc, neighbor_id) — the oracles' ordering."""
    w = W.partitionBy("probe_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "neighbor_id", "cosine", "rank")
    )


#: hard ceiling on the probe set a brute-force scan will ship to every task.
#: Probes ride in the task closure (they must: each partition scores the
#: whole probe matrix), so an unbounded probe side is a driver/executor OOM
#: at scale — callers with more probes should batch them or use lsh/ivf.
MAX_BRUTE_PROBES = 1024


def brute_topk_np(
    base: DataFrame,
    probes: DataFrame,
    k: int,
) -> DataFrame:
    """Brute-force cosine top-k with the shared numpy kernel.

    ``base`` is a DataFrame of (vec_id, vec), ``probes`` one of
    (probe_id, probe_vec).  ``probes`` is collected to the driver and
    shipped in the task closure — the probe set must be tiny
    next to the corpus, which is the side that scales — so the collect is
    bounded: if it exceeds ``MAX_BRUTE_PROBES`` rows the operator raises instead
    of silently OOM-ing the driver at scale.  Each Arrow batch of the
    corpus runs :func:`_cosine_topk` against the whole probe set and emits
    only its local top ``k + _MARGIN`` per probe; a global window then
    takes the exact top-k.  Arrow traffic is O(batches × probes ×
    (k+margin)) instead of O(|base| × probes) — the scan stays distributed
    and nothing quadratic leaves the workers.  Ties, NaN cosines and the
    probe's own row rank exactly as in :func:`brute_topk_oracle_sql`.
    """
    # junk guard: a NULL vector crashes np.stack mid-task, a NULL id
    # cannot be reported (shared contract — see _valid)
    base = _valid(base, "vec_id", "vec", cosine=True)
    probes = _valid(probes, "probe_id", "probe_vec", cosine=True)

    # bounded collect: fetch at most cap+1 rows so even a huge probe side
    # never materializes past the cap before the error fires
    probes_pdf = probes.limit(MAX_BRUTE_PROBES + 1).toPandas()
    if len(probes_pdf) > MAX_BRUTE_PROBES:
        raise ValueError(
            f"brute_topk_np probe set exceeds MAX_BRUTE_PROBES={MAX_BRUTE_PROBES}; "
            "batch the probes or use lsh_topk/ivf_topk for large probe sides"
        )
    pvecs = probes_pdf["probe_vec"].to_numpy()
    pids = probes_pdf["probe_id"].to_numpy()

    def part(batches):
        for pdf in batches:
            if len(pdf):
                yield _cosine_topk(
                    pvecs, pids, pdf["vec"].to_numpy(), pdf["vec_id"].to_numpy(), k
                )

    local = base.select("vec_id", "vec").mapInPandas(part, _KERNEL_SCHEMA)
    return _rank_topk(_restore_nan(local), k)


def _cosine_sql(a: str, b: str) -> str:
    """The ANN oracles' DuckDB cosine of two DOUBLE[] expressions, rounded
    to 6 dp."""
    return (
        f"round(list_dot_product({a}, {b})"
        f" / (sqrt(list_dot_product({a}, {a}))"
        f" * sqrt(list_dot_product({b}, {b}))), 6)"
    )


def _ranked_topk_sql(src: str, k: int) -> str:
    """The ANN oracles' top-k tail over ``src``'s (probe_id, neighbor_id,
    cosine) rows: a ``ranked`` CTE (cosine descending, ties by neighbour
    id — :func:`_rank_topk`'s order) and the ``rank <= k`` select."""
    return f"""ranked AS (
  SELECT *, row_number() OVER
    (PARTITION BY probe_id ORDER BY cosine DESC, neighbor_id) AS rank
  FROM {src}
)
SELECT probe_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {k}
"""


def brute_topk_oracle_sql(table: str, probe_where: str, k: int) -> str:
    """DuckDB twin of :func:`brute_topk_np` over ``table``'s (vec_id,
    embedding): every probe row matching ``probe_where`` (a predicate
    over ``vid``) against every other valid row."""
    return f"""
WITH base AS (
  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS vec
  FROM {_valid_sql(table, "vec_id", "embedding", cosine=True)}
),
pairs AS (
  SELECT p.vid AS probe_id, b.vid AS neighbor_id,
         {_cosine_sql("p.vec", "b.vec")} AS cosine
  FROM (SELECT * FROM base WHERE {probe_where}) p
  JOIN base b ON p.vid != b.vid
),
{_ranked_topk_sql("pairs", k)}"""


def dot_unrolled(a: Column, b: Column, dims: int) -> Column:
    """Inner product as ``dims`` codegen'd multiply-adds, left-associated
    in index order.  It replaced an ``aggregate``/``zip_with`` fold with
    the same order (whose leading ``0.0 +`` is value-neutral), so results
    are bit-identical — only the execution strategy changed: no lambda
    interpretation, no per-pair array allocation.  Together with the
    native array cast (the lambda-transform cast is CodegenFallback and
    was being projection-collapsed into the per-pair verify), q40's sf1
    wall fell 157.8 -> 32 s; see BASELINE.md round-7 notes."""
    out = None
    for j in range(dims):
        term = a.getItem(j) * b.getItem(j)
        out = term if out is None else out + term
    return out


def cosine_unrolled(a: Column, b: Column, dims: int) -> Column:
    """Codegen'd cosine: the unrolled dot over the unrolled norms."""
    return dot_unrolled(a, b, dims) / (
        F.sqrt(dot_unrolled(a, a, dims)) * F.sqrt(dot_unrolled(b, b, dims))
    )


def _valid(
    emb: DataFrame, id_col: str, vec_col: str, cosine: bool = False
) -> DataFrame:
    """Rows with a usable identity and vector.  Every ANN entry point
    filters through this, and every oracle twin applies the identical
    WHERE (:func:`_valid_sql`): a NULL vector crashes the Arrow kernels
    ("all input arrays must have the same shape") and DuckDB's
    list_dot_product alike, and a NULL id cannot be ranked/reported —
    both are junk a 100 TB corpus WILL contain, so the contract is
    "excluded identically", not "undefined behavior".

    ``cosine=True`` (the cosine-ranking family: brute/lsh/ivf/neardup)
    additionally requires a DEFINED cosine: no NULL components (DuckDB's
    list_dot_product raises on them) and at least one non-zero component
    — a zero-norm vector's cosine is 0/0, which the engines disagree on
    (IEEE NaN in Spark, NULL in DuckDB's division) so it cannot be
    ranked identically (r13 degenerate-vector parity test).  NaN
    components stay IN: both engines propagate them to a NaN cosine and
    rank NaN first under DESC.  The per-row HOFs run once per corpus
    row on the scan, not per pair."""
    cond = F.col(id_col).isNotNull() & F.col(vec_col).isNotNull()
    if cosine:
        v = F.col(vec_col)
        cond = (
            cond
            & F.forall(v, lambda x: x.isNotNull())
            & F.exists(v, lambda x: x != 0)
        )
    return emb.filter(cond)


def _valid_sql(
    table: str, id_col: str, vec_col: str, cosine: bool = False
) -> str:
    """DuckDB twin of :func:`_valid` as a filtered relation."""
    extra = ""
    if cosine:
        extra = (
            f" AND len(list_filter({vec_col}, x -> x IS NULL)) = 0"
            f" AND len(list_filter({vec_col}, x -> x <> 0)) > 0"
        )
    return (
        f"(SELECT * FROM {table} "
        f"WHERE {id_col} IS NOT NULL AND {vec_col} IS NOT NULL{extra})"
    )


#: the LSH, IVF and coverage oracles' ``base`` CTE: the valid (vid, vec)
#: rows of ``embeddings``
_BASE_CTE = f"""base AS (
  SELECT vec_id AS vid, CAST(embedding AS DOUBLE[]) AS vec
  FROM {_valid_sql("embeddings", "vec_id", "embedding", cosine=True)}
)"""


def lsh_topk(emb: DataFrame) -> DataFrame:
    """Top-``TOPK`` same-bucket neighbors per vector of ``emb``'s (vec_id,
    embedding) under random-hyperplane LSH with exact cosine re-ranking
    (ranking on the rounded cosine so the order is reproducible across
    engines).

    Scale design: at a FIXED signature width the candidate stream is
    ``N^2 / 2^n_bits`` — quadratic in corpus size.  The signature
    therefore grows with the corpus (smallest nb with
    ``LSH_TARGET_OCCUPANCY * 2^nb >= N``, one count() at plan time):
    expected bucket occupancy stays ~``LSH_TARGET_OCCUPANCY`` and the
    candidate stream stays ~``N * LSH_TARGET_OCCUPANCY`` — linear.  The
    DuckDB twin derives the same nb from the same count with the same
    integer comparisons (:func:`adaptive_bits_sql`), so the gate holds at
    every SF.  Use multiple hash tables for recall at high nb.

    The signature reads the leading ``LSH_SIG_DIMS`` components;
    verification always uses the vector's full width, probed once at plan
    time so the unrolled codegen'd cosine covers every component exactly
    like the array-fold form it replaced."""
    pairs = _lsh_bucket_pairs(emb, LSH_TARGET_OCCUPANCY, lambda a, b: a != b)
    return _rank_topk(
        pairs.select(
            F.col("id_a").alias("probe_id"),
            F.col("id_b").alias("neighbor_id"),
            "cosine",
        ),
        TOPK,
    )


def _lsh_bucket_pairs(emb: DataFrame, target_occupancy: int, keep) -> DataFrame:
    """The LSH candidate join shared by :func:`lsh_topk` and
    :func:`embedding_neardup_pairs`: valid (vec_id, embedding) rows,
    ``LSH_SIG_DIMS``-wide hyperplane signature of :func:`adaptive_bits`
    bits (from one count), bucket self-join filtered by
    ``keep(id_a, id_b)``.  Returns
    (id_a, id_b, cosine) with the 6-dp rounded cosine over the probed full
    vector width."""
    emb = _valid(emb, "vec_id", "embedding", cosine=True)
    vdims = _probe_width(emb, "embedding")
    n_bits = adaptive_bits(emb.count(), target_occupancy)
    base = emb.select(
        F.col("vec_id").alias("vid"),
        F.col("embedding").cast("array<double>").alias("vec"),
    ).withColumn("bucket", signature_bits(F.col("vec"), LSH_SIG_DIMS, n_bits))
    left = _spread(
        base.select(F.col("vid").alias("id_a"), F.col("vec").alias("vec_a"), "bucket")
    )
    pairs = left.join(base, on="bucket").filter(keep(F.col("id_a"), F.col("vid")))
    # norms INLINE, not as precomputed columns: the threshold filter sinks
    # into the join condition either way, and a half-materialized /
    # half-inlined condition measured 2.4x slower than the fully inline
    # form (81 s vs 34 s at sf1) — see BASELINE.md round-7 notes
    return pairs.select(
        "id_a",
        F.col("vid").alias("id_b"),
        F.round(cosine_unrolled(F.col("vec_a"), F.col("vec"), vdims), 6).alias(
            "cosine"
        ),
    )


def _plane_sql(b: int, j: int) -> str:
    h = hash60_sql(f"'{b}_{j}'")
    return f"(({h} % 2001) - 1000) / 1000.0"


def _sig_sql(dims: int, n_bits: int) -> str:
    """Hyperplane-signature SQL twin of :func:`signature_bits`."""
    bit_exprs = []
    for b in range(n_bits):
        dot = " + ".join(
            f"CAST(vec[{j + 1}] AS DOUBLE) * {_plane_sql(b, j)}"
            for j in range(dims)
        )
        bit_exprs.append(f"CASE WHEN ({dot}) >= 0 THEN '1' ELSE '0' END")
    return " || ".join(bit_exprs)


def _sigs_cte(target_occupancy: int) -> str:
    """CTEs computing the bucket of every ``base`` row: the signature is
    built at LSH_MAX_BITS and truncated to the width
    :func:`adaptive_bits_sql` derives from count(*) — the same integer
    chain the Spark side evaluates at plan time."""
    sig = _sig_sql(dims=LSH_SIG_DIMS, n_bits=LSH_MAX_BITS)
    nb = adaptive_bits_sql("(SELECT count(*) FROM base)", target_occupancy)
    return f"""nbq AS (SELECT {nb} AS nb),
sigs AS (
  SELECT vid, vec,
         substr({sig}, 1, (SELECT nb FROM nbq)) AS bucket
  FROM base
)"""


def lsh_topk_oracle_sql() -> str:
    """DuckDB twin of :func:`lsh_topk` (identical hyperplane construction
    and occupancy-derived signature width)."""
    return f"""
WITH {_BASE_CTE},
{_sigs_cte(LSH_TARGET_OCCUPANCY)},
pairs AS (
  SELECT a.vid AS probe_id, b.vid AS neighbor_id,
         {_cosine_sql("a.vec", "b.vec")} AS cosine
  FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vid != b.vid
),
{_ranked_topk_sql("pairs", TOPK)}"""


def _pround6(col: Column) -> Column:
    """Portable 6-dp rounding: identical IEEE ops in Spark and DuckDB
    (native round() ties differ across engines; see q25/q26 conventions)."""
    return F.floor(col * 1000000.0 + F.lit(0.5)) / F.lit(1000000.0)


def _with_self_dot(df: DataFrame, vec_col: str, out: str, dims: int) -> DataFrame:
    return df.withColumn(out, dot_unrolled(F.col(vec_col), F.col(vec_col), dims))


IVF_MIN_K, IVF_MAX_K = 8, 4096
#: fixed Lloyd rounds of the IVF / coverage-sample quantizer
IVF_ITERS = 2

#: per-task memory bound for one inverted list materialized by the
#: cogrouped re-rank (vectors + pandas framing); a collapsed quantizer
#: exceeding this raises at plan time in guarded mode — see ivf_topk
IVF_MAX_LIST_BYTES = 1 << 30


def adaptive_k_clusters(n: int) -> int:
    """Smallest power-of-two k in [IVF_MIN_K, IVF_MAX_K] with ``k^2 >= n``
    — the classic IVF balance point: Lloyd assignment costs O(n*k) and
    probing costs O(n/k * probes), so k ~ sqrt(n) keeps both
    sub-quadratic.  Integer comparisons only; :func:`adaptive_k_sql` is
    the engine twin."""
    kk = IVF_MIN_K
    while kk < IVF_MAX_K and kk * kk < n:
        kk *= 2
    return kk


def adaptive_nprobe(k_clusters: int) -> int:
    """Default probe width ``max(2, min(k, ceil(11k / (4·⌊log2 k⌋))))`` in
    PURE integer arithmetic so the DuckDB twin can replay it bit-exactly
    (no float log2 — boundary products would round differently between
    IEEE doubles and DECIMAL literals).

    Why this shape: the required probe FRACTION for recall@3 ≥ 0.8 on the
    synthetic embeddings (near-isotropic — the ANN-hostile worst case;
    real embedding spaces cluster far better) DECAYS with corpus size but
    only slowly.  Measured in r13 with an offline numpy replica of this
    module's k-means (since deleted; ``RECALL_IVF_r13.json`` holds its
    curves and is the record):

    - sf0.01 (N=500,  k=32):  0.8 at nprobe≈13 (fraction 0.41)
    - sf1    (N=20k,  k=256): 0.8 at nprobe≈80 (fraction 0.31)
    - sf10   (N=200k, k=512): 0.8 at nprobe≈96 (fraction 0.19)

    ``ceil(11k/(4·lg k))`` tracks that decay from above — it derives 18
    (recall 0.900), 88 (0.854) and 157 (0.896) at those three points,
    each measured directly at the rule's operating point (curve rows
    18/88/157 in the artifact, confirmed by real-operator q101 runs) —
    while
    shrinking the probed fraction as k grows (0.34 at k=256, 0.23 at
    k=4096) instead of the r12 rule's flat ``0.4k``, which probed 40% of
    the corpus forever.  History: nprobe=2 (round 9) measured recall 1/3;
    ``ceil(0.4k)`` (round 12) hit the recall bar but its candidate volume
    saturated the physical budget at sf10 and the budget guard silently
    became the tuner (degrading to nprobe=16, recall 0.35 — the r12
    verdict's '0.833 at nprobe=16' premise did not reproduce; see the
    measured curve)."""
    lg = max(1, int(k_clusters).bit_length() - 1)
    return max(2, min(k_clusters, (11 * k_clusters + 4 * lg - 1) // (4 * lg)))


def _floor_log2_sql(kk_expr: str) -> str:
    """``max(1, floor(log2(k)))`` as an integer CASE ladder — exact on any
    engine for k < 2^31, the whole positive-int32 range (k is at most
    IVF_MAX_K = 4096)."""
    arms = "\n    ".join(
        f"WHEN {kk_expr} < {1 << (b + 1)} THEN {max(1, b)}"
        for b in range(1, 31)
    )
    return f"CASE {arms} ELSE 31 END"


def adaptive_nprobe_sql(kk_expr: str) -> str:
    """SQL twin of :func:`adaptive_nprobe` — DuckDB ``//`` is integer
    division and the log2 is a CASE ladder, so the derivation is
    engine-exact (parity asserted over k=1..10000 in tests)."""
    lg = _floor_log2_sql(kk_expr)
    return (
        f"greatest(2, least({kk_expr}, "
        f"(11 * {kk_expr} + 4 * ({lg}) - 1) // (4 * ({lg}))))"
    )


def adaptive_k_sql(n_expr: str) -> str:
    arms = []
    kk = IVF_MIN_K
    while kk < IVF_MAX_K:
        arms.append(f"WHEN {n_expr} <= {kk * kk} THEN {kk}")
        kk *= 2
    return "CASE " + "\n    ".join(arms) + f" ELSE {IVF_MAX_K} END"


def _assign_arrow(
    base: DataFrame, cent_rows: list, dims: int, top: int = 1
) -> DataFrame:
    """Nearest-centroid assignment with the centroid MATRIX as a task
    closure (k ~ sqrt(N) centroids = a few hundred KB), vectorized over
    Arrow batches.

    Why not the broadcast crossJoin: its per-pair 64-term distance lands
    in a BroadcastNestedLoopJoin projection that Spark evaluates
    INTERPRETED (~110 us/eval measured; 19 s for 20k x 256 at sf1 vs 1.2 s
    for an 8-term distance) — the numpy kernel does the same N*k*dims
    flops in ~0.1 s.  Arithmetic parity with the SQL twin is exact by
    construction: the dot is the index-order fold (:func:`_fold_dots`),
    the rounding is the same ``floor(x*1e6+0.5)/1e6``, and ties resolve
    to the smallest cid (stable argsort / first-occurrence argmin over
    cid-ascending columns == ``ORDER BY dist, cid``).  Returns (vid, cid)
    rows — ``top`` nearest per vector.
    """
    import numpy as np
    import pandas as pd

    cent_rows = sorted(cent_rows, key=lambda r: r["cid"])
    CT = np.array([list(r["cvec"]) for r in cent_rows], dtype="float64").T.copy()
    CC = np.array([r["cc"] for r in cent_rows], dtype="float64")
    cids = np.array([r["cid"] for r in cent_rows], dtype="int32")

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["vec"].to_numpy()).astype("float64")
            VV = pdf["vv"].to_numpy(dtype="float64")
            acc = _fold_dots(M, CT)
            dist = np.floor((VV[:, None] - 2.0 * acc + CC[None, :]) * 1e6 + 0.5) / 1e6
            # NaN distances (NaN-component vectors, or centroids whose
            # Lloyd mean went NaN) must sort LAST like the oracle's
            # ORDER BY dist (NaN greatest) — numpy's argmin/argsort
            # PREFER NaN, which silently diverges the assignment (found
            # by the r13 degenerate-vector parity test)
            dkey = np.where(np.isnan(dist), np.inf, dist)
            take = min(top, dist.shape[1])
            if take == 1:
                best = np.argmin(dkey, axis=1)[:, None]  # first min = min cid
            else:
                best = np.argsort(dkey, axis=1, kind="stable")[:, :take]
            yield pd.DataFrame(
                {
                    "vid": np.repeat(pdf["vid"].to_numpy(), take),
                    "cid": cids[best].ravel(),
                }
            )

    return base.mapInPandas(fn, "vid long, cid int")


def _kmeans_build(
    base: DataFrame, dims: int, k_clusters: int
) -> tuple[list, DataFrame]:
    """The deterministic mini k-means shared by :func:`ivf_topk` and
    :func:`kmeans_coverage_sample`: md5-seeded init (min_by over an
    md5+zero-padded-id key — deterministic total order even under an
    astronomically unlikely md5 collision), ``IVF_ITERS`` driver-coordinated
    Lloyd rounds (each collects the k ~ sqrt(N) centroid rows — a few
    hundred KB — and bakes them into the next assignment's task closure,
    so every iteration's plan is base -> one Arrow map -> one groupBy:
    no plan chaining, no recomputation of earlier rounds), centroids
    rounded at 6 dp.  Returns (cent_rows, lists) where lists carries
    (vid, vec, vv, cid)."""
    vid_md5 = F.md5(F.col("vid").cast("string"))
    seed_key = F.concat(vid_md5, F.lpad(F.col("vid").cast("string"), 20, "0"))
    cent = (
        base.withColumn(
            "cid", F.pmod(hash60(vid_md5), F.lit(k_clusters)).cast("int")
        )
        .groupBy("cid")
        .agg(F.min_by("vec", seed_key).alias("cvec"))
    )
    cent = _with_self_dot(cent, "cvec", "cc", dims)
    for _ in range(IVF_ITERS):
        assigned = base.join(
            _assign_arrow(base, cent.collect(), dims), on="vid"
        )
        cent = (
            assigned.groupBy("cid")
            .agg(*[F.avg(F.col("vec").getItem(j)).alias(f"m{j}") for j in range(dims)])
            .select(
                "cid",
                F.array(*[_pround6(F.col(f"m{j}")) for j in range(dims)]).alias("cvec"),
            )
        )
        cent = _with_self_dot(cent, "cvec", "cc", dims)
    cent_rows = cent.collect()
    lists = base.join(_assign_arrow(base, cent_rows, dims), on="vid")
    return cent_rows, lists


def _quantizer_setup(emb: DataFrame) -> tuple[DataFrame, int, int]:
    """The set-up shared by :func:`ivf_topk` and
    :func:`kmeans_coverage_sample`: valid (vec_id, embedding) rows, the
    probed vector width, one row count, and the spread (vid, vec, vv) base
    with its self-dot.  Returns (base, dims, n_rows)."""
    emb = _valid(emb, "vec_id", "embedding", cosine=True)
    vdims = _probe_width(emb, "embedding")
    base = _spread(
        emb.select(
            F.col("vec_id").alias("vid"),
            F.col("embedding").cast("array<double>").alias("vec"),
        )
    )
    return _with_self_dot(base, "vec", "vv", vdims), vdims, emb.count()


def _ivf_params(
    n_rows: int,
    dims: int,
    candidate_budget: int | None,
    on_budget: str,
) -> tuple[int, int]:
    """IVF parameter policy, pure and Spark-free: ``(k_clusters, nprobe)``
    for a corpus of ``n_rows`` ``dims``-wide vectors, k from
    :func:`adaptive_k_clusters` and nprobe from :func:`adaptive_nprobe`
    (at most k, as k >= IVF_MIN_K).

    With a ``candidate_budget`` the projected (probe, list) pair stream
    ``n_probes · nprobe`` is checked against it.  Since the cogroup
    re-rank, candidates are SCANNED inside the per-list kernel and never
    materialize as rows; what hits the shuffle is the pair stream — each
    pair ships the probe vector in (dims*8 B) and at most TOPK+margin scored
    rows out (24 B each) — so the 64 B/candidate budget currency is
    re-denominated to that byte weight (a guard crossing regimes must
    re-denominate for the target row size — dedup.py's degrade ladder
    does the same).  Over budget, ``on_budget='error'`` raises naming the
    levers and ``'degrade'`` lowers nprobe to the largest value that fits;
    when even nprobe=1 does not fit, both postures raise."""
    if on_budget not in ("error", "degrade"):
        raise ValueError(f"bad on_budget {on_budget!r}")
    k_clusters = adaptive_k_clusters(n_rows)
    nprobe = adaptive_nprobe(k_clusters)
    if candidate_budget is None:
        return k_clusters, nprobe
    n_probes = max(1, n_rows // PROBE_MOD)
    bytes_per_pair = dims * 8 + 48 + (TOPK + _MARGIN) * 24
    pair_budget = candidate_budget * 64 // bytes_per_pair
    projected = n_probes * nprobe
    if projected <= pair_budget:
        return k_clusters, nprobe
    fit = pair_budget // n_probes
    if fit < 1:
        # there is no degrade below one list per probe, so BOTH postures
        # raise — the same 'fallback does not fit' regime the dedup
        # degrade path raises on
        raise ValueError(
            f"ivf_topk: even nprobe=1 projects "
            f"~{n_probes:,} probe-list pairs "
            f"(~{bytes_per_pair} B each) over candidate_budget="
            f"{candidate_budget:,} (= {pair_budget:,} pairs); no "
            f"nprobe degrade fits.  Thin the probe set (raise "
            f"PROBE_MOD) or shard the probe side."
        )
    if on_budget == "error":
        raise ValueError(
            f"ivf_topk: projected probe-list pair stream "
            f"~{projected:,} rows ({n_probes:,} probes x "
            f"nprobe={nprobe}, ~{bytes_per_pair} B each) exceeds "
            f"candidate_budget={candidate_budget:,} "
            f"(= {pair_budget:,} pairs).  Thin the probe set (raise "
            f"PROBE_MOD), or re-run with on_budget='degrade' to "
            f"take the largest nprobe that fits (<= {fit} fits; recall "
            f"traded for scan volume)."
        )
    return k_clusters, min(nprobe, fit)


def ivf_topk(
    emb: DataFrame,
    candidate_budget: int | None = None,
    on_budget: str = "error",
    probe_filter=None,
) -> DataFrame:
    """IVF approximate top-``TOPK`` over ``emb``'s (vec_id, embedding):
    deterministic mini k-means (md5-seeded init, ``IVF_ITERS`` fixed Lloyd
    iterations, centroids rounded at 6 dp for cross-engine
    reproducibility) builds inverted lists; each probe (ids
    ``% PROBE_MOD == 0``) scans only its ``nprobe`` nearest lists and
    re-ranks by exact cosine.

    Replaces the reference-free scale path for similarity search (the
    reference has no ANN; SURVEY §2 extension family).

    Seeding is scale-safe: each row hashes into one of ``k_clusters``
    buckets and the seed for bucket *i* is the bucket's ``min_by`` over an
    md5 key — a partially-aggregating groupBy (each map task forwards at
    most ``k_clusters`` candidate rows), so no global sort and no
    single-task corpus pass anywhere in the init.  The construction is pure
    hashing, hence bit-reproducible in the DuckDB oracle
    (:func:`ivf_topk_oracle_sql` uses the identical bucket/argmin).  A
    pathologically tiny corpus can leave a bucket empty — then there are
    simply fewer lists, identically in both engines.

    ``k_clusters`` is derived as k ~ sqrt(N) from one plan-time count (see
    :func:`adaptive_k_clusters`) so neither the Lloyd assignment (O(N*k))
    nor the probe scan (O(N/k * probes)) goes quadratic as the corpus
    grows; the oracle derives the identical k in SQL.

    The ACTUAL vector width is probed and covered fully — self-dots,
    centroid distances, Lloyd means and the final cosine all run over
    every component, matching the oracle's full-width
    ``list_dot_product``.

    ``nprobe`` is derived as ``ceil(11 k / (4 ⌊log2 k⌋))`` —
    the recall-targeted rule measured to land recall@3 ≥ 0.8 on the
    isotropic synthetic corpus at sf0.01, sf1 AND sf10
    (:func:`adaptive_nprobe`, curves in ``RECALL_IVF_r13.json``; the
    oracle replays the same integer chain).  The probed FRACTION shrinks
    as the corpus grows (0.41 at k=32, 0.23 at k=4096), tracking the
    measured decay of the recall requirement instead of the r12 flat
    0.4·k.  ``candidate_budget`` (64 B/candidate currency) bounds the
    (probe, list) pair stream and ``on_budget`` picks the posture over
    budget — see :func:`_ivf_params`, which makes every parameter choice
    from the same counts the auto-k derivation already pays.  At gate
    SFs the projection is tiny, so a physical budget never binds there
    and the oracle twin stays bit-exact."""
    base, dims, n_rows = _quantizer_setup(emb)
    k_clusters, nprobe = _ivf_params(n_rows, dims, candidate_budget, on_budget)
    cent_rows, lists = _kmeans_build(base, dims, k_clusters)

    if n_rows * (dims * 8 + 32) > IVF_MAX_LIST_BYTES:
        # skew guard (r13 review; decoupled from candidate_budget in r14 —
        # an UNGUARDED production call could previously still build a
        # multi-GiB cogroup task from a collapsed quantizer): a collapsed
        # quantizer can put most of the corpus in ONE inverted list, and
        # cogroup materializes a whole list per task — the pair-stream
        # budget cannot see that.  Gated on the corpus-bytes bound (only a
        # corpus that could PHYSICALLY exceed the cap even when fully
        # collapsed pays the check, so gate-SF calls skip it), the check
        # is one count pass over the final assignment — cent_rows is
        # already collected, so this re-runs a single Arrow map, not the
        # k-means; counting from `lists` instead would also execute its
        # join with `base`, which is strictly more work.  No degrade
        # exists: nprobe cannot shrink a single list, so it always raises.
        row = (
            _assign_arrow(base, cent_rows, dims)
            .groupBy("cid").count().agg(F.max("count").alias("mx")).collect()
        )
        biggest = row[0]["mx"] or 0
        if biggest * (dims * 8 + 32) > IVF_MAX_LIST_BYTES:
            raise ValueError(
                f"ivf_topk: largest inverted list holds {biggest:,} vectors "
                f"(~{biggest * (dims * 8 + 32) / 2**30:.1f} GiB as one "
                f"cogroup task) — the quantizer collapsed on this corpus. "
                f"Deduplicate the embedding column first; nprobe degrade "
                f"cannot shrink a single list."
            )

    # probe_filter (a Column-predicate callable over the probe id) thins
    # the probe side BEFORE the assignment kernel and the pair-stream
    # shuffle — a caller-side filter on the OUTPUT cannot push through
    # applyInPandas, so an evaluation harness probing a bounded id range
    # (q101's cap) would otherwise pay the full production probe set.
    # Value-safe: filtering by probe_id commutes with everything
    # downstream (each probe's rows are computed independently), so the
    # result equals post-filtering the unfiltered output.  The budget
    # guard's n_probes projection deliberately stays the UNFILTERED
    # upper bound.
    pf = F.col("vid") % PROBE_MOD == 0
    if probe_filter is not None:
        pf = pf & probe_filter(F.col("vid"))
    probes = base.filter(pf)
    probe_assign = _assign_arrow(probes, cent_rows, dims, top=nprobe)
    probe_lists = probes.select(
        F.col("vid").alias("probe_id"), F.col("vec").alias("pvec")
    ).join(probe_assign.withColumnRenamed("vid", "probe_id"), on="probe_id")

    # Re-rank: per-list Arrow kernel instead of the relational candidate
    # join.  The r12 form joined probe_lists x lists on cid and evaluated
    # a codegen'd 64-term cosine PER CANDIDATE ROW — at sf10 that is a
    # ~50-500M-row shuffle where every row carries BOTH vectors (~1 KB),
    # i.e. hundreds of GB of exchange for what is arithmetically a handful
    # of small score blocks.  The cogroup form shuffles each side ONCE on
    # cid (corpus ~dims*8 B/row + the probe-pair stream the budget guard
    # bounds) and runs the shared exact kernel (:func:`_cosine_topk`) per
    # list, emitting only the local top (k+margin) per (probe, list) —
    # the global window then takes the exact top-k.
    def _score(probes_pdf, members_pdf):
        if probes_pdf.empty or members_pdf.empty:  # a side may lack columns
            return _cosine_topk((), (), (), (), TOPK)
        return _cosine_topk(
            probes_pdf["pvec"].to_numpy(),
            probes_pdf["probe_id"].to_numpy(),
            members_pdf["vec"].to_numpy(),
            members_pdf["vid"].to_numpy(),
            TOPK,
        )

    local = (
        probe_lists.groupBy("cid")
        .cogroup(lists.select("cid", "vid", "vec").groupBy("cid"))
        .applyInPandas(_score, _KERNEL_SCHEMA)
    )
    return _rank_topk(_restore_nan(local), TOPK)


#: the oracle-side rounded squared-distance template shared by the
#: k-means assignment, probe ranking, and the coverage sample's scoring
_DIST_SQL = (
    "floor((list_dot_product({v}, {v}) - 2 * list_dot_product({v}, {c})"
    " + list_dot_product({c}, {c})) * 1000000.0 + 0.5) / 1000000.0"
)


def _kmeans_ctes() -> list[str]:
    """The shared oracle CTE prefix (base → kq → cent0 → Lloyd rounds →
    lists) mirroring :func:`_kmeans_build` — one definition so
    :func:`ivf_topk_oracle_sql` and :func:`kmeans_coverage_sample_oracle_sql`
    cannot silently diverge on the quantizer."""

    def assign_cte(name: str, cent: str) -> str:
        d = _DIST_SQL.format(v="b.vec", c="c.cvec")
        return f"""{name} AS (
  SELECT vid, vec, cid FROM (
    SELECT b.vid, b.vec, c.cid,
      row_number() OVER (PARTITION BY b.vid ORDER BY {d}, c.cid) AS rnn
    FROM base b CROSS JOIN {cent} c)
  WHERE rnn = 1
)"""

    def cent_cte(name: str, assigned: str) -> str:
        return f"""{name} AS (
  SELECT cid, list(m ORDER BY dim) AS cvec FROM (
    SELECT cid, dim, floor(avg(val) * 1000000.0 + 0.5) / 1000000.0 AS m
    FROM (SELECT cid, unnest(vec) AS val, generate_subscripts(vec, 1) AS dim
          FROM {assigned})
    GROUP BY cid, dim)
  GROUP BY cid
)"""

    ctes = [
        _BASE_CTE,
        "kq AS (SELECT " + adaptive_k_sql("(SELECT count(*) FROM base)")
        + " AS kk)",
        f"""cent0 AS (
  SELECT CAST({hash60_sql("md5(CAST(vid AS VARCHAR))")} % (SELECT kk FROM kq)
              AS INT) AS cid,
         arg_min(vec, concat(md5(CAST(vid AS VARCHAR)),
                             lpad(CAST(vid AS VARCHAR), 20, '0'))) AS cvec
  FROM base GROUP BY 1
)""",
    ]
    for i in range(IVF_ITERS):
        ctes.append(assign_cte(f"assign{i}", f"cent{i}"))
        ctes.append(cent_cte(f"cent{i + 1}", f"assign{i}"))
    ctes.append(assign_cte("lists", f"cent{IVF_ITERS}"))
    return ctes


def ivf_topk_oracle_sql() -> str:
    """DuckDB twin of :func:`ivf_topk` — identical init ordering, Lloyd
    iteration count, centroid/distance rounding, and tie-breaks; k is
    derived from count(*) by the same integer chain
    (:func:`adaptive_k_sql`) and nprobe by :func:`adaptive_nprobe_sql`
    (both sides pure integer)."""
    ctes = _kmeans_ctes()
    pd = _DIST_SQL.format(v="p.pvec", c="c.cvec")
    ctes.append(
        f"""probes AS (
  SELECT vid AS probe_id, vec AS pvec FROM base WHERE vid % {PROBE_MOD} = 0
)"""
    )
    nprobe_sql = adaptive_nprobe_sql("(SELECT kk FROM kq)")
    ctes.append(
        f"""pc AS (
  SELECT probe_id, pvec, cid FROM (
    SELECT p.probe_id, p.pvec, c.cid,
      row_number() OVER (PARTITION BY p.probe_id ORDER BY {pd}, c.cid) AS rnn
    FROM probes p CROSS JOIN cent{IVF_ITERS} c)
  WHERE rnn <= least({nprobe_sql}, (SELECT kk FROM kq))
)"""
    )
    ctes.append(
        f"""cand AS (
  SELECT pc.probe_id, a.vid AS neighbor_id,
         {_cosine_sql("pc.pvec", "a.vec")} AS cosine
  FROM pc JOIN lists a ON pc.cid = a.cid AND pc.probe_id != a.vid
)"""
    )
    ctes.append(_ranked_topk_sql("cand", TOPK))
    return "WITH " + ",\n".join(ctes)


#: rows each cluster contributes to the coverage sample
COVERAGE_PER_CLUSTER = 3


def kmeans_coverage_sample(
    emb: DataFrame,
    order: str = "representative",
) -> DataFrame:
    """Diversity-aware subset selection over ``emb``'s (vec_id, embedding) — the
    coverage-sampling step of a training-data pipeline (pick a bounded,
    spread-out subset instead of a uniform random one).

    The corpus is partitioned by the same deterministic mini k-means as
    :func:`ivf_topk` (shared :func:`_kmeans_build` — md5-seeded init,
    fixed Lloyd rounds, 6-dp rounding, so the quantizer is bit-identical
    to the oracle's), then each cluster contributes its ``COVERAGE_PER_CLUSTER``
    rows by rounded squared-distance to the final centroid:

    - ``order='representative'`` — closest first: cluster cores, the
      canonical-example posture (per-topic exemplars, dedup-adjacent);
    - ``order='diverse'`` — farthest first: boundary/outlier picks, the
      coverage posture (what a uniform sample systematically misses).

    Scale shape: one k-means build (Arrow assignment maps, k ~ sqrt(N)
    centroid collects), one broadcast join of the k centroid rows, one
    window over the cid partitioning — every shuffle linear in the
    corpus, output bounded at ``k_clusters * COVERAGE_PER_CLUSTER`` rows.

    Ties resolve (dist, id ascending) on both engines; rows whose
    distance is NaN (NaN-component vectors — zero-norm ones are already
    excluded by the shared cosine-validity contract) are excluded
    identically on both sides, since ASC/DESC NaN placement is the one
    ordering the engines disagree on after the 6-dp rounding.

    Returns ``(vec_id, cid, dist_e6, pick_rank)`` with ``dist_e6`` the
    rounded distance as an integer (micro-units) so the gate's value
    hash never rides on float formatting.
    """
    if order not in ("representative", "diverse"):
        raise ValueError(f"bad order {order!r}")

    def _empty():
        # empty (or fully validity-filtered) corpus: the contract result
        # is an empty frame with the output schema, id type preserved —
        # not _probe_width's error, and not createDataFrame([])'s opaque
        # "can not infer schema from empty dataset" (r13 advice item)
        return emb.select(
            F.col("vec_id"),
            F.lit(None).cast("int").alias("cid"),
            F.lit(None).cast("long").alias("dist_e6"),
            F.lit(None).cast("int").alias("pick_rank"),
        ).filter(F.lit(False))

    try:
        base, dims, n_rows = _quantizer_setup(emb)
    except ValueError:
        if _valid(emb, "vec_id", "embedding", cosine=True).isEmpty():
            return _empty()
        raise
    cent_rows, lists = _kmeans_build(base, dims, adaptive_k_clusters(n_rows))
    if not cent_rows:
        return _empty()
    sess = emb.sparkSession
    cdf = sess.createDataFrame(cent_rows)  # (cid, cvec, cc): k ~ sqrt(N) rows
    scored = lists.join(F.broadcast(cdf), on="cid").withColumn(
        "dist",
        _pround6(
            F.col("vv")
            - 2 * dot_unrolled(F.col("vec"), F.col("cvec"), dims)
            + F.col("cc")
        ),
    ).filter(~F.isnan(F.col("dist")))
    ordering = (
        F.col("dist").asc() if order == "representative" else F.col("dist").desc()
    )
    w = W.partitionBy("cid").orderBy(ordering, F.col("vid"))
    return (
        scored.withColumn("pick_rank", F.row_number().over(w))
        .filter(F.col("pick_rank") <= COVERAGE_PER_CLUSTER)
        .select(
            F.col("vid").alias("vec_id"),
            "cid",
            fixed("dist", 6).alias("dist_e6"),
            "pick_rank",
        )
    )


def kmeans_coverage_sample_oracle_sql(order: str = "representative") -> str:
    """DuckDB twin of :func:`kmeans_coverage_sample` — the quantizer CTEs come from the same
    :func:`_kmeans_ctes` builder the IVF oracle uses, then one join to the
    final centroids + one window."""
    direction = "ASC" if order == "representative" else "DESC"
    ctes = _kmeans_ctes()
    d = _DIST_SQL.format(v="a.vec", c="c.cvec")
    ctes.append(
        f"""scored AS (
  SELECT a.vid, a.cid, {d} AS dist
  FROM lists a JOIN cent{IVF_ITERS} c ON a.cid = c.cid
)"""
    )
    ctes.append(
        f"""picked AS (
  SELECT vid, cid, dist, row_number() OVER
    (PARTITION BY cid ORDER BY dist {direction}, vid) AS pick_rank
  FROM scored WHERE NOT isnan(dist)
)"""
    )
    body = ",\n".join(ctes)
    return (
        f"WITH {body}\n"
        "SELECT vid AS vec_id, cid, "
        f"{fixed_sql('dist', 6)} AS dist_e6, "
        f"pick_rank FROM picked WHERE pick_rank <= {COVERAGE_PER_CLUSTER}"
    )


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family) over ``emb``'s
    (vec_id, embedding): LSH-bucketed candidate generation over an
    ``LSH_SIG_DIMS``-wide signature + exact cosine verification at
    ``threshold`` over the probed full vector width.  Returns (id_a, id_b,
    cosine) with id_a < id_b.

    The signature width is occupancy-targeted (see :func:`lsh_topk`) so
    the candidate stream stays linear in corpus size; it targets 2x the
    top-k occupancy because recall matters more than bucket size here."""
    return _lsh_bucket_pairs(
        emb, 2 * LSH_TARGET_OCCUPANCY, lambda a, b: a < b
    ).filter(F.col("cosine") >= threshold)


def embedding_neardup_oracle_sql(threshold: float = 0.3) -> str:
    """DuckDB twin of :func:`embedding_neardup_pairs`."""
    cos = _cosine_sql("a.vec", "b.vec")
    return f"""
WITH {_BASE_CTE},
{_sigs_cte(2 * LSH_TARGET_OCCUPANCY)}
SELECT a.vid AS id_a, b.vid AS id_b, {cos} AS cosine
FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vid < b.vid
WHERE {cos} >= {threshold}
"""


def _rp_sign(salt: str, i: int, j: int) -> int:
    """+-1 from the parity of hash60(f'{salt}|{i}|{j}') — the engine-
    portable Achlioptas-style sign matrix entry (md5, same as hash60)."""
    import hashlib

    h = int(hashlib.md5(f"{salt}|{i}|{j}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 0 else -1


#: output width and sign-matrix salt of the random projection
RP_OUT_DIMS, RP_SALT = 8, "rp"


def random_projection(emb: DataFrame) -> DataFrame:
    """Johnson-Lindenstrauss sign-matrix dimensionality reduction
    (Achlioptas 2003): project ``emb``'s (vec_id, embedding) rows onto
    ``RP_OUT_DIMS``
    via a deterministic +-1 matrix derived from md5 parity — the cheap
    pre-step that shrinks vectors before ANN indexing or clustering at
    corpus scale.

    Engine-exactness: each input component is quantized to an e9 BIGINT
    (``floor(x * 1e9)``) BEFORE the matmul, so every output is an exact
    order-free int64 sum — the Arrow kernel's ``Q @ S`` and the oracle's
    ``sum(big * sign)`` agree bit-for-bit.  Consumers recover floats as
    ``value_e9 / (1e9 * sqrt(RP_OUT_DIMS))``.

    Returns ``(vec_id, out_dim, value_e9)`` — ``RP_OUT_DIMS`` rows per
    vector.

    Scale shape (100 TB): the sign matrix is a task closure
    (``in_dims x RP_OUT_DIMS`` int8 — KBs), the kernel is one Arrow-batched
    int64 matmul per partition (no shuffle at all: the operator is
    embarrassingly parallel map-side), and the long output is produced
    directly in the batch, never via explode.
    """
    emb = _valid(emb, "vec_id", "embedding")
    dims = _probe_width(emb, "embedding")

    import numpy as np

    S = np.array(
        [
            [_rp_sign(RP_SALT, i, j) for j in range(RP_OUT_DIMS)]
            for i in range(dims)
        ],
        dtype="int64",
    )

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf["vec"].to_numpy()).astype("float64")
            Q = np.floor(M * 1e9).astype("int64")
            out = Q @ S  # exact int64 matmul
            n = len(pdf)
            yield pd.DataFrame(
                {
                    "vid": np.repeat(pdf["vid"].to_numpy(), RP_OUT_DIMS),
                    "out_dim": np.tile(np.arange(RP_OUT_DIMS, dtype="int32"), n),
                    "value_e9": out.ravel(),
                }
            )

    base = emb.select(
        F.col("vec_id").alias("vid"), F.col("embedding").alias("vec")
    )
    return base.mapInPandas(
        fn, "vid long, out_dim int, value_e9 long"
    ).select(
        F.col("vid").alias("vec_id"), "out_dim", "value_e9"
    )


def random_projection_oracle_sql() -> str:
    """DuckDB twin of :func:`random_projection` — identical md5-parity
    signs (0-based indices in the hash string) and identical e9
    quantization before the integer sum."""
    h = hash60_sql(f"'{RP_SALT}|' || (i - 1) || '|' || j")
    sign = f"CASE WHEN {h} % 2 = 0 THEN 1 ELSE -1 END"
    return f"""
WITH comps AS (
  SELECT vec_id, i, CAST(floor(embedding[i] * 1e9) AS BIGINT) AS big
  FROM {_valid_sql("embeddings", "vec_id", "embedding")}, LATERAL (
    SELECT unnest(generate_series(1, len(embedding))) AS i
  ) g
), expanded AS (
  SELECT vec_id, i, big, j, {sign} AS sign
  FROM comps, LATERAL (
    SELECT unnest(generate_series(0, {RP_OUT_DIMS - 1})) AS j
  ) h
)
SELECT vec_id, CAST(j AS INTEGER) AS out_dim,
       CAST(sum(big * sign) AS BIGINT) AS value_e9
FROM expanded GROUP BY vec_id, j
"""
