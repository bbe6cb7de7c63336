"""Distributed panel → annual-grid time-series operators.

These are the novel operators of the engine: the reference implements them as
per-group R vector functions (``inter_extra_polate``, ``step_interp``,
``tidyr::fill``, ``tidyr::expand`` — see reference ``R/inter_extra_polate.R``,
``R/step_interp.R``, ``R/expand_data.R``); here each one is pure Spark window
algebra — no UDFs — so the whole stage stays inside WholeStageCodegen and one
shuffle (the window partition-by) covers every column being interpolated.

Scale notes: all windows partition by the group key(s). Groups are small
(a tree has tens of rows), so there is no per-key skew; one exchange on the
group key serves every window in the stage, and Catalyst collapses adjacent
windows with identical partitioning/ordering into a single Window physical
node.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from foresttime_builder_spark.functions.helpers import _bq


def _group(cols: Sequence[str]) -> list[Column]:
    return [F.col(c) for c in cols]


def _partition_clause(group_cols: Sequence[str]) -> str:
    """``"PARTITION BY `a`, `b` "`` — or ``""`` when ``group_cols`` is
    empty: a bare ``PARTITION BY`` with no column list is invalid SQL,
    whereas an absent clause correctly means one global partition (the
    Window.partitionBy() no-arg semantics the SQL-text rewrite replaced)."""
    if not group_cols:
        return ""
    return "PARTITION BY " + ", ".join(_bq(g) for g in group_cols) + " "


def fill_gaps_layers(
    group_cols: Sequence[str],
    order_col: str,
    cols: Sequence[str],
    direction: str = "downup",
) -> list[tuple[dict[str, str], list[str]]]:
    """The :func:`fill_gaps` projection as ``apply_layers`` layers (SQL
    text), so a chain caller (``plans/fia.py``) can fuse it with adjacent
    projections into ONE generated statement — the r16 fold of the FIA
    chain's remaining per-transform analyzer passes into the apply_layers
    path (guide §1.2: each eager Dataset transform re-runs the analyzer
    over the whole deepening plan).  ``direction`` is ``"downup"`` (as
    :func:`fill_gaps`) or ``"up"``: the first non-null value after."""
    part = _partition_clause(group_cols)
    over_down = (
        f"OVER ({part}ORDER BY {_bq(order_col)} "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    over_up = (
        f"OVER ({part}ORDER BY {_bq(order_col)} "
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
    )
    filled = {}
    for c in cols:
        down = f"last({_bq(c)}, true) {over_down}"
        up = f"first({_bq(c)}, true) {over_up}"
        if direction == "up":
            filled[c] = up
        elif direction == "downup":
            filled[c] = f"coalesce({down}, {up})"
        else:
            raise ValueError(f"bad direction {direction!r}")
    return [(filled, [])]


def fill_gaps(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    cols: Sequence[str],
) -> DataFrame:
    """Fill nulls from neighboring rows within each group
    (``tidyr::fill(.direction = "downup")``): the last non-null value
    before, else the first non-null value after.  Reference semantics: ``R/fia_tidy.R:96-98``, ``R/expand_data.R:61-70``,
    ``R/adjust_mortality.R:90``.
    """
    from foresttime_builder_spark.functions.helpers import apply_layers

    # one projection for every column (N analyzer passes -> 1), via the
    # same generated-SQL path the chain fusion uses
    return apply_layers(
        df, fill_gaps_layers(group_cols, order_col, cols)
    )


def expand_grid(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    out_col: str | None = None,
) -> DataFrame:
    """Densify an integer axis to every value between each group's min and max.

    Equivalent of ``tidyr::expand(YEAR = full_seq(INVYR, 1))`` + the
    provenance-flag right join (``R/expand_data.R:41-57``): emits one row per
    group per grid value; rows absent from the input get nulls in every
    non-group column and ``interpolated = True``; original rows keep their
    values and get ``interpolated = False``.

    Implementation: ONE pass — a ``lead`` window over (group, x) finds each
    row's next year, and every row explodes into itself plus the gap years
    up to that neighbour.  The r15 optimization round replaced the original
    two-sided form (groupBy min/max → explode → join the input back on
    (group, x)), which computed the ENTIRE input subtree twice — q26's
    synthetic panel appeared once on the stream side and once inside a
    broadcast — and paid a grid-aggregate exchange plus the join itself
    (guide §2.4: remove shuffles outright / don't compute things twice).
    The window
    needs the same (group) hash partitioning every downstream
    interpolation window already requires, so the whole chain now rides
    one exchange.

    Exact join-semantics replication, pinned by the oracle gates:

    - a row whose x is NULL never matched the grid and vanished → filtered;
    - rows in a group with a NULL group key never matched (SQL NULL
      equality): their VALUES vanish — every grid year of that group comes
      back all-NULL with ``interpolated = true``, and duplicate years collapse
      to the one grid row (``plans/state_on_fixture.py`` empty-plot
      contract) → only the last row of each distinct x emits, nulled;
    - duplicate (group, x) rows in a matched group each re-matched their
      grid year → every original row emits itself.
    """
    out_col = out_col or x_col
    src = df.filter(F.col(x_col).isNotNull())
    if out_col != x_col:
        src = src.withColumnRenamed(x_col, out_col)
    ycol = "_y"
    while ycol in src.columns:
        ycol = "_" + ycol
    nxtcol = "_nxt"
    while nxtcol in src.columns:
        nxtcol = "_" + nxtcol
    x = F.col(out_col)
    w = Window.partitionBy(*_group(group_cols)).orderBy(out_col)
    # materialized: a window expression cannot sit inside a generator
    src = src.withColumn(nxtcol, F.lead(out_col).over(w))
    nxt = F.col(nxtcol)
    matched = F.lit(True)
    for g in group_cols:
        matched = matched & F.col(g).isNotNull()
    # group keys are partition-constant, so `matched` is too; `is_last`
    # holds for exactly one row per distinct x regardless of tie order
    is_last = nxt.isNull() | (nxt > x)
    years = (
        # self year + every missing year before the next distinct one
        F.when(is_last, F.sequence(x, F.coalesce(nxt - F.lit(1), x)))
        # matched duplicates re-emit their year; unmatched ones vanish
        .when(matched, F.array(x))
        .otherwise(F.slice(F.array(x), 1, 0))
    )
    others = [
        c
        for c in src.columns
        if c not in set(group_cols) | {out_col, nxtcol}
    ]
    exploded = src.select(*src.columns, F.explode(years).alias(ycol))
    orig_row = matched & (F.col(ycol) == x)
    return exploded.select(
        *group_cols,
        F.col(ycol).alias(out_col),
        *[F.when(orig_row, F.col(c)).alias(c) for c in others],
        (~orig_row).alias("interpolated"),
    )


def linear_interpolate(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    cols: Sequence[str],
) -> DataFrame:
    """Per-group linear interpolation / extrapolation over a numeric axis.

    Matches reference ``inter_extra_polate`` (``R/inter_extra_polate.R:31-61``):

    - rows with a known value keep it;
    - gaps strictly between two known points are linearly interpolated on
      ``x_col``;
    - groups with exactly one known value carry it *forward* only (leading
      rows stay null);
    - groups with >= 2 known values extend the line through the two
      nearest known points beyond either end (trailing and leading).

    Note: for leading gaps with >= 2 known points the reference's R
    implementation concatenates extrapolated values at the *end* of the
    vector (a positional artifact of ``c(interpolated, extrapolated)``);
    this engine implements the documented intent — positionally-correct
    backward extrapolation. The reference's own golden tests only pin
    trailing extrapolation and carry-forward, which match exactly.
    """
    from foresttime_builder_spark.functions.helpers import apply_layers

    return apply_layers(
        df, linear_interpolate_layers(group_cols, x_col, cols)
    )


def linear_interpolate_layers(
    group_cols: Sequence[str],
    x_col: str,
    cols: Sequence[str],
) -> list[tuple[dict[str, str], list[str]]]:
    """:func:`linear_interpolate` as ``apply_layers`` layers, so the FIA
    chain can fuse its whole interpolation stage into ONE generated
    statement (r16; see :func:`fill_gaps_layers`).

    Expression design notes:

    The boundary quantities — known-count and the two known points
    nearest each end — come from ONE group-constant window per column:
    the sorted known-point array (``collect_list`` drops the nulls, and
    WindowExec's partition sort makes it x-ascending).  The nearest known
    point at-or-before / at-or-after each row are ``last``/``first``
    ignoring nulls over RANGE frames on the same partition and order:
    a RANGE frame includes the row's peers, so a duplicate x sees the
    known points at its own x on both sides, exactly as ``e.x <= x`` /
    ``e.x >= x`` would over the array.  Every function shares one sort
    and one Window node, and the final projection is plain array
    indexing and arithmetic, so it stays in whole-stage codegen (a
    ``filter(k, e -> ...)`` lambda is evaluated interpreted).  Groups
    are small (a tree has tens of rows), so the arrays never approach
    collect_list's size limits.

    Expressions are assembled as SQL text and analyzed JVM-side in one
    spark.sql call for the whole layer stack: the equivalent Column-API
    construction costs ~40 py4j round trips per column, which dominated
    the q25 wall time (plan construction measured ~2x the execution), and
    the former one-transform-per-stage form paid a full analyzer pass per
    transform on an already-deep plan."""
    part = _partition_clause(group_cols)
    order = f"ORDER BY {_bq(x_col)} "
    over = (
        f"OVER ({part}{order}"
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"
    )
    over_prev = (
        f"OVER ({part}{order}RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    over_next = (
        f"OVER ({part}{order}RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
    )
    x = f"CAST({_bq(x_col)} AS DOUBLE)"

    windows = {}
    for c in cols:
        y = f"CAST({_bq(c)} AS DOUBLE)"
        kp = f"CASE WHEN {y} IS NOT NULL THEN named_struct('x', {x}, 'y', {y}) END"
        windows[f"_li_{c}_k"] = f"collect_list({kp}) {over}"
        windows[f"_li_{c}_p"] = f"last({kp}, true) {over_prev}"
        windows[f"_li_{c}_n"] = f"first({kp}, true) {over_next}"

    final, drops = {}, []
    for c in cols:
        y = f"CAST({_bq(c)} AS DOUBLE)"
        k = _bq(f"_li_{c}_k")
        # nearest known point at-or-before / at-or-after this row
        prev, nxt = _bq(f"_li_{c}_p"), _bq(f"_li_{c}_n")
        drops += [f"_li_{c}_k", f"_li_{c}_p", f"_li_{c}_n"]
        interp = (
            f"({prev}).y + (({nxt}).y - ({prev}).y)"
            f" / (({nxt}).x - ({prev}).x) * ({x} - ({prev}).x)"
        )
        # an unknown row that shares its x with a known one: both nearest
        # points are that peer, so the value is its y, not 0 / 0
        same_x = f"WHEN ({prev}).x = ({nxt}).x THEN ({prev}).y "

        # boundary lines through the two known points nearest each end
        l, l2 = f"try_element_at({k}, -1)", f"try_element_at({k}, -2)"
        f1, f2 = f"try_element_at({k}, 1)", f"try_element_at({k}, 2)"
        fwd = (
            f"({l}).y + (({l}).y - ({l2}).y)"
            f" / (({l}).x - ({l2}).x) * ({x} - ({l}).x)"
        )
        bwd = (
            f"({f1}).y + (({f1}).y - ({f2}).y)"
            f" / (({f1}).x - ({f2}).x) * ({x} - ({f1}).x)"
        )
        final[c] = (
            f"CASE WHEN {y} IS NOT NULL THEN {y} "
            f"WHEN size({k}) = 0 THEN CAST(NULL AS DOUBLE) "
            # single known value: carry forward only (leading rows null)
            f"WHEN size({k}) = 1 THEN ({prev}).y "
            f"{same_x}"
            # interior gap
            f"WHEN {prev} IS NOT NULL AND {nxt} IS NOT NULL THEN {interp} "
            # trailing gap: extend line through last two known points
            f"WHEN {x} > ({l}).x THEN {fwd} "
            # leading gap: extend line through first two known points
            f"ELSE {bwd} END"
        )
    return [(windows, []), (final, drops)]


def step_interpolate(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    cols: Sequence[str],
) -> DataFrame:
    """Per-group categorical gap fill: switch at the floor-midpoint.

    Matches reference ``step_interp`` (``R/step_interp.R:16-48``) exactly,
    including its positional (row-index, not x-value) arithmetic:

    - leading nulls stay null;
    - trailing nulls take the last known value;
    - a null between known values at row indices ``p < n`` takes the earlier
      value while ``i < p + ceil((n - p)/2)`` and the later value after.

    Works for any column dtype (the reference applies it to string ``PLT_CN``
    and integer status codes alike).
    """
    from foresttime_builder_spark.functions.helpers import apply_layers

    return apply_layers(
        df, step_interpolate_layers(group_cols, order_col, cols)
    )


def step_interpolate_layers(
    group_cols: Sequence[str],
    order_col: str,
    cols: Sequence[str],
) -> list[tuple[dict[str, str], list[str]]]:
    """:func:`step_interpolate` as ``apply_layers`` layers (r16 chain
    fusion; see :func:`fill_gaps_layers`).

    The nearest known (index, value) at-or-before / at-or-after each row
    are ``last``/``first`` ignoring nulls over ROWS frames on the row's
    index order (indices are unique, so a ROWS frame is exactly
    ``e.i <= _sg_i`` / ``e.i >= _sg_i``): one sort, one Window node, and a
    final projection of plain struct arithmetic that stays in whole-stage
    codegen.  The row_number layer stays separate since the packed struct
    depends on it — the ASAP packer keeps the dependency order.  SQL-text
    expressions for the same py4j-chatter reason as linear_interpolate."""
    part = _partition_clause(group_cols)
    order = f"ORDER BY {_bq(order_col)} "
    over_prev = (
        f"OVER ({part}{order}ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )
    over_next = (
        f"OVER ({part}{order}ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
    )

    rn = {"_sg_i": f"row_number() OVER ({part}{order})"}
    windows = {}
    for c in cols:
        kp = (
            f"CASE WHEN {_bq(c)} IS NOT NULL"
            f" THEN named_struct('i', _sg_i, 'v', {_bq(c)}) END"
        )
        windows[f"_sg_{c}_p"] = f"last({kp}, true) {over_prev}"
        windows[f"_sg_{c}_n"] = f"first({kp}, true) {over_next}"
    filled = {}
    drops = ["_sg_i"]
    for c in cols:
        prev, nxt = _bq(f"_sg_{c}_p"), _bq(f"_sg_{c}_n")
        drops += [f"_sg_{c}_p", f"_sg_{c}_n"]
        switch_at = f"({prev}).i + CEIL((({nxt}).i - ({prev}).i) / 2.0D)"
        filled[c] = (
            f"CASE WHEN {_bq(c)} IS NOT NULL THEN {_bq(c)} "
            f"WHEN {prev} IS NULL THEN NULL "  # leading: stay null
            f"WHEN {nxt} IS NULL THEN ({prev}).v "  # trailing: last value
            f"WHEN _sg_i < {switch_at} THEN ({prev}).v "
            f"ELSE ({nxt}).v END"
        )
    return [(rn, []), (windows, []), (filled, drops)]
