"""Distributed exact global rank — the two-phase block-cumsum pattern.

The naive exact percentile is ``percent_rank() OVER (ORDER BY key)``: an
unpartitioned window, i.e. a single-reducer sort of the whole relation.
Fine at sf0.1; a scale-killer at 100 TB even when the relation is one
row per document (1e11 docs through one task).

This module computes the IDENTICAL rank in two phases, the same shape
``sampling.token_budget_sample`` uses for its budget cumsum:

1. every row is assigned a *value block* — a monotone function of the
   ordering value (fixed-width buckets over a known or measured value
   range), so ``blockA < blockB`` implies every row of A orders before
   every row of B, and equal values always share a block;
2. per-block row counts (one hash aggregation) are cumsummed over the
   tiny blocks relation (≤ ``blocks`` rows) to give each block its
   global rank offset, broadcast back;
3. each block independently ranks its own rows with a window
   PARTITIONED by block — parallelism = number of populated blocks —
   and the global rank is ``block_offset + in_block_rank``.

Because rank arithmetic is exact integer math and the in-block ordering
equals the global ordering restricted to the block, the result is
bit-identical to the single-window form (and to any other engine's,
e.g. the DuckDB oracle's) — only the physical plan changes.

Skew caveat: ties must share a block, so a value atom (e.g. a score
constant like 0.0 assigned to a whole document class) is an irreducibly
hot block; its rows still rank on one task.  Tiebreak columns spread
*distinct* values only.  The cumsum window over the counts relation is
unpartitioned but touches ≤ ``blocks`` aggregate rows — the blessed
aggregate-sized-frame shape, never the corpus.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _block_offsets(base: DataFrame) -> DataFrame:
    """Per-block ``(_blk, _before, _n)``: rows ranking strictly before the
    block, and the total row count — ONE aggregation plus one window over
    the ≤ ``blocks``-row counts relation."""
    cum = (
        Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        base.groupBy("_blk")
        .agg(F.count(F.lit(1)).alias("_c"))
        .select(
            "_blk",
            F.coalesce(F.sum("_c").over(cum), F.lit(0)).alias("_before"),
            F.sum("_c").over(tot).alias("_n"),
        )
    )


def block_ranked(
    base: DataFrame,
    order_cols: list[str],
    *,
    dense_ties: bool,
) -> DataFrame:
    """``base`` (already carrying an ``_blk`` block column monotone in
    ``order_cols``) plus ``_rank`` (1-based global rank, min-rank on ties
    when ``dense_ties`` — matching SQL ``rank()``/``percent_rank()``
    semantics — else unique ``row_number`` order) and ``_n`` (total rows).
    """
    offs = _block_offsets(base)
    iw = Window.partitionBy("_blk").orderBy(
        *[F.col(c).asc() for c in order_cols]
    )
    in_rank = F.rank().over(iw) if dense_ties else F.row_number().over(iw)
    return (
        base.join(F.broadcast(offs), "_blk")
        .withColumn("_rank", F.col("_before") + in_rank)
        .drop("_before")
    )


def value_block(
    value: Column, lo: Column | float, hi: Column | float, blocks: int
) -> Column:
    """Fixed-width block id for ``value`` over ``[lo, hi]`` — monotone in
    the value (equal values share a block), clamped into
    ``[0, blocks)``; degenerate ranges collapse to block 0."""
    lo_c = lo if isinstance(lo, Column) else F.lit(float(lo))
    hi_c = hi if isinstance(hi, Column) else F.lit(float(hi))
    width = hi_c - lo_c
    raw = F.floor((value - lo_c) / width * blocks)
    return (
        F.when(width <= F.lit(0.0), F.lit(0))
        .otherwise(F.least(F.lit(blocks - 1), F.greatest(F.lit(0), raw)))
        .cast("int")
    )


def with_measured_blocks(
    scored: DataFrame, value_col: str, blocks: int
) -> DataFrame:
    """Attach ``_blk`` when the value range is not statically known: one
    min/max tree aggregation over the (checkpointed) score relation,
    broadcast back as two scalars.  The input should already be
    localCheckpointed by the caller so the range pass and the rank pass
    share one materialization."""
    rng = scored.agg(
        F.min(value_col).alias("_lo"), F.max(value_col).alias("_hi")
    )
    return scored.join(F.broadcast(rng)).select(
        *scored.columns,
        value_block(
            F.col(value_col), F.col("_lo"), F.col("_hi"), blocks
        ).alias("_blk"),
    )


def nullsafe_key_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Equi-join on ``keys`` with NULL-SAFE equality (``<=>``): a NULL
    key matches a NULL key, so rows whose group column is null are
    ranked in their own group instead of silently dropped (plain
    equi-join semantics lose them — and SQL ``PARTITION BY`` keeps a
    NULL partition, so the oracle would diverge).  ``EqualNullSafe`` is
    a hashable join key; the plan is the same hash join as the
    name-list form.  ``how`` is ``"inner"`` or ``"left"`` (a miss keeps
    the left row with null right columns).

    With NO keys this is the ungrouped join-back of a statistic grouped
    over zero keys, ``left.crossJoin(F.broadcast(right))``.  The
    broadcast is bounded: a zero-key right side is always a global
    aggregate (vocabulary size, cut values, clip bounds, the OOV
    default), which has exactly one row whatever the corpus size — and
    with one row the cross join is also the left join."""
    if not keys:
        return left.crossJoin(F.broadcast(right))
    r = right
    for k in keys:
        r = r.withColumnRenamed(k, "_rk_" + k)
    cond = None
    for k in keys:
        c = left[k].eqNullSafe(r["_rk_" + k])
        cond = c if cond is None else (cond & c)
    return left.join(r, cond, how).drop(*["_rk_" + k for k in keys])


def _value_before(
    base: DataFrame,
    value_col: str,
    blocks: int,
    lo: float | None = None,
    hi: float | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """``(*group_cols, value_col, _vc, _before, _n)`` — per DISTINCT
    value (within each group when ``group_cols`` is given): its tie
    count, the number of rows with a strictly smaller value, and the
    total row count.  Two-phase cumsum over the distinct-value counts
    relation: a value atom is ONE row here, so no task ever sorts an
    atom's rows to learn its offset.  With groups, every cumsum window
    is additionally PARTITIONED by the group, so the per-group offsets
    relation stays ≤ ``blocks`` rows per group and no window is ever
    global.

    When ``lo``/``hi`` are not statically known the value range joins
    in LAZILY as a broadcast 1-row aggregate (the
    ``with_measured_blocks`` pattern) — building the plan never runs a
    driver-side job.  ``value_col`` must be non-null (scores are
    computed columns); group columns MAY be null (null-safe joins
    throughout).
    """
    g = list(group_cols or [])
    vals = base.groupBy(*g, value_col).agg(F.count(F.lit(1)).alias("_vc"))
    if lo is None or hi is None:
        rng = base.agg(
            F.min(value_col).alias("_vlo"), F.max(value_col).alias("_vhi")
        )
        vals = (
            vals.join(F.broadcast(rng))
            .withColumn(
                "_blk",
                value_block(
                    F.col(value_col), F.col("_vlo"), F.col("_vhi"), blocks
                ),
            )
            .drop("_vlo", "_vhi")
        )
    else:
        vals = vals.withColumn(
            "_blk", value_block(F.col(value_col), float(lo), float(hi), blocks)
        )
    # per-block ROW counts (sum of tie counts) -> block offsets; the
    # cumsum window touches <= blocks aggregate rows (per group)
    blk_counts = vals.groupBy(*g, "_blk").agg(F.sum("_vc").alias("_c"))
    cum = (
        Window.partitionBy(*g).orderBy("_blk")
        if g
        else Window.orderBy("_blk")
    ).rowsBetween(Window.unboundedPreceding, -1)
    tot = (Window.partitionBy(*g) if g else Window.partitionBy()).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    blk_offs = blk_counts.select(
        *g,
        "_blk",
        F.coalesce(F.sum("_c").over(cum), F.lit(0)).alias("_blk_before"),
        F.sum("_c").over(tot).alias("_n"),
    )
    in_vw = Window.partitionBy(*g, "_blk").orderBy(value_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    # ungrouped: the offsets relation is <= blocks rows — broadcast; with
    # groups it is groups x blocks — let AQE decide
    offs = F.broadcast(blk_offs) if not g else blk_offs
    return (
        nullsafe_key_join(vals, offs, [*g, "_blk"])
        .withColumn(
            "_before",
            F.col("_blk_before")
            + F.coalesce(F.sum("_vc").over(in_vw), F.lit(0)),
        )
        .select(*g, value_col, "_vc", "_before", "_n")
    )


def min_ranked_by_value(
    base: DataFrame,
    value_col: str,
    *,
    blocks: int = 64,
    lo: float | None = None,
    hi: float | None = None,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """``base`` plus ``_rank`` (1-based min-rank on ties — SQL
    ``rank()``/``percent_rank()`` semantics, per group when
    ``group_cols`` is given) and ``_n`` (per-group row count) — computed
    with NO window over the row relation at all: min-rank of a value is
    just ``|rows with a strictly smaller value| + 1``, one keyed join
    against the two-phase :func:`_value_before` relation.  Atom-immune
    by construction (an atom is one row on the counts side) and strictly
    cheaper than :func:`block_ranked` with ``dense_ties=True``.
    Null group keys form their own group (null-safe joins), matching
    SQL's NULL partition; plan construction is fully lazy."""
    g = list(group_cols or [])
    vb = _value_before(base, value_col, blocks, lo, hi, group_cols=g)
    return nullsafe_key_join(base, vb, [*g, value_col]).withColumn(
        "_rank", F.col("_before") + F.lit(1)
    ).drop("_vc", "_before")


def block_ranked_spread(
    base: DataFrame,
    value_col: str,
    tiebreak_col: str,
    *,
    blocks: int = 64,
    lo: float | None = None,
    hi: float | None = None,
    hot_threshold: int = 100_000,
    sub_blocks: int = 64,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """``base`` plus ``_rank`` (1-based unique row_number over
    ``(value_col, tiebreak_col)``, global — or per group when
    ``group_cols`` is given, with ``_n`` the per-group count) — the
    two-phase rank with the tie-atom hot block REMOVED.

    :func:`block_ranked` leaves one irreducible skew case: a value atom
    (a score constant assigned to a whole document class) must share a
    block, so its rows sort on one task.  This variant decomposes the
    row_number instead::

        rank(v, t) = |rows with value < v| + |ties of v with tiebreak <= t|

    - the strictly-before count comes from a two-phase cumsum over the
      DISTINCT-VALUE counts relation — an atom is ONE row there, so the
      offsets side is atom-immune by construction;
    - the tie rank runs per value group: groups up to ``hot_threshold``
      rows rank in a window partitioned by value; HOTTER groups (the
      atoms) are subdivided into ``sub_blocks`` tiebreak ranges, with
      their own tiny per-(value, sub) offsets cumsum, so no task ever
      sorts more than ~|atom|/sub_blocks rows.

    Exactness: both terms are integer row counts under the identical
    total order ``(value, tiebreak)``, so the result is bit-identical to
    the naive unpartitioned-window row_number (differential-pinned).
    Null group keys form their own group (null-safe joins), matching
    SQL's NULL partition.

    Contract: ``value_col`` and ``tiebreak_col`` must be non-null, and
    the tiebreak numeric and UNIQUE within ties (callers use the
    document key); ``base`` should be localCheckpointed — the plan
    consumes it in several places.  ``lo``/``hi`` bound the value range
    when statically known; otherwise (and for the tiebreak range,
    always) a broadcast 1-row min/max aggregate joins in lazily — plan
    construction never runs a driver job.  The distinct-value relation
    is assumed aggregate-sized per block (standard for scores; atoms
    are the case this exists for).
    """
    g = list(group_cols or [])
    val_before = _value_before(
        base, value_col, blocks, lo, hi, group_cols=g
    )

    # tie rank: cold groups in one value-partitioned window; hot groups
    # (atoms) sub-blocked on the tiebreak range with their own tiny
    # offsets cumsum.  The value join is left to AQE: the distinct-value
    # relation is tiny for score distributions with atoms but can be
    # corpus-sized for a pure continuum — never force a broadcast on a
    # data-dependent relation (the r2 curation lesson).
    enriched = nullsafe_key_join(base, val_before, [*g, value_col])
    cold = enriched.where(F.col("_vc") <= hot_threshold)
    hot = enriched.where(F.col("_vc") > hot_threshold)

    cw = Window.partitionBy(*g, value_col).orderBy(tiebreak_col)
    cold_ranked = cold.withColumn(
        "_rank", F.col("_before") + F.row_number().over(cw)
    )

    trng = base.agg(
        F.min(tiebreak_col).alias("_tlo"), F.max(tiebreak_col).alias("_thi")
    )
    hot = (
        hot.join(F.broadcast(trng))
        .withColumn(
            "_tsub",
            value_block(
                F.col(tiebreak_col),
                F.col("_tlo"),
                F.col("_thi") + F.lit(1.0),
                sub_blocks,
            ),
        )
        .drop("_tlo", "_thi")
    )
    sub_counts = hot.groupBy(*g, value_col, "_tsub").agg(
        F.count(F.lit(1)).alias("_sc")
    )
    scw = Window.partitionBy(*g, value_col).orderBy("_tsub").rowsBetween(
        Window.unboundedPreceding, -1
    )
    sub_offs = sub_counts.withColumn(
        "_sub_before", F.coalesce(F.sum("_sc").over(scw), F.lit(0))
    ).select(*g, value_col, "_tsub", "_sub_before")
    hw = Window.partitionBy(*g, value_col, "_tsub").orderBy(tiebreak_col)
    # sub_offs is |hot atom values| x sub_blocks rows — data-dependent
    # (a distribution with thousands of distinct above-threshold values
    # makes it arbitrarily large), so NO forced broadcast: AQE sees the
    # true size at runtime and picks broadcast vs shuffle itself — the
    # same rule the value join above follows (r4 verdict item 2).
    hot_ranked = (
        nullsafe_key_join(hot, sub_offs, [*g, value_col, "_tsub"])
        .withColumn(
            "_rank",
            F.col("_before") + F.col("_sub_before") + F.row_number().over(hw),
        )
        .drop("_tsub", "_sub_before")
    )

    out_cols = [*base.columns, "_rank", "_n"]
    return cold_ranked.select(*out_cols).unionByName(
        hot_ranked.select(*out_cols)
    )

