"""Data-profiling operators — distributional outlier detection.

A training-data pipeline screens numeric telemetry (reward scores,
lengths, loss values) for outliers before aggregation; the relational
form is per-group moments + a z-score filter, all in one pass over the
fact table plus a broadcast join of the tiny moments relation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_bm25_spark.operators.rank import nullsafe_key_join


def numeric_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    z: float = 3.0,
    id_col: str = "event_id",
) -> DataFrame:
    """Rows whose value deviates from their group mean by more than
    ``z`` population standard deviations:
    ``(id_col, group_col, value_col, zscore)``.

    Moments come from one groupBy over the fact table (sum/sum-of-squares
    partials combine map-side; the population variance
    ``E[x²] − E[x]²`` form keeps the aggregation single-pass), and the
    per-group moments relation is groups-sized — broadcast back, so the
    fact table is scanned twice but never shuffled for the join.
    zscore is rounded to 6 dp for the cross-engine contract.
    """
    moments = (
        df.groupBy(group_col)
        .agg(
            F.avg(F.col(value_col)).alias("_mu"),
            (
                F.avg(F.col(value_col) * F.col(value_col))
                - F.avg(F.col(value_col)) * F.avg(F.col(value_col))
            ).alias("_var"),
        )
        .where(F.col("_var") > 0)
    )
    zscore = F.round(
        (F.col(value_col) - F.col("_mu")) / F.sqrt(F.col("_var")), 6
    )
    return (
        df.join(F.broadcast(moments), group_col)
        .withColumn("zscore", zscore)
        .where(F.abs(F.col("zscore")) > F.lit(z))
        .select(id_col, group_col, value_col, "zscore")
    )


def key_skew_profile(
    df: DataFrame, key_col: str, top_k: int = 10
) -> DataFrame:
    """``(key, n_rows, share, cum_share)`` — the ``top_k`` heaviest
    values of a join/partition key with each one's share of the table
    and the running share, heaviest first (ties to the smaller key).

    The pre-flight check before any big keyed operation: a key whose
    share approaches 1/shuffle-partitions predicts a straggler, and the
    cumulative column shows whether skew is one hot key or a fat head.
    Run it on a :func:`~pyspark.sql.DataFrame.sample` at 100 TB — shares
    are ratios, so sampling preserves them.

    Scale shape: one groupBy on the key, a global top-k (compiles to
    TakeOrderedAndProject — no global sort), and a 1-row total that
    broadcasts; the window runs over ``top_k`` rows on one partition,
    which is exactly as small as it looks.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    counts = df.groupBy(F.col(key_col).alias("key")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    total = df.agg(F.count(F.lit(1)).alias("_tot"))
    top = counts.orderBy(F.desc("n_rows"), F.asc("key")).limit(top_k)
    w = (
        Window.orderBy(F.desc("n_rows"), F.asc("key"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn(
            "share", F.round(F.col("n_rows") / F.col("_tot"), 6)
        )
        .withColumn("cum_share", F.round(F.sum("share").over(w), 6))
        .select("key", "n_rows", "share", "cum_share")
    )


def psi_drift(
    reference: DataFrame,
    current: DataFrame,
    col: str,
    bin_edges: list[float],
    eps: float = 1e-6,
) -> DataFrame:
    """``(bin, ref_frac, cur_frac, contrib)`` plus the bin-summed
    population-stability index in every row (``psi``) — the standard
    distribution-drift monitor between a reference window and the
    current one:  ``PSI = Σ (cur−ref)·ln(cur/ref)`` over FIXED bin
    fractions (industry rule of thumb: <0.1 stable, >0.25 drifted).

    Bin edges are caller-fixed literals (from the reference period's
    quantiles), so binning is a map-side CASE chain and each side costs
    one count aggregation; empty bins are floored at ``eps`` to keep
    the log finite.  Rounding to 6 decimals makes the score replayable
    cross-engine.
    """
    def binned(df: DataFrame) -> DataFrame:
        # bin index = number of edges <= value (map-side CASE chain)
        c = F.col(col)
        b = sum(
            F.when(c >= F.lit(e), 1).otherwise(0) for e in bin_edges
        )
        return df.select(b.cast("int").alias("bin"))

    def fracs(df: DataFrame, name: str) -> DataFrame:
        counts = binned(df).groupBy("bin").agg(
            F.count(F.lit(1)).alias("_n")
        )
        total = df.agg(F.count(F.lit(1)).alias("_t"))
        return counts.crossJoin(F.broadcast(total)).select(
            "bin", (F.col("_n") / F.col("_t")).alias(name)
        )

    bins = reference.sparkSession.range(0, len(bin_edges) + 1).select(
        F.col("id").cast("int").alias("bin")
    )
    joined = (
        bins.join(fracs(reference, "ref_frac"), "bin", "left")
        .join(fracs(current, "cur_frac"), "bin", "left")
        .select(
            "bin",
            F.greatest(F.coalesce("ref_frac", F.lit(0.0)), F.lit(eps)).alias(
                "ref_frac"
            ),
            F.greatest(F.coalesce("cur_frac", F.lit(0.0)), F.lit(eps)).alias(
                "cur_frac"
            ),
        )
    )
    contrib = F.round(
        (F.col("cur_frac") - F.col("ref_frac"))
        * F.log(F.col("cur_frac") / F.col("ref_frac")),
        6,
    )
    from pyspark.sql import Window  # noqa: PLC0415

    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        joined.withColumn("contrib", contrib)
        .withColumn("psi", F.round(F.sum("contrib").over(w), 6))
        .select(
            "bin",
            F.round("ref_frac", 6).alias("ref_frac"),
            F.round("cur_frac", 6).alias("cur_frac"),
            "contrib",
            "psi",
        )
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    key_col: str,
    lo: float = 0.01,
    hi: float = 0.99,
    k: int = 256,
    clip: bool = True,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Robust outlier treatment from the KMV quantile sketch: estimate
    the ``lo``/``hi`` quantiles on the deterministic bottom-``k`` sample
    (:mod:`flink_bm25_spark.operators.sketches`) and either CLIP values
    into ``[q_lo, q_hi]`` (``clip=True``, winsorization — adds
    ``<value_col>_w``) or DROP rows outside it (trimming).

    With one ``group_cols`` key each group's bounds come from its OWN
    bottom-k sample — the per-source robust-cleaning form: a price
    outlier in one store must not widen another store's bounds.  A null
    group key is a group of its own (null-safe join-back).

    Scale shape: ungrouped, the sketch is one TakeOrderedAndProject over
    the corpus and the two quantile scalars come back as a 2-value
    broadcast row; grouped, the sketch is one WindowGroupLimit pass
    (``kmv_sketch_by``, O(groups × k) state) and the bounds are a
    groups-sized relation.  The clip/trim itself is a map-side
    expression — no global sort, no percentile window.  Same key
    contract as ``kmv_sketch``.
    """
    from flink_bm25_spark.operators.sketches import (  # noqa: PLC0415
        kmv_quantiles,
        kmv_sketch,
        kmv_sketch_by,
    )

    if not (0.0 <= lo < hi <= 1.0):
        raise ValueError(f"need 0 <= lo < hi <= 1, got {lo}, {hi}")
    g = list(group_cols)
    if len(g) > 1:
        raise ValueError(f"winsorize groups by at most one key, got {g}")
    sk = (
        kmv_sketch_by(df, g[0], value_col, key_col, k=k)
        if g
        else kmv_sketch(df, value_col, key_col, k=k)
    )
    bounds = (
        kmv_quantiles(sk, [lo, hi], g)
        .groupBy(*g)
        .pivot("q", [lo, hi])
        .agg(F.first("est"))
        .select(
            *g, F.col(f"`{lo}`").alias("_qlo"), F.col(f"`{hi}`").alias("_qhi")
        )
    )
    joined = nullsafe_key_join(df, bounds, g)
    v = F.col(value_col).cast("double")
    if clip:
        return joined.withColumn(
            f"{value_col}_w",
            F.when(v < F.col("_qlo"), F.col("_qlo"))
            .when(v > F.col("_qhi"), F.col("_qhi"))
            .otherwise(v),
        ).drop("_qlo", "_qhi")
    return joined.where(
        (v >= F.col("_qlo")) & (v <= F.col("_qhi"))
    ).drop("_qlo", "_qhi")
