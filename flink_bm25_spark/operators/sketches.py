"""Portable sketches — HyperLogLog, Bloom filter, and Count-Min, all
*hash-checkable across engines*, unlike any engine-native sketch.

``approx_count_distinct`` (Spark) and ``approx_count_distinct`` (DuckDB)
use different internal hashes, so their estimates can never be compared
value-for-value — the driver's oracle gate degrades to a rows-only check
(see ``q_approx_distinct``).  This module implements Flajolet's HLL from
first principles on the engine's portable 60-bit md5 hash
(:mod:`flink_bm25_spark.functions.hashing`), with two determinism rules:

1. **No float log/exp in the per-row path.**  The leading-zero rank comes
   from the *bit length* of the hash remainder, computed as the string
   length of its base-2 representation (``conv(w,10,2)`` / ``bin(w)``) —
   integer-exact in both engines, immune to libm ``log2`` boundary
   behavior.
2. **The bucket sum is an integer.**  ``sum(2^-M)`` is order-dependent in
   doubles; scaled by ``2^55`` it is ``sum(1 << (55 - M))`` — exact int64
   arithmetic (64 buckets × 2^55 < 2^63), identical under any
   aggregation order.  Doubles appear only in the final 2-operand
   estimate formula, rounded to 6 dp.

Scale shape: one ``groupBy(bucket)`` over the hashed relation — m=64
groups regardless of input size, pure map-side partial max before the
shuffle.  This is THE sketch pattern for 100 TB distinct counts: constant
state, one narrow shuffle, mergeable partials.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_bm25_spark.config import HASH_PRIME
from flink_bm25_spark.functions.hashing import h60, h_mod_p

HLL_BUCKETS = 64  # m; rse ≈ 1.04/sqrt(m) ≈ 13%
_ALPHA_64 = 0.709  # Flajolet's bias constant for m=64


def _hll_rank(w: Column) -> Column:
    """ρ(w): position of the first 1-bit in the 54-bit remainder (1-based
    from the MSB side), via integer bit length — no float log2."""
    bitlen = F.length(F.conv(w.cast("string"), 10, 2))
    return F.when(w == 0, F.lit(55)).otherwise(F.lit(55) - bitlen)


def hll_buckets(values: DataFrame, col: str) -> DataFrame:
    """The HLL register state as a relation: ``(bucket, mx)``, all
    :data:`HLL_BUCKETS` rows present (absent buckets at rank 0).

    This is the sketch's MERGEABLE form — registers combine by
    ``max`` per bucket (:func:`hll_merge`), so per-partition / per-day /
    per-source sketches roll up without ever rescanning the raw values.
    """
    spark = values.sparkSession
    m = HLL_BUCKETS
    h = h60(F.col(col))
    # m = 64 = 2^6: bucket/remainder via bit ops — exact on the full
    # 60-bit hash (a double division would round above 2^53)
    hashed = values.select(
        h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
        F.shiftright(h, 6).alias("w"),
    )
    ranks = hashed.groupBy("bucket").agg(F.max(_hll_rank(F.col("w"))).alias("mx"))
    buckets = spark.range(m).select(F.col("id").cast("long").alias("bucket"))
    return buckets.join(ranks, "bucket", "left").select(
        "bucket", F.coalesce(F.col("mx"), F.lit(0)).alias("mx")
    )


def hll_merge(
    *sketches: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """Union of HLL sketches: max of the register states per
    (*group_cols, bucket).

    Exact sketch algebra — ``hll_merge(hll_buckets(A), hll_buckets(B))``
    is bit-identical to ``hll_buckets(A ∪ B)`` (max is associative,
    commutative, idempotent), which is what makes the sketch distributive:
    build per shard, merge 64-row relations, never revisit the shards.
    Pinned by ``test_hll_merge_equals_rebuild``.  Grouped sketches
    (:func:`hll_buckets_by`) merge group-wise with ``group_cols``.
    """
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy(*group_cols, "bucket").agg(F.max("mx").alias("mx"))


def hll_estimate(
    buckets_rel: DataFrame, group_cols: Sequence[str] = ()
) -> DataFrame:
    """``(*group_cols, n_distinct_est)`` from a ``(*group_cols, bucket,
    mx)`` register relation — the read side of the sketch, one row per
    group (one row in all when ungrouped).  Buckets missing from a
    sparse grouped relation (:func:`hll_buckets_by`) count as rank 0
    through the ``m - count(*)`` term; a dense :func:`hll_buckets`
    relation has all ``m`` rows, so the term is 0 there."""
    m = HLL_BUCKETS
    absent = F.lit(m) - F.count("*")
    agg = buckets_rel.groupBy(*group_cols).agg(
        (
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 55 - mx)"))
            + absent * F.lit(1 << 55)  # absent buckets contribute 2^(55-0)
        ).alias("isum"),
        (F.sum(F.when(F.col("mx") == 0, 1).otherwise(0)) + absent).alias(
            "v_zero"
        ),
    )
    raw = (
        F.lit(_ALPHA_64 * m * m)
        * F.lit(float(1 << 55))
        / F.col("isum").cast("double")
    )
    est = F.when(
        (raw <= 2.5 * m) & (F.col("v_zero") > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / F.col("v_zero").cast("double")),
    ).otherwise(raw)
    return agg.select(*group_cols, F.round(est, 6).alias("n_distinct_est"))


def hll_distinct(values: DataFrame, col: str) -> DataFrame:
    """One-row ``(n_distinct_est)`` — portable-HLL estimate of the number
    of distinct values of ``values[col]``.

    Every intermediate is reproducible bit-for-bit in ANSI SQL (see the
    ``q_hll_distinct`` oracle), so the *estimate itself* is part of the
    correctness contract, not just "roughly right".
    """
    return hll_estimate(hll_buckets(values, col))


# ---------------------------------------------------------------------------
# Portable Bloom filter
# ---------------------------------------------------------------------------

BLOOM_BITS = 1024  # 16 x int64 slots
BLOOM_K = 7  # hash functions; fp ~ (1 - e^(-kn/m))^k


def _bloom_seeds(k: int = BLOOM_K) -> list[tuple[int, int]]:
    """Universal-hash seeds for the k bloom positions — same family as
    MinHash (functions/hashing.py) offset by 1000 so the two sketches are
    decorrelated; literals regenerate identically in SQL."""
    p = HASH_PRIME
    return [
        ((2_654_435_761 * (i + 1001) + 1) % p, (40_503 * (i + 1001) + 7) % p)
        for i in range(k)
    ]


def bloom_build(
    values: DataFrame, col: str, bits: int = BLOOM_BITS, k: int = BLOOM_K
) -> DataFrame:
    """``(slot, bits)`` — the filter as 16 int64 words, one row per slot.

    Same determinism rules as the HLL: md5-derived positions, ``bit_or``
    of exact powers of two — the filter VALUE is reproducible in any SQL
    engine, so a filter built by Spark can prune a scan in another system
    (and vice versa).  Scale shape: one groupBy over (rows × k) map-side
    position rows collapsing to ``bits/64`` output rows; the result
    broadcasts anywhere a semi-join would otherwise shuffle the fact table.
    """
    spark = values.sparkSession
    h = h_mod_p(F.col(col))
    pos_cols = [
        ((F.lit(a) * h + F.lit(b)) % F.lit(HASH_PRIME) % F.lit(bits)).alias(f"p{i}")
        for i, (a, b) in enumerate(_bloom_seeds(k))
    ]
    positions = values.select(*pos_cols).select(
        F.explode(F.array(*[F.col(f"p{i}") for i in range(k)])).alias("pos")
    )
    slots = positions.select(
        F.shiftright(F.col("pos"), 6).alias("slot"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("bv"),
    ).groupBy("slot").agg(F.bit_or("bv").alias("bits"))
    if values.isStreaming:
        # a static-LEFT-JOIN-streaming fill is illegal in Structured
        # Streaming; emit occupied slots only (absent slot = 0, which is
        # exactly how bloom_might_contain reads the collected rows)
        return slots
    return (
        spark.range(bits // 64)
        .select(F.col("id").alias("slot"))
        .join(slots, "slot", "left")
        .select("slot", F.coalesce(F.col("bits"), F.lit(0)).alias("bits"))
    )


def bloom_might_contain(
    probe: DataFrame,
    col: str,
    filter_rows: list,
    bits: int = BLOOM_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """Adds boolean ``bloom_hit``: true iff all k bit positions of
    ``probe[col]`` are set in the filter (built by :func:`bloom_build`,
    collected to ``filter_rows`` — 16 rows, broadcast as literals).

    No false negatives by construction; false positives bounded by the
    bits/keys ratio.  This is the 100 TB semi-join pushdown: ship 128
    bytes instead of shuffling the fact side against the dimension.
    """
    slot_vals = [0] * (bits // 64)
    for r in filter_rows:
        slot_vals[int(r["slot"])] = int(r["bits"])
    arr = F.array(*[F.lit(int(v)).cast("long") for v in slot_vals])
    h = h_mod_p(F.col(col))
    cond = None
    for a, b in _bloom_seeds(k):
        pos = (F.lit(a) * h + F.lit(b)) % F.lit(HASH_PRIME) % F.lit(bits)
        word = F.element_at(arr, (F.shiftright(pos, 6) + 1).cast("int"))
        c = F.getbit(word, pos % 64) == 1
        cond = c if cond is None else (cond & c)
    return probe.withColumn("bloom_hit", cond)


# ---------------------------------------------------------------------------
# Portable Count-Min sketch
# ---------------------------------------------------------------------------

CMS_DEPTH = 4  # d rows; error prob ~ e^-d
CMS_WIDTH = 256  # w counters/row; overcount ~ 2n/w


def _cms_seeds(d: int = CMS_DEPTH) -> list[tuple[int, int]]:
    """Universal-hash seeds for the d CMS rows (offset 2000 — decorrelated
    from MinHash and Bloom); literals regenerate identically in SQL."""
    p = HASH_PRIME
    return [
        ((2_654_435_761 * (i + 2001) + 1) % p, (40_503 * (i + 2001) + 7) % p)
        for i in range(d)
    ]


def cms_build(
    values: DataFrame,
    col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
    weight: str | None = None,
) -> DataFrame:
    """``(row, pos, cnt)`` — the Count-Min matrix as a relation (only
    occupied counters; absent = 0).

    The counters are EXACT aggregates of md5-derived positions, so the
    whole matrix value-hash-matches any ANSI engine (see
    ``q_cms_sketch``) — the approximation lives in collisions, not in the
    arithmetic.  Scale shape: one groupBy over (rows × d) map-side hash
    rows collapsing to ≤ d × width output rows — constant-size state, the
    mergeable-partial pattern for 100 TB frequency estimation.

    ``weight`` counts each input row that many times (e.g. a
    pre-aggregated TF relation) — the weighted build equals the
    token-multiplicity build without re-expanding rows.
    """
    h = h_mod_p(F.col(col))
    w_col = (F.col(weight) if weight else F.lit(1)).cast("long").alias("wt")
    row_cols = [
        F.struct(
            F.lit(i).alias("row"),
            ((F.lit(a) * h + F.lit(b)) % F.lit(HASH_PRIME) % F.lit(width)).alias(
                "pos"
            ),
        )
        for i, (a, b) in enumerate(_cms_seeds(depth))
    ]
    return (
        values.select(w_col, F.explode(F.array(*row_cols)).alias("rp"))
        .select("wt", F.col("rp.row").alias("row"), F.col("rp.pos").alias("pos"))
        .groupBy("row", "pos")
        .agg(F.sum("wt").alias("cnt"))
    )


def cms_estimate(
    probe: DataFrame,
    col: str,
    cms_rows: list,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """Adds ``cms_count``: the Count-Min frequency estimate of
    ``probe[col]`` — min over the d counters the value hashes into.
    Never underestimates; overcounts only on collisions (≤ 2n/w w.h.p.).

    The collected matrix (≤ d×width longs) enters the plan as a literal
    map — broadcast-style point lookups, no join, no shuffle.
    """
    counters = {(int(r["row"]), int(r["pos"])): int(r["cnt"]) for r in cms_rows}
    h = h_mod_p(F.col(col))
    est = None
    for i, (a, b) in enumerate(_cms_seeds(depth)):
        pos = (F.lit(a) * h + F.lit(b)) % F.lit(HASH_PRIME) % F.lit(width)
        # row i's counter vector as an array literal; pos indexes into it
        vec = F.array(
            *[F.lit(counters.get((i, j), 0)).cast("long") for j in range(width)]
        )
        c = F.element_at(vec, (pos + 1).cast("int"))
        est = c if est is None else F.least(est, c)
    return probe.withColumn("cms_count", est)


# ---------------------------------------------------------------------------
# Portable histogram sketch (mergeable quantiles)
# ---------------------------------------------------------------------------

HIST_BINS = 64


def histogram_sketch(
    values: DataFrame,
    col: str,
    lo: float,
    hi: float,
    nbins: int = HIST_BINS,
) -> DataFrame:
    """``(bin, cnt)`` — fixed-width histogram of ``values[col]`` over
    ``[lo, hi]``, all ``nbins`` rows present (empty bins at 0), values
    clamped into the edge bins.

    The quantile member of the portable-sketch family (frequency =
    Count-Min, distinct = HLL, membership = Bloom): unlike t-digest /
    KLL, whose state depends on arrival order, the fixed-bin histogram
    is fully deterministic — identical on any engine, any partitioning —
    so the sketch VALUE (and every quantile read off it) is part of the
    correctness contract.  Registers merge by per-bin sum
    (:func:`histogram_merge`): build per shard/day/source, roll up 64-row
    relations, never rescan.  Build cost: one ``nbins``-group aggregate
    with map-side partial combine.

    Bin edges are exact decimal arithmetic ((x-lo)*nbins/(hi-lo) floored
    after rounding to 9 dp) so boundary values land identically in Spark
    and the SQL oracle despite double representation.
    """
    spark = values.sparkSession
    width = (hi - lo) / nbins
    raw = F.floor(
        F.round((F.col(col) - F.lit(lo)) / F.lit(width), 9)
    )
    b = F.least(F.lit(nbins - 1), F.greatest(F.lit(0), raw)).alias("bin")
    counts = (
        values.where(F.col(col).isNotNull())
        .select(b)
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )
    if values.isStreaming:
        # static-LEFT-JOIN-streaming fill is illegal in Structured
        # Streaming; emit occupied bins only (the read side treats an
        # absent bin as 0 — merge sums present rows, quantiles only ever
        # select bins with cnt > 0), same pattern as bloom_build
        return counts
    bins = spark.range(nbins).select(F.col("id").cast("long").alias("bin"))
    return bins.join(counts, "bin", "left").select(
        "bin", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt")
    )


def histogram_merge(*sketches: DataFrame) -> DataFrame:
    """Union of histogram sketches: per-bin sum — exact (count addition),
    so merge-then-read == rebuild-then-read, bit for bit."""
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("bin").agg(F.sum("cnt").alias("cnt"))


def histogram_quantiles(
    hist: DataFrame,
    qs: list[float],
    lo: float,
    hi: float,
    nbins: int = HIST_BINS,
) -> DataFrame:
    """One row of quantile estimates ``(q_50, q_90, …)`` read off a
    histogram sketch: find the bin where the running count crosses
    ``q·N``, interpolate linearly inside it.  Deterministic given the
    sketch; error is bounded by one bin width.  The cumsum window runs
    over the ``nbins``-row register relation — nothing data-sized.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    width = (hi - lo) / nbins
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(
            Window.orderBy("bin").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("n"),
    )
    aggs = []
    for q in qs:
        target = F.col("n") * F.lit(q)
        # interpolate inside the FIRST bin whose cumulative count reaches
        # the target — selected via lexicographic struct-min on (bin, est),
        # never min(est) (later bins interpolate to garbage negatives)
        frac = (target - (F.col("cum") - F.col("cnt"))) / F.col("cnt")
        est = F.lit(lo) + (F.col("bin") + frac) * F.lit(width)
        picked = F.min(
            F.when(
                (F.col("cum") >= target) & (F.col("cnt") > 0),
                F.struct(F.col("bin").alias("b"), F.round(est, 6).alias("e")),
            )
        )["e"]
        aggs.append(picked.alias(f"q_{int(q * 100)}"))
    return cum.agg(*aggs)


def hll_buckets_by(
    values: DataFrame, group_col: str, col: str
) -> DataFrame:
    """Grouped HLL register states: ``(group_col, bucket, mx)`` — one
    64-register sketch per group, built in ONE aggregation over the
    hashed relation (group count × 64 output rows regardless of input
    size).  Groups merge with :func:`hll_merge` (``group_cols``); absent buckets are
    implicit rank 0 (the estimator fills them)."""
    m = HLL_BUCKETS
    h = h60(F.col(col))
    hashed = values.select(
        F.col(group_col),
        h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
        F.shiftright(h, 6).alias("w"),
    )
    return hashed.groupBy(group_col, "bucket").agg(
        F.max(_hll_rank(F.col("w"))).alias("mx")
    )


# ---------------------------------------------------------------------------
# KMV bottom-k quantile sketch
# ---------------------------------------------------------------------------

KMV_K = 256  # sample size; rank error ~ O(sqrt(q(1-q)/k))


def kmv_sketch(
    values: DataFrame,
    value_col: str,
    key_col: str,
    k: int = KMV_K,
    seed: str = "kmv:0",
) -> DataFrame:
    """``(hk, key, v)`` — the ``k`` rows whose seeded 60-bit key hash is
    smallest: a DETERMINISTIC uniform row sample, and therefore a
    mergeable quantile summary (the bottom-k/KMV sketch of
    Bar-Yossef et al. 2002, carried with its value payload).

    Completes the sketch family (HLL distinct / Bloom membership /
    Count-Min frequency / equi-width histogram) with the missing
    statistic: MERGEABLE quantiles.  Unlike an engine-native
    ``approx_percentile`` (different internal sketches per engine, never
    value-comparable), the bottom-k set is an exact deterministic
    relation both engines reproduce hash-for-hash.

    Merge law: bottom-k of a union == bottom-k of the combined multiset
    — :func:`kmv_merge` equals a full rebuild EXACTLY (pinned by test),
    so per-partition / per-day sketches roll up without rescanning.

    ``key_col`` must be row-unique — or, when true row ids don't exist,
    VALUE-DETERMINING (rows sharing a key share the value, e.g. by
    concatenating the value into the key): then any tie-pick at the
    bottom-k boundary yields the same value multiset.  The hash is
    salted with ``seed`` so resampling is just a new seed.  Scale shape:
    map-side hash + ``TakeOrderedAndProject`` (per-partition heaps, k
    rows to the driver-side merge — never a global sort).
    """
    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    hk = h60(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))
    return (
        values.select(
            hk.alias("hk"),
            F.col(key_col).cast("string").alias("key"),
            F.col(value_col).cast("double").alias("v"),
        )
        .orderBy(F.asc("hk"), F.asc("key"))
        .limit(k)
    )


def kmv_merge(*sketches: DataFrame, k: int = KMV_K) -> DataFrame:
    """Merge bottom-k sketches: union, keep the ``k`` globally smallest
    hashes.  Exactly equals :func:`kmv_sketch` over the unioned input
    (keys are globally unique by the caller contract)."""
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.orderBy(F.asc("hk"), F.asc("key")).limit(k)


def kmv_quantiles(
    sketch: DataFrame, qs: list[float], group_cols: Sequence[str] = ()
) -> DataFrame:
    """``(*group_cols, q, est)`` — nearest-rank quantile estimates from
    the sample (per group for a :func:`kmv_sketch_by` sketch):
    ``est(q) = sorted_v[floor(q * (n-1)) + 1]`` (1-based, integer index
    math — no interpolation, so the pick is bit-exact across engines).

    ONE aggregate (``sort_array(collect_list(v))`` over ≤ k doubles per
    group) exploded to one row per requested quantile — constant state
    per group, same posture as the other sketch finalizers.  An empty
    sketch yields no rows.
    """
    arr = F.sort_array(F.collect_list("v"))
    per_group = sketch.groupBy(*group_cols).agg(
        arr.alias("vs"), F.count(F.lit(1)).alias("n")
    )
    picks = F.array(
        *[
            F.struct(
                F.lit(float(q)).alias("q"),
                F.element_at(
                    F.col("vs"),
                    (
                        F.floor(F.lit(float(q)) * (F.col("n") - 1)) + 1
                    ).cast("int"),
                ).alias("est"),
            )
            for q in qs
        ]
    )
    return (
        per_group.where(F.col("n") > 0)
        .select(*group_cols, F.explode(picks).alias("p"))
        .select(*group_cols, F.col("p.q").alias("q"), F.col("p.est").alias("est"))
    )


def kmv_sketch_by(
    values: DataFrame,
    group_col: str,
    value_col: str,
    key_col: str,
    k: int = KMV_K,
    seed: str = "kmv:0",
) -> DataFrame:
    """``(group_col, hk, key, v)`` — one bottom-k sample PER GROUP, in a
    single pass: ``row_number <= k`` over the group partition ordered by
    the seeded hash.  Spark plans WindowGroupLimit, so each partition
    keeps only k rows per group before the sort feeds the window — state
    is O(groups × k) however large the corpus.  Same key contract and
    merge law as :func:`kmv_sketch`, applied group-wise.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    if k <= 0:
        raise ValueError(f"k must be positive: {k}")
    hk = h60(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))
    w = Window.partitionBy(group_col).orderBy(F.asc("hk"), F.asc("key"))
    return (
        values.select(
            F.col(group_col),
            hk.alias("hk"),
            F.col(key_col).cast("string").alias("key"),
            F.col(value_col).cast("double").alias("v"),
        )
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") <= k)
        .drop("_rn")
    )
