"""Deterministic distributed k-means (Lloyd) over an embedding column —
document-clustering for corpus curation (north-star extension; the
reference has no vector operations at all).

Why not ``pyspark.ml.clustering.KMeans``: MLlib's init is randomized
(k-means|| seeding) and its aggregation order is nondeterministic, so no
cross-engine oracle can pin its output.  This implementation fixes every
source of nondeterminism —

- init: the ``k`` embeddings with the smallest ids, in id order;
- distances: squared Euclidean in double, **rounded to 6 decimals**,
  ties broken by the lower centroid id (lexicographic struct min);
- centroid update: per-dimension mean rounded to 6 decimals —

so the assignment after N rounds replays exactly in the DuckDB oracle.
One caveat keeps this short of a hard bit-reproducibility guarantee:
``F.avg`` sums doubles in partition-dependent order, so a per-dimension
mean landing within an ulp of a 0.5e-6 rounding boundary *could* round
differently across partitionings/engines and flip a downstream argmin —
the 6-decimal rounding makes divergence improbable (and unobserved
across local[5]/local[32]/DuckDB on the fixtures), not impossible; an
exact-decimal sum would be required to close that last gap.

Scale posture (the classic distributed-k-means shape, same as MLlib's):
centroids are k×d driver-side literals **compiled into the row
expression** — assignment is pure map-side whole-stage-codegen, no k×
row expansion, no join, no shuffle.  Each Lloyd round shuffles only the
k×d partial aggregates of the per-dimension means (map-side combine),
and only k×d doubles ever return to the driver.  Rounds are O(scan);
the embedding column is read once per round.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _squared_dist(vec: Column, centroid: list[float]) -> Column:
    # ONE array Literal, not CreateArray(64 scalar literals): codegen
    # references a literal array object instead of inlining 64 constants,
    # so the generated source is identical across Lloyd rounds / queries
    # with different centroid values — the JVM compiles the distance
    # kernel once per shape and the codegen cache serves every later
    # round (measured: the recompile was most of a round's cost at
    # sf0.1).  Same doubles, same left-fold order — values unchanged.
    lit_arr = F.lit([float(v) for v in centroid])
    diff = F.zip_with(vec, lit_arr, lambda a, b: (a - b) * (a - b))
    # Left-fold sum (deterministic addition order == the oracle's
    # list_reduce), rounded so float noise can't flip an argmin.
    return F.round(F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x), 6)


def _with_cluster(
    embeddings: DataFrame, centroids: list[list[float]], vec_col: str
) -> DataFrame:
    vec = F.col(vec_col).cast("array<double>")
    candidates = F.array(
        *[
            F.struct(
                _squared_dist(vec, c).alias("dist"),
                F.lit(cid).alias("cid"),
            )
            for cid, c in enumerate(centroids)
        ]
    )
    # array_min on (dist, cid) structs = argmin with lower-id tiebreak.
    return embeddings.withColumn("cluster", F.array_min(candidates)["cid"])


# NOTE (r9 optimization round): this module used to memoize fitted
# centroids in a module-level dict keyed on (session, plan semantic hash)
# so a repeat fit over the same plan skipped the Lloyd loop.  That is
# result caching across runs, not optimization, so the memo was removed;
# the fit's per-round cost was cut instead (literal-referenced centroids,
# narrow posexplode stats — see :func:`kmeans_fit`).


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Fit ``iterations`` Lloyd rounds from the deterministic init and
    return the final centroids (k×d Python floats — the model IS the
    literal set the assignment expression compiles in).  Empty input
    returns ``[]``.

    Execution shape (r9 optimization round): the Lloyd loop stays
    driver-eager (one aggregate job per round — chaining the rounds
    into one nested declarative plan was measured 3-5× SLOWER at sf0.1:
    every round's plan contains all prior rounds', so Catalyst
    planning grows superlinearly), but the per-round cost fell two
    ways: (1) centroids enter the distance kernel as ONE array Literal
    (see :func:`_squared_dist`) so whole-stage codegen compiles the
    assignment expression once and every later round is a codegen-cache
    hit; (2) the per-dimension means come from ONE narrow
    ``groupBy(cluster, dim)`` over ``posexplode`` (partial aggs combine
    map-side; the shuffle carries ≤ partitions×k×d rows — the same
    bytes as the wide form) instead of a k×d-column wide aggregate
    whose generated code changed (and recompiled) every round.
    Arithmetic is unchanged and oracle-replayable: per-element
    ``(a−b)²`` left-fold rounded to 6, argmin with lower-cid tiebreak,
    per-dimension mean rounded to 6, an empty cluster keeps its
    previous centroid."""
    # Each Lloyd round re-reads the embedding relation (assignment agg +
    # the final labeling): cache it for the run.  Left to LRU eviction,
    # same policy as the dedup stage checkpoints.
    embeddings = embeddings.cache()

    # The init collect doubles as the emptiness probe and supplies d —
    # one Spark job, not a separate first() plus the collect.
    init_rows = embeddings.orderBy(id_col).limit(k).collect()
    if not init_rows:
        return []
    d = len(init_rows[0][vec_col])
    centroids = [[float(x) for x in r[vec_col]] for r in init_rows]

    vec = F.col(vec_col).cast("array<double>")
    for _ in range(iterations):
        assigned = _with_cluster(embeddings, centroids, vec_col)
        stats = (
            assigned.select("cluster", F.posexplode(vec).alias("dim", "val"))
            # dims beyond the init row's width are ignored, exactly as
            # the former wide aggregate's element_at(vec, 1..d) never
            # read them — also fewer rows into the partial aggs
            .where(F.col("dim") < F.lit(d))
            .groupBy("cluster", "dim")
            .agg(F.round(F.avg("val"), 6).alias("m"))
        )
        # k×d doubles — the only data that ever reaches the driver.
        by_cid: dict[int, list] = {}
        for r in stats.collect():
            by_cid.setdefault(r["cluster"], [None] * d)[r["dim"]] = r["m"]
        # An empty cluster keeps its previous centroid (standard Lloyd).
        centroids = [by_cid.get(cid, c) for cid, c in enumerate(centroids)]
    return centroids


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_vector: bool = False,
) -> DataFrame:
    """Cluster assignment ``(id_col, cluster)`` after ``iterations``
    Lloyd rounds from the deterministic init.

    ``keep_vector=True`` carries ``vec_col`` through — the labeling is
    map-side, so downstream consumers that need (vector, cluster)
    together (SemDeDup pairing, silhouette scoring) must NOT re-join the
    assignment back onto the embedding relation: that join is a full
    shuffle of the widest column in the pipeline for data the label
    expression never dropped.
    """
    centroids = kmeans_fit(embeddings, k, iterations, id_col, vec_col)
    cols = [id_col, vec_col] if keep_vector else [id_col]
    if not centroids:
        return embeddings.select(*cols, F.lit(0).alias("cluster")).limit(0)
    # kmeans_fit already cached this plan; the labeling reuses that entry
    return _with_cluster(embeddings, centroids, vec_col).select(
        *cols, F.col("cluster").cast("int").alias("cluster")
    )


def cluster_sizes(assignment: DataFrame) -> DataFrame:
    """``(cluster, n)`` — one tiny agg over the assignment relation."""
    return assignment.groupBy("cluster").agg(F.count("*").alias("n"))


def simplified_silhouette(
    embeddings: DataFrame,
    k: int = 4,
    iterations: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``(cluster, n, mean_s)`` — SIMPLIFIED silhouette of the k-means
    clustering (Hruschka et al.): per point, ``a`` = squared distance to
    its own final-cluster centroid, ``b`` = min distance to any other
    centroid, ``s = (b − a) / max(a, b)`` — the centroid-based variant,
    which is O(n·k) instead of the O(n²) pairwise original and is the
    standard clustering-quality gauge at scale.

    Final centroids are the means of the ASSIGNED clusters (k×d floats
    to the driver, embedded as codegen literals — same posture as the
    fit); scoring is then a pure projection plus one groupBy(cluster).
    Distances use the fit's exact arithmetic (left-fold, 6-decimal
    rounds), so the oracle replays bit-for-bit.  Single-cluster inputs
    score 0 (undefined b) rather than erroring.
    """
    # keep_vector: the label is map-side codegen — joining the assignment
    # back onto `embeddings` would shuffle the whole vector column twice.
    joined = kmeans_assign(
        embeddings, k, iterations, id_col, vec_col, keep_vector=True
    )
    first = embeddings.select(vec_col).first()
    if first is None:
        return embeddings.sparkSession.createDataFrame(
            [], "cluster int, n long, mean_s double"
        )
    d = len(first[0])
    vec_d = F.col(vec_col).cast("array<double>")
    # r10: final centroids via the same narrow groupBy(cluster, dim)
    # over posexplode as kmeans_fit — the k×d-column wide aggregate
    # generated (and recompiled) d-dependent code and carried k×d
    # columns through one agg; the narrow form is plan-d-independent
    # with map-side partials.  Same arithmetic: avg over exactly the
    # rows where the dimension exists (element_at past the end was
    # null and avg skipped it), same 6-dp round.
    cent_rows = (
        joined.select("cluster", F.posexplode(vec_d).alias("dim", "val"))
        .where(F.col("dim") < F.lit(d))
        .groupBy("cluster", "dim")
        .agg(F.round(F.avg("val"), 6).alias("m"))
        .collect()
    )
    cents: dict = {}
    for r in cent_rows:
        cents.setdefault(r["cluster"], [None] * d)[r["dim"]] = r["m"]
    candidates = F.array(
        *[
            F.struct(
                _squared_dist(vec_d, cents[cid]).alias("dist"),
                F.lit(int(cid)).alias("cid"),
            )
            for cid in sorted(cents)
        ]
    )
    own = F.element_at(
        F.filter(candidates, lambda c: c["cid"] == F.col("cluster")), 1
    )["dist"]
    other = F.array_min(
        F.filter(candidates, lambda c: c["cid"] != F.col("cluster"))
    )["dist"]
    s = F.when(
        other.isNotNull() & (F.greatest(own, other) > 0),
        F.round((other - own) / F.greatest(own, other), 6),
    ).otherwise(F.lit(0.0))
    return (
        joined.withColumn("_s", s)
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.avg("_s"), 6).alias("mean_s"),
        )
    )
