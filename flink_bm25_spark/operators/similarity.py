"""Similarity search over ``array<float>`` embedding columns — the
approximate-nearest-neighbor extension (BASELINE.json north star).

Tiers:

- :func:`cosine_topk` — brute-force top-k against a query vector.  The
  query is a broadcast literal, scoring is a map-side higher-order
  expression, and top-k is ``orderBy+limit`` (TakeOrderedAndProject), so
  even the "brute force" tier scans once with no shuffle — at 100 TB it is
  bounded by scan bandwidth.
- :func:`embedding_near_dup_pairs` — exact all-pairs cosine ≥ threshold
  via a BLOCKED theta-join (O(n²) compute but a distributable plan);
  the small-n verifier for the approximate tiers.
- :func:`embedding_near_dup_pairs_lsh` / :func:`rp_lsh_*` —
  random-hyperplane (sign) LSH: deterministic md5-derived hyperplanes
  bucket vectors so candidate generation is an equi-join on
  (band, bucket) instead of a cross join.
- :func:`semantic_dedup_pairs` — SemDeDup: k-means cells bound the pair
  space, exact cosine only within clusters.
- :func:`embedding_near_dup_pairs_lsh` with ``store=`` screens a batch
  against a persisted band-key store (:func:`embedding_band_store`);
  operational loop in ``api.EmbeddingDeduper``.
- IVF (below) — coarse-quantizer cells, persisted partition-pruned.

All pairwise scoring binds per-vector norms map-side (one O(d) dot per
pair, not three).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_bm25_spark.config import HASH_PRIME
from flink_bm25_spark.functions.vectors import cosine_similarity
from flink_bm25_spark.operators.bm25 import rank_topk
from flink_bm25_spark.operators.dedup import lsh_candidate_pairs
from flink_bm25_spark.operators.serving import (
    BATCH_COL,
    DELETE_ALL,
    _batch_id_or_next,
    _compact_begin,
    _compact_commit,
    _compact_tombstones,
    _drop_deleted,
    _fold_batch_col,
    _fs_delete,
    _fs_exists,
    _Layout,
    _locked_writer,
    _next_manual_id,
    _read_deleted,
    _reset_to_bare,
    _section_batch_ids,
    _snapshot,
    _verify_tree_current,
    _write_tombstones,
    _writer_lock,
    bm25_index_gc,
    bm25_index_pin,
    bm25_index_unpin,
    bm25_index_versions,
)
from flink_bm25_spark.operators.sinks import overwrite_mode


def cosine_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    exclude_id: int | None = None,
) -> DataFrame:
    """``(vec_id, cos)`` — top-k by cosine similarity to ``query_vec``.

    Ranking uses the 6-decimal-rounded score (ties broken by vec_id) so
    ordering is reproducible across engines.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = embeddings.select(
        "vec_id",
        F.round(cosine_similarity(F.col("embedding"), q), 6).alias("cos"),
    )
    if exclude_id is not None:
        scored = scored.where(F.col("vec_id") != exclude_id)
    return scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)


def embedding_near_dup_pairs(
    embeddings: DataFrame, threshold: float, num_blocks: int = 8
) -> DataFrame:
    """``(d1, d2, cos)`` for all pairs with cosine ≥ threshold — exact,
    via a BLOCKED theta-join (fragment-replicate, Okcan & Riedewald's
    1-bucket-theta / blocked-GEMM shape), not a cartesian product.

    Exact all-pairs at a moderate threshold is inherently O(n²) compute,
    but the *plan* need not be a BroadcastNestedLoopJoin: each vector is
    assigned a block ``g = vec_id % G``; the d1 side is exploded over the
    G possible partner blocks keyed ``(g(d1), j)``, the d2 side keyed
    ``(i, g(d2))``, and a plain two-column shuffled equi-join meets every
    pair exactly once in one of G² evenly-sized buckets.  Shuffle volume
    is O(n·G) rows; per-task work is (n/G)² codegen'd cosines — the
    distributed dense-similarity tile pattern, no driver collect, no
    broadcast of the corpus, no nested-loop join.

    This is the exact tier; at 100 TB corpus sizes use the sub-quadratic
    candidate tiers instead (:func:`embedding_near_dup_pairs_lsh` for
    high thresholds, IVF cells for SemDeDup-style clustering), which
    bound the pair space before any exact scoring.
    """
    from flink_bm25_spark.functions.vectors import (  # noqa: PLC0415
        cosine_from_parts,
        l2_norm,
    )

    g = num_blocks
    block_ids = F.array(*[F.lit(i) for i in range(g)])
    # Per-vector norms bound BEFORE the block explode — each pair then
    # costs one O(d) dot, not three (identical double arithmetic).
    with_n = embeddings.withColumn("nrm", l2_norm(F.col("embedding")))
    a = with_n.select(
        F.col("vec_id").alias("d1"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
        F.pmod(F.col("vec_id"), F.lit(g)).cast("int").alias("bi"),
        F.explode(block_ids).alias("bj"),
    )
    b = with_n.select(
        F.col("vec_id").alias("d2"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.explode(block_ids).alias("bi"),
        F.pmod(F.col("vec_id"), F.lit(g)).cast("int").alias("bj"),
    )
    pairs = _spread(a, "bi", "bj").join(
        _spread(b, "bi", "bj"), ["bi", "bj"]
    ).where(F.col("d1") < F.col("d2"))
    scored = pairs.select(
        "d1",
        "d2",
        F.round(
            cosine_from_parts(
                F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
            ), 6
        ).alias("cos"),
    )
    return scored.where(F.col("cos") >= threshold)


def _spread(df: DataFrame, *keys: str) -> DataFrame:
    """Explicit hash repartition of a pair-join leg on its join keys.

    The blocked pair generators have TINY join inputs (n·G rows of a few
    hundred bytes) but quadratic join OUTPUT compute — AQE's coalescing
    sizes the stage by input bytes, collapses it to one or two tasks,
    and the (n/G)² cosine work runs effectively single-threaded
    (measured 3.9 s → 0.9 s on the SemDeDup pairing when pinned).  A
    user-specified partition COUNT is exempt from AQE coalescing, so
    this pins the pair stage at ``defaultParallelism`` tasks; the join
    reuses the partitioning, adding no extra exchange.
    """
    p = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(p, *keys)


def sparse_plane(p: int, dim: int = 64, nnz: int = 8) -> list[tuple[int, int]]:
    """Deterministic sparse ±1 hyperplane ``p``: ``nnz`` (index, sign)
    pairs, md5-derived (very sparse random projections, Achlioptas 2003 /
    Li-Hastie-Church 2006 — density ≈ 1/√d).  Sparsity keeps the sign
    test to ``nnz`` add/subtract terms, so the same plane replays as a
    short arithmetic expression in ANY engine (the DuckDB oracle embeds
    these constants verbatim).  ``nnz`` must not exceed ``dim``: the
    indices are distinct."""
    import hashlib  # noqa: PLC0415

    if nnz > dim:
        raise ValueError(f"sparse_plane: nnz={nnz} > dim={dim}")
    out: list[tuple[int, int]] = []
    seen: set[int] = set()
    i = 0
    while len(out) < nnz:
        h = int(hashlib.md5(f"srp:{p}:{i}".encode()).hexdigest()[:15], 16)
        i += 1
        idx = h % dim
        if idx in seen:
            continue
        seen.add(idx)
        out.append((idx, 1 if (h >> 40) & 1 else -1))
    return sorted(out)


def srp_band_keys(
    embeddings: DataFrame,
    bands: int = 12,
    bits_per_band: int = 6,
    dim: int = 64,
    nnz: int = 8,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """``(vec_id, embedding, *carry_cols, band, bkey)`` — banded sign-LSH
    keys from sparse ±1 hyperplanes; one row per (vector, band), computed
    entirely map-side (no shuffle).  ``carry_cols`` ride along unmodified
    (e.g. a precomputed norm).

    The plane coefficients live in two LITERAL matrices (index/sign per
    plane) that ConstantFolding collapses into array constants, and the
    bands × bits × nnz multiply-adds run as nested higher-order
    functions over them.  The previous fully-unrolled spelling emitted
    576 scalar expressions into one whole-stage-codegen method, blowing
    Janino's 64 KB limit — Spark then fell back to INTERPRETING the
    giant tree ("ERROR CodeGenerator ... grows beyond 64 KB" per run).
    The HOF form keeps generated methods tiny; term order inside each
    dot product is unchanged, so keys are bit-identical to the unrolled
    form (pinned by test).
    """
    all_planes = [sparse_plane(p, dim, nnz) for p in range(bands * bits_per_band)]
    idx_mat = F.lit([[int(i) for i, _ in pl] for pl in all_planes])
    sgn_mat = F.lit([[float(s) for _, s in pl] for pl in all_planes])
    emb = F.col("embedding")

    def key_for(b):
        def add_bit(acc, j):
            p = (b * F.lit(bits_per_band) + j + F.lit(1)).cast("int")
            idxs = F.element_at(idx_mat, p)
            sgns = F.element_at(sgn_mat, p)
            dot = F.aggregate(
                F.sequence(F.lit(1), F.lit(nnz)),
                F.lit(0.0),
                lambda a, t: a
                + F.element_at(emb, F.element_at(idxs, t.cast("int")) + 1).cast(
                    "double"
                )
                * F.element_at(sgns, t.cast("int")),
            )
            # 2^j via double pow (exact for j < 53); the PySpark
            # shiftleft wrapper only takes a Python-int bit count
            return acc + F.when(
                dot >= 0, F.pow(F.lit(2.0), j).cast("int")
            ).otherwise(F.lit(0))

        return F.aggregate(
            F.sequence(F.lit(0), F.lit(bits_per_band - 1)), F.lit(0), add_bit
        )

    bk = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.cast("int").alias("band"), key_for(b).cast("int").alias("bkey")
        ),
    )
    # explode_outer: plain explode would trigger InferFiltersFromGenerate,
    # duplicating the whole key computation into a pushed-down filter
    # (same trap as dedup.winnowing_fingerprints); the array is never
    # empty, so no null rows actually appear.
    return embeddings.select(
        "vec_id",
        "embedding",
        *carry_cols,
        F.explode_outer(bk).alias("bk"),
    ).select(
        "vec_id", "embedding", *carry_cols,
        F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"),
    )


def embedding_near_dup_pairs_lsh(
    embeddings: DataFrame,
    threshold: float,
    bands: int = 12,
    bits_per_band: int = 6,
    dim: int = 64,
    nnz: int = 8,
    store: DataFrame | None = None,
) -> DataFrame:
    """``(d1, d2, cos)`` — near-dup pairs found via banded sign-LSH
    candidates, exact cosine scored ONLY on candidates.  The 100 TB tier:
    the pair space is pruned by a (band, key) equi-join before any exact
    math, so no quadratic relation is ever materialized.

    Approximate by construction: a pair colliding in no band is never
    scored (sign-LSH recall is ``1-(1-p^bits)^bands`` with
    ``p = 1 - θ/π``, so at dedup thresholds ≥0.9 recall ≈ 1, while at
    moderate thresholds this finds the LSH-discoverable subset — recall
    is pinned statistically in tests, and the exact tier
    :func:`embedding_near_dup_pairs` is the small-n verifier).  At scale,
    grow ``bits_per_band`` ~ log n (bands ~ n^ρ) to keep random-pair
    collisions a vanishing fraction.  Everything is deterministic
    (md5-derived planes), so the result replays bit-identically in the
    DuckDB oracle.

    Batch-incremental screening: ``store`` is the persisted
    :func:`embedding_band_store` relation of every vector already
    ingested; the result then also holds the new–old pairs (old–old
    pairs are not re-emitted; vec_ids must be disjoint across batches),
    in O(batch + candidates) — the archive is never re-keyed.
    """
    from flink_bm25_spark.functions.vectors import cosine_from_parts  # noqa: PLC0415

    cand = lsh_candidate_pairs(
        embedding_band_store(embeddings, bands, bits_per_band, dim, nnz),
        store,
        id_col="vec_id",
        carry=(("embedding", "ea", "eb"), ("nrm", "na", "nb")),
    )
    scored = cand.select(
        "d1",
        "d2",
        F.round(
            cosine_from_parts(
                F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
            ), 6
        ).alias("cos"),
    )
    return scored.where(F.col("cos") >= threshold)


def embedding_band_store(
    vectors: DataFrame,
    bands: int = 12,
    bits_per_band: int = 6,
    dim: int = 64,
    nnz: int = 8,
) -> DataFrame:
    """``(vec_id, embedding, nrm, band, bkey)`` — the persistable
    sign-LSH key store for a vector batch: band keys plus the vector and
    its precomputed norm, so future batches can candidate-join AND
    exact-verify against the archive without ever re-keying it (the
    embedding analog of the MinHash wide-signature store)."""
    from flink_bm25_spark.functions.vectors import l2_norm  # noqa: PLC0415

    return srp_band_keys(
        vectors.withColumn("nrm", l2_norm(F.col("embedding"))).select(
            "vec_id", "embedding", "nrm"
        ),
        bands,
        bits_per_band,
        dim,
        nnz,
        carry_cols=("nrm",),
    )


def _ordered_vector_pairs(
    with_n: DataFrame,
    a_name: str,
    b_name: str,
    num_blocks: int = 8,
    candidates: DataFrame | None = None,
    carry: tuple[tuple[str, str, str], ...] = (),
) -> DataFrame:
    """Every ORDERED pair (a ≠ b) of vectors with per-side embedding/norm
    bound — the shared pair generator of :func:`knn_graph` and
    :func:`contrastive_triplets`.  ``with_n`` must carry ``vec_id``,
    ``embedding``, ``nrm``; ``carry`` lists ``(src_col, a_alias,
    b_alias)`` extras to replicate per side.

    Exact path: the fragment-replicate blocked equi-join — shuffle
    O(n·G) rows, per-task (n/G)² work, never a nested-loop join.
    Candidates path: each (d1, d2) feeds BOTH directions and is
    ``distinct``-ed first, so duplicate rows from a banded producer
    (one row per colliding band) cannot eat rank slots or double-count
    edges downstream.
    """
    a_cols = [
        F.col("vec_id").alias(a_name),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
        *[F.col(c).alias(aa) for c, aa, _ in carry],
    ]
    b_cols = [
        F.col("vec_id").alias(b_name),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        *[F.col(c).alias(bb) for c, _, bb in carry],
    ]
    if candidates is None:
        g = num_blocks
        block_ids = F.array(*[F.lit(i) for i in range(g)])
        a = with_n.select(
            *a_cols,
            F.pmod(F.col("vec_id"), F.lit(g)).cast("int").alias("bi"),
            F.explode(block_ids).alias("bj"),
        )
        b = with_n.select(
            *b_cols,
            F.explode(block_ids).alias("bi"),
            F.pmod(F.col("vec_id"), F.lit(g)).cast("int").alias("bj"),
        )
        return (
            _spread(a, "bi", "bj")
            .join(_spread(b, "bi", "bj"), ["bi", "bj"])
            .where(F.col(a_name) != F.col(b_name))
            .drop("bi", "bj")
        )
    ordered = (
        candidates.select(
            F.col("d1").alias(a_name), F.col("d2").alias(b_name)
        )
        .unionByName(
            candidates.select(
                F.col("d2").alias(a_name), F.col("d1").alias(b_name)
            )
        )
        .distinct()
    )
    av = with_n.select(*a_cols)
    bv = with_n.select(*b_cols)
    return ordered.join(av, a_name).join(bv, b_name)


def knn_graph(
    embeddings: DataFrame,
    k: int = 5,
    num_blocks: int = 8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """``(anchor_id, neighbor_id, cos, rk)`` — the k-nearest-neighbor
    graph of the embedding table (every vector's top-k by cosine), the
    substrate for graph-based dedup/clustering (kNN connected
    components, mutual-kNN pruning, label propagation).

    Exact tier: ordered pairs from the fragment-replicate blocked
    equi-join (never a nested-loop), then the per-anchor k-cut as a
    ``row_number <= k`` window — Spark plans WindowGroupLimit, which
    prunes to k rows per anchor inside each partition BEFORE the sort
    feeds the window, so the pair relation never materializes a global
    sort.  At 100 TB pass ``candidates`` (LSH/IVF pairs): the window
    then ranks only candidate edges — the standard approximate-kNN-graph
    build.  Deterministic: 6-dp cosine, ties to the smaller neighbor id.
    """
    from flink_bm25_spark.functions.vectors import (  # noqa: PLC0415
        cosine_from_parts,
        l2_norm,
    )

    with_n = embeddings.select("vec_id", "embedding").withColumn(
        "nrm", l2_norm(F.col("embedding"))
    )
    pairs = _ordered_vector_pairs(
        with_n, "anchor_id", "neighbor_id", num_blocks, candidates
    )
    scored = pairs.select(
        "anchor_id",
        "neighbor_id",
        F.round(
            cosine_from_parts(
                F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
            ),
            6,
        ).alias("cos"),
    )
    return rank_topk(scored, k, "cos", "neighbor_id", ("anchor_id",))


def mutual_knn_clusters(
    embeddings: DataFrame,
    k: int = 5,
    min_cos: float = 0.0,
    num_blocks: int = 8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """``(vec_id, cluster, cluster_size)`` — density-based clustering
    from the MUTUAL kNN graph: an edge survives only when each endpoint
    is in the other's top-k (and cos ≥ ``min_cos``); clusters are the
    connected components of that graph, labeled by their minimum id.
    Mutuality is the standard hub-pruning step — a hub vector that
    appears in everyone's top-k but reciprocates none of them chains no
    clusters together.  Vectors with no mutual edge are singletons
    (cluster = own id), so the output is a total clustering.

    Plan: :func:`knn_graph` edges (blocked pairs + WindowGroupLimit),
    mutuality = one groupBy on the canonicalized pair with ``count = 2``
    (each direction contributes exactly one row), components via the
    O(log d) pointer-jumping of ``operators/graph.py``.
    """
    from flink_bm25_spark.operators.graph import (  # noqa: PLC0415
        connected_components,
    )

    edges = knn_graph(embeddings, k, num_blocks, candidates).where(
        F.col("cos") >= F.lit(min_cos)
    )
    canon = edges.select(
        F.least("anchor_id", "neighbor_id").alias("d1"),
        F.greatest("anchor_id", "neighbor_id").alias("d2"),
        (F.col("anchor_id") < F.col("neighbor_id")).alias("_dir"),
    )
    # countDistinct on the direction flag (not count(*)): mutuality means
    # BOTH orientations exist, and stays correct even if an edge ever
    # arrives duplicated
    mutual = (
        canon.groupBy("d1", "d2")
        .agg(F.countDistinct("_dir").alias("_n"))
        .where(F.col("_n") == 2)
        .select("d1", "d2")
    )
    comp = connected_components(mutual)
    out = (
        embeddings.select("vec_id")
        .join(comp, F.col("vec_id") == F.col("node"), "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).alias("cluster"),
        )
    )
    from pyspark.sql import Window  # noqa: PLC0415

    return out.withColumn(
        "cluster_size",
        F.count(F.lit(1)).over(Window.partitionBy("cluster")).cast("long"),
    )


def contrastive_triplets(
    embeddings: DataFrame,
    label_col: str = "label",
    num_blocks: int = 8,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """``(anchor_id, pos_id, pos_cos, neg_id, neg_cos)`` — contrastive
    training triplets mined from a labeled embedding table: for every
    anchor, the most-similar SAME-label vector (the positive) and the
    most-similar DIFFERENT-label vector (the hard negative — the pair
    contrastive/triplet losses learn the most from).  An anchor whose
    label class is a singleton gets a NULL positive (and vice versa for
    a single-class corpus), so no anchor silently disappears.

    Exact path: ordered pairs via the same fragment-replicate blocked
    equi-join as :func:`embedding_near_dup_pairs` (shuffle O(n·G) rows,
    per-task (n/G)² codegen cosines, never a BroadcastNestedLoopJoin),
    then ONE groupBy(anchor) with two conditional struct-max aggregates
    — no window over the corpus-sized pair relation.

    At 100 TB pass ``candidates`` (an LSH/IVF ``(d1, d2)`` relation —
    e.g. :func:`rp_lsh_candidate_pairs` output): hard-negative mining
    over ANN candidates is the standard practice (the exact-argmax tier
    stays as the small-n verifier), and the argmax is then linear in
    candidates.  Deterministic: 6-dp rounded cosine, ties to the
    smaller partner id.
    """
    from flink_bm25_spark.functions.vectors import (  # noqa: PLC0415
        cosine_from_parts,
        l2_norm,
    )

    with_n = embeddings.select(
        "vec_id", "embedding", F.col(label_col).alias("_lbl")
    ).withColumn("nrm", l2_norm(F.col("embedding")))
    pairs = _ordered_vector_pairs(
        with_n,
        "anchor_id",
        "other",
        num_blocks,
        candidates,
        carry=(("_lbl", "la", "lb"),),
    )
    scored = pairs.select(
        "anchor_id",
        "other",
        (F.col("la") == F.col("lb")).alias("same"),
        F.round(
            cosine_from_parts(
                F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
            ),
            6,
        ).alias("cos"),
    )
    # struct-max = (max cos, then max(-other) = min other): argmax with a
    # deterministic tie-break in one partial-aggregating pass.
    best = F.struct(F.col("cos"), (-F.col("other")).alias("nother"))
    agg = scored.groupBy("anchor_id").agg(
        F.max(F.when(F.col("same"), best)).alias("_p"),
        F.max(F.when(~F.col("same"), best)).alias("_n"),
    )
    return agg.select(
        "anchor_id",
        (-F.col("_p.nother")).alias("pos_id"),
        F.col("_p.cos").alias("pos_cos"),
        (-F.col("_n.nother")).alias("neg_id"),
        F.col("_n.cos").alias("neg_cos"),
    )


def _auto_k(
    embeddings: DataFrame, k_min: int, target_cluster_size: int
) -> int:
    """SemDeDup's k ∝ n recipe: enough clusters that the EXPECTED
    cluster size stays ``target_cluster_size`` as the corpus grows —
    with fixed k, cluster size grows ∝ n and the within-cluster pair
    sweep is quadratic by construction (THROUGHPUT r2).  One cheap
    count() resolves it; clamped to [1, n] so degenerate inputs still
    fit."""
    n = embeddings.count()
    return max(1, min(max(k_min, -(-n // target_cluster_size)), n))


def semantic_dedup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.45,
    k: int | None = None,
    iterations: int = 2,
    num_blocks: int = 4,
    k_min: int = 4,
    target_cluster_size: int = 1024,
) -> DataFrame:
    """``(cluster, d1, d2, cos)`` — SemDeDup (Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embeddings, then find
    near-duplicate pairs ONLY within each cluster.  The clustering bounds
    the pair space — with k ∝ n/target_cluster_size the per-cluster
    pairwise work stays constant as the corpus grows, which is exactly
    why SemDeDup scales where all-pairs cosine cannot.

    Plan shape: the within-cluster pairing is an equi-join on
    ``(cluster, block-grid)`` (never a cartesian/BroadcastNestedLoop),
    and the k-means assignment itself is map-side codegen (centroids are
    k×d literals — see ``operators/kmeans.py``).  A join on ``cluster``
    alone has only k distinct keys — parallelism would be capped at k
    tasks however many cores exist — so each side is fragment-replicated
    ``num_blocks`` ways inside its cluster: pair {x, y} meets in exactly
    the grid cell ``(x % G, y % G)``, giving k·G² independent tasks for
    G× shuffle volume.  Deterministic end-to-end: fixed lowest-id init,
    6-dp rounded distances/means/cosines, so the DuckDB oracle replays
    the identical pair set.

    ``k=None`` (the default) resolves k ∝ n via :func:`_auto_k`:
    ``max(k_min, ceil(n / target_cluster_size))`` from one cheap count,
    so the default plan stays linear-ish as the corpus grows instead of
    silently going quadratic at a fixed k.  Cluster sizes are observable
    via ``kmeans.cluster_sizes`` and a skewed cluster can be split by
    recursing on it (standard SemDeDup practice).

    .. note:: the ``k=None`` default is EAGER at plan-construction
       time: resolving k runs one ``count()`` Spark job, which
       re-executes any expensive upstream lineage of ``embeddings``.
       Callers building plans lazily, or whose embeddings come from a
       costly pipeline, should pass a cached/checkpointed frame — or an
       explicit ``k`` — to keep construction job-free.
    """
    from flink_bm25_spark.functions.vectors import (  # noqa: PLC0415
        cosine_from_parts,
        l2_norm,
    )
    from flink_bm25_spark.operators.kmeans import kmeans_assign  # noqa: PLC0415

    if k is None:
        # r10: cache BEFORE the count so resolving k doubles as the
        # cache fill the k-means fit would otherwise pay in its own
        # first job — the corpus crosses storage once, not twice (the
        # fit's cache() on the same plan re-registers this entry).
        embeddings = embeddings.cache()
        k = _auto_k(embeddings, k_min, target_cluster_size)
    # keep_vector: assignment is map-side codegen, so carrying the vector
    # through costs nothing — re-joining it back on vec_id would shuffle
    # the embedding relation once per side for data never dropped.
    # Norms are per-VECTOR, not per-pair: bind them map-side before the
    # pair join so each pair evaluates one O(d) dot instead of three
    # (same double arithmetic, so oracle parity is unchanged).
    emb_c = kmeans_assign(
        embeddings, k=k, iterations=iterations, keep_vector=True
    ).withColumn("nrm", l2_norm(F.col("embedding")))
    g = max(1, num_blocks)
    block_ids = F.array(*[F.lit(i) for i in range(g)])
    a = emb_c.select(
        "cluster",
        F.col("vec_id").alias("d1"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
        F.pmod(F.col("vec_id"), F.lit(g)).cast("int").alias("bi"),
        F.explode(block_ids).alias("bj"),
    )
    b = emb_c.select(
        "cluster",
        F.col("vec_id").alias("d2"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
        F.explode(block_ids).alias("bi"),
        F.pmod(F.col("vec_id"), F.lit(g)).cast("int").alias("bj"),
    )
    pairs = (
        _spread(a, "cluster", "bi", "bj")
        .join(_spread(b, "cluster", "bi", "bj"), ["cluster", "bi", "bj"])
        .where(F.col("d1") < F.col("d2"))
        .drop("bi", "bj")
    )
    return pairs.select(
        "cluster",
        "d1",
        "d2",
        F.round(
            cosine_from_parts(
                F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
            ), 6
        ).alias("cos"),
    ).where(F.col("cos") >= threshold)


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float = 0.45,
    k: int | None = None,
    iterations: int = 2,
) -> DataFrame:
    """Survivors of SemDeDup: drop the higher-id member of every
    within-cluster near-dup pair (deterministic keep-lowest policy, same
    as the MinHash/SimHash dedup family).  ``k=None`` resolves k ∝ n —
    see :func:`semantic_dedup_pairs`, including its note on the k=None
    path running an eager count() at plan-construction time."""
    losers = (
        semantic_dedup_pairs(embeddings, threshold, k, iterations)
        .select(F.col("d2").alias("vec_id"))
        .distinct()
    )
    return embeddings.join(losers, "vec_id", "left_anti")


# ---------------------------------------------------------------------------
# IVF (coarse-quantizer) tier — MLlib KMeans cells, nprobe search
# ---------------------------------------------------------------------------


def ivf_build(
    embeddings: DataFrame, n_cells: int = 16, seed: int = 42
):
    """Train an IVF coarse quantizer (KMeans) and assign every vector to a
    cell: returns ``(model, assigned)`` where assigned = embeddings +
    ``cell`` column.

    The inverted-file idea at scale: write ``assigned`` partitioned by
    ``cell`` so a query touches only the nprobe nearest cells' files —
    partition pruning does the "inverted list" lookup.
    """
    from pyspark.ml.clustering import KMeans  # noqa: PLC0415
    from pyspark.ml.functions import array_to_vector  # noqa: PLC0415

    vecs = embeddings.withColumn("features", array_to_vector("embedding"))
    model = KMeans(k=n_cells, seed=seed, featuresCol="features").fit(vecs)
    assigned = (
        model.transform(vecs)
        .withColumnRenamed("prediction", "cell")
        .select("vec_id", "embedding", "cell")
    )
    return model, assigned


def ivf_topk_exact(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    n_cells: int = 4,
    iterations: int = 2,
    nprobe: int = 2,
    exclude_id: int | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """``(vec_id, cos)`` — IVF ANN top-k with a fully DETERMINISTIC
    coarse quantizer: cells come from the engine's own reproducible
    k-means (``operators/kmeans.py`` — fixed lowest-id init, 6-dp
    rounded distances/means), so unlike the MLlib-seeded
    :func:`ivf_build`/:func:`ivf_topk` pair the entire probe — cell
    fit, cell choice, candidate set, scores — replays exactly in a SQL
    oracle.

    Probe-cell choice uses the SAME rounded left-fold squared distance
    as the fit (ties to the lower cell id) over the k×d centroid list —
    driver-side arithmetic on k values, not a Spark job.  The scan then
    filters to ``nprobe`` cells: with cell-partitioned storage
    (:func:`ivf_save`) this is partition pruning, i.e. the engine reads
    ~nprobe/n_cells of the corpus.  ``nprobe = n_cells`` degrades to the
    brute-force scan — the recall-vs-cost dial.

    Serving: pass ``centroids`` (a prior ``kmeans_fit`` result, or the
    k×d list loaded from the index store) to skip the fit — one fit
    serves every query.
    """
    from flink_bm25_spark.operators.kmeans import (  # noqa: PLC0415
        _with_cluster,
        kmeans_fit,
    )

    if centroids is None:
        centroids = kmeans_fit(
            embeddings, k=n_cells, iterations=iterations
        )
    if not centroids:
        return embeddings.sparkSession.createDataFrame(
            [], "vec_id long, cos double"
        )
    q = [float(x) for x in query_vec]

    def _rdist(c: list[float]) -> float:
        acc = 0.0
        for a, b in zip(c, q):  # left fold == the fit's aggregate order
            acc = acc + (a - b) * (a - b)
        return round(acc, 6)

    ranked = sorted((_rdist(c), cid) for cid, c in enumerate(centroids))
    probe = [cid for _, cid in ranked[:nprobe]]
    cand = _with_cluster(embeddings, centroids, "embedding").where(
        F.col("cluster").isin(*probe)
    )
    # scoring + deterministic ordering is exactly the brute tier over the
    # pruned candidate set — one copy of that contract
    return cosine_topk(cand, q, k=k, exclude_id=exclude_id)


def ivf_topk_exact_from_disk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 2,
    exclude_id: int | None = None,
    version: int | None = None,
) -> DataFrame:
    """Disk twin of :func:`ivf_topk_exact`: probe-cell choice uses the
    SAME rounded left-fold squared distance as the deterministic fit
    (ties to the lower cell id — replayable in a SQL oracle), the cells
    scan is partition-pruned to the probe set and tombstone-filtered
    (delete/upsert legs visible), and scoring is the shared
    :func:`cosine_topk` contract.  ``version=`` reads a pinned snapshot
    tree with its stashed codebook (`ivf_pin` / `ivf_snapshot`)."""
    lay = _Layout(spark, path, version=version)
    cents = {
        int(r["cell"]): [float(x) for x in r["centroid"]]
        for r in _ivf_centroid_rows(spark, lay, version)
    }
    q = [float(x) for x in query_vec]

    def _rdist(c: list[float]) -> float:
        acc = 0.0
        for a, b in zip(c, q):
            acc = acc + (a - b) * (a - b)
        return round(acc, 6)

    ranked = sorted((_rdist(c), cid) for cid, c in cents.items())
    probe = [cid for _, cid in ranked[:nprobe]]
    return cosine_topk(
        _ivf_visible(spark, lay, probe), q, k=k, exclude_id=exclude_id
    )


def ivf_topk(
    model,
    assigned: DataFrame,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    exclude_id: int | None = None,
) -> DataFrame:
    """ANN top-k probing only the ``nprobe`` cells nearest to the query.

    Cell selection happens driver-side on the (tiny) centroid set; the
    scan then filters on the cell id — with cell-partitioned storage this
    becomes partition pruning, i.e. the engine reads ~nprobe/n_cells of
    the data.
    """
    import numpy as np  # noqa: PLC0415

    q = np.asarray(query_vec, dtype=float)
    centers = model.clusterCenters()
    order = sorted(
        range(len(centers)), key=lambda c: float(np.linalg.norm(centers[c] - q))
    )
    probe_cells = order[:nprobe]
    cand = assigned.where(F.col("cell").isin(*[int(c) for c in probe_cells]))
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        "vec_id",
        F.round(cosine_similarity(F.col("embedding"), qcol), 6).alias("cos"),
    )
    if exclude_id is not None:
        scored = scored.where(F.col("vec_id") != exclude_id)
    return scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (scale tier)
# ---------------------------------------------------------------------------


def _hyperplane_component(p: int, d: int) -> float:
    """Deterministic pseudo-random component in [-1, 1) for hyperplane p,
    dimension d — derived from the shared integer hash so the planes are
    reproducible everywhere (no RNG state)."""
    import hashlib

    h = int(hashlib.md5(f"rp:{p}:{d}".encode()).hexdigest()[:15], 16) % HASH_PRIME
    return (h / HASH_PRIME) * 2.0 - 1.0


def rp_lsh_bucket(
    embeddings: DataFrame, num_planes: int = 16, dim: int = 64
) -> DataFrame:
    """``(vec_id, bucket)`` — sign-LSH bucket id from ``num_planes``
    deterministic hyperplanes.

    The plane matrix is tiny (num_planes × dim literals) and folds into
    the expression tree: scoring is pure map-side codegen, the only data
    movement is the later bucket equi-join.
    """
    bucket = F.lit(0).cast("long")
    for p in range(num_planes):
        plane = F.array(
            *[F.lit(_hyperplane_component(p, d)) for d in range(dim)]
        )
        dot_p = F.aggregate(
            F.zip_with(
                F.col("embedding"), plane, lambda x, y: x.cast("double") * y
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot_p >= 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return embeddings.select("vec_id", "embedding", bucket.alias("bucket"))


def rp_lsh_candidate_pairs(bucketed: DataFrame) -> DataFrame:
    """Candidate pairs = same-bucket collisions (equi-join on bucket)."""
    a = bucketed.select(F.col("vec_id").alias("d1"), F.col("bucket"))
    b = bucketed.select(F.col("vec_id").alias("d2"), F.col("bucket"))
    return a.join(b, "bucket").where(F.col("d1") < F.col("d2")).select("d1", "d2")


def rp_lsh_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    num_planes: int = 16,
    dim: int = 64,
    probe_hamming: int = 2,
) -> DataFrame:
    """ANN top-k: score only vectors whose bucket is within
    ``probe_hamming`` bits of the query's bucket (multi-probe sign-LSH).

    Approximate — recall is tested statistically (see tests), not
    hash-checked.
    """
    bucketed = rp_lsh_bucket(embeddings, num_planes, dim)
    qb = 0
    for p in range(num_planes):
        dot_p = sum(
            float(query_vec[d]) * _hyperplane_component(p, d) for d in range(dim)
        )
        if dot_p >= 0:
            qb |= 1 << p
    cand = bucketed.where(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qb).cast("long")))
        <= probe_hamming
    )
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    scored = cand.select(
        "vec_id",
        F.round(cosine_similarity(F.col("embedding"), q), 6).alias("cos"),
    )
    return scored.orderBy(F.desc("cos"), F.asc("vec_id")).limit(k)


def quantized_embeddings(embeddings: DataFrame) -> DataFrame:
    """``(vec_id, qvec, scale)`` — symmetric int8 quantization of the
    embedding column (:func:`flink_bm25_spark.functions.vectors.quantize_int8`).

    The 100 TB ANN storage tier: int8 vectors are 4x smaller on disk and
    over the shuffle; coarse scoring runs on ``qvec`` and only the top
    candidates are rescored against the float vectors.
    """
    from flink_bm25_spark.functions.vectors import with_int8_quantization

    return with_int8_quantization(embeddings).select(
        "vec_id", "qvec", F.round(F.col("scale"), 6).alias("scale")
    )


def quantized_topk(
    embeddings: DataFrame,
    query_vec: list[float],
    k: int = 10,
    overfetch: int = 5,
    exclude_id: int | None = None,
) -> DataFrame:
    """``(vec_id, cos)`` top-k via int8 coarse scoring + exact rescoring.

    The scale path for brute-force ANN: the coarse pass scores the int8
    vectors (4x less scan bandwidth than float32; integer dot product)
    and keeps ``k * overfetch`` candidates via a distributed
    TakeOrdered — no shuffle of the corpus.  Only those candidates are
    rescored against the float embeddings, so exact math touches
    O(k * overfetch) rows regardless of corpus size.  With sufficient
    overfetch the result equals :func:`cosine_topk` exactly (pinned by
    test); recall degrades gracefully as overfetch shrinks.
    """
    from flink_bm25_spark.functions.vectors import with_int8_quantization

    qmax = max(abs(float(x)) for x in query_vec) or 1.0
    qscale = 127.0 / qmax
    qq = [int(float(x) * qscale // 1) for x in query_vec]

    quant = with_int8_quantization(embeddings).select(
        "vec_id", "embedding", "qvec"
    )
    if exclude_id is not None:
        quant = quant.where(F.col("vec_id") != exclude_id)
    qlit = F.array(*[F.lit(int(v)) for v in qq])
    coarse = quant.select(
        "vec_id",
        "embedding",
        F.aggregate(
            F.zip_with(
                F.col("qvec"), qlit, lambda a, b: a.cast("long") * b.cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("qdot"),
    ).orderBy(F.desc("qdot"), F.asc("vec_id")).limit(k * overfetch)
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        coarse.select(
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), q), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def pool_embeddings(
    chunks: DataFrame,
    by: str = "doc_id",
    vec_col: str = "embedding",
    mode: str = "mean",
    normalize: bool = True,
) -> DataFrame:
    """``(by, embedding, n_chunks)`` — pool per-chunk vectors into one
    document vector (``mean`` or ``max`` per dimension), optionally
    L2-renormalized: the standard bridge from passage/chunk embeddings
    back to document-level ANN / dedup / clustering.

    One groupBy on ``by`` with d conditional aggregates over
    ``element_at`` projections — map-side partial combine, no row
    fanout (the d-column agg posture of SimHash/k-means).  Deterministic:
    per-dimension results rounded to 6 decimals (then the norm computed
    FROM the rounded values, so the oracle replays it exactly).
    """
    if mode not in ("mean", "max"):
        raise ValueError(f"mode must be mean|max, got {mode!r}")
    # NULL-vector rows can't inform d (and would crash len()) — probe the
    # first non-null vector only.
    first = (
        chunks.where(F.col(vec_col).isNotNull()).select(vec_col).first()
    )
    if first is None:
        # Inherit the group column's real type: hardcoding long would give
        # the empty frame a dtype that disagrees with the non-empty path
        # whenever `by` is e.g. a string doc key, breaking downstream
        # unions/joins on the empty edge case.
        from pyspark.sql.types import (  # noqa: PLC0415
            ArrayType,
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField(by, chunks.schema[by].dataType),
                StructField("embedding", ArrayType(DoubleType())),
                StructField("n_chunks", LongType()),
            ]
        )
        return chunks.sparkSession.createDataFrame([], schema)
    d = len(first[0])
    agg_fn = F.avg if mode == "mean" else F.max
    pooled = chunks.groupBy(by).agg(
        *[
            F.round(
                agg_fn(F.element_at(F.col(vec_col), i + 1).cast("double")), 6
            ).alias(f"_p{i}")
            for i in range(d)
        ],
        F.count(F.lit(1)).alias("n_chunks"),
    )
    vec = F.array(*[F.col(f"_p{i}") for i in range(d)])
    if normalize:
        nrm = F.sqrt(
            F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x)
        )
        vec = F.when(
            nrm > 0, F.transform(vec, lambda x: F.round(x / nrm, 6))
        ).otherwise(vec)
    return pooled.select(by, vec.alias("embedding"), "n_chunks")


def feature_hash_embeddings(
    tf: DataFrame, dim: int = 64, out_col: str = "fvec"
) -> DataFrame:
    """``(doc_id, fvec: array<double>)`` — hashing-trick document vectors
    straight from the TF relation (HashingVectorizer / feature-hashing,
    Weinberger et al. 2009): ``v[h(w) % dim] += sign(w) · tf(w, d)``,
    with a second salted hash bit supplying the ±1 sign so collisions
    cancel in expectation.

    This bridges the sparse text pipeline to the dense ANN tier with no
    vocabulary, no fit step, and no model state: the hash IS the
    projection, identical for every batch — so vectors are incrementally
    computable (a new batch embeds alone) and directly comparable across
    runs and engines (md5 hashing; the oracle rebuilds every component).

    Same one-shuffle wide-aggregate shape as the MinHash/SimHash
    signatures: ``dim`` conditional sums over ONE ``groupBy(doc_id)``,
    assembled into the array map-side after the final aggregation —
    shuffle volume is O(docs × dim), never a per-(doc, slot) fanout.
    """
    from flink_bm25_spark.functions.hashing import h60  # noqa: PLC0415

    slot = (h60(F.col("word")) % F.lit(dim)).alias("slot")
    sign = (
        F.lit(1)
        - F.lit(2) * (h60(F.concat(F.col("word"), F.lit(":s"))) % F.lit(2))
    ).alias("sign")
    contrib = tf.select("doc_id", slot, (sign * F.col("tf")).alias("x"))
    aggs = [
        F.sum(F.when(F.col("slot") == j, F.col("x")).otherwise(F.lit(0)))
        .cast("double")
        .alias(f"v{j}")
        for j in range(dim)
    ]
    wide = contrib.groupBy("doc_id").agg(*aggs)
    return wide.select(
        "doc_id", F.array(*[F.col(f"v{j}") for j in range(dim)]).alias(out_col)
    )


# The IVF index's sections: cell-partitioned vectors and versioned
# tombstones (centroids live unversioned at the root).
IVF_SECTIONS = ("cells", "deleted")

# The centroid table `ivf_save` writes, read back with this declared
# schema (an inferred read costs one more Spark job per probe).
IVF_CENTROID_SCHEMA = "cell int, centroid array<double>"


def _read_centroids(spark, path: str) -> DataFrame:
    """The centroid table at ``path`` (the root's or a pin's stash)."""
    return spark.read.schema(IVF_CENTROID_SCHEMA).parquet(path)


@_locked_writer(lambda model, assigned, path, *a, **k: (assigned.sparkSession, path))
def ivf_save(model, assigned: DataFrame, path: str) -> None:
    """Persist the IVF index: vectors cell-PARTITIONED on disk (so a
    probe's cell filter becomes partition pruning — the physical
    "inverted list" lookup) plus the tiny centroid table.

    r7: cells carry the same ``_batch_id`` partition discipline as the
    BM25 serving index (``operators/serving.py``) — the initial build is
    batch 0, every :func:`ivf_add` owns its own batch partition, so
    at-least-once delivery is effectively-once on disk.  Probes are
    unaffected: the ``cell`` filter prunes directories at any nesting
    level.  r8: building OVER an existing index resets it to the bare
    version-0 layout (manifest pointers, version trees, and the stream
    ownership marker are cleared — same reset contract as
    ``bm25_index_save``)."""
    spark = assigned.sparkSession
    _reset_to_bare(spark, path, ("deleted",))
    # post_train marks vectors written AFTER the coarse quantizer was
    # trained — the staleness gauge `ivf_stats` reads (adds/upserts set
    # it; compaction carries it; a retrain resets the whole corpus to
    # False).  Base rows are by definition in-train.
    # STATIC overwrite scoped explicitly: this is a full rebuild — under
    # a session left in dynamic partition-overwrite mode (the streaming
    # sinks' discipline), a plain overwrite would keep every old batch
    # partition absent from the new data, resurrecting superseded and
    # tombstoned vectors (caught by the retrain-after-upsert gauge test
    # running after a dynamic-mode test).
    with overwrite_mode(spark, "static"):
        assigned.withColumn("post_train", F.lit(False)).select(
            F.lit(0).cast("long").alias(BATCH_COL), "*"
        ).write.mode("overwrite").partitionBy(BATCH_COL, "cell").parquet(
            os.path.join(path, "cells")
        )
    # `model` may be the MLlib KMeansModel OR a plain k×d centroid list
    # (the deterministic `kmeans_fit` result — lets the oracle-checkable
    # quantizer drive the same disk layout)
    cents = model if isinstance(model, list) else model.clusterCenters()
    centroids = spark.createDataFrame(
        [(int(i), [float(x) for x in c]) for i, c in enumerate(cents)],
        IVF_CENTROID_SCHEMA,
    )
    centroids.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )


def ivf_assign_to_existing(spark, path: str, new_vectors: DataFrame) -> DataFrame:
    """Assign a vector batch to its nearest EXISTING cell map-side —
    centroids are n_cells×d literals compiled into the expression (no
    shuffle, no join)."""
    from flink_bm25_spark.operators.kmeans import _squared_dist  # noqa: PLC0415

    cents = _read_centroids(spark, os.path.join(path, "centroids")).collect()
    vec = F.col("embedding").cast("array<double>")
    candidates = F.array(
        *[
            F.struct(
                _squared_dist(vec, [float(x) for x in r["centroid"]]).alias(
                    "dist"
                ),
                F.lit(int(r["cell"])).alias("cid"),
            )
            for r in sorted(cents, key=lambda r: int(r["cell"]))
        ]
    )
    return new_vectors.withColumn(
        "cell", F.array_min(candidates)["cid"].cast("int")
    )


def _ivf_cells_path(spark, path: str) -> str:
    """Layout-resolved cells section (bare before the first compaction,
    the current ``v<N>/`` tree after — the BM25 index's `_Layout`)."""
    return _Layout(spark, path).sec("cells")


def _ivf_visible(spark, lay: _Layout, probe: list[int] | None = None) -> DataFrame:
    """The resolved tree's visible vectors — cells (pruned to the
    ``probe`` cells when given) minus tombstoned versions; cells and
    tombstones come from the ONE layout, so they agree."""
    cells = spark.read.parquet(lay.sec("cells"))
    if probe is not None:
        cells = cells.where(F.col("cell").isin(probe))
    return _drop_deleted(
        cells, _read_deleted(spark, lay.path, lay, key="vec_id"), key="vec_id"
    )


def _ivf_centroid_rows(spark, lay: _Layout, version: int | None) -> list:
    """``(cell, centroid)`` rows of the codebook a probe uses: the
    root's, or a pinned snapshot's stashed one on a ``version=`` read."""
    cent_path = os.path.join(lay.path, "centroids")
    if version is not None:
        stash = _ivf_pin_centroids_stash(lay.path, lay.version)
        if _fs_exists(spark, stash):
            cent_path = stash
    return _read_centroids(spark, cent_path).collect()


def _ivf_next_manual_id(spark, path: str) -> int:
    """Next free manual batch id — one past the highest manual id over
    the CELLS AND the tombstone partitions (a plain ``ivf_delete``
    writes only tombstones, so an allocator that read cells alone would
    hand the same id to the next delete and silently overwrite the first
    one's tombstone partition).  Directory listings, no Spark job."""
    lay = _Layout(spark, path)
    return _batch_id_or_next(
        _next_manual_id(
            i for s in IVF_SECTIONS for i in _section_batch_ids(spark, lay, s)
        ),
        None,
    )


def _ivf_write_batch(
    spark, path: str, lay: _Layout, new_vectors: DataFrame, batch_id: int
) -> None:
    """Assign a vector batch to its nearest existing cells and write it
    under its own ``_batch_id`` partition by DYNAMIC overwrite — a
    redelivered batch replaces itself instead of double-inserting."""
    assigned = ivf_assign_to_existing(
        spark, path, new_vectors
    ).withColumn("post_train", F.lit(True))
    with overwrite_mode(spark, "dynamic"):
        assigned.select(
            F.lit(int(batch_id)).cast("long").alias(BATCH_COL), "*"
        ).write.mode("overwrite").partitionBy(BATCH_COL, "cell").parquet(
            lay.sec("cells")
        )


@_locked_writer(lambda spark, path, *a, **k: (spark, path))
def ivf_delete(spark, path: str, vec_ids, batch_id: int | None = None) -> None:
    """Remove vectors from a persisted IVF index WITHOUT rewriting the
    cells — the dense twin of ``bm25_index_delete`` (re-crawl removals,
    right-to-be-forgotten): one tombstone partition per delete batch,
    probes drop tombstoned rows via a join AQE sizes, ``ivf_compact``
    applies them physically.  No statistics to net (IVF has no global
    scalars), so the leg is tombstones only.  ``vec_ids`` is a list or
    a DataFrame with a ``vec_id`` column (the id set stays in-plan for
    corpus-shaped batches); idempotent per ``batch_id``."""
    if isinstance(vec_ids, DataFrame):
        ids_rel = vec_ids.select(
            F.col("vec_id").cast("long").alias("vec_id")
        ).distinct()
    else:
        ids = sorted({int(v) for v in vec_ids})
        if not ids:
            return
        ids_rel = spark.createDataFrame([(i,) for i in ids], "vec_id long")
    if batch_id is None:
        batch_id = _ivf_next_manual_id(spark, path)
    lay = _Layout(spark, path)
    _write_tombstones(ids_rel, lay.sec("deleted"), batch_id, below=DELETE_ALL)
    _verify_tree_current(spark, path, lay.version)


@_locked_writer(lambda spark, path, *a, **k: (spark, path))
def ivf_upsert(
    spark, path: str, new_vectors: DataFrame, batch_id: int | None = None
) -> None:
    """REPLACE vectors by ``vec_id`` (insert if absent) — the dense twin
    of ``bm25_index_upsert``, i.e. the re-embedding workflow: after a
    model refresh every document's vector changes but its id does not.

    One fused batch: a versioned tombstone (``below = this batch id``)
    hides every OLDER version of each id while the replacement — the
    new embedding assigned map-side to its nearest EXISTING centroid —
    lands under this very id and survives its own cutoff.  Tombstones
    commit FIRST (a crash mid-upsert hides the old vector instead of
    serving both), and redelivery under the same id rewrites identical
    partitions.  The coarse quantizer is NOT retrained (standard IVF
    maintenance; retrain on drift via a fresh ``ivf_build``+``save``)."""
    if batch_id is None:
        batch_id = _ivf_next_manual_id(spark, path)
    lay = _Layout(spark, path)
    _write_tombstones(
        new_vectors.select(F.col("vec_id").cast("long").alias("vec_id"))
        .distinct(),
        lay.sec("deleted"),
        batch_id,
        below=batch_id,
    )
    _ivf_write_batch(spark, path, lay, new_vectors, batch_id)
    _verify_tree_current(spark, path, lay.version)


@_locked_writer(lambda spark, path, *a, **k: (spark, path))
def ivf_add(spark, path: str, new_vectors: DataFrame, batch_id: int | None = None) -> None:
    """Extend a persisted IVF index with a new vector batch WITHOUT
    retraining — standard IVF maintenance (the coarse quantizer is only
    retrained when drift degrades recall): each new vector is assigned
    to its nearest EXISTING cell map-side and lands under its own
    ``_batch_id`` partition via DYNAMIC overwrite, so a redelivered
    batch REPLACES itself instead of double-inserting (r7 — the same
    effectively-once sink discipline as ``bm25_index_add``; the old
    blind ``append`` silently duplicated vectors on retry).  Probes
    keep their partition-pruned scan shape over old and new vectors
    alike.

    ``batch_id`` defaults to ``max(existing manual id) + 1``, allocated
    below ``STREAM_BATCH_BASE`` (stream batches live above it).
    ``new_vectors`` must carry the same columns as the vectors the
    index was built from (vec_ids disjoint from the archive, caller
    contract shared with every incremental tier)."""
    if batch_id is None:
        batch_id = _ivf_next_manual_id(spark, path)
    lay = _Layout(spark, path)
    _ivf_write_batch(spark, path, lay, new_vectors, batch_id)
    _verify_tree_current(spark, path, lay.version)


@_locked_writer(lambda spark, path, *a, **k: (spark, path))
def ivf_compact(
    spark,
    path: str,
    files_per_cell: int = 1,
    exclude_batch_ids: tuple[int, ...] = (),
    gc_grace_seconds: float = 300.0,
) -> None:
    """Fold the per-batch cell partitions to batch 0 — the small-files
    maintenance a long-lived IVF index needs under streaming adds.  It
    runs ``bm25_index_compact``'s manifest protocol: the fold writes a
    complete new ``v<N>/cells`` tree, one atomic ``_manifest_v<N>``
    file-create is the whole swap, and the superseded tree survives its
    read grace — no mid-swap window, including on rename-less object
    stores.  Committed tombstones apply physically; the
    ``exclude_batch_ids`` contract is the same (the streaming loop
    excludes the in-flight micro-batch so its redelivery stays
    idempotent, and the excluded batches' tombstones are carried into
    the new tree).  Probe results are unchanged (pinned by test)."""
    excl = tuple(int(i) for i in exclude_batch_ids)
    lay, new_version = _compact_begin(spark, path, IVF_SECTIONS, gc_grace_seconds)
    deleted, deleted_keep = _compact_tombstones(spark, lay, excl, key="vec_id")
    folded = _fold_batch_col(
        _drop_deleted(spark.read.parquet(lay.sec("cells")), deleted, key="vec_id"),
        excl,
    ).repartition(files_per_cell * 8, "cell")
    with overwrite_mode(spark, "static"):
        folded.write.mode("overwrite").partitionBy(BATCH_COL, "cell").parquet(
            os.path.join(path, f"v{new_version}", "cells")
        )
    _compact_commit(spark, path, lay, new_version, ["cells"], excl, deleted_keep)


def ivf_gc(spark, path: str, grace_seconds: float = 300.0) -> int:
    """Reclaim superseded/orphan IVF version trees WITHOUT folding —
    ``bm25_index_gc`` over the IVF sections (same writer lease and
    time-based read grace); returns the number of trees reclaimed."""
    return bm25_index_gc(spark, path, grace_seconds, sections=IVF_SECTIONS)


def _ivf_pin_centroids_stash(path: str, version: int) -> str:
    return os.path.join(path, "pinned_centroids", f"v{int(version)}")


def ivf_versions(spark, path: str) -> DataFrame:
    """Version-tree inventory for the dense tier — the IVF twin of
    ``bm25_index_versions`` (same columns, ``cells``-rooted bare
    layout)."""
    return bm25_index_versions(spark, path, sections=IVF_SECTIONS)


def ivf_pin(spark, path: str, version: int | None = None) -> int:
    """Pin an IVF version tree against GC (snapshot primitive, the
    dense twin of ``bm25_index_pin``) and STASH the current coarse
    codebook next to it: centroids live unversioned at the index root
    (``ivf_retrain`` replaces them in place), so a pinned tree must
    carry the codebook its cells were assigned under —
    ``ivf_topk_from_disk(version=N)`` probes with the stashed codebook,
    keeping snapshot probe selection stable across later retrains.
    (Any on-disk tree postdates the last retrain — a retrain rebuilds
    to bare v0 — so the root codebook AT PIN TIME is exactly the one
    that assigned the pinned cells.)"""
    with _writer_lock(spark, path):
        v = bm25_index_pin(spark, path, version=version,
                           sections=IVF_SECTIONS)
        stash = _ivf_pin_centroids_stash(path, v)
        # write-once: re-pinning an already-pinned version AFTER a
        # retrain must not replace the stashed codebook with the new
        # one — the stash's whole meaning is "the codebook that
        # assigned this tree's cells", fixed at first pin
        if not _fs_exists(spark, stash):
            _read_centroids(spark, os.path.join(path, "centroids")).coalesce(
                1
            ).write.mode("overwrite").parquet(stash)
    return v


def ivf_unpin(spark, path: str, version: int) -> None:
    """Release an IVF pin and its stashed codebook — the tree becomes
    reclaimable by the next GC/fold after the normal grace."""
    bm25_index_unpin(spark, path, version)
    _fs_delete(spark, _ivf_pin_centroids_stash(path, version))


def ivf_snapshot(spark, path: str, **compact_kwargs) -> int:
    """Freeze the IVF index's current state as a pinned immutable
    snapshot — ``bm25_index_snapshot`` with the IVF pin (which stashes
    the codebook) and fold; returns the frozen version number for
    ``version=`` reads.  A bare v0 index is promoted into a versioned
    tree by an extra fold first — ``ivf_retrain`` (routine CDC
    maintenance) rebuilds the bare root in place, so a snapshot must
    never live there."""
    return _snapshot(
        spark, path, ivf_pin,
        lambda: ivf_compact(spark, path, **compact_kwargs),
    )


def ivf_stats(spark, path: str, version: int | None = None) -> DataFrame:
    """One-row health gauge for a persisted IVF index: ``(n_cells,
    n_vectors, n_stale, staleness, n_tombstoned)``.

    ``staleness`` is the fraction of VISIBLE vectors written after the
    coarse quantizer was trained (the ``post_train`` marker adds/upserts
    set) — the quantity that predicts recall decay under churn: IVF
    assigns new vectors to FROZEN centroids, so a model-refresh that
    re-embeds the corpus leaves every vector quantized by a stale
    codebook (measured in ``scripts/ann_recall.py``; THROUGHPUT.md).
    Retrain (``ivf_retrain``) resets it to 0.  Pre-r9 indexes without
    the marker read staleness 0 (their vectors are all in-train by
    definition until the first r9 mutation).  One aggregate job."""
    lay = _Layout(spark, path, version=version)
    cells = spark.read.parquet(lay.sec("cells"))
    pending = _read_deleted(spark, path, lay, key="vec_id")
    visible = _drop_deleted(cells, pending, key="vec_id")
    stale_col = (
        F.coalesce(F.col("post_train"), F.lit(False))
        if "post_train" in cells.columns
        else F.lit(False)
    )
    n_tomb = (
        pending.agg(F.count("*").alias("n")).select("n")
        if pending is not None
        else spark.range(1).select(F.lit(0).cast("long").alias("n"))
    )
    gauge = visible.agg(
        F.countDistinct("cell").cast("int").alias("n_cells"),
        F.count("*").cast("long").alias("n_vectors"),
        F.sum(stale_col.cast("long")).cast("long").alias("n_stale"),
    )
    return gauge.crossJoin(n_tomb.withColumnRenamed("n", "n_tombstoned")).select(
        "n_cells",
        "n_vectors",
        F.coalesce(F.col("n_stale"), F.lit(0)).alias("n_stale"),
        F.when(F.col("n_vectors") > 0,
               F.coalesce(F.col("n_stale"), F.lit(0)) / F.col("n_vectors"))
        .otherwise(F.lit(0.0))
        .alias("staleness"),
        "n_tombstoned",
    )


@_locked_writer(lambda spark, path, *a, **k: (spark, path))
def ivf_retrain(spark, path: str, n_cells: int | None = None, seed: int = 42) -> None:
    """Retrain the coarse quantizer on the index's CURRENT visible
    vectors and rebuild in place — the drift playbook's reset step: IVF
    assigns churned vectors to frozen centroids, recall decays as
    ``ivf_stats().staleness`` grows, retrain restores it (A/B in
    ``scripts/ann_recall.py``; THROUGHPUT.md records the exponents).

    Reads the visible set once (tombstones applied), pins it
    (``localCheckpoint`` — executor-storage-backed, so the subsequent
    in-place rebuild never reads the tree it is replacing), refits
    KMeans, and ``ivf_save``s over the same root — which resets the
    layout to bare v0, clears tombstones (already applied to the read)
    and releases stream ownership; the CDC loop's automated trigger
    re-claims ownership right after.  ``n_cells`` defaults to the
    current codebook size.  At production scale prefer retraining from
    the source-of-truth embedding table when one exists — this
    in-place path exists for the maintenance loop, where the index IS
    the current corpus."""
    lay = _Layout(spark, path)
    if n_cells is None:
        n_cells = int(
            _read_centroids(spark, os.path.join(path, "centroids")).count()
        )
    visible = (
        _ivf_visible(spark, lay)
        .select("vec_id", "embedding")
        .localCheckpoint(eager=True)
    )
    model, assigned = ivf_build(visible, n_cells=n_cells, seed=seed)
    ivf_save(model, assigned, path)


def ivf_topk_from_disk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    version: int | None = None,
) -> DataFrame:
    """ANN top-k against a persisted IVF index: centroid selection is a
    driver-side read of the n_cells-row table; the vector scan carries a
    ``cell IN (...)`` predicate that Catalyst turns into PARTITION
    pruning — only ~nprobe/n_cells of the files are opened, which is the
    entire point of the layout (asserted by
    ``test_ivf_disk_probe_prunes_partitions``).  ``version=`` serves
    from a pinned snapshot tree (`ivf_pin` / `ivf_snapshot`), probing
    with its STASHED codebook — stable results across later
    retrains."""
    # resolved ONCE: cells + tombstones agree
    lay = _Layout(spark, path, version=version)
    cents = _ivf_centroid_rows(spark, lay, version)
    q = [float(x) for x in query_vec]

    def dist2(c):
        return sum((a - b) * (a - b) for a, b in zip(c, q))

    order = sorted(cents, key=lambda r: dist2(r["centroid"]))
    cand = _ivf_visible(spark, lay, [int(r["cell"]) for r in order[:nprobe]])
    qcol = F.array(*[F.lit(x) for x in q])
    return (
        cand.select(
            "vec_id",
            F.round(cosine_similarity(F.col("embedding"), qcol), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(k)
    )


def cosine_batch_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "qvec",
    exclude_same_id: bool = False,
) -> DataFrame:
    """``(query_id, vec_id, cos, rk)`` — top-k by cosine for a whole
    RELATION of query vectors in one plan: the dense twin of
    ``bm25.bm25_batch_rank`` (eval-set retrieval, embedding-space
    hard-negative mining).

    Plan: the query relation broadcasts and fans the corpus scan Q ways
    map-side (one scan regardless of query count — a per-query driver
    loop is Q scans); per-vector norms bind before the fanout so each
    (query, vector) pair costs one O(d) dot; the per-query k-cut is
    ``row_number <= k`` under WindowGroupLimit.  For query sets too big
    to broadcast, generate candidates with the LSH/IVF tiers and rank
    only those (``knn_graph(candidates=...)`` pattern) — Q×corpus exact
    scoring is the small-Q / verification tier.

    ``exclude_same_id=True`` drops pairs where ``query_id == vec_id``
    (self-matches when queries are drawn from the corpus itself).
    """
    from flink_bm25_spark.functions.vectors import (  # noqa: PLC0415
        cosine_from_parts,
        l2_norm,
    )

    with_n = embeddings.select(
        F.col(id_col), F.col(vec_col).alias("_e")
    ).withColumn("_nrm", l2_norm(F.col("_e")))
    qn = queries.select(
        F.col(query_id_col), F.col(query_vec_col).alias("_q")
    ).withColumn("_qnrm", l2_norm(F.col("_q")))
    pairs = with_n.crossJoin(F.broadcast(qn))
    if exclude_same_id:
        pairs = pairs.where(F.col(id_col) != F.col(query_id_col))
    scored = pairs.select(
        query_id_col,
        id_col,
        F.round(
            cosine_from_parts(
                F.col("_q"), F.col("_e"), F.col("_qnrm"), F.col("_nrm")
            ),
            6,
        ).alias("cos"),
    )
    return rank_topk(scored, k, "cos", id_col, (query_id_col,))
