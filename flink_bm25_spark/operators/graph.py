"""Iterative graph operators — connected components over a pair relation.

The reference's dedup story stops at *pairs* (its only dedup is the exact
(word,count) distinct, ``backup/BatchBM25Pre.java:153``); a training-data
pipeline needs the next step: group near-duplicate pairs into **clusters**
and elect one canonical document per cluster.  That grouping is connected
components over the pair graph.

Scale shape (100 TB): label propagation with **pointer jumping**.  Each
iteration is two shuffles (one propagate join, one min-aggregate) plus a
pointer-jump self-join that doubles the distance a label travels, so
convergence is O(log diameter) rounds — not O(diameter), which matters
when adversarial duplicate chains (boilerplate pages, templated spam)
form long paths.  Labels are monotonically non-increasing, so the sum of
labels is a strictly decreasing convergence metric: one scalar per round,
no change-detection join.  Lineage is truncated every round with
``localCheckpoint`` (the DataFrame analogue of an iterative algorithm's
stage checkpoint) so the plan does not grow with the iteration count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Edge budget for the driver fast path below — broadcast-sized (≤ a few
# MB of (id, id) tuples), NOT corpus-sized.  Duplicate-pair relations are
# duplicate-fraction-sized, so most corpora fit; a pathological
# everything-duplicates corpus exceeds the cap and takes the distributed
# loop.  Env-tunable like the serving tier's ISIN_TERM_CAP.
CC_FAST_PATH_MAX_EDGES = int(
    os.environ.get("SPARK_GRAFT_CC_FAST_EDGES", str(1 << 18))
)

# NOTE (r9 optimization round): this module used to memoize component
# labelings in a module-level dict keyed on (session, plan semantic hash).
# That let a REPEAT invocation of the same query skip the whole loop —
# which is result caching across runs, not optimization — so the memo was
# removed; every call now computes from its input.


def connected_components(
    pairs: DataFrame,
    src: str = "d1",
    dst: str = "d2",
    max_iterations: int = 50,
) -> DataFrame:
    """``(node, component)`` for every node appearing in ``pairs``;
    ``component`` is the minimum node id reachable in the undirected
    pair graph — a deterministic canonical id.

    Scale-adaptive (r9 optimization round): one bounded probe —
    ``limit(CC_FAST_PATH_MAX_EDGES + 1).collect()`` — decides the
    execution strategy, the same cap-and-fallback discipline as the
    serving tier's ``ISIN_TERM_CAP``.  When the pair relation fits the
    broadcast-sized budget (duplicate pairs are duplicate-fraction-
    sized, thin tuples), the components are labeled with a driver
    union-find over exactly the collected edges: ONE pass over the
    input instead of 3 shuffles × O(log diameter) rounds × a job per
    round, and byte-for-byte the same fixpoint (component = min
    reachable id).  Above the cap the probe's partial result is
    discarded and the distributed pointer-jumping loop runs unchanged —
    at 100 TB with a pathological duplicate fraction that is the path
    taken, so nothing is lost at scale.
    """
    edges = pairs.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).limit(CC_FAST_PATH_MAX_EDGES + 1).collect()
    if len(edges) <= CC_FAST_PATH_MAX_EDGES:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for e in edges:
            a, b = e["a"], e["b"]
            if a is None or b is None or a == b:
                # exactly the distributed loop's semantics: its
                # `where(a != b)` drops self-loops AND null ids before
                # the node set is derived, so a node appearing only in
                # self-loop/null pairs gets no label row on either path
                continue
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[rb] = ra
        # component = MIN member id, independent of union order
        comp_min: dict = {}
        for n in parent:
            r = find(n)
            m = comp_min.get(r)
            if m is None or n < m:
                comp_min[r] = n
        rows = [(n, comp_min[find(n)]) for n in parent]
        # node ids come from BOTH columns — derive the output type from
        # their union (analysis-only, no job), exactly the widened type
        # the distributed unionByName below produces when src and dst
        # differ in width (e.g. int vs long).
        n_type = (
            pairs.select(F.col(src).alias("n"))
            .unionByName(pairs.select(F.col(dst).alias("n")))
            .schema["n"]
            .dataType.simpleString()
        )
        out_schema = f"node {n_type}, component {n_type}"
        return pairs.sparkSession.createDataFrame(rows, out_schema)
    sym = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Loop-static edge relation: hash-partitioned ON THE PROPAGATE-JOIN
    # KEY and cached (r10).  An InMemoryTableScan reports its child's
    # partitioning, so every round's ``sym ⋈ labels`` reuses this
    # layout; the former lazy localCheckpoint scanned an ExistingRDD
    # with UNKNOWN partitioning and re-exchanged the edge relation —
    # the largest relation in the loop — once per round (verified in
    # the per-round plan: the sym-side Exchange is gone).  Lazy either
    # way: the first round's join materializes it.
    sym = (
        sym.unionByName(sym.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .repartition("a")
        .cache()
    )

    labels = sym.select(F.col("a").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    prev_sum = None
    for _ in range(max_iterations):
        # propagate: every edge offers its source's label to its target
        offered = sym.join(labels, sym["a"] == labels["node"]).select(
            F.col("b").alias("node"), "component"
        )
        merged = (
            labels.unionByName(offered)
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # pointer jump: follow component -> label(component) one more hop,
        # doubling the effective path length per round
        jump = merged.select(
            F.col("node").alias("jnode"), F.col("component").alias("jcomp")
        )
        # LAZY checkpoint: the convergence scalar right below is the
        # round's only action — it materializes the checkpoint as a side
        # effect, so each round costs ONE Spark job, not an eager
        # checkpoint job plus the agg.
        labels = (
            merged.join(jump, merged["component"] == jump["jnode"], "left")
            .select(
                "node",
                F.coalesce(F.col("jcomp"), F.col("component")).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        # labels only ever decrease => their sum strictly decreases until
        # the fixpoint; a scalar comparison replaces a change-count join
        cur_sum = labels.agg(F.sum("component")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


def dedup_clusters(
    pairs: DataFrame, src: str = "d1", dst: str = "d2"
) -> DataFrame:
    """``(doc_id, canonical_id, cluster_size)`` — each document in a
    near-duplicate cluster, its elected canonical (cluster-min id), and
    the cluster population.  Feed any pair relation (exact, MinHash,
    SimHash, embedding-cosine); downstream keeps ``doc_id ==
    canonical_id`` rows and drops the rest.
    """
    comp = connected_components(pairs, src, dst)
    return (
        comp.select(
            F.col("node").alias("doc_id"), F.col("component").alias("canonical_id")
        )
        .withColumn(
            "cluster_size",
            F.count("*").over(Window.partitionBy("canonical_id")).cast("long"),
        )
    )


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """``(node, rank)`` — weighted PageRank after a FIXED number of
    iterations (no convergence test: a pinned round count is what makes
    the result a deterministic, oracle-replayable relation).

    rank'(v) = (1-d) + d * Σ_{(u,v)} rank(u) · w(u,v) / out_w(u)

    Scale shape: the edge relation is normalized ONCE (share = w/out_w,
    one keyed join) and checkpointed; each iteration is then one keyed
    join (ranks are hashed on node, edges on src — the partitioning is
    reused every round) plus one sum-aggregate, O(E) shuffle per round,
    with ``localCheckpoint`` truncating lineage so the plan does not grow
    with the iteration count.  Ranks are never broadcast and never reach
    the driver.  Per-round 6-decimal rounding keeps the fixpoint
    replayable across engines (same caveat as ``kmeans_assign``: rounding
    makes cross-engine divergence improbable, not impossible).
    """
    e = edges.select(
        F.col(src).alias("_src"), F.col(dst).alias("_dst"), F.col(weight).alias("_w")
    )
    # Scale-adaptive (r9): same bounded probe-and-fallback as
    # connected_components — a broadcast-sized edge relation is ranked on
    # the driver in one pass over the input (the distributed loop costs 2
    # eager setup checkpoints + an eager checkpoint job per round), the
    # identical arithmetic per round: share = w/out_w (same doubles),
    # rank' = HALF_UP-round((1-d) + d·Σ share·rank, 6) — replicated with
    # decimal.Decimal so the driver rounds exactly like Spark's round()
    # (Python's built-in round is half-even).  Σ order differs from the
    # distributed partial-agg order; the 6-dp round absorbs that, the
    # same documented caveat as the engine-vs-oracle comparison.  Above
    # the cap the distributed loop runs unchanged.
    probe = e.limit(CC_FAST_PATH_MAX_EDGES + 1).collect()
    if len(probe) <= CC_FAST_PATH_MAX_EDGES:
        from decimal import ROUND_HALF_UP, Decimal  # noqa: PLC0415

        q6 = Decimal("0.000001")

        def _round6(x: float) -> float:
            # Spark's round() on a double goes through
            # BigDecimal.valueOf(Double.toString(x)) — the SHORTEST
            # decimal repr — so quantize from repr(x), not from the
            # exact binary expansion (Decimal(2.675) is ..674999…,
            # which would round DOWN at 2 dp where Spark rounds UP).
            return float(
                Decimal(repr(x)).quantize(q6, rounding=ROUND_HALF_UP)
            )

        # Null/zero semantics replicate the distributed relations
        # exactly (pinned by the forced-fallback parity tests): a null
        # src never joins `out_w`, so the edge AND its dst vanish; a
        # null dst or null weight still contributes both endpoints to
        # the node set; a null weight, an all-null out-sum or a ZERO
        # out-sum yields a null share (try_divide), which contributes
        # nothing; contributions offered TO a null dst are discarded
        # (a null join key never matches), so a null node ranks
        # (1 − d) every round.
        out_sum: dict = {}
        for r in probe:
            if r["_src"] is not None and r["_w"] is not None:
                out_sum[r["_src"]] = out_sum.get(r["_src"], 0) + r["_w"]
        share_edges = []
        node_set = set()
        for r in probe:
            s, d_, w = r["_src"], r["_dst"], r["_w"]
            if s is None:
                continue
            node_set.add(s)
            node_set.add(d_)
            ow = out_sum.get(s)
            if w is None or ow is None or ow == 0:
                continue  # null share: no contribution, nodes still ranked
            share_edges.append((s, d_, float(w) / ow))
        rank = {n: 1.0 for n in node_set}
        for _ in range(iterations):
            s_in: dict = {}
            for a, b_, sh in share_edges:
                if b_ is not None:
                    s_in[b_] = s_in.get(b_, 0.0) + sh * rank[a]
            rank = {
                n: _round6((1.0 - damping) + damping * s_in.get(n, 0.0))
                for n in node_set
            }
        # widened node type from BOTH endpoint columns, as the
        # distributed nodes relation's unionByName coerces (no job)
        n_type = (
            e.select(F.col("_src").alias("n"))
            .unionByName(e.select(F.col("_dst").alias("n")))
            .schema["n"]
            .dataType.simpleString()
        )
        return edges.sparkSession.createDataFrame(
            list(rank.items()), f"node {n_type}, rank double"
        )
    out_w = e.groupBy("_src").agg(F.sum("_w").alias("_ow"))
    # Loop-static relations, hash-partitioned on their per-round join
    # keys and cached (r10, same rationale as the CC loop's sym): the
    # contribution join reuses shares' hash(_src) layout and the
    # rank-assembly left join reuses nodes' hash(node) layout every
    # round, where the former eager localCheckpoints were re-exchanged
    # per round (ExistingRDD scans report unknown partitioning).
    shares = (
        e.join(out_w, "_src")
        .select(
            "_src",
            "_dst",
            # try_divide: a zero out-weight sum is a null share on BOTH
            # execution paths regardless of the session's ANSI mode
            # (plain `/` throws DIVIDE_BY_ZERO under ANSI, null
            # otherwise — the operator's semantics should not depend
            # on that switch); identical doubles for every non-zero
            # divisor.
            F.try_divide(
                F.col("_w").cast("double"), F.col("_ow")
            ).alias("_share"),
        )
        .repartition("_src")
        .cache()
    )
    nodes = (
        shares.select(F.col("_src").alias("node"))
        .unionByName(shares.select(F.col("_dst").alias("node")))
        # distinct's final aggregate already leaves this hash(node)-
        # partitioned — the cache preserves it, no explicit repartition
        .distinct()
        .cache()
    )
    ranks = nodes.withColumn("rank", F.lit(1.0))
    for _ in range(iterations):
        contrib = (
            shares.join(ranks, shares["_src"] == ranks["node"])
            .groupBy("_dst")
            .agg(F.sum(F.col("_share") * F.col("rank")).alias("_s"))
        )
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["_dst"], "left")
            .select(
                "node",
                F.round(
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce("_s", F.lit(0.0)),
                    6,
                ).alias("rank"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks
