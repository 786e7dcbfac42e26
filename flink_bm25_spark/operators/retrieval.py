"""Hybrid retrieval — fuse independently-produced ranked lists.

The reference materializes BM25 sufficient statistics precisely so a
downstream searcher can rank against them (``MongoTFSink.java:43-58``
persists per-doc TF, ``BatchBM25PreMain.java:107-123`` the global DF);
this module is the modern completion of that capability: a *lexical*
ranking (BM25 over those statistics) and a *dense* ranking (embedding
cosine) fused by Reciprocal Rank Fusion (Cormack, Clarke & Buettcher,
SIGIR 2009):

    score(d) = Σ_systems 1 / (k0 + rank_s(d))

RRF needs only ranks — no score calibration between systems — which is
what makes it the standard hybrid-search baseline.

Scale posture: every input ranking is already a top-``pool`` relation
(the upstream operators compile to TakeOrderedAndProject — a per-partition
k-row heap, never a global sort), so the fusion itself unions O(Σ pool)
rows and aggregates them in one tiny shuffle.  Nothing here scales with
corpus size; the corpus-sized work happens inside the rankers, which are
scan-bounded (see ``bm25_rank`` / ``cosine_topk`` docstrings).
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_bm25_spark.operators.bm25 import bm25_rank, rank_topk


def rrf_fuse(
    rankings: Sequence[DataFrame],
    k0: int = 60,
    id_col: str = "doc_id",
    rank_col: str = "rk",
    k: int = 10,
) -> DataFrame:
    """``(id, rrf, n_systems, rk)`` — Reciprocal Rank Fusion of ranked
    lists.  Each input needs ``(id_col, rank_col)``; a document absent
    from a system simply contributes nothing for it (the standard RRF
    convention).  ``n_systems`` reports how many lists surfaced the doc
    — the agreement signal hybrid evaluations slice on.

    Deterministic: the fused score is rounded to 6 decimals and ties
    break on id, so ordering is reproducible across engines.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contribs = [
        r.select(
            F.col(id_col).alias("_id"),
            (
                F.lit(1.0)
                / (F.lit(float(k0)) + F.col(rank_col).cast("double"))
            ).alias("_c"),
        )
        for r in rankings
    ]
    u = reduce(lambda a, b: a.unionByName(b), contribs)
    fused = (
        u.groupBy("_id")
        .agg(
            F.round(F.sum("_c"), 6).alias("rrf"),
            F.count(F.lit(1)).cast("int").alias("n_systems"),
        )
        .select(F.col("_id").alias(id_col), "rrf", "n_systems")
    )
    return rank_topk(fused, k, score="rrf", id_col=id_col)


def late_interaction_topk(
    chunks: DataFrame,
    query_vecs: Sequence[Sequence[float]],
    k: int = 10,
    doc_col: str = "doc_id",
    vec_col: str = "embedding",
    exclude_doc: int | None = None,
) -> DataFrame:
    """``(doc_id, score)`` — ColBERT-style late-interaction (MaxSim)
    ranking over multi-vector documents (Khattab & Zaharia, SIGIR 2020):

        score(d) = Σ_{q ∈ query} max_{v ∈ d} cos(q, v)

    ``chunks`` holds one row per document vector (chunk/passage/token
    embedding — e.g. the output of ``chunk_documents`` ∘
    ``feature_hash_embeddings``); the query is a handful of vectors.

    Scale shape: the query vectors fold into the expression tree as
    Q×d literals, so per-row scoring is pure map-side codegen (Q cosines
    per chunk, no join, no fanout); the MaxSim reduction is ONE
    groupBy(doc) with Q conditional max aggregates (partial map-side
    combine), and top-k compiles to TakeOrderedAndProject.  The corpus
    is scanned once regardless of Q.  For query sets too large to inline
    (hundreds of vectors), score via a broadcast join on a query-vector
    relation instead — same maxsim-then-sum aggregation.

    Deterministic: per-(chunk, query-vector) cosine rounded to 6
    decimals before the max, final score re-rounded after the sum, ties
    on doc id.
    """
    from flink_bm25_spark.functions.vectors import (  # noqa: PLC0415
        cosine_similarity,
    )

    if not query_vecs:
        raise ValueError("late_interaction_topk needs at least one query vector")
    cols = [F.col(doc_col)]
    for qi, qv in enumerate(query_vecs):
        qlit = F.array(*[F.lit(float(x)) for x in qv])
        cols.append(
            F.round(cosine_similarity(F.col(vec_col), qlit), 6).alias(
                f"_c{qi}"
            )
        )
    scored = chunks.select(*cols)
    if exclude_doc is not None:
        scored = scored.where(F.col(doc_col) != exclude_doc)
    maxes = scored.groupBy(doc_col).agg(
        *[F.max(f"_c{qi}").alias(f"_m{qi}") for qi in range(len(query_vecs))]
    )
    total = None
    for qi in range(len(query_vecs)):
        t = F.col(f"_m{qi}")
        total = t if total is None else total + t
    fused = maxes.select(doc_col, F.round(total, 6).alias("score"))
    return fused.orderBy(F.desc("score"), F.asc(doc_col)).limit(k)


def hybrid_search(
    tf: DataFrame,
    idf_stats: DataFrame,
    dlen: DataFrame,
    embeddings: DataFrame,
    query_terms: tuple[str, ...],
    query_vec: list[float],
    k: int = 10,
    pool: int = 20,
    k0: int = 60,
    exclude_id: int | None = None,
) -> DataFrame:
    """BM25 ⊕ dense-cosine hybrid search: rank the corpus lexically over
    the materialized statistics AND densely over the embedding column,
    fuse the two top-``pool`` lists with RRF, return the top ``k``.

    ``embeddings.vec_id`` must be the same id space as ``tf.doc_id``
    (one embedding per document)."""
    from flink_bm25_spark.operators.similarity import (  # noqa: PLC0415
        cosine_topk,
    )

    lex = bm25_rank(tf, idf_stats, dlen, query_terms, k=pool).select(
        "doc_id", "rk"
    )
    dense = rank_topk(
        cosine_topk(embeddings, query_vec, k=pool, exclude_id=exclude_id),
        pool,
        score="cos",
        id_col="vec_id",
    ).select(F.col("vec_id").alias("doc_id"), "rk")
    return rrf_fuse([lex, dense], k0=k0, k=k)
