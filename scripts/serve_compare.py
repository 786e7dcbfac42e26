"""Quantify the serving-index win: per-query cost of ranking against the
batch pipeline (re-derive TF/DF/dlen from raw text — what a fresh session
pays) versus the persisted index (partition-pruned bucket reads, no
tokenization), same data, same runtime, same scores.

Both paths are timed over Q distinct queries with a COLD plan each time
(new query terms per iteration so neither side reuses a cached result);
the batch side is also shown warm (tf cached by the session — the best
case a long-lived session gets).

Run: python scripts/serve_compare.py   # sf0.1, prints a markdown table
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

QUERIES = [
    ("spark", "stream", "join"),
    ("fast", "hash", "merge"),
    ("slow", "scan", "table"),
    ("sort", "window", "group"),
    ("data", "batch", "query"),
]


def main() -> None:
    from flink_bm25_spark.operators.bm25 import bm25_rank
    from flink_bm25_spark.operators.pipeline import build_corpus_stats
    from flink_bm25_spark.operators.serving import (
        bm25_index_save,
        bm25_topk_from_index,
    )
    from flink_bm25_spark.session import get_spark
    from flink_bm25_spark.sources.tables import load_documents

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="serve_compare")
    docs = load_documents(spark, sf_dir)

    idx = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "spark-warehouse",
        "serve_compare_idx",
    )
    t0 = time.perf_counter()
    bm25_index_save(docs, idx, n_buckets=64)
    build_s = time.perf_counter() - t0

    # cold batch path: fresh stats per query (a new session's cost —
    # uncached lineage re-tokenizes the corpus inside the ranking job)
    t0 = time.perf_counter()
    for terms in QUERIES:
        s = build_corpus_stats(docs)
        bm25_rank(s.tf, s.idf_stats, s.dlen, terms, k=10).collect()
    cold_batch = (time.perf_counter() - t0) / len(QUERIES)

    # warm batch path: one session-cached TF relation shared by queries
    s = build_corpus_stats(docs, cache_tf=True)
    bm25_rank(s.tf, s.idf_stats, s.dlen, QUERIES[0], k=10).collect()  # warm
    t0 = time.perf_counter()
    for terms in QUERIES[1:]:
        bm25_rank(s.tf, s.idf_stats, s.dlen, terms, k=10).collect()
    warm_batch = (time.perf_counter() - t0) / (len(QUERIES) - 1)

    # served path: partition-pruned reads, no tokenization anywhere
    bm25_topk_from_index(spark, idx, QUERIES[0], k=10).collect()  # warm JVM
    t0 = time.perf_counter()
    for terms in QUERIES[1:]:
        bm25_topk_from_index(spark, idx, terms, k=10).collect()
    served = (time.perf_counter() - t0) / (len(QUERIES) - 1)

    # warmed served path: df fold pinned in executor memory, corpus
    # scalars and hot salts on the driver — at most 3 Spark jobs per query
    from flink_bm25_spark.api import Bm25Index

    widx = Bm25Index(spark, idx).warm()
    widx.search("spark stream join", k=10).collect()  # plan warm
    t0 = time.perf_counter()
    for terms in QUERIES[1:]:
        widx._search_warm(terms, 10).collect()
    served_warm = (time.perf_counter() - t0) / (len(QUERIES) - 1)

    print(f"index build (once): {build_s:.2f}s")
    print("\n| path | sec/query | corpus work per query |")
    print("|---|---|---|")
    print(
        f"| batch, cold session | {cold_batch:.2f} |"
        " full tokenize + TF shuffle |"
    )
    print(
        f"| batch, cached TF | {warm_batch:.2f} |"
        " cached TF scan + joins |"
    )
    print(
        f"| served index | {served:.2f} |"
        " ~|terms|/64 of postings files |"
    )
    print(
        f"| served index, warm() | {served_warm:.2f} |"
        " pruned postings read only (df/stats pinned) |"
    )
    spark.stop()


if __name__ == "__main__":
    main()
