"""Warm / cold / batch serve parity as a property: after every step of a
generated add / delete / upsert / compact sequence on a small hot-salted
index, the warm search, the cold search and ``search_batch`` must all
return exactly what ``bm25_rank`` returns over the shadow corpus (same
top-k, scores at 6 d.p.).  The three served paths share one read-state
resolution and one scoring core; this pins that they still agree with
the batch ranking through uncompacted partials, tombstones, re-salting
folds and snapshot-free version flips.

The batch entry points share that scoring core too: a single-query rank,
a query relation and the in-memory index partials agree row for row."""

from __future__ import annotations

import shutil
import tempfile

from hypothesis import HealthCheck, assume, given, settings
from hypothesis import strategies as st

from flink_bm25_spark.api import Bm25Index
from pyspark.sql import functions as F

from flink_bm25_spark.operators.bm25 import bm25_batch_rank, bm25_rank
from flink_bm25_spark.operators.pipeline import build_corpus_stats
from flink_bm25_spark.operators.serving import (
    bm25_index_batch,
    bm25_index_save,
    bm25_topk_from_partials,
    merge_index_batches,
)

VOCAB = (
    "alpha", "beta", "gamma", "delta", "spark", "stream", "join", "hash",
    "query", "index", "bucket", "salt",
)
# the head words cross this df cap, so the index salts them
HOT_DF_CAP = 4

texts = st.lists(
    st.sampled_from(VOCAB[:4]) | st.sampled_from(VOCAB), min_size=1, max_size=6
).map(" ".join)
queries = st.lists(
    st.lists(st.sampled_from(VOCAB), min_size=1, max_size=3, unique=True).map(
        tuple
    ),
    min_size=2,
    max_size=2,
)


def _frame(spark, docs: dict[int, str]):
    return spark.createDataFrame(
        sorted(docs.items()), "doc_id long, text string"
    )


def _rank(stats, terms):
    return [
        (r["doc_id"], round(r["score"], 6))
        for r in bm25_rank(stats.tf, stats.idf_stats, stats.dlen, terms, k=10)
        .collect()
    ]


def _rows(df):
    return [(r["doc_id"], round(r["score"], 6)) for r in df.collect()]


def _assert_paths_agree(spark, path, shadow, qs, step):
    stats = build_corpus_stats(_frame(spark, shadow))
    want = [_rank(stats, q) for q in qs]
    idx = Bm25Index(spark, path)
    cold = [_rows(idx.search(" ".join(q))) for q in qs]
    idx.warm()
    warm = [_rows(idx.search(" ".join(q))) for q in qs]
    idx.cool()
    got_batch: dict[int, list] = {i: [] for i in range(len(qs))}
    for r in sorted(
        idx.search_batch(list(enumerate(qs))).collect(),
        key=lambda r: (r["query_id"], r["rk"]),
    ):
        got_batch[r["query_id"]].append((r["doc_id"], round(r["score"], 6)))
    batch = [got_batch[i] for i in range(len(qs))]
    assert cold == want, (step, "cold")
    assert warm == want, (step, "warm")
    assert batch == want, (step, "batch")


# Each step costs ~8 s of Spark job overhead (the op, a warm, the three
# served paths, the reference ranking), so one generated example runs
# all four ops to keep the test in the fast lane, under 60 s.
@settings(
    max_examples=1,
    deadline=None,
    derandomize=True,
    suppress_health_check=list(HealthCheck),
)
@given(data=st.data())
def test_warm_cold_and_batch_serve_equal_bm25_rank(spark, data):
    shadow = {i: data.draw(texts) for i in range(10)}
    # rejected before any Spark work: the all-equal corpus the shrinker
    # starts from ranks every document the same
    assume(len(set(shadow.values())) > 3)
    qs = data.draw(queries)
    root = tempfile.mkdtemp(prefix="serve_parity_")
    path = f"{root}/idx"
    try:
        bm25_index_save(
            _frame(spark, shadow),
            path,
            n_buckets=4,
            hot_df_cap=HOT_DF_CAP,
            forward=True,
        )
        idx = Bm25Index(spark, path)
        next_id = 100
        ops = data.draw(st.permutations(("add", "delete", "upsert", "compact")))
        for step, op in enumerate(ops):
            live = sorted(shadow)
            if op == "add":
                new = {next_id + j: data.draw(texts) for j in range(2)}
                next_id += 2
                idx.add(_frame(spark, new))
                shadow.update(new)
            elif op == "delete":
                gone = data.draw(
                    st.lists(
                        st.sampled_from(live),
                        min_size=1,
                        max_size=min(3, len(live) - 2),
                        unique=True,
                    )
                )
                idx.delete(gone)
                for i in gone:
                    del shadow[i]
            elif op == "upsert":
                ids = data.draw(
                    st.lists(st.sampled_from(live), max_size=2, unique=True)
                ) + [next_id]
                next_id += 1
                new = {i: data.draw(texts) for i in ids}
                idx.upsert(_frame(spark, new))
                shadow.update(new)
            else:
                idx.compact(hot_df_cap=HOT_DF_CAP, gc_grace_seconds=0)
            _assert_paths_agree(spark, path, shadow, qs, (step, op))
    finally:
        shutil.rmtree(root, ignore_errors=True)


# "common" is in every document (idf = ln(N/(N+1)) < 0), docs 6-8 hold a
# single token; the queries are the empty query, a duplicated term, an
# absent term alone and beside the negative-idf term
ENTRY_DOCS = {
    1: "common spark stream join",
    2: "common spark spark hash",
    3: "common query index bucket salt",
    4: "common stream stream stream join join",
    5: "common alpha beta gamma delta spark",
    6: "common",
    7: "common",
    8: "common",
    9: "common hash hash query",
    10: "common beta beta beta beta beta beta beta beta",
}
ENTRY_QUERIES = ((), ("spark", "spark", "join"), ("absent",), ("absent", "common"))


def _triples(df):
    return [(r["doc_id"], r["score"], r["rk"]) for r in df.collect()]


def test_bm25_entry_points_agree(spark):
    """``bm25_rank`` equals that query's rows of ``bm25_batch_rank`` and
    ``bm25_topk_from_partials`` over a two-batch split of the corpus —
    ``(doc_id, score, rk)`` exactly."""
    docs = _frame(spark, ENTRY_DOCS)
    s = build_corpus_stats(docs, cache_tf=True)
    qdf = spark.createDataFrame(
        list(enumerate(map(list, ENTRY_QUERIES))),
        "query_id int, terms array<string>",
    )
    batch: dict[int, list] = {i: [] for i in range(len(ENTRY_QUERIES))}
    for r in bm25_batch_rank(s.tf, s.idf_stats, s.dlen, qdf, k=4).collect():
        batch[r["query_id"]].append((r["doc_id"], r["score"], r["rk"]))
    partials = merge_index_batches(
        [
            bm25_index_batch(docs.where(F.col("doc_id") <= 5), n_buckets=4),
            bm25_index_batch(docs.where(F.col("doc_id") > 5), n_buckets=4),
        ]
    )
    for qid, terms in enumerate(ENTRY_QUERIES):
        want = _triples(bm25_rank(s.tf, s.idf_stats, s.dlen, terms, k=4))
        assert bool(want) == (terms not in ((), ("absent",))), terms
        assert sorted(batch[qid], key=lambda t: t[2]) == want, terms
        assert _triples(bm25_topk_from_partials(partials, terms, k=4)) == want, terms
    s.tf.unpersist()
