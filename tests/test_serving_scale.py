"""Round-7 serving-tier scale hardening: bounded driver cost in batch
serving, hot-term bucket salting, crash-safe compaction with in-stream
auto-fold, id-space guards, and the empty-query short-circuit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_bm25_spark.config import DEFAULT_QUERY_TERMS
from flink_bm25_spark.operators.serving import (
    ISIN_TERM_CAP,
    STREAM_BATCH_BASE,
    bm25_batch_topk_from_index,
    bm25_index_add,
    bm25_index_batch,
    bm25_index_compact,
    bm25_index_save,
    bm25_index_save_forward,
    bm25_topk_from_index,
    bm25_topk_from_partials,
    doc_vector_from_index,
)
from flink_bm25_spark.sources.tables import load_documents
from tests.conftest import SF_DIR


def _cells(spark, path):
    from flink_bm25_spark.operators.similarity import _ivf_cells_path

    return _ivf_cells_path(spark, path)


def _sec(spark, path, name):
    """Layout-resolved section path (bare before the first compaction,
    the current v<N>/ tree after — mirrors the engine's _Layout)."""
    from flink_bm25_spark.operators.serving import _Layout

    return _Layout(spark, path).sec(name)

TERMS = DEFAULT_QUERY_TERMS


def _topk(spark, path, terms=TERMS, k=10):
    return [tuple(r) for r in bm25_topk_from_index(spark, path, terms, k=k).collect()]


# --- task 1: bounded driver cost in batch serving ---------------------------


def _vocab_queries(spark, sf_dir, n_queries=30, terms_per_query=3):
    """A query relation whose distinct-term union exceeds ISIN_TERM_CAP:
    real corpus vocabulary (so matches exist) padded per-query with
    unique unknown terms (score-neutral — pinned by
    ``test_unknown_term_contributes_nothing`` — but they count toward
    the term-set size exactly like a real eval set's long tail)."""
    docs = load_documents(spark, sf_dir)
    words = [
        r["word"]
        for r in (
            docs.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("word"))
            .where(F.length("word") > 3)
            .groupBy("word")
            .count()
            .orderBy(F.desc("count"), F.asc("word"))
            .limit(n_queries * terms_per_query)
            .collect()
        )
    ]
    qs = []
    for i in range(n_queries):
        real = tuple(
            words[(i * terms_per_query + j) % len(words)]
            for j in range(terms_per_query)
        )
        tail = tuple(f"zzz_tail_{i}_{j}" for j in range(3))
        qs.append((i, real + tail))
    return qs


def test_batch_serving_large_termset_no_isin_literal(spark, tmp_path):
    # Above the cap: the postings scan must carry NO word In-list (the
    # r6 plan-size/driver-bottleneck weak) — word pruning rides the
    # broadcast (query, term) join alone; results still equal the
    # single-query serve path.
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)

    queries = _vocab_queries(spark, SF_DIR)
    n_terms = len({w for _, ts in queries for w in ts})
    assert n_terms > ISIN_TERM_CAP, "fixture must exceed the isin cap"

    got = bm25_batch_topk_from_index(spark, path, queries, k=5)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # no In-list over word anywhere (neither pushed nor post-scan):
    # the plan size stays constant no matter how many queries arrive
    assert "In(word" not in plan and "word#" not in (
        plan.split("PushedFilters")[1].split("]")[0]
        if "PushedFilters" in plan
        else ""
    )
    # the bucket In-list IS present (partition pruning survives)
    assert "bucket" in plan

    by_q = {}
    for r in got.collect():
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"], r["rk"])
        )
    for qid, terms in queries[:5]:
        solo = [
            (r["doc_id"], r["score"], r["rk"])
            for r in bm25_topk_from_index(spark, path, terms, k=5).collect()
        ]
        assert sorted(by_q.get(qid, []), key=lambda x: x[2]) == solo, qid


def test_batch_serving_small_termset_keeps_isin_pushdown(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    got = bm25_batch_topk_from_index(
        spark, path, [(1, ("spark", "stream")), (2, ("fast", "hash"))], k=5
    )
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "In(word" in plan  # small sets still push row-group skipping
    assert got.count() > 0


def test_batch_serving_empty_queries(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    out = bm25_batch_topk_from_index(spark, path, [(1, ())], k=5)
    assert out.count() == 0
    assert out.columns == ["query_id", "doc_id", "score", "rk"]


# --- A5: empty query terms short-circuit ------------------------------------


def test_empty_query_terms_yield_empty_results(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    served = bm25_topk_from_index(spark, path, (), k=10)
    assert served.count() == 0
    assert served.columns == ["doc_id", "score", "rk"]
    in_mem = bm25_topk_from_partials(bm25_index_batch(docs), (), k=10)
    assert in_mem.count() == 0

    from flink_bm25_spark.api import Bm25Index

    idx = Bm25Index(spark, path)
    with pytest.raises(ValueError, match="no searchable terms"):
        idx.search("the a", k=10)  # all stopwords: explicit, not opaque


# --- A2: manual-add id allocation below the stream base ---------------------


def test_manual_add_allocates_below_stream_base(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs.where(F.col("doc_id") < 200), path, n_buckets=16)
    # a stream delivered a batch...
    bm25_index_add(
        docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 350)),
        path,
        batch_id=STREAM_BATCH_BASE + 3,
    )
    # ...then a manual add with the DEFAULT id must land below the base,
    # not at max(existing)+1 inside the stream's id space
    bm25_index_add(docs.where(F.col("doc_id") >= 350), path)
    ids = {
        int(r["_batch_id"])
        for r in spark.read.parquet(_sec(spark, path, "stats")).select("_batch_id").collect()
    }
    assert ids == {0, 1, STREAM_BATCH_BASE + 3}
    assert _topk(spark, path) == _topk_full_rebuild(spark, tmp_path, docs)


def _topk_full_rebuild(spark, tmp_path, docs):
    full = str(tmp_path / "full_rebuild")
    bm25_index_save(docs, full, n_buckets=16)
    return _topk(spark, full)


# --- A3: create over an existing index clears stale sections ----------------


def test_recreate_clears_stale_forward_and_hot(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    lo = docs.where(F.col("doc_id") < 250)
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    assert doc_vector_from_index(spark, path, 400).count() == 1
    # rebuild over the same path from a SMALLER corpus: the old forward
    # section must not survive to serve vectors for absent documents
    bm25_index_save(lo, path, n_buckets=16)
    import os

    assert not os.path.isdir(f"{path}/forward")
    bm25_index_save_forward(lo, path)
    assert doc_vector_from_index(spark, path, 400).count() == 0
    assert doc_vector_from_index(spark, path, 100).count() == 1


# --- task 2: hot-term salting ------------------------------------------------


def _skewed_docs(spark, n=400):
    rows = [(i, f"hotword filler{i} other{i % 7} text{i % 13}") for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_hot_term_salting_bounds_bucket_skew_and_pins_scores(spark, tmp_path):
    docs = _skewed_docs(spark)
    plain = str(tmp_path / "plain")
    salted = str(tmp_path / "salted")
    bm25_index_save(docs, plain, n_buckets=8)
    bm25_index_save(docs, salted, n_buckets=8, hot_df_cap=50)

    q = ("hotword", "other3")
    want = _topk(spark, plain, q)
    assert _topk(spark, salted, q) == want and want

    # the hot word's postings concentrate ONE bucket unsalted...
    def spread(path):
        rows = (
            spark.read.parquet(_sec(spark, path, "postings"))
            .where(F.col("word") == "hotword")
            .groupBy("bucket")
            .count()
            .collect()
        )
        return {r["bucket"]: r["count"] for r in rows}

    assert len(spread(plain)) == 1
    # ...and spread across all salted sub-buckets (df=400, cap=50 -> 8)
    sal = spread(salted)
    assert len(sal) == 8 and max(sal.values()) <= 50


def test_hot_salting_survives_adds_and_compaction(spark, tmp_path):
    docs = _skewed_docs(spark)
    path = str(tmp_path / "idx")
    lo, hi = docs.where(F.col("doc_id") < 200), docs.where(F.col("doc_id") >= 200)
    bm25_index_save(lo, path, n_buckets=8, hot_df_cap=50)
    bm25_index_add(hi, path, hot_df_cap=50)
    q = ("hotword", "other3")

    full = str(tmp_path / "full")
    bm25_index_save(docs, full, n_buckets=8)
    want = _topk(spark, full, q)
    assert _topk(spark, path, q) == want

    # compaction with a global re-salt keeps scores and the spread
    bm25_index_compact(spark, path, hot_df_cap=50)
    assert _topk(spark, path, q) == want
    hot = spark.read.parquet(_sec(spark, path, "hot")).collect()
    assert any(r["word"] == "hotword" and r["n_salts"] == 8 for r in hot)

    # plain compaction (no re-salt) preserves the hot section's routing
    bm25_index_compact(spark, path)
    assert _topk(spark, path, q) == want


# --- A4 + task 4: crash-safe compaction & in-stream auto-fold ----------------


def test_compaction_is_staged_and_cleans_up(spark, tmp_path):
    import os

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs.where(F.col("doc_id") < 250), path, n_buckets=16)
    bm25_index_add(docs.where(F.col("doc_id") >= 250), path)
    # a leftover staging dir from an interrupted run must not poison it
    os.makedirs(f"{path}/_compact_staging/postings", exist_ok=True)
    before = _topk(spark, path)
    bm25_index_compact(spark, path)
    assert _topk(spark, path) == before
    assert not os.path.exists(f"{path}/_compact_staging")
    assert not os.path.exists(f"{path}/_compact_old")


def test_compaction_recovers_interrupted_swap(spark, tmp_path):
    # Simulate a crash between "live -> _compact_old" and
    # "staging -> live" for one section: the re-run must restore the
    # section from _compact_old (its only copy) instead of discarding
    # it, then fold normally.
    import os
    import shutil

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs.where(F.col("doc_id") < 250), path, n_buckets=16)
    bm25_index_add(docs.where(F.col("doc_id") >= 250), path)
    want = _topk(spark, path)
    # crash state: postings moved aside, a stale staging dir exists
    os.makedirs(f"{path}/_compact_old", exist_ok=True)
    shutil.move(f"{path}/postings", f"{path}/_compact_old/postings")
    os.makedirs(f"{path}/_compact_staging/postings", exist_ok=True)
    bm25_index_compact(spark, path)
    assert _topk(spark, path) == want
    assert not os.path.exists(f"{path}/_compact_old")
    assert not os.path.exists(f"{path}/_compact_staging")


def test_compaction_excludes_named_batches(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs.where(F.col("doc_id") < 200), path, n_buckets=16)
    mid = docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 350))
    hi = docs.where(F.col("doc_id") >= 350)
    bm25_index_add(mid, path, batch_id=STREAM_BATCH_BASE + 4)
    bm25_index_add(hi, path, batch_id=STREAM_BATCH_BASE + 5)
    before = _topk(spark, path)

    # fold everything except the (possibly uncommitted) batch 5...
    bm25_index_compact(
        spark, path, exclude_batch_ids=(STREAM_BATCH_BASE + 5,)
    )
    ids = {
        int(r["_batch_id"])
        for r in spark.read.parquet(_sec(spark, path, "stats")).select("_batch_id").collect()
    }
    assert ids == {0, STREAM_BATCH_BASE + 5}
    assert _topk(spark, path) == before

    # ...and a redelivery of batch 5 still replaces itself (no double count)
    bm25_index_add(hi, path, batch_id=STREAM_BATCH_BASE + 5)
    assert _topk(spark, path) == before


def test_streaming_auto_compaction_bounds_batches_and_pins_scores(
    spark, tmp_path
):
    from flink_bm25_spark.streaming.index_maintenance import (
        maintain_index_stream,
    )

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs.where(F.col("doc_id") < 200), path, n_buckets=16)

    src = str(tmp_path / "src")
    cols = docs.columns
    for lo, hi in ((200, 275), (275, 350), (350, 425), (425, 10**9)):
        docs.where(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).select(*cols).coalesce(1).write.mode("append").parquet(src)

    def run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        maintain_index_stream(
            stream, path, str(tmp_path / "ckpt"), compact_every=2
        )

    run()
    want = _topk_full_rebuild(spark, tmp_path, docs)
    assert _topk(spark, path) == want
    # 4 micro-batches with compact_every=2: at most the last fold's
    # excluded batch + everything-folded-to-0 + post-fold batches remain
    ids = {
        int(r["_batch_id"])
        for r in spark.read.parquet(_sec(spark, path, "stats")).select("_batch_id").collect()
    }
    assert len(ids) <= 3, ids
    run()  # restart, same checkpoint: no re-delivery, nothing changes
    assert _topk(spark, path) == want


def test_streaming_with_salting_and_autocompaction(spark, tmp_path):
    # The full production combination: salted adds + in-loop global
    # re-salt — served scores must still equal an unsalted full rebuild.
    from flink_bm25_spark.streaming.index_maintenance import (
        maintain_index_stream,
    )

    docs = _skewed_docs(spark)
    path = str(tmp_path / "idx")
    bm25_index_save(
        docs.where(F.col("doc_id") < 100), path, n_buckets=8, hot_df_cap=30
    )
    src = str(tmp_path / "src")
    for lo, hi in ((100, 200), (200, 300), (300, 10**9)):
        docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    maintain_index_stream(
        stream, path, str(tmp_path / "ckpt"), compact_every=2, hot_df_cap=30
    )
    plain = str(tmp_path / "plain")
    bm25_index_save(docs, plain, n_buckets=8)
    q = ("hotword", "other3")
    assert _topk(spark, path, q) == _topk(spark, plain, q)
    # the hot section exists and the hot word is spread
    hot = {r["word"]: r["n_salts"] for r in spark.read.parquet(_sec(spark, path, "hot")).collect()}
    assert hot.get("hotword", 0) >= 2


def test_fresh_checkpoint_over_used_index_raises(spark, tmp_path):
    from flink_bm25_spark.streaming.index_maintenance import (
        maintain_index_stream,
    )

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs.where(F.col("doc_id") < 200), path, n_buckets=16)
    bm25_index_add(
        docs.where((F.col("doc_id") >= 200) & (F.col("doc_id") < 300)),
        path,
        batch_id=STREAM_BATCH_BASE + 2,  # a prior stream's committed batch
    )
    src = str(tmp_path / "src")
    docs.where(F.col("doc_id") >= 300).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    with pytest.raises(Exception, match="fresh streaming checkpoint"):
        maintain_index_stream(stream, path, str(tmp_path / "fresh_ckpt"))


def test_ivf_fresh_checkpoint_over_tombstone_only_batch_raises(spark, tmp_path):
    # a prior stream's delete leg writes ONLY deleted/ — the guard must
    # see it, or the fresh checkpoint's delete leg would overwrite that
    # tombstone partition and resurrect the deleted vectors
    from flink_bm25_spark.operators.serving import _read_deleted
    from flink_bm25_spark.operators.similarity import ivf_delete, ivf_save
    from flink_bm25_spark.streaming.index_maintenance import (
        maintain_ivf_cdc_stream,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0], i % 2) for i in range(60)],
        "vec_id long, embedding array<double>, cell int",
    )
    path = str(tmp_path / "ivf")
    ivf_save([[0.0, 0.0, 1.0], [5.0, 4.0, 1.0]], vecs, path)
    ivf_delete(spark, path, [1, 2, 3], batch_id=STREAM_BATCH_BASE + 2)
    schema = "op string, vec_id long, embedding array<double>, seq long"
    src = str(tmp_path / "src")
    for i, vid in enumerate((40, 50)):
        spark.createDataFrame([("delete", vid, None, i)], schema).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with pytest.raises(Exception, match="fresh streaming checkpoint"):
        maintain_ivf_cdc_stream(stream, path, str(tmp_path / "fresh_ckpt"))
    tombs = _read_deleted(spark, path, key="vec_id").collect()
    assert sorted(int(r["vec_id"]) for r in tombs) == [1, 2, 3]


# --- delete leg: negative partials + tombstones ------------------------------


def test_delete_equals_rebuild_without_docs(spark, tmp_path):
    from flink_bm25_spark.operators.serving import (
        bm25_index_delete,
        doc_vectors_from_index,
        more_like_this_from_index,
    )

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    gone = [r["doc_id"] for r in docs.where(F.col("doc_id") >= 250).select("doc_id").collect()]
    bm25_index_delete(spark, path, gone)

    rebuilt = str(tmp_path / "rebuilt")
    lo = docs.where(F.col("doc_id") < 250)
    bm25_index_save(lo, rebuilt, n_buckets=16)
    want = _topk(spark, rebuilt)
    assert _topk(spark, path) == want

    # the deleted docs vanish from every read surface
    assert doc_vector_from_index(spark, path, 400).count() == 0
    assert doc_vectors_from_index(spark, path, [3, 400]).count() == 1
    mlt = more_like_this_from_index(spark, path, 3, k=50).collect()
    assert all(r["doc_id"] < 250 for r in mlt)


def test_delete_then_full_compact_applies_tombstones(spark, tmp_path):
    import os

    from flink_bm25_spark.operators.serving import bm25_index_delete

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    bm25_index_delete(
        spark, path,
        [r["doc_id"] for r in docs.where(F.col("doc_id") >= 250).select("doc_id").collect()],
    )
    want = _topk(spark, path)
    bm25_index_compact(spark, path)
    assert _topk(spark, path) == want
    assert not os.path.exists(_sec(spark, path, "deleted"))  # tombstones applied
    assert (
        spark.read.parquet(_sec(spark, path, "postings"))
        .where(F.col("doc_id") >= 250)
        .count()
        == 0
    )
    assert spark.read.parquet(_sec(spark, path, "forward")).where(
        F.col("doc_id") >= 250
    ).count() == 0
    # df carries no dead (net-zero) words and stats folded to one row
    assert spark.read.parquet(_sec(spark, path, "df")).where(F.col("df") <= 0).count() == 0
    n_docs = spark.read.parquet(_sec(spark, path, "stats")).agg(
        F.sum("n_docs").alias("n")
    ).first()["n"]
    assert n_docs == 250


def test_delete_redelivery_and_absent_ids_are_noops(spark, tmp_path):
    from flink_bm25_spark.operators.serving import bm25_index_delete

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    gone = list(range(250, 300))
    bm25_index_delete(spark, path, gone, batch_id=9)
    once = _topk(spark, path)
    bm25_index_delete(spark, path, gone, batch_id=9)  # redelivery
    assert _topk(spark, path) == once
    bm25_index_delete(spark, path, gone)  # same ids, new batch: no-op
    assert _topk(spark, path) == once
    bm25_index_delete(spark, path, [99999999])  # absent id: no-op
    assert _topk(spark, path) == once
    n_docs = spark.read.parquet(_sec(spark, path, "stats")).agg(
        F.sum("n_docs").alias("n")
    ).first()["n"]
    assert n_docs == load_documents(spark, SF_DIR).count() - len(gone)


def test_delete_requires_forward_and_facade_roundtrip(spark, tmp_path):
    from flink_bm25_spark.api import Bm25Index
    from flink_bm25_spark.operators.serving import bm25_index_delete

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    with pytest.raises(ValueError, match="forward section"):
        bm25_index_delete(spark, path, [1])

    bm25_index_save_forward(docs, path)
    idx = Bm25Index(spark, path).warm()
    before = [tuple(r) for r in idx.search("spark stream join").collect()]
    top_doc = before[0][0]
    idx.delete([top_doc])  # cools the warm state
    assert idx._warm is None
    after = [tuple(r) for r in idx.search("spark stream join").collect()]
    assert all(r[0] != top_doc for r in after) and after != before
    idx.warm()  # warm path sees the tombstone too
    assert [tuple(r) for r in idx.search("spark stream join").collect()] == after


# --- task 5: warm-path facade -------------------------------------------------


def test_warm_search_equals_cold_and_invalidates(spark, tmp_path):
    from flink_bm25_spark.api import Bm25Index

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    idx = Bm25Index.create(docs.where(F.col("doc_id") < 250), path, n_buckets=16)
    cold = [tuple(r) for r in idx.search("spark stream join").collect()]
    idx.warm()
    assert [tuple(r) for r in idx.search("spark stream join").collect()] == cold
    assert idx._warm is not None

    # an add invalidates the pinned statistics, and post-add answers
    # (re-warmed or not) equal the full rebuild
    idx.add(docs.where(F.col("doc_id") >= 250))
    assert idx._warm is None
    grown = [tuple(r) for r in idx.search("spark stream join").collect()]
    full = str(tmp_path / "full")
    want = [
        tuple(r)
        for r in Bm25Index.create(docs, full, n_buckets=16)
        .search("spark stream join")
        .collect()
    ]
    assert grown == want
    idx.warm()
    assert [tuple(r) for r in idx.search("spark stream join").collect()] == want
    idx.compact()
    assert idx._warm is None
    assert [tuple(r) for r in idx.search("spark stream join").collect()] == want


def test_warm_search_respects_hot_salting(spark, tmp_path):
    from flink_bm25_spark.api import Bm25Index

    docs = _skewed_docs(spark)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=8, hot_df_cap=50)
    plain = str(tmp_path / "plain")
    bm25_index_save(docs, plain, n_buckets=8)
    want = _topk(spark, plain, ("hotword", "other3"))
    idx = Bm25Index(spark, path).warm()
    assert idx._warm["read"].stats.salts.get("hotword") == 8
    got = [tuple(r) for r in idx.search("hotword other3").collect()]
    assert got == want


# --- task 8: forward section lockstep under STREAMED adds --------------------


def test_forward_lockstep_under_streaming_maintenance(spark, tmp_path):
    from flink_bm25_spark.streaming.index_maintenance import (
        maintain_index_stream,
    )

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    lo = docs.where(F.col("doc_id") < 250)
    bm25_index_save(lo, path, n_buckets=16)
    bm25_index_save_forward(lo, path)

    src = str(tmp_path / "src")
    cols = docs.columns
    docs.where((F.col("doc_id") >= 250) & (F.col("doc_id") < 375)).select(
        *cols
    ).coalesce(1).write.parquet(src)
    docs.where(F.col("doc_id") >= 375).select(*cols).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    def run():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        maintain_index_stream(stream, path, str(tmp_path / "ckpt"))

    run()
    # a streamed-in doc is point-readable, identical to the batch twin
    got = doc_vector_from_index(spark, path, 400).collect()
    assert len(got) == 1 and got[0]["terms"]
    batch_twin = str(tmp_path / "twin")
    bm25_index_save(docs, batch_twin, n_buckets=16)
    bm25_index_save_forward(docs, batch_twin)
    want = doc_vector_from_index(spark, batch_twin, 400).collect()
    assert got == want
    run()  # restart on the same checkpoint: still exactly one vector
    assert doc_vector_from_index(spark, path, 400).count() == 1
    n_fwd = spark.read.parquet(_sec(spark, path, "forward")).count()
    assert n_fwd == docs.count()


# --- IVF tier: unified maintenance discipline (r7) ----------------------------


def _ivf_fixture(spark, tmp_path, n_base=60):
    from flink_bm25_spark.operators.similarity import ivf_build, ivf_save
    from flink_bm25_spark.sources.tables import load_embeddings

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") < n_base)
    model, assigned = ivf_build(base, n_cells=4)
    path = str(tmp_path / "ivf")
    ivf_save(model, assigned, path)
    return emb, path


def _probe(spark, path, emb, k=10):
    from flink_bm25_spark.operators.similarity import ivf_topk_from_disk

    qvec = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    return [
        tuple(r)
        for r in ivf_topk_from_disk(spark, path, qvec, k=k, nprobe=4).collect()
    ]


def test_ivf_add_redelivery_is_noop(spark, tmp_path):
    from flink_bm25_spark.operators.similarity import ivf_add

    emb, path = _ivf_fixture(spark, tmp_path)
    new = emb.where(F.col("vec_id") >= 60)
    ivf_add(spark, path, new, batch_id=3)
    once = _probe(spark, path, emb)
    n_once = spark.read.parquet(_cells(spark, path)).count()
    ivf_add(spark, path, new, batch_id=3)  # at-least-once redelivery
    assert _probe(spark, path, emb) == once
    assert spark.read.parquet(_cells(spark, path)).count() == n_once


def test_ivf_compact_preserves_probes_and_folds(spark, tmp_path):
    from flink_bm25_spark.operators.similarity import ivf_add, ivf_compact

    emb, path = _ivf_fixture(spark, tmp_path)
    ivf_add(spark, path, emb.where((F.col("vec_id") >= 60) & (F.col("vec_id") < 80)))
    ivf_add(spark, path, emb.where(F.col("vec_id") >= 80))
    before = _probe(spark, path, emb)
    ivf_compact(spark, path)
    assert _probe(spark, path, emb) == before
    ids = {
        int(r["_batch_id"])
        for r in spark.read.parquet(_cells(spark, path)).select("_batch_id").distinct().collect()
    }
    assert ids == {0}


def test_ivf_streaming_maintenance_and_autocompact(spark, tmp_path):
    from flink_bm25_spark.streaming.index_maintenance import (
        STREAM_BATCH_BASE,
        maintain_ivf_stream,
    )

    emb, path = _ivf_fixture(spark, tmp_path)
    src = str(tmp_path / "src")
    for lo, hi in ((60, 75), (75, 90), (90, 10**9)):
        emb.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).coalesce(
            1
        ).write.mode("append").parquet(src)

    def run():
        stream = (
            spark.readStream.schema(emb.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        maintain_ivf_stream(
            stream, path, str(tmp_path / "ckpt"), compact_every=2
        )

    run()
    # stream result == batch adds of the same vectors
    from flink_bm25_spark.operators.similarity import ivf_add

    _, twin = _ivf_fixture(spark, tmp_path / "twin")
    ivf_add(spark, twin, emb.where(F.col("vec_id") >= 60))
    assert _probe(spark, path, emb) == _probe(spark, twin, emb)
    ids = {
        int(r["_batch_id"])
        for r in spark.read.parquet(_cells(spark, path)).select("_batch_id").distinct().collect()
    }
    assert len(ids) <= 3, ids
    run()  # restart on the same checkpoint: nothing re-added
    assert _probe(spark, path, emb) == _probe(spark, twin, emb)

    # fresh checkpoint over the used index is refused
    import pytest as _pytest

    stream = spark.readStream.schema(emb.schema).parquet(src)
    if max(ids) > STREAM_BATCH_BASE:
        with _pytest.raises(
            Exception,
            match="owned by streaming checkpoint|fresh streaming checkpoint",
        ):
            maintain_ivf_stream(stream, path, str(tmp_path / "ckpt2"))


def test_index_stats_reports_hot_and_tombstones(spark, tmp_path):
    from flink_bm25_spark.operators.serving import (
        bm25_index_delete,
        bm25_index_stats,
    )

    docs = _skewed_docs(spark)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=8, hot_df_cap=50)
    bm25_index_save_forward(docs, path)
    bm25_index_delete(spark, path, [1, 2, 3])
    prof = bm25_index_stats(spark, path).collect()
    assert prof and all(r["n_tombstoned"] == 3 for r in prof)
    assert sum(r["n_hot_terms"] for r in prof) >= 1  # hotword at its base bucket
    assert set(prof[0].asDict()) == {
        "bucket", "n_batches", "n_files", "n_postings", "n_terms",
        "n_hot_terms", "n_tombstoned",
    }


def test_stream_ownership_marker_closes_the_batch0_residual(spark, tmp_path):
    # The case batch ids alone cannot distinguish: an index whose ONLY
    # stream batch is id 0.  The ownership marker written at a stream's
    # first micro-batch makes a different checkpoint's attach an error,
    # and a full compaction releases ownership.
    import os

    from flink_bm25_spark.streaming.index_maintenance import (
        maintain_index_stream,
    )

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs.where(F.col("doc_id") < 250), path, n_buckets=16)
    src_a = str(tmp_path / "src_a")
    docs.where((F.col("doc_id") >= 250) & (F.col("doc_id") < 300)).coalesce(
        1
    ).write.parquet(src_a)

    def run(src, ckpt):
        stream = spark.readStream.schema(docs.schema).parquet(src)
        maintain_index_stream(stream, path, str(tmp_path / ckpt))

    run(src_a, "ckpt_a")  # one micro-batch: lands at BASE+0, marker written
    assert os.path.exists(f"{path}/_stream_owner")

    src_b = str(tmp_path / "src_b")
    docs.where(F.col("doc_id") >= 300).coalesce(1).write.parquet(src_b)
    with pytest.raises(Exception, match="owned by streaming checkpoint"):
        run(src_b, "ckpt_b")  # different checkpoint, batch 0: refused

    bm25_index_compact(spark, path)  # full fold releases ownership
    assert not os.path.exists(f"{path}/_stream_owner")
    run(src_b, "ckpt_b")  # now legal
    assert _topk(spark, path) == _topk_full_rebuild(spark, tmp_path, docs)


# --- upsert leg: versioned tombstones ----------------------------------------


def _with_replaced(spark, docs, doc_id, new_text):
    repl = spark.createDataFrame(
        [(int(doc_id), new_text)], "doc_id long, text string"
    )
    base = docs.select("doc_id", "text")
    return base.where(F.col("doc_id") != int(doc_id)).unionByName(repl)


def test_upsert_replaces_document_everywhere(spark, tmp_path):
    from flink_bm25_spark.operators.serving import (
        bm25_index_upsert,
        doc_vector_from_index,
    )

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    top_doc = int(_topk(spark, path)[0][0])

    new_text = "completely different replacement content xyzzy"
    repl = spark.createDataFrame(
        [(top_doc, new_text)], "doc_id long, text string"
    )
    bm25_index_upsert(repl, path)

    # ranking == a rebuild over the corpus with the doc's text replaced
    rebuilt = str(tmp_path / "rebuilt")
    bm25_index_save(
        _with_replaced(spark, docs, top_doc, new_text), rebuilt, n_buckets=16
    )
    assert _topk(spark, path) == _topk(spark, rebuilt)
    assert all(d != top_doc for d, _, _ in _topk(spark, path))

    # the point lookup serves exactly ONE row: the NEW vector
    rows = doc_vector_from_index(spark, path, top_doc).collect()
    assert len(rows) == 1
    words = {t["word"] for t in rows[0]["terms"]}
    assert "xyzzy" in words and "replacement" in words

    # n_docs unchanged: one doc out, one doc in
    n = spark.read.parquet(_sec(spark, path, "stats")).agg(
        F.sum("n_docs").alias("n")
    ).first()["n"]
    assert n == docs.count()

    # the new version is searchable by its new vocabulary
    hit = _topk(spark, path, ("xyzzy",), k=3)
    assert hit and hit[0][0] == top_doc


def test_upsert_redelivery_and_insert_if_absent(spark, tmp_path):
    from flink_bm25_spark.operators.serving import bm25_index_upsert

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    batch = spark.createDataFrame(
        [
            (3, "replacement three spark stream"),  # existing: replace
            (900001, "brand new document spark join"),  # absent: insert
        ],
        "doc_id long, text string",
    )
    bm25_index_upsert(batch, path, batch_id=5)
    once = _topk(spark, path)
    n_once = spark.read.parquet(_sec(spark, path, "stats")).agg(
        F.sum("n_docs").alias("n")
    ).first()["n"]
    bm25_index_upsert(batch, path, batch_id=5)  # at-least-once redelivery
    assert _topk(spark, path) == once
    n_twice = spark.read.parquet(_sec(spark, path, "stats")).agg(
        F.sum("n_docs").alias("n")
    ).first()["n"]
    assert n_twice == n_once == docs.count() + 1

    rebuilt = str(tmp_path / "rebuilt")
    corpus = _with_replaced(
        spark, docs, 3, "replacement three spark stream"
    ).unionByName(
        spark.createDataFrame(
            [(900001, "brand new document spark join")],
            "doc_id long, text string",
        )
    )
    bm25_index_save(corpus, rebuilt, n_buckets=16)
    assert once == _topk(spark, rebuilt)


def test_upsert_after_delete_resurrects(spark, tmp_path):
    from flink_bm25_spark.operators.serving import (
        bm25_index_delete,
        bm25_index_upsert,
        doc_vector_from_index,
    )

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    bm25_index_delete(spark, path, [3])
    assert doc_vector_from_index(spark, path, 3).count() == 0
    bm25_index_upsert(
        spark.createDataFrame(
            [(3, "resurrected document xyzzy")], "doc_id long, text string"
        ),
        path,
    )
    rows = doc_vector_from_index(spark, path, 3).collect()
    assert len(rows) == 1
    assert {t["word"] for t in rows[0]["terms"]} >= {"resurrected", "xyzzy"}
    n = spark.read.parquet(_sec(spark, path, "stats")).agg(
        F.sum("n_docs").alias("n")
    ).first()["n"]
    assert n == docs.count()  # -1 from the delete, +1 from the upsert


def test_upsert_then_compact_is_physical_and_stable(spark, tmp_path):
    import os

    from flink_bm25_spark.operators.serving import bm25_index_upsert

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    bm25_index_upsert(
        spark.createDataFrame(
            [(3, "replacement three xyzzy")], "doc_id long, text string"
        ),
        path,
    )
    want = _topk(spark, path)
    bm25_index_compact(spark, path)
    assert _topk(spark, path) == want
    assert not os.path.exists(_sec(spark, path, "deleted"))
    # exactly one physical version of the doc remains, the new one
    fwd = spark.read.parquet(_sec(spark, path, "forward")).where(F.col("doc_id") == 3)
    rows = fwd.collect()
    assert len(rows) == 1
    assert {t["word"] for t in rows[0]["terms"]} >= {"xyzzy"}
    assert _topk(spark, path, ("xyzzy",), k=1)[0][0] == 3
