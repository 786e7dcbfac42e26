"""Round-9 operational hardening — regression pins for the r8 ADVICE
findings: crash-redelivery of CDC micro-batch 0 must reapply (not
permanently fail the restart), the write stamp must be unique per write
even when two writers interleave, and ``warm()`` must record a stamp
read BEFORE the layout resolve (a compaction between the two reads cools
at the first search instead of pinning a superseded tree forever)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_bm25_spark.api import Bm25Index
from flink_bm25_spark.config import DEFAULT_QUERY_TERMS
from flink_bm25_spark.operators.serving import (
    STREAM_BATCH_BASE,
    STREAM_OWNER_FILE,
    _next_stamp,
    bm25_index_add,
    bm25_index_compact,
    bm25_index_delete,
    bm25_index_save,
    bm25_index_save_forward,
    bm25_index_upsert,
    bm25_topk_from_index,
    read_write_stamp,
)
from flink_bm25_spark.sources.tables import load_documents
from tests.conftest import SF_DIR

TERMS = DEFAULT_QUERY_TERMS


def _topk(spark, path, terms=TERMS, k=10):
    return [
        tuple(r)
        for r in bm25_topk_from_index(spark, path, terms, k=k).collect()
    ]


def _rebuild_want(spark, tmp_path, docs, name="want"):
    twin = str(tmp_path / name)
    bm25_index_save(docs, twin, n_buckets=16)
    return _topk(spark, twin)


def _write_cdc_batches(spark, src, batches):
    for rows in batches:
        spark.createDataFrame(
            rows, "op string, doc_id long, text string, seq long"
        ).coalesce(1).write.mode("append").parquet(src)


def _run_cdc(spark, src, path, ckpt, **kw):
    from flink_bm25_spark.streaming.index_maintenance import (
        maintain_index_cdc_stream,
    )

    stream = (
        spark.readStream.schema("op string, doc_id long, text string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    maintain_index_cdc_stream(stream, path, ckpt, **kw)


# --- CDC micro-batch 0 crash-redelivery ---------------------------------------


def test_cdc_batch0_crash_redelivery_reapplies(spark, tmp_path):
    """A crash between the first leg write and the checkpoint commit of
    micro-batch 0 redelivers it on EVERY restart; the ownership guard
    must recognize the marker as proof of ownership and let the
    idempotent overwrite reapply — not misread the redelivered batch's
    own BASE+1 leg as a foreign stream and fail forever."""
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    ckpt = str(tmp_path / "ckpt")

    # simulate the pre-crash half-applied micro-batch 0: the marker is
    # written (it commits before any leg), both legs landed under their
    # stable ids, but the checkpoint never committed (dir never created)
    from flink_bm25_spark.operators.serving import _fs_write_text

    _fs_write_text(spark, os.path.join(path, STREAM_OWNER_FILE), ckpt)
    dels = spark.createDataFrame([(2,), (4,)], "doc_id long")
    ups = spark.createDataFrame(
        [(6, "crash redelivered rewrite")], "doc_id long, text string"
    )
    bm25_index_delete(spark, path, dels, batch_id=STREAM_BATCH_BASE + 0)
    bm25_index_upsert(ups, path, batch_id=STREAM_BATCH_BASE + 1)

    # restart: the stream redelivers micro-batch 0 (fresh checkpoint dir
    # + the same ops) — must reapply idempotently, not raise
    src = str(tmp_path / "src")
    _write_cdc_batches(
        spark,
        src,
        [[
            ("delete", 2, None, 1),
            ("delete", 4, None, 2),
            ("upsert", 6, "crash redelivered rewrite", 3),
        ]],
    )
    _run_cdc(spark, src, path, ckpt)

    final = docs.where(~F.col("doc_id").isin(2, 4, 6)).select(
        "doc_id", "text"
    ).unionByName(ups)
    assert _topk(spark, path) == _rebuild_want(spark, tmp_path, final)


def test_cdc_foreign_checkpoint_still_refused_at_batch0(spark, tmp_path):
    # the redelivery fix must NOT weaken the foreign-checkpoint refusal
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    src = str(tmp_path / "src")
    _write_cdc_batches(spark, src, [[("delete", 2, None, 1)]])
    _run_cdc(spark, src, path, str(tmp_path / "ckpt_a"))
    with pytest.raises(Exception, match="owned by streaming checkpoint"):
        _run_cdc(spark, src, path, str(tmp_path / "ckpt_b"))


def test_ivf_cdc_batch0_crash_redelivery_reapplies(spark, tmp_path):
    """Same crash-window pin for the IVF CDC loop (its inline guard had
    the identical max-batch-id misread)."""
    from flink_bm25_spark.operators.serving import _fs_write_text
    from flink_bm25_spark.operators.similarity import (
        ivf_build,
        ivf_save,
        ivf_topk_from_disk,
        ivf_upsert,
    )
    from flink_bm25_spark.sources.tables import load_embeddings
    from flink_bm25_spark.streaming.index_maintenance import (
        maintain_ivf_cdc_stream,
    )

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") < 60)
    model, assigned = ivf_build(base, n_cells=4)
    path = str(tmp_path / "ivf")
    ivf_save(model, assigned, path)
    ckpt = str(tmp_path / "ckpt")

    new_vec = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    _fs_write_text(spark, os.path.join(path, STREAM_OWNER_FILE), ckpt)
    ivf_upsert(
        spark,
        path,
        spark.createDataFrame(
            [(3, new_vec)], "vec_id long, embedding array<float>"
        ),
        batch_id=STREAM_BATCH_BASE + 1,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("upsert", 3, new_vec, 1)],
        "op string, vec_id long, embedding array<float>, seq long",
    ).coalesce(1).write.parquet(src)
    stream = (
        spark.readStream.schema(
            "op string, vec_id long, embedding array<float>, seq long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    maintain_ivf_cdc_stream(stream, path, ckpt)  # must not raise

    got = ivf_topk_from_disk(spark, path, new_vec, k=5, nprobe=4).collect()
    assert len(got) == 5 and int(got[0]["vec_id"]) in (0, 3)


# --- write-stamp uniqueness under interleaved writers --------------------------


def test_next_stamp_is_unique_on_the_same_base():
    # two writers that both read counter base 5 still produce DISTINCT
    # stamps (the nonce), so a warm reader holding either pre-race value
    # sees a change no matter which write lands last
    a = _next_stamp("5-deadbeef")
    b = _next_stamp("5-deadbeef")
    assert a != b
    assert a.split("-")[0] == b.split("-")[0] == "6"
    assert _next_stamp(None).startswith("1-")
    # legacy plain-counter stamps parse
    assert _next_stamp("17").startswith("18-")


def test_interleaved_writers_never_reproduce_the_old_stamp(spark, tmp_path):
    docs = load_documents(spark, SF_DIR).limit(50)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=8)
    from flink_bm25_spark.operators.serving import (
        WRITE_STAMP_FILE,
        _fs_write_text,
    )

    stamp_file = os.path.join(path, WRITE_STAMP_FILE)
    s0 = read_write_stamp(spark, path)
    # simulate two sessions interleaving their read-modify-write on the
    # same base: both compute from s0, write in either order
    sa, sb = _next_stamp(s0), _next_stamp(s0)
    _fs_write_text(spark, stamp_file, sa)
    _fs_write_text(spark, stamp_file, sb)
    assert read_write_stamp(spark, path) not in (s0, sa)


# --- warm(): stamp read precedes layout resolve --------------------------------


def test_warm_pins_current_tree_when_compaction_races_the_resolve(
    spark, tmp_path, monkeypatch
):
    """Deterministic replay of the r8 ADVICE race: a compaction commits
    between warm()'s stamp read and its layout resolve.  The retry loop
    must leave the warm state pinned on the CURRENT tree with the
    CURRENT stamp — never the superseded tree under a post-flip stamp
    (which would serve stale files until GC turns it into
    file-not-found)."""
    import flink_bm25_spark.operators.serving as serving

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    want = _topk(spark, path)

    real_layout = serving._Layout
    fired = {"n": 0}

    class RacingLayout(real_layout):
        def __init__(self, sp, p, version=None):
            super().__init__(sp, p, version=version)
            # fire ONE compaction immediately AFTER the caller resolved
            # this (pre-fold) layout — the advised race window: under
            # the old stamp-after-layout order warm() would record the
            # post-flip stamp against the superseded tree and the guard
            # would never trip; the fixed order records a pre-flip stamp
            # and the post-pin re-verify retries onto the new tree
            if p == path and fired["n"] == 0:
                fired["n"] = 1
                bm25_index_compact(sp, p)

    monkeypatch.setattr(serving, "_Layout", RacingLayout)
    idx = Bm25Index(spark, path).warm()
    monkeypatch.setattr(serving, "_Layout", real_layout)

    assert fired["n"] == 1
    # warm survived the race pinned on the post-fold tree + stamp
    assert idx._warm is not None
    assert idx._warm["stamp"] == read_write_stamp(spark, path)
    assert idx._warm["read"].lay.sec("postings").startswith(os.path.join(path, "v1"))
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in idx.search(" ".join(TERMS)).collect()
    ]
    assert got == [(int(d), float(s)) for d, s, _ in want]
    idx.cool()


# --- writer lease: mutations must never vanish under a concurrent fold --------


def test_writer_lease_serializes_mutations_with_folds(spark, tmp_path):
    """The r8 verdict's top item: a CLI/second-session mutation racing a
    compaction must land in the surviving tree or fail loudly — never
    vanish into a GC'd superseded tree.  Zero-grace folds (the most
    aggressive reclaim) run concurrently with a stream of upserts; with
    the lease the two serialize, so EVERY upserted doc must be visible
    at the end."""
    import threading

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)

    errs = []
    n_ups = 6

    def mutate():
        try:
            for i in range(n_ups):
                batch = spark.createDataFrame(
                    [(9000 + i, f"racer document number {i} spark join")],
                    "doc_id long, text string",
                )
                bm25_index_upsert(batch, path)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def fold():
        try:
            for _ in range(3):
                bm25_index_compact(spark, path, gc_grace_seconds=0)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    ts = [threading.Thread(target=mutate), threading.Thread(target=fold)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs, errs
    # every racer doc survived whichever interleaving happened
    from flink_bm25_spark.operators.serving import doc_vector_from_index

    for i in range(n_ups):
        got = doc_vector_from_index(spark, path, 9000 + i).collect()
        assert got and got[0]["doc_id"] == 9000 + i, f"doc {9000+i} vanished"
    # and the lease file itself is released
    from flink_bm25_spark.operators.serving import WRITER_LOCK_FILE

    assert not os.path.exists(os.path.join(path, WRITER_LOCK_FILE))


def test_manifest_fence_raises_retryable_conflict_for_legacy_writer(
    spark, tmp_path
):
    """Belt-and-braces behind the lease: a NON-locking (legacy) fold
    flipping the manifest mid-mutation must surface as the retryable
    conflict, and the retry (same batch id) must converge."""
    from flink_bm25_spark.operators.serving import (
        MANIFEST_PREFIX,
        IndexWriteConflict,
        _fs_write_text,
    )
    import flink_bm25_spark.operators.serving as serving

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs.where(F.col("doc_id") < 250), path, n_buckets=16)

    real = serving._write_index_batch
    fake_manifest = os.path.join(path, f"{MANIFEST_PREFIX}99")

    def flip_after_write(*a, **k):
        out = real(*a, **k)
        _fs_write_text(spark, fake_manifest, "{}")  # the legacy fold's flip
        return out

    serving._write_index_batch = flip_after_write
    try:
        with pytest.raises(IndexWriteConflict, match="retry"):
            bm25_index_add(
                docs.where(
                    (F.col("doc_id") >= 250) & (F.col("doc_id") < 300)
                ),
                path,
                batch_id=7,
            )
    finally:
        serving._write_index_batch = real
    os.remove(fake_manifest)  # the "legacy fold" is undone in this replay
    # the conflict did NOT stamp success; the retry converges
    bm25_index_add(
        docs.where((F.col("doc_id") >= 250) & (F.col("doc_id") < 300)),
        path,
        batch_id=7,
    )
    want = _rebuild_want(
        spark, tmp_path, docs.where(F.col("doc_id") < 300)
    )
    assert _topk(spark, path) == want


def test_writer_lock_timeout_and_ttl_break(spark, tmp_path):
    import threading
    import time

    from flink_bm25_spark.operators.serving import (
        WRITER_LOCK_FILE,
        _writer_lock,
    )

    path = str(tmp_path / "idx")
    os.makedirs(path, exist_ok=True)
    lock = os.path.join(path, WRITER_LOCK_FILE)

    hold = threading.Event()
    release = threading.Event()

    def holder():
        with _writer_lock(spark, path):
            hold.set()
            release.wait(timeout=20)

    t = threading.Thread(target=holder)
    t.start()
    assert hold.wait(timeout=10)
    # a FRESH lease is respected: the waiter times out
    t0 = time.monotonic()
    with pytest.raises(TimeoutError, match="writer lease"):
        with _writer_lock(spark, path, timeout_s=0.5):
            pass
    assert time.monotonic() - t0 < 10
    release.set()
    t.join()
    assert not os.path.exists(lock)  # released on exit

    # an ABANDONED lease (older than ttl) is broken and re-acquired
    with open(lock, "w") as fh:
        fh.write("dead:process")
    old = time.time() - 3600
    os.utime(lock, (old, old))
    with _writer_lock(spark, path, timeout_s=5, ttl_s=60):
        with open(lock) as fh:
            assert fh.read() != "dead:process"
    assert not os.path.exists(lock)


# --- standalone GC -------------------------------------------------------------


def test_standalone_gc_reclaims_fold_once_serve_forever(spark, tmp_path):
    from flink_bm25_spark.operators.serving import bm25_index_gc

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    want = _topk(spark, path)
    bm25_index_compact(spark, path)  # fold once: v1 live, bare v0 retained
    assert os.path.isdir(f"{path}/postings")
    # within grace nothing is reclaimed (readers may still hold v0)
    assert bm25_index_gc(spark, path, grace_seconds=3600) == 0
    assert os.path.isdir(f"{path}/postings")
    # after grace the superseded bare tree goes away — no second fold
    reclaimed = bm25_index_gc(spark, path, grace_seconds=0)
    assert reclaimed >= 1
    assert not os.path.isdir(f"{path}/postings")
    assert os.path.isdir(f"{path}/v1/postings")
    assert _topk(spark, path) == want
    # idempotent: a second gc finds nothing
    assert bm25_index_gc(spark, path, grace_seconds=0) == 0


def test_ivf_standalone_gc(spark, tmp_path):
    from flink_bm25_spark.operators.similarity import (
        ivf_build,
        ivf_compact,
        ivf_gc,
        ivf_save,
        ivf_topk_from_disk,
    )
    from flink_bm25_spark.sources.tables import load_embeddings

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    model, assigned = ivf_build(emb.where(F.col("vec_id") < 60), n_cells=4)
    path = str(tmp_path / "ivf")
    ivf_save(model, assigned, path)
    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    want = [tuple(r) for r in ivf_topk_from_disk(spark, path, q, k=5, nprobe=4).collect()]
    ivf_compact(spark, path)
    assert os.path.isdir(f"{path}/cells")
    ivf_gc(spark, path, grace_seconds=0)
    assert not os.path.isdir(f"{path}/cells")
    assert os.path.isdir(f"{path}/v1/cells")
    got = [tuple(r) for r in ivf_topk_from_disk(spark, path, q, k=5, nprobe=4).collect()]
    assert got == want


# --- CDC control overhead: ONE driver-blocking job beyond the legs ------------


def test_cdc_control_overhead_is_one_job(spark, tmp_path, monkeypatch):
    """With the legs stubbed out, each micro-batch's driver-blocking
    control work is exactly ONE collect (the unioned leg-counts +
    tombstone-gauge aggregate) — the r8 loop paid a count() plus two
    isEmpty() probes on top."""
    import flink_bm25_spark.streaming.index_maintenance as im

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    # one tombstone so the gauge relation exists (rides the same job)
    bm25_index_delete(spark, path, [1])

    calls = {"collect": 0, "count": 0, "isEmpty": 0, "first": 0}
    # the CONCRETE class (pyspark 4 keeps pyspark.sql.DataFrame abstract)
    from pyspark.sql.classic.dataframe import DataFrame as DF

    for name in calls:
        real = getattr(DF, name)

        def wrap(self, *a, _real=real, _name=name, **k):
            calls[_name] += 1
            return _real(self, *a, **k)

        monkeypatch.setattr(DF, name, wrap)

    monkeypatch.setattr(im, "bm25_index_delete", lambda *a, **k: None)
    monkeypatch.setattr(im, "bm25_index_upsert", lambda *a, **k: None)
    monkeypatch.setattr(im, "bm25_index_compact", lambda *a, **k: None)

    src = str(tmp_path / "src")
    _write_cdc_batches(
        spark,
        src,
        [
            [("upsert", 10, "batch zero text", 1), ("delete", 11, None, 2)],
            [("delete", 12, None, 3)],
            [("upsert", 13, "batch two text", 4)],
        ],
    )
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs_before = store.jobsList(None).size()
    _run_cdc(
        spark, src, path, str(tmp_path / "ckpt"), compact_tombstones=100
    )
    jobs_after = store.jobsList(None).size()

    n_batches = 3
    # exactly one collect per micro-batch (the control aggregate), and
    # zero count/isEmpty probes; batch 0 additionally pays the ownership
    # claim's first() over the stats relation (which routes through one
    # nested collect of its own)
    assert calls["collect"] == n_batches + calls["first"], calls
    assert calls["count"] == 0 and calls["isEmpty"] == 0, calls
    assert calls["first"] <= 1, calls
    # Secondary Spark-job ceiling (statusStore): measured 8/batch with
    # legs stubbed (checkpoint + control collect's AQE stage-jobs +
    # streaming machinery); a regression to per-probe control jobs adds
    # 3+ driver-blocking jobs per batch and blows through this
    assert jobs_after - jobs_before <= 9 * n_batches + 2, (
        jobs_after - jobs_before
    )


def test_cdc_gc_tick_reclaims_superseded_tree(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    bm25_index_compact(spark, path)  # v1 live, bare v0 in grace
    assert os.path.isdir(f"{path}/postings")
    src = str(tmp_path / "src")
    _write_cdc_batches(spark, src, [[("delete", 2, None, 1)]])
    _run_cdc(
        spark, src, path, str(tmp_path / "ckpt"), gc_grace_seconds=0
    )
    # the tick reclaimed the superseded bare tree mid-stream — no fold ran
    assert not os.path.isdir(f"{path}/postings")
    assert os.path.isdir(f"{path}/v1/postings")
    final = docs.where(F.col("doc_id") != 2).select("doc_id", "text")
    assert _topk(spark, path) == _rebuild_want(spark, tmp_path, final)


# --- IVF drift: staleness gauge + retrain ---------------------------------------


def test_ivf_stats_staleness_gauge(spark, tmp_path):
    from flink_bm25_spark.operators.similarity import (
        ivf_build,
        ivf_compact,
        ivf_retrain,
        ivf_save,
        ivf_stats,
        ivf_upsert,
    )
    from flink_bm25_spark.sources.tables import load_embeddings

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") < 60)
    model, assigned = ivf_build(base, n_cells=4)
    path = str(tmp_path / "ivf")
    ivf_save(model, assigned, path)
    s0 = ivf_stats(spark, path).first()
    assert s0["n_vectors"] == 60 and s0["n_stale"] == 0
    assert s0["staleness"] == 0.0

    # churn half the corpus: replacement vectors are post-train
    churn = emb.where(F.col("vec_id") < 30).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    ivf_upsert(spark, path, churn)
    s1 = ivf_stats(spark, path).first()
    assert s1["n_vectors"] == 60 and s1["n_stale"] == 30
    assert abs(s1["staleness"] - 0.5) < 1e-9

    # the gauge SURVIVES compaction (post_train rides the fold)
    ivf_compact(spark, path)
    s2 = ivf_stats(spark, path).first()
    assert s2["n_stale"] == 30 and abs(s2["staleness"] - 0.5) < 1e-9

    # retrain resets it
    ivf_retrain(spark, path)
    s3 = ivf_stats(spark, path).first()
    assert s3["n_vectors"] == 60 and s3["n_stale"] == 0
    assert s3["staleness"] == 0.0


def test_ivf_retrain_restores_recall_after_full_churn(spark, tmp_path):
    """The model-refresh scenario the r8 verdict flagged: re-embedding
    replaces EVERY vector; frozen centroids quantize the new
    distribution badly and recall@10 decays silently.  Retrain must
    restore it to (at least) the frozen level, and the gauge must have
    told the story."""
    from flink_bm25_spark.operators.similarity import (
        cosine_topk,
        ivf_build,
        ivf_retrain,
        ivf_save,
        ivf_stats,
        ivf_topk_from_disk,
        ivf_upsert,
    )
    from flink_bm25_spark.sources.tables import load_embeddings

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") < 120)
    model, assigned = ivf_build(base, n_cells=8)
    path = str(tmp_path / "ivf")
    ivf_save(model, assigned, path)

    # "new model": reversed dimensions — same norms, different geometry
    churned = base.select(
        "vec_id", F.reverse("embedding").alias("embedding")
    ).localCheckpoint(eager=True)
    ivf_upsert(spark, path, churned)
    assert ivf_stats(spark, path).first()["staleness"] == 1.0

    qrows = churned.where(F.col("vec_id") % 17 == 0).collect()

    def recall(probe_path):
        hits = 0
        for r in qrows:
            qv = [float(x) for x in r["embedding"]]
            want = {
                int(x["vec_id"])
                for x in cosine_topk(churned, qv, k=10).collect()
            }
            got = {
                int(x["vec_id"])
                for x in ivf_topk_from_disk(
                    spark, probe_path, qv, k=10, nprobe=2
                ).collect()
            }
            hits += len(want & got)
        return hits / (10 * len(qrows))

    frozen = recall(path)
    ivf_retrain(spark, path)
    assert ivf_stats(spark, path).first()["staleness"] == 0.0
    retrained = recall(path)
    assert retrained >= frozen
    # retrained quantizer at nprobe=2 must be decent on its own terms
    assert retrained >= 0.6, (frozen, retrained)


def test_ivf_cdc_retrain_trigger_fires_and_reclaims_ownership(
    spark, tmp_path
):
    from flink_bm25_spark.operators.similarity import (
        ivf_build,
        ivf_save,
        ivf_stats,
        ivf_topk_from_disk,
    )
    from flink_bm25_spark.sources.tables import load_embeddings
    from flink_bm25_spark.streaming.index_maintenance import (
        maintain_ivf_cdc_stream,
    )

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") < 60)
    model, assigned = ivf_build(base, n_cells=4)
    path = str(tmp_path / "ivf")
    ivf_save(model, assigned, path)

    # two micro-batches of churn (30 + 30 = 100% replaced); the trigger
    # must fire once staleness crosses 0.5
    src = str(tmp_path / "src")
    for lo in (0, 30):
        rows = [
            (
                "upsert",
                int(r["vec_id"]),
                [float(x) for x in reversed(r["embedding"])],
                int(r["vec_id"]) + lo + 1,
            )
            for r in base.where(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 30)
            ).collect()
        ]
        spark.createDataFrame(
            rows, "op string, vec_id long, embedding array<float>, seq long"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(
            "op string, vec_id long, embedding array<float>, seq long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ckpt = str(tmp_path / "ckpt")
    maintain_ivf_cdc_stream(stream, path, ckpt, retrain_staleness=0.5)

    s = ivf_stats(spark, path).first()
    assert s["n_vectors"] == 60
    # the trigger fired at micro-batch 1 (staleness hit 0.5), so only
    # batch 1's leg remains post-train
    assert s["staleness"] <= 0.5 + 1e-9
    # ownership was re-claimed after the in-place rebuild
    assert os.path.exists(os.path.join(path, STREAM_OWNER_FILE))
    with open(os.path.join(path, STREAM_OWNER_FILE)) as fh:
        assert fh.read() == ckpt
    # and the index still answers
    q = [float(x) for x in reversed(base.orderBy("vec_id").first()["embedding"])]
    got = ivf_topk_from_disk(spark, path, q, k=5, nprobe=4).collect()
    assert len(got) == 5


def test_full_rebuild_truncates_under_leaked_dynamic_mode(spark, tmp_path):
    """A session left in dynamic partition-overwrite mode (any streaming
    sink's setting, or a user's own) must not change full-rebuild
    semantics: ivf_save over an existing index is a truncating rewrite —
    under leaked dynamic mode a bare overwrite would keep every old
    batch partition and resurrect superseded/tombstoned vectors."""
    from flink_bm25_spark.operators.similarity import (
        ivf_build,
        ivf_retrain,
        ivf_save,
        ivf_stats,
        ivf_upsert,
    )
    from flink_bm25_spark.sources.tables import load_embeddings
    from tests.conftest import SF_DIR as _SF

    emb = load_embeddings(spark, _SF).select("vec_id", "embedding").limit(60)
    path = str(tmp_path / "ivf")
    model, assigned = ivf_build(emb, n_cells=4, seed=7)
    ivf_save(model, assigned, path)
    churn = emb.where(F.col("vec_id") < 30).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    ivf_upsert(spark, path, churn)

    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        ivf_retrain(spark, path)  # full rebuild via ivf_save
        s = ivf_stats(spark, path).first()
        assert s["n_vectors"] == 60 and s["n_stale"] == 0
        assert s["n_tombstoned"] == 0
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
