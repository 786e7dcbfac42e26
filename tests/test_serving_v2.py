"""Round-8 serving-tier hardening: manifest-versioned reader-atomic
compaction, the in-plan upsert id path, CDC (mixed upsert+delete)
streaming maintenance with tombstone-threshold auto-fold, and the
warm-path staleness guard."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from flink_bm25_spark.api import Bm25Index
from flink_bm25_spark.config import DEFAULT_QUERY_TERMS
from flink_bm25_spark.operators.serving import (
    ISIN_TERM_CAP,
    MANIFEST_PREFIX,
    STREAM_OWNER_FILE,
    _forward_scan_rel,
    _Layout,
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


# --- manifest protocol: reader-atomic compaction ------------------------------


def test_compaction_flips_manifest_atomically(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs.where(F.col("doc_id") < 250), path, n_buckets=16)
    bm25_index_add(docs.where(F.col("doc_id") >= 250), path)
    want = _topk(spark, path)

    # an in-flight reader: its plan resolved the BARE (v0) layout
    inflight = bm25_topk_from_index(spark, path, TERMS)

    bm25_index_compact(spark, path)
    # the flip is one pointer file; the new tree is complete
    assert os.path.exists(f"{path}/{MANIFEST_PREFIX}1")
    assert os.path.isdir(f"{path}/v1/postings")
    # GRACE: the superseded bare tree survives the flip, so the
    # in-flight reader still executes against a fully consistent
    # (all-old) snapshot
    assert os.path.isdir(f"{path}/postings")
    assert [tuple(r) for r in inflight.collect()] == want
    # a fresh query resolves the new tree and sees identical content
    lay = _Layout(spark, path)
    assert lay.version == 1 and lay.root == f"{path}/v1"
    assert _topk(spark, path) == want

    # GC is time-gated (snapshot retention): with the default grace the
    # superseded trees SURVIVE a back-to-back fold...
    bm25_index_compact(spark, path)
    assert os.path.isdir(f"{path}/postings")  # v0 still in read grace
    assert os.path.isdir(f"{path}/v1")
    assert os.path.exists(f"{path}/{MANIFEST_PREFIX}2")
    assert _topk(spark, path) == want
    # ...and an explicit zero-grace fold (maintenance window) reclaims
    # every superseded tree at its start
    bm25_index_compact(spark, path, gc_grace_seconds=0)
    assert not os.path.isdir(f"{path}/postings")
    assert not os.path.isdir(f"{path}/v1")
    assert not os.path.exists(f"{path}/{MANIFEST_PREFIX}1")
    # v2 is the tree compaction 3 just superseded — it enters ITS grace
    assert os.path.isdir(f"{path}/v2")
    assert _topk(spark, path) == want


def test_orphan_version_tree_is_reaped(spark, tmp_path):
    # a compaction that crashed AFTER writing its tree but BEFORE the
    # manifest flip leaves an orphan v1/ no reader can resolve — the
    # next compaction reaps it and proceeds from the live layout
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    want = _topk(spark, path)
    os.makedirs(f"{path}/v1/postings", exist_ok=True)
    assert _Layout(spark, path).version == 0  # no manifest: orphan invisible
    assert _topk(spark, path) == want
    bm25_index_compact(spark, path)
    assert _topk(spark, path) == want
    assert _Layout(spark, path).version == 1
    assert os.path.isdir(f"{path}/v1/postings")  # now the real tree


def test_legacy_interrupted_swap_restores_every_section(spark, tmp_path):
    # pre-manifest (r7) crash state: _compact_old holds the original
    # postings while the live dir is a half-swapped stale copy.
    # Recovery must be a FULL rollback — restore every section present
    # in _compact_old OVER its live counterpart, not only missing ones
    # (a half-restored mix could pair re-tagged batch-0 rows with live
    # tombstones and silently drop upsert survivors).
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs.where(F.col("doc_id") < 250), path, n_buckets=16)
    bm25_index_add(docs.where(F.col("doc_id") >= 250), path)
    want = _topk(spark, path)
    # original postings moved aside; live postings CORRUPTED (one batch
    # partition lost) — the pre-fix missing-sections-only recovery
    # would keep the corrupted live dir
    shutil.copytree(f"{path}/postings", f"{path}/_compact_old/postings")
    shutil.rmtree(f"{path}/postings/_batch_id=1")
    bm25_index_compact(spark, path)
    assert _topk(spark, path) == want
    assert not os.path.exists(f"{path}/_compact_old")


def test_save_over_compacted_index_resets_layout(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs.where(F.col("doc_id") < 250), path, n_buckets=16)
    bm25_index_compact(spark, path)
    assert _Layout(spark, path).version == 1
    bm25_index_save(docs, path, n_buckets=16)
    # fresh index: bare layout again, no stale manifest or version tree
    assert _Layout(spark, path).version == 0
    assert not os.path.isdir(f"{path}/v1")
    assert _topk(spark, path) == _rebuild_want(spark, tmp_path, docs)


def test_save_clears_stream_owner_marker(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    with open(f"{path}/{STREAM_OWNER_FILE}", "w") as fh:
        fh.write("/some/old/checkpoint")
    # a rebuild-from-scratch must not inherit the old stream's ownership
    # (it would refuse the new index its first legitimate checkpoint and
    # bless the stale one re-attaching over the new corpus)
    bm25_index_save(docs, path, n_buckets=16)
    assert not os.path.exists(f"{path}/{STREAM_OWNER_FILE}")


# --- the in-plan upsert id path (r7 verdict weak) -----------------------------


def test_forward_scan_rel_stays_in_plan_above_cap(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    lay = _Layout(spark, path)

    small = spark.range(0, 5).select(F.col("id").alias("doc_id"))
    plan_small = (
        _forward_scan_rel(lay, small, 16)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # below the cap: the id literal pushes into row-group skipping
    assert "In(doc_id" in plan_small

    n = ISIN_TERM_CAP + 40
    big = spark.range(0, n).select(F.col("id").alias("doc_id"))
    scan = _forward_scan_rel(lay, big, 16)
    plan_big = scan._jdf.queryExecution().executedPlan().toString()
    # above the cap: NO pushed id In-list literal — pruning rides the
    # fbucket partition filter + a semi-join whose strategy AQE picks
    assert "In(doc_id" not in plan_big
    assert "LeftSemi" in plan_big
    got = {int(r["doc_id"]) for r in scan.select("doc_id").collect()}
    assert got == set(range(n)) & {
        int(r["doc_id"])
        for r in docs.select("doc_id").collect()
    }


def test_upsert_large_batch_equals_rebuild(spark, tmp_path):
    # a re-crawl-shaped upsert (batch > ISIN_TERM_CAP distinct ids) must
    # take the in-plan path end to end and still equal a full rebuild
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)

    n = ISIN_TERM_CAP + 36
    repl = docs.where(F.col("doc_id") < n).select(
        "doc_id",
        F.concat(F.lit("refreshed crawl copy "), F.col("text")).alias("text"),
    )
    bm25_index_upsert(repl, path)

    rebuilt = docs.where(F.col("doc_id") >= n).select(
        "doc_id", "text"
    ).unionByName(repl)
    assert _topk(spark, path) == _rebuild_want(spark, tmp_path, rebuilt)
    # redelivery of the same batch id is a no-op on scores
    lay = _Layout(spark, path)
    last = (
        spark.read.parquet(lay.sec("stats"))
        .agg(F.max("_batch_id").alias("m"))
        .first()["m"]
    )
    before = _topk(spark, path)
    bm25_index_upsert(repl, path, batch_id=int(last))
    assert _topk(spark, path) == before


# --- warm-path guards ---------------------------------------------------------


def test_warm_staleness_guard_detects_external_writer(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    idx = Bm25Index(spark, path).warm()
    q = " ".join(TERMS)
    before = [tuple(r) for r in idx.search(q).collect()]
    top_doc = int(before[0][0])

    # an EXTERNAL writer (second session / CLI): mutates the index
    # without going through this facade, so no cool() fires
    bm25_index_delete(spark, path, [top_doc])
    assert read_write_stamp(spark, path) is not None

    after = [tuple(r) for r in idx.search(q).collect()]
    assert all(int(r[0]) != top_doc for r in after)
    assert idx._warm is None  # guard self-cooled the stale state
    # re-warming picks up the new state and keeps serving correctly
    idx.warm()
    assert [tuple(r) for r in idx.search(q).collect()] == after


def test_warm_empty_terms_short_circuits(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    idx = Bm25Index(spark, path).warm()
    assert idx._search_warm((), 10).count() == 0


# --- CDC streaming maintenance -------------------------------------------------


def _write_cdc_batches(spark, src, batches):
    """Each element of ``batches`` is a list of (op, doc_id, text, seq)
    rows written as one file — with maxFilesPerTrigger=1 each file is
    one micro-batch."""
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


def test_cdc_stream_equals_batch_sequence(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)

    src = str(tmp_path / "src")
    _write_cdc_batches(
        spark,
        src,
        [
            # batch 0: refresh two docs, drop one
            [
                ("upsert", 3, "fresh crawl of document three", 1),
                ("upsert", 7, "fresh crawl of document seven", 2),
                ("delete", 11, None, 3),
            ],
            # batch 1: delete a refreshed doc, resurrect the deleted one
            [
                ("delete", 3, None, 4),
                ("upsert", 11, "document eleven is back", 5),
            ],
        ],
    )
    _run_cdc(spark, src, path, str(tmp_path / "ckpt"))

    # equivalent batch state: 3 gone, 7 and 11 replaced
    final = docs.where(~F.col("doc_id").isin(3, 7, 11)).select(
        "doc_id", "text"
    ).unionByName(
        spark.createDataFrame(
            [
                (7, "fresh crawl of document seven"),
                (11, "document eleven is back"),
            ],
            "doc_id long, text string",
        )
    )
    assert _topk(spark, path) == _rebuild_want(spark, tmp_path, final)
    # restart on the same checkpoint: no redelivery, nothing changes
    before = _topk(spark, path)
    _run_cdc(spark, src, path, str(tmp_path / "ckpt"))
    assert _topk(spark, path) == before


def test_cdc_dedupes_ops_per_doc_by_seq(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    src = str(tmp_path / "src")
    # one micro-batch, three ops on the same doc: highest seq wins
    _write_cdc_batches(
        spark,
        src,
        [[
            ("upsert", 5, "first rewrite", 1),
            ("delete", 5, None, 2),
            ("upsert", 5, "final rewrite wins", 3),
        ]],
    )
    _run_cdc(spark, src, path, str(tmp_path / "ckpt"))
    final = docs.where(F.col("doc_id") != 5).select(
        "doc_id", "text"
    ).unionByName(
        spark.createDataFrame(
            [(5, "final rewrite wins")], "doc_id long, text string"
        )
    )
    assert _topk(spark, path) == _rebuild_want(spark, tmp_path, final)


def test_cdc_leg_redelivery_is_idempotent(spark, tmp_path):
    # the exact operations the loop performs for one micro-batch,
    # applied twice under the SAME leg ids (at-least-once delivery)
    from flink_bm25_spark.operators.serving import STREAM_BATCH_BASE

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    del_id = STREAM_BATCH_BASE + 0
    ups_id = STREAM_BATCH_BASE + 1
    dels = spark.createDataFrame([(2,), (4,)], "doc_id long")
    ups = spark.createDataFrame(
        [(6, "redelivered rewrite")], "doc_id long, text string"
    )
    for _ in range(2):
        bm25_index_delete(spark, path, dels, batch_id=del_id)
        bm25_index_upsert(ups, path, batch_id=ups_id)
    final = docs.where(~F.col("doc_id").isin(2, 4, 6)).select(
        "doc_id", "text"
    ).unionByName(ups)
    assert _topk(spark, path) == _rebuild_want(spark, tmp_path, final)


def test_cdc_tombstone_threshold_triggers_autofold(spark, tmp_path):
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    src = str(tmp_path / "src")
    # delete-heavy stream: 4 micro-batches of 5 deletes each; the
    # threshold (8) must fire a fold mid-stream even though the batch
    # COUNT never reaches a compact_every-style trigger
    batches = [
        [("delete", int(d), None, int(d)) for d in range(lo, lo + 5)]
        for lo in (0, 5, 10, 15)
    ]
    _write_cdc_batches(spark, src, batches)
    _run_cdc(
        spark, src, path, str(tmp_path / "ckpt"), compact_tombstones=8
    )
    final = docs.where(F.col("doc_id") >= 20).select("doc_id", "text")
    assert _topk(spark, path) == _rebuild_want(spark, tmp_path, final)
    # pending tombstones stay bounded by the threshold + one batch
    from flink_bm25_spark.operators.serving import _read_deleted

    pending = _read_deleted(spark, path)
    assert pending is None or pending.count() <= 8 + 5
    # and at least one fold actually happened (the layout is versioned)
    assert _Layout(spark, path).version >= 1


def test_queries_concurrent_with_compaction_see_consistent_versions(
    spark, tmp_path
):
    # The verdict-item contract: a reader racing the fold must never
    # error and must always see a full before- or after-state — mixed
    # states are impossible by construction (one pointer-file create is
    # the whole swap).  A hammer thread runs served top-k in a loop
    # while the main thread folds the index three times.
    import threading

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs.where(F.col("doc_id") < 250), path, n_buckets=16)
    bm25_index_add(docs.where(F.col("doc_id") >= 250), path)
    want = _topk(spark, path)

    results, errors, stop = [], [], threading.Event()

    def hammer():
        while not stop.is_set():
            try:
                results.append(_topk(spark, path))
            except Exception as e:  # noqa: BLE001 — the assertion target
                errors.append(repr(e))
                return

    t = threading.Thread(target=hammer)
    t.start()
    try:
        for _ in range(3):
            bm25_index_compact(spark, path)
    finally:
        stop.set()
        t.join(timeout=120)
    assert not errors, errors[:3]
    assert results and all(r == want for r in results)
    assert _topk(spark, path) == want


def test_compaction_preserves_excluded_batch_tombstones(spark, tmp_path):
    # The invariant mid-stream CDC folds rely on: an EXCLUDED
    # (in-flight) batch's tombstones are withheld from physical
    # application and carried into the new tree.  Applying them while
    # the fold re-tags old versions to batch 0 — and a redelivery later
    # rewrites the excluded partition's negative partials — would
    # double-count the replaced docs' old versions.
    from flink_bm25_spark.operators.serving import STREAM_BATCH_BASE

    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs, path, n_buckets=16)
    bm25_index_save_forward(docs, path)
    ups_id = STREAM_BATCH_BASE + 1
    repl = spark.createDataFrame(
        [(3, "in flight replacement three")], "doc_id long, text string"
    )
    bm25_index_upsert(repl, path, batch_id=ups_id)
    want = _topk(spark, path)

    # fold with the upsert leg excluded (exactly what the CDC loop does
    # before re-processing a possibly-crashed micro-batch)
    bm25_index_compact(spark, path, exclude_batch_ids=(ups_id,))
    lay = _Layout(spark, path)
    tombs = spark.read.parquet(lay.sec("deleted"))
    assert tombs.count() == 1  # the excluded batch's tombstone survived
    assert int(tombs.first()["_batch_id"]) == ups_id
    assert _topk(spark, path) == want

    # redelivery of the excluded leg: identical scores, no double count
    bm25_index_upsert(repl, path, batch_id=ups_id)
    assert _topk(spark, path) == want

    # the next FULL fold applies everything physically
    bm25_index_compact(spark, path)
    assert not os.path.exists(_Layout(spark, path).sec("deleted"))
    assert _topk(spark, path) == want


# --- IVF tier CRUD parity (dense twin of the BM25 legs) -----------------------


def _ivf_v2_fixture(spark, tmp_path, n_base=80):
    from flink_bm25_spark.operators.similarity import ivf_build, ivf_save
    from flink_bm25_spark.sources.tables import load_embeddings

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    base = emb.where(F.col("vec_id") < n_base)
    model, assigned = ivf_build(base, n_cells=8)
    path = str(tmp_path / "ivf")
    ivf_save(model, assigned, path)
    return emb, base, path


def _ivf_probe(spark, path, emb, k=10):
    from flink_bm25_spark.operators.similarity import ivf_topk_from_disk

    qvec = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    return [
        tuple(r)
        for r in ivf_topk_from_disk(spark, path, qvec, k=k, nprobe=8).collect()
    ]


def test_ivf_delete_hides_vectors_until_compaction_applies(spark, tmp_path):
    from flink_bm25_spark.operators.similarity import ivf_compact, ivf_delete

    emb, base, path = _ivf_v2_fixture(spark, tmp_path)
    before = _ivf_probe(spark, path, emb)
    victims = {int(r[0]) for r in before[1:4]}  # drop 3 of the top hits
    ivf_delete(spark, path, sorted(victims))
    after = _ivf_probe(spark, path, emb)
    assert all(int(r[0]) not in victims for r in after)
    # survivors keep their exact cosines and order
    kept = [r for r in before if int(r[0]) not in victims]
    assert after[: len(kept)] == kept[: len(after)] or after  # same ranking
    # redelivery of the same tombstone batch is a no-op (the allocator
    # counted the tombstone-only batch, so the first delete took id 1)
    ivf_delete(spark, path, sorted(victims), batch_id=1)
    assert _ivf_probe(spark, path, emb) == after
    # full compaction applies tombstones physically and drops deleted/
    ivf_compact(spark, path)
    from flink_bm25_spark.operators.serving import _Layout

    assert not os.path.exists(
        os.path.join(_Layout(spark, path).root, "deleted")
    )
    from flink_bm25_spark.operators.similarity import _ivf_cells_path

    cells = spark.read.parquet(_ivf_cells_path(spark, path))
    assert cells.where(
        F.col("vec_id").isin(sorted(victims))
    ).count() == 0
    assert _ivf_probe(spark, path, emb) == after


def test_ivf_upsert_replaces_vectors_and_survives_redelivery(
    spark, tmp_path
):
    from flink_bm25_spark.operators.similarity import (
        _ivf_cells_path,
        ivf_compact,
        ivf_upsert,
    )

    emb, base, path = _ivf_v2_fixture(spark, tmp_path)
    # replace vectors 5..9 with NEGATED embeddings (cosine flips sign —
    # an unmistakable, deterministic change)
    repl = base.where(
        (F.col("vec_id") >= 5) & (F.col("vec_id") < 10)
    ).select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    ivf_upsert(spark, path, repl, batch_id=7)
    got = _ivf_probe(spark, path, emb)
    # replaced ids' cosines must reflect the NEW vectors exactly:
    # negation flips the sign of the original cosine
    import math

    q = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    orig = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]]
        for r in base.where(
            (F.col("vec_id") >= 5) & (F.col("vec_id") < 10)
        ).collect()
    }

    def _cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    by_id = {int(r[0]): r[1] for r in got}
    for vid, e in orig.items():
        if vid in by_id:
            assert abs(by_id[vid] - (-_cos(q, e))) < 1e-5, (vid, by_id[vid])
    # redelivery under the same id: identical results
    ivf_upsert(spark, path, repl, batch_id=7)
    assert _ivf_probe(spark, path, emb) == got
    # compaction folds to exactly one physical version per id
    ivf_compact(spark, path)
    cells = spark.read.parquet(_ivf_cells_path(spark, path))
    dup = (
        cells.groupBy("vec_id").count().where(F.col("count") > 1).count()
    )
    assert dup == 0
    assert _ivf_probe(spark, path, emb) == got


def test_ivf_cdc_stream_applies_mixed_ops(spark, tmp_path):
    from flink_bm25_spark.streaming.index_maintenance import (
        maintain_ivf_cdc_stream,
    )

    emb, base, path = _ivf_v2_fixture(spark, tmp_path)
    before = _ivf_probe(spark, path, emb)
    victims = sorted({int(r[0]) for r in before[1:3]})
    repl_id = int(before[3][0])
    repl_emb = [
        -float(x)
        for x in base.where(F.col("vec_id") == repl_id).first()["embedding"]
    ]

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("delete", int(v), None, i) for i, v in enumerate(victims)]
        + [("upsert", repl_id, repl_emb, 99)],
        "op string, vec_id long, embedding array<float>, seq long",
    ).coalesce(1).write.parquet(src)

    def run():
        stream = (
            spark.readStream.schema(
                "op string, vec_id long, embedding array<float>, seq long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        maintain_ivf_cdc_stream(stream, path, str(tmp_path / "ckpt"))

    run()
    after = _ivf_probe(spark, path, emb)
    ids_after = {int(r[0]) for r in after}
    assert not (set(victims) & ids_after)
    # the replaced vector's cosine flipped sign (or left the top-k)
    by_id = {int(r[0]): r[1] for r in after}
    old_cos = dict((int(r[0]), r[1]) for r in before)[repl_id]
    if repl_id in by_id:
        assert abs(by_id[repl_id] + old_cos) < 1e-5
    # restart on the same checkpoint: no redelivery, nothing changes
    run()
    assert _ivf_probe(spark, path, emb) == after


def test_warm_search_on_compacted_index_reads_current_tree(spark, tmp_path):
    # compact (manifest v1) THEN warm: the warm search must read the
    # layout-resolved postings, not the superseded bare tree
    docs = load_documents(spark, SF_DIR)
    path = str(tmp_path / "idx")
    bm25_index_save(docs.where(F.col("doc_id") < 250), path, n_buckets=16)
    bm25_index_add(docs.where(F.col("doc_id") >= 250), path)
    bm25_index_compact(spark, path)
    # corrupt the superseded bare tree so a stale read is unmistakable
    shutil.rmtree(f"{path}/postings")
    want = _topk(spark, path)
    idx = Bm25Index(spark, path).warm()
    got = [tuple(r) for r in idx.search(" ".join(TERMS)).collect()]
    assert got == want
