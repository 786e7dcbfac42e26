"""Continuous BM25 index maintenance — :func:`~flink_bm25_spark.
operators.serving.bm25_index_add` driven by a document stream.

The serving index's add contract (tokenize ONLY the new batch, write
its postings + statistics partials into the batch's own partition) is
exactly the ``foreachBatch`` contract, so streaming maintenance is the
same function fed micro-batches.  The index stays queryable THROUGHOUT
— :func:`~flink_bm25_spark.operators.serving.bm25_topk_from_index`
reads a consistent snapshot of whatever batches have committed, and
each new trigger's documents become searchable when their partitions
land (the reference's streaming flow — tokenize each arriving doc,
upsert its TF, ``$inc`` the global DF, ``BatchBM25PreMain.java:107-123``
— restated batch-at-a-time against parquet partitions instead of
row-at-a-time against MongoDB).

Effectively-once: the batch's partition id is ``STREAM_BATCH_BASE +
batch_id``, and Structured Streaming's checkpoint makes batch ids
stable across restarts, so a re-delivered micro-batch overwrites its
own partitions (dynamic partition overwrite inside ``bm25_index_add``)
instead of double-counting — same sink discipline as
``streaming/curation.py``.  ``STREAM_BATCH_BASE`` keeps stream
partitions disjoint from manually-added ones (manual adds allocate
strictly below it); while a stream owns an index, manual
``bm25_index_add`` calls must not race it (caller contract, as with
every incremental screen).

Two id-space hazards are guarded, not just documented:

- A FRESH checkpoint over a used index would restart micro-batch ids
  at 0 and silently overwrite the earlier stream's partitions (data
  loss, not double-count).  The loop detects it — batch id 0 arriving
  while the index already holds stream partitions beyond
  ``STREAM_BATCH_BASE`` — and raises with the remedy (compact first:
  compaction folds every committed batch to id 0, after which a new
  checkpoint is safe).
- AUTO-COMPACTION (``compact_every``) folds committed batches from
  INSIDE the loop while excluding the micro-batch about to be
  (re-)added, so a crash between a compaction and the checkpoint
  commit still leaves the redelivered batch replacing its own
  partitions instead of double-counting a folded copy.  Every batch
  below the current id is checkpoint-committed, hence safe to fold.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_bm25_spark.operators.serving import (
    BATCH_COL,
    STREAM_BATCH_BASE,
    STREAM_OWNER_FILE,
    _fs_read_text,
    _fs_write_text,
    _Layout,
    _read_deleted,
    _read_section,
    bm25_index_add,
    bm25_index_compact,
    bm25_index_delete,
    bm25_index_upsert,
)


def _claim_stream_ownership(
    spark, path: str, checkpoint: str, seen_max=None, remedy: str | None = None
) -> None:
    """Micro-batch-0 guard shared by every index-maintenance loop: refuse
    a FRESH checkpoint attaching to an index that already holds stream
    partitions (its batch ids would restart at 0 and silently overwrite
    the prior stream's partitions), then record this checkpoint as the
    owner.

    When the owner marker ALREADY names this checkpoint, micro-batch 0
    is a crash-redelivery (a leg landed, the checkpoint commit didn't) —
    the marker proves ownership and the max-batch-id heuristic below
    must NOT run: it would misread the redelivered batch's own
    partitions (the CDC loops write ids ``BASE+0``/``BASE+1`` at batch
    0) as a foreign stream's and permanently fail the restart instead of
    letting the idempotent overwrite reapply.

    ``seen_max`` supplies the index's highest committed stream batch id
    (or None) — the pre-marker-era belt-and-braces, consulted only when
    no marker exists; ``remedy`` names the compaction to run."""
    remedy = remedy or "bm25_index_compact"
    marker = os.path.join(path, STREAM_OWNER_FILE)
    owner = _fs_read_text(spark, marker)
    if owner == checkpoint:
        return  # crash-redelivery of micro-batch 0: already the owner
    if owner is not None:
        raise RuntimeError(
            f"index is owned by streaming checkpoint {owner!r};"
            f" attaching {checkpoint!r} at micro-batch 0 would"
            f" silently overwrite its partitions. Run a full {remedy}"
            " first (folds every committed batch to id 0 and releases"
            " ownership)."
        )
    # belt-and-braces for pre-marker indexes: stream ids beyond
    # BASE+0 with an UNOWNED batch-0 delivery can only be a fresh
    # checkpoint over a prior stream's partitions
    if seen_max is None:
        def seen_max():
            row = _read_section(spark, _Layout(spark, path), "stats").agg(
                F.max(BATCH_COL).alias("m")
            ).first()
            return row["m"]
    seen = seen_max()
    if seen is not None and int(seen) > STREAM_BATCH_BASE:
        raise RuntimeError(
            "fresh streaming checkpoint over an index that already"
            " holds stream batches (max _batch_id ="
            f" {int(seen)}): restarting ids at 0 would silently"
            f" overwrite them. Run {remedy} on the index"
            " first (folds every committed batch to id 0), then"
            " attach the new checkpoint."
        )
    _fs_write_text(spark, marker, checkpoint)


def _gc_tick(spark, path: str, grace_seconds: float, gc_fn=None) -> None:
    """Optional per-micro-batch GC: reclaim superseded version trees as
    soon as their read grace expires instead of waiting for the NEXT
    fold (a serve-mostly stream may never fold again, and
    ``_gc_versions`` otherwise only runs at a compaction's start).
    Cheap when there is nothing versioned: one directory listing
    short-circuits; the actual reclaim runs under the writer lease."""
    from flink_bm25_spark.operators.serving import (  # noqa: PLC0415
        _list_manifest_versions,
        bm25_index_gc,
    )

    versions = _list_manifest_versions(spark, path)
    if not versions:
        return  # never folded: nothing superseded to reclaim
    (gc_fn or bm25_index_gc)(spark, path, grace_seconds=grace_seconds)


def maintain_index_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    tokenizer=None,
    compact_every: int | None = None,
    hot_df_cap: int | None = None,
    gc_grace_seconds: float | None = None,
) -> None:
    """Drive a ``(doc_id, text, ...)`` document stream into a persisted
    BM25 index until exhausted (availableNow trigger).  The index must
    already exist (``bm25_index_save`` creates batch 0); every
    micro-batch lands as its own idempotent partition.

    ``compact_every=N`` folds the accumulated batch partitions every N
    micro-batches from inside the loop — bounding per-query file-open
    cost on a long-lived stream (THROUGHPUT.md measured ~60% extra
    query wall after only 31 uncompacted batches) without a separate
    maintenance job.  The index stays queryable across the fold — and
    since the manifest protocol flips the WHOLE section tree in one
    atomic pointer create, a mid-stream re-salting fold is as
    crash-safe as a plain one (postings and ``hot/`` change together),
    so ``hot_df_cap`` forwards to both adds and compactions (per-batch
    salting, global re-salt at each fold)."""
    from flink_bm25_spark.operators.tokenize import tokenize  # noqa: PLC0415

    tok = tokenizer or tokenize

    def _add(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_id == 0:
            _claim_stream_ownership(spark, path, checkpoint)
        if gc_grace_seconds is not None:
            _gc_tick(spark, path, gc_grace_seconds)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            bm25_index_compact(
                spark,
                path,
                exclude_batch_ids=(STREAM_BATCH_BASE + batch_id,),
                hot_df_cap=hot_df_cap,
            )
        if batch_df.isEmpty():
            return
        bm25_index_add(
            batch_df, path, tokenizer=tok,
            batch_id=STREAM_BATCH_BASE + batch_id,
            hot_df_cap=hot_df_cap,
        )

    q = (
        stream.writeStream.foreachBatch(_add)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def maintain_index_cdc_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    tokenizer=None,
    compact_every: int | None = None,
    compact_tombstones: int | None = None,
    hot_df_cap: int | None = None,
    gc_grace_seconds: float | None = None,
    op_col: str = "op",
    delete_op: str = "delete",
) -> None:
    """Drive a CDC stream of ``(op, doc_id, text, [seq])`` changes into a
    persisted BM25 index (availableNow trigger) — the production shape
    of index maintenance: the reference's continuous loop re-UPSERTED
    every document it saw (``backup/BMStream.java:318-321`` via
    ``MongoTFSink``'s per-``_id`` replace) and its Mongo consumers
    issued ``remove``s; :func:`maintain_index_stream` only covers the
    append-only special case.  Op vocabulary matches
    ``operators/cdc.py`` (``delete_op`` ⇒ delete, anything else ⇒
    upsert), so a ``cdc_apply`` change feed drives the index unchanged.

    Each micro-batch splits into its delete and upsert legs, applied as
    :func:`~flink_bm25_spark.operators.serving.bm25_index_delete` /
    :func:`~flink_bm25_spark.operators.serving.bm25_index_upsert` under
    batch ids ``STREAM_BATCH_BASE + 2*batch_id`` and ``... + 2*batch_id
    + 1`` — two ids per micro-batch so the legs' dynamic partition
    overwrites can never clobber each other, both stable across
    restarts (checkpointed micro-batch ids), hence effectively-once:
    a redelivered delete is a no-op by construction and a redelivered
    upsert recomputes the identical victim set and rewrites its own
    partitions.  Doc-id sets stay IN-PLAN end to end (both legs take
    the id relation as a DataFrame — no driver materialization of a
    corpus-shaped re-crawl batch).

    Within a micro-batch, at most one op per doc applies: rows are
    deduplicated per ``doc_id`` by the ``seq`` column when the stream
    carries one (highest wins — the CDC event-id discipline of
    ``cdc_apply``), else by a deterministic lexicographic max over
    ``(op, text)`` so redelivery reproduces the same choice.

    Driver overhead per micro-batch is ONE control job beyond the legs:
    the per-leg emptiness probes and the pending-tombstone gauge ride a
    single unioned aggregate over the checkpointed change set (pinned by
    ``test_cdc_control_overhead_is_one_job``) — on a high-frequency
    stream the scheduling floor of extra driver-blocking jobs would
    otherwise dominate micro-batch latency.

    Index hygiene runs from inside the loop, both triggers composable:
    ``compact_every=N`` folds every N micro-batches (file-count bound),
    ``compact_tombstones=T`` folds whenever the pending tombstone
    count crosses T, and ``gc_grace_seconds=G`` adds a per-micro-batch
    GC tick that reclaims superseded version trees once their read
    grace expires (a serve-heavy stream may never fold again, which is
    otherwise the only reclaim point) — a delete-heavy stream piles tombstones while the
    batch count stays low, and the read-side anti-join stops being free
    once ``deleted/`` outgrows broadcast size.  Both exclude the
    in-flight legs' batch ids; compaction withholds excluded batches'
    tombstones from physical application and carries them into the new
    tree, so a crash between the fold and the checkpoint commit still
    redelivers cleanly.  The index must already exist WITH a forward
    section (deletes and upserts read old versions doc-keyed)."""
    from flink_bm25_spark.operators.tokenize import tokenize  # noqa: PLC0415

    tok = tokenizer or tokenize

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_id == 0:
            _claim_stream_ownership(spark, path, checkpoint)
        if gc_grace_seconds is not None:
            _gc_tick(spark, path, gc_grace_seconds)
        del_id = STREAM_BATCH_BASE + 2 * batch_id
        ups_id = STREAM_BATCH_BASE + 2 * batch_id + 1
        # one op per doc per micro-batch: latest-by-seq wins when the
        # stream carries event ids, else a deterministic lexicographic
        # max (redelivery must reproduce the same choice)
        order = (
            F.col("seq")
            if "seq" in batch_df.columns
            else F.struct(F.col(op_col), F.col("text"))
        )
        # pinned once (disk-backed): the deduped change set feeds both
        # legs plus the control aggregate — without the checkpoint the
        # groupBy re-runs up to three times per micro-batch
        latest = (
            batch_df.groupBy("doc_id")
            .agg(
                F.max_by(
                    F.struct(F.col(op_col).alias("op"), F.col("text")), order
                ).alias("ch")
            )
            .select("doc_id", F.col("ch.op").alias("op"), "ch.text")
            .localCheckpoint(eager=True)
        )
        due = bool(
            compact_every and batch_id > 0 and batch_id % compact_every == 0
        )
        # ONE driver-blocking control job per micro-batch: both legs'
        # emptiness probes AND (when armed and not already due) the
        # pending-tombstone gauge ride a single unioned collect — the
        # r8 loop paid up to 3 extra jobs of scheduling floor here
        ctrl = (
            latest.groupBy((F.col("op") == delete_op).alias("d"))
            .agg(F.count("*").alias("n"))
            .select(
                F.when(F.col("d"), F.lit("deletes"))
                .otherwise(F.lit("upserts"))
                .alias("k"),
                "n",
            )
        )
        if compact_tombstones and not due:
            pending = _read_deleted(spark, path)
            if pending is not None:
                ctrl = ctrl.unionByName(
                    pending.agg(F.count("*").alias("n")).select(
                        F.lit("_pending").alias("k"), "n"
                    )
                )
        counts = {r["k"]: int(r["n"]) for r in ctrl.collect()}
        if compact_tombstones and not due:
            due = counts.get("_pending", 0) >= int(compact_tombstones)
        if due:
            bm25_index_compact(
                spark,
                path,
                exclude_batch_ids=(del_id, ups_id),
                hot_df_cap=hot_df_cap,
            )
        if counts.get("deletes", 0) > 0:
            bm25_index_delete(
                spark,
                path,
                latest.where(F.col("op") == delete_op).select("doc_id"),
                batch_id=del_id,
            )
        if counts.get("upserts", 0) > 0:
            bm25_index_upsert(
                latest.where(F.col("op") != delete_op).select(
                    "doc_id", "text"
                ),
                path,
                tokenizer=tok,
                batch_id=ups_id,
                hot_df_cap=hot_df_cap,
            )

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def maintain_ivf_cdc_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    compact_every: int | None = None,
    compact_tombstones: int | None = None,
    gc_grace_seconds: float | None = None,
    retrain_staleness: float | None = None,
    op_col: str = "op",
    delete_op: str = "delete",
) -> None:
    """Drive a CDC stream of ``(op, vec_id, embedding[, seq])`` changes
    into a persisted IVF index — the dense twin of
    :func:`maintain_index_cdc_stream`, same discipline end to end:
    paired per-micro-batch leg ids (delete ``BASE+2b``, upsert
    ``BASE+2b+1``), per-vector dedupe by ``seq`` (else a deterministic
    lexicographic max), effectively-once redelivery, mid-stream folds on
    either the batch-count or the pending-tombstone trigger (both
    excluding the in-flight legs).  The production shape of continuous
    re-embedding: a model-refresh pipeline emits upserts, a
    right-to-be-forgotten feed emits deletes, one loop applies both.

    ``retrain_staleness=S`` arms the DRIFT playbook: IVF assigns
    churned vectors to FROZEN centroids, so recall decays as the
    post-train fraction grows (measured in ``scripts/ann_recall.py``).
    When the visible staleness gauge (riding the same single control
    job) crosses S, the loop runs :func:`~flink_bm25_spark.operators.
    similarity.ivf_retrain` BEFORE applying the micro-batch's legs —
    the legs then assign against the FRESH codebook — and re-claims
    stream ownership (retrain's in-place rebuild releases it).  Safe
    under redelivery: a leg redelivered across a retrain converges
    (its upsert tombstones hide the folded copy and rewrite the same
    embeddings; its deletes re-hide already-absent ids)."""
    from flink_bm25_spark.operators.similarity import (  # noqa: PLC0415
        _ivf_batch_ids,
        _ivf_read_deleted,
        ivf_compact,
        ivf_delete,
        ivf_upsert,
    )

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_id == 0:
            _claim_stream_ownership(
                spark, path, checkpoint,
                seen_max=lambda: max(_ivf_batch_ids(spark, path), default=None),
                remedy="ivf_compact",
            )
        if gc_grace_seconds is not None:
            from flink_bm25_spark.operators.similarity import (  # noqa: PLC0415
                ivf_gc,
            )

            _gc_tick(spark, path, gc_grace_seconds, gc_fn=ivf_gc)
        del_id = STREAM_BATCH_BASE + 2 * batch_id
        ups_id = STREAM_BATCH_BASE + 2 * batch_id + 1
        order = (
            F.col("seq")
            if "seq" in batch_df.columns
            else F.struct(F.col(op_col), F.col("embedding"))
        )
        latest = (
            batch_df.groupBy("vec_id")
            .agg(
                F.max_by(
                    F.struct(F.col(op_col).alias("op"), F.col("embedding")),
                    order,
                ).alias("ch")
            )
            .select("vec_id", F.col("ch.op").alias("op"), "ch.embedding")
            .localCheckpoint(eager=True)
        )
        due = bool(
            compact_every and batch_id > 0 and batch_id % compact_every == 0
        )
        # same single-control-job discipline as the BM25 CDC loop
        ctrl = (
            latest.groupBy((F.col("op") == delete_op).alias("d"))
            .agg(F.count("*").alias("n"))
            .select(
                F.when(F.col("d"), F.lit("deletes"))
                .otherwise(F.lit("upserts"))
                .alias("k"),
                "n",
            )
        )
        if compact_tombstones and not due:
            pending = _ivf_read_deleted(spark, _Layout(spark, path).root)
            if pending is not None:
                ctrl = ctrl.unionByName(
                    pending.agg(F.count("*").alias("n")).select(
                        F.lit("_pending").alias("k"), "n"
                    )
                )
        if retrain_staleness is not None:
            from flink_bm25_spark.operators.similarity import (  # noqa: PLC0415
                ivf_stats,
            )

            gauge = (
                ivf_stats(spark, path)
                .select(
                    F.explode(
                        F.array(
                            F.struct(
                                F.lit("_n_vec").alias("k"),
                                F.col("n_vectors").alias("n"),
                            ),
                            F.struct(
                                F.lit("_n_stale").alias("k"),
                                F.col("n_stale").alias("n"),
                            ),
                        )
                    ).alias("r")
                )
                .select("r.k", "r.n")
            )
            ctrl = ctrl.unionByName(gauge)
        counts = {r["k"]: int(r["n"]) for r in ctrl.collect()}
        if (
            retrain_staleness is not None
            and counts.get("_n_vec", 0) > 0
            and counts.get("_n_stale", 0) / counts["_n_vec"]
            >= float(retrain_staleness)
        ):
            from flink_bm25_spark.operators.serving import (  # noqa: PLC0415
                _fs_write_text,
            )
            from flink_bm25_spark.operators.similarity import (  # noqa: PLC0415
                ivf_retrain,
            )

            ivf_retrain(spark, path)
            # the in-place rebuild released stream ownership — re-claim
            _fs_write_text(
                spark, os.path.join(path, STREAM_OWNER_FILE), checkpoint
            )
            due = False  # freshly rebuilt: a fold would be a no-op pass
        if compact_tombstones and not due:
            due = counts.get("_pending", 0) >= int(compact_tombstones)
        if due:
            ivf_compact(spark, path, exclude_batch_ids=(del_id, ups_id))
        if counts.get("deletes", 0) > 0:
            ivf_delete(
                spark,
                path,
                latest.where(F.col("op") == delete_op).select("vec_id"),
                batch_id=del_id,
            )
        if counts.get("upserts", 0) > 0:
            ivf_upsert(
                spark,
                path,
                latest.where(F.col("op") != delete_op).select(
                    "vec_id", "embedding"
                ),
                batch_id=ups_id,
            )

    q = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def maintain_ivf_stream(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    compact_every: int | None = None,
    gc_grace_seconds: float | None = None,
) -> None:
    """Drive a ``(vec_id, embedding)`` stream into a persisted IVF index
    (availableNow trigger) — the dense-retrieval twin of
    :func:`maintain_index_stream`, same discipline throughout: each
    micro-batch lands under ``STREAM_BATCH_BASE + batch_id`` via dynamic
    partition overwrite (redelivery replaces itself), a fresh checkpoint
    over a used index is refused, and ``compact_every=N`` folds
    committed batches mid-stream while EXCLUDING the micro-batch about
    to be (re-)added — a redelivered uncommitted batch still replaces
    its own partition instead of double-counting a folded copy."""
    from flink_bm25_spark.operators.similarity import (  # noqa: PLC0415
        _ivf_batch_ids,
        ivf_add,
        ivf_compact,
    )

    def _add(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_id == 0:
            _claim_stream_ownership(
                spark, path, checkpoint,
                seen_max=lambda: max(_ivf_batch_ids(spark, path), default=None),
                remedy="ivf_compact",
            )
        if gc_grace_seconds is not None:
            from flink_bm25_spark.operators.similarity import (  # noqa: PLC0415
                ivf_gc,
            )

            _gc_tick(spark, path, gc_grace_seconds, gc_fn=ivf_gc)
        if compact_every and batch_id > 0 and batch_id % compact_every == 0:
            ivf_compact(
                spark, path,
                exclude_batch_ids=(STREAM_BATCH_BASE + batch_id,),
            )
        if batch_df.isEmpty():
            return
        ivf_add(
            spark, path, batch_df, batch_id=STREAM_BATCH_BASE + batch_id
        )

    q = (
        stream.writeStream.foreachBatch(_add)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
