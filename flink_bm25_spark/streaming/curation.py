"""Continuous-ingest screening — any screen of :mod:`flink_bm25_spark.api`
(:class:`~flink_bm25_spark.api.CorpusCurator`,
:class:`~flink_bm25_spark.api.EmbeddingDeduper`,
:class:`~flink_bm25_spark.api.WinnowScreen`, ...) driven by a stream.

A screen's contract (screen one batch against everything already
ingested, extend the persisted state) is exactly the ``foreachBatch``
contract, so streaming screening is the same object fed micro-batches:
each trigger's rows are screened against the accumulated state —
including rows from EARLIER TRIGGERS of the same stream — and survivors
land in a parquet sink.

Scale/ops posture: state lives in the screen's relations, persisted to
parquet by ``screen.save`` — restart the stream with a reloaded screen
and dedup continues across the restart (pinned by test).  The survivor
sink is partitioned by batch id, same layout as
:mod:`flink_bm25_spark.streaming.append_log`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from flink_bm25_spark.streaming.append_log import (
    BATCH_COL,
    run_available_now,
    write_batch_partition,
)


def screen_stream(
    stream: DataFrame,
    screen,
    out_path: str,
    checkpoint: str,
    state_path: str | None = None,
) -> None:
    """Drive a stream through ``screen`` (anything with ``screen_batch``
    and ``save``) until exhausted (availableNow trigger): per
    micro-batch, survivors land in ``out_path``; when ``state_path`` is
    given the screen state is saved after every batch, so a crash
    resumes with at most one batch re-screened — and the sink's dynamic
    partition overwrite makes the re-delivered batch replace its own
    partition (effectively-once output under foreachBatch's
    at-least-once delivery)."""

    def _screen(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_partition(screen.screen_batch(batch_df), out_path, batch_id)
        if state_path is not None:
            # also truncates the union-chain lineage of the growing
            # state, so plan depth stays O(1) per batch
            screen.save(state_path)

    run_available_now(stream, checkpoint, _screen)


curate_stream = screen_stream


def read_screened(spark, out_path: str) -> DataFrame:
    """The accumulated survivors (all batches; works both before and
    after :func:`compact_curated`)."""
    df = spark.read.parquet(out_path)
    return df.drop(BATCH_COL) if BATCH_COL in df.columns else df


read_curated = read_screened


def compact_curated(spark, out_path: str, num_files: int = 8) -> None:
    """Fold the per-batch partition layout into ``num_files`` plain
    files — the small-files maintenance a long-running micro-batch sink
    needs (thousands of tiny batch partitions make every downstream scan
    pay per-file open cost).  The fold is eager-materialized before the
    overwrite, so the rewrite of the path being read is safe; the
    surviving-row set is unchanged (pinned by test)."""
    snapshot = (
        spark.read.parquet(out_path)
        .drop(BATCH_COL)
        .coalesce(num_files)
        .localCheckpoint(eager=True)
    )
    snapshot.write.mode("overwrite").parquet(out_path)


def read_compacted(spark, out_path: str) -> DataFrame:
    """Read the sink after compaction (no batch column remains)."""
    return spark.read.parquet(out_path)
