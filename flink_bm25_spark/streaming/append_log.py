"""Streaming keyed-upsert sink — the reference's Mongo sinks on an
append-only log.

The reference writes streaming results with per-record Mongo upserts:
``$inc`` counter updates for global DF (``saveIDF`` —
``BatchBM25PreMain.java:107-123``, ``backup/BMStream.java:136-152``) and
last-wins document upserts for per-doc TF (``MongoTFSink.java:43-58``).
Point upserts are exactly what a 100 TB stream cannot do — one random
write per record.  The scale-correct translation is the log-structured
merge shape every big-table system uses:

- **Write path**: each micro-batch writes its (already partially
  aggregated) delta as immutable parquet files into its own batch-id
  partition (:func:`write_batch_partition`) — sequential I/O only, no
  read-modify-write, effectively-once: a re-delivered batch replaces its
  own partition instead of adding a second copy.
- **Read path**: ``$inc`` semantics = SUM over the log per key
  (:func:`read_additive`); document-upsert semantics = latest batch wins
  per key (:func:`read_latest`).  Both are one aggregation over a
  partition-pruned scan.
- **Compaction** (:func:`compact`) folds the log back to one snapshot
  delta so read cost stays bounded; on a cluster this would be a
  transactional-table-format operation, here it is rewrite-then-swap.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from flink_bm25_spark.operators.sinks import overwrite_mode

BATCH_COL = "_batch_id"


def write_batch_partition(df: DataFrame, path: str, batch_id: int) -> None:
    """Write ``df`` as the ``_batch_id = batch_id`` partition of the
    parquet dataset at ``path``, replacing only that partition.

    Dynamic partition overwrite, not blind append: ``foreachBatch``
    delivers at least once, and a re-delivered batch must REPLACE its
    own partition, not add a second copy.  The mode is scoped (restored
    on exit): set bare on the session it would leak into every later
    full-rebuild overwrite, which would then keep stale partitions."""
    with overwrite_mode(df.sparkSession, "dynamic"):
        (
            df.withColumn(BATCH_COL, F.lit(batch_id).cast("long"))
            .write.mode("overwrite")
            .partitionBy(BATCH_COL)
            .parquet(path)
        )


def run_available_now(
    stream: DataFrame, checkpoint: str, fn: Callable[[DataFrame, int], None]
) -> None:
    """Drive ``stream`` through the ``foreachBatch`` function ``fn``
    until its input is exhausted (availableNow trigger — processes all
    pending input, then stops); ``checkpoint`` keeps batch ids stable
    across restarts."""
    (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def append_batch_writer(
    path: str, transform: Callable[[DataFrame], DataFrame] | None = None
) -> Callable[[DataFrame, int], None]:
    """A ``foreachBatch`` function that writes ``transform(batch)`` into
    the log at ``path`` as the batch's own ``_batch_id`` partition.

    A re-delivered batch replaces its partition, so it is counted once
    (:func:`write_batch_partition`); the partitioning also lets
    :func:`read_latest` prune old partitions when only recent state
    matters."""

    def _write(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        write_batch_partition(out, path, batch_id)

    return _write


def read_additive(
    spark: SparkSession, path: str, key_cols: list[str], value_col: str
) -> DataFrame:
    """``$inc``-counter view of the log: SUM of ``value_col`` per key
    across every appended delta (A3's Mongo ``$inc`` upsert, aggregated
    on read)."""
    log = spark.read.parquet(path)
    return log.groupBy(*key_cols).agg(
        F.sum(value_col).cast("long").alias(value_col)
    )


def read_latest(
    spark: SparkSession, path: str, key_cols: list[str]
) -> DataFrame:
    """Last-writer-wins view of the log: the row from the highest batch
    id per key (K1's per-document upsert semantics).  One window-ranked
    scan; ties within a batch resolved deterministically by taking the
    max row under a stable ordering."""
    log = spark.read.parquet(path)
    w = Window.partitionBy(*key_cols).orderBy(F.desc(BATCH_COL))
    return (
        log.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .drop("_rk", BATCH_COL)
    )


def compact(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    value_col: str | None = None,
) -> None:
    """Fold the log to a single snapshot delta (batch id 0): the additive
    view when ``value_col`` is given, else the latest-wins view.

    Local-filesystem swap (write aside, then replace) — on a cluster this
    is where a transactional table format's atomic commit goes."""
    snap = (
        read_additive(spark, path, key_cols, value_col)
        if value_col is not None
        else read_latest(spark, path, key_cols)
    )
    tmp = path.rstrip("/") + ".compact.tmp"
    (
        snap.withColumn(BATCH_COL, F.lit(0).cast("long"))
        .write.mode("overwrite")
        .partitionBy(BATCH_COL)
        .parquet(tmp)
    )
    shutil.rmtree(path)
    os.rename(tmp, path)


def run_stream_to_log(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> None:
    """Drive ``stream`` through the append-log sink until exhausted."""
    run_available_now(stream, checkpoint, append_batch_writer(path, transform))
