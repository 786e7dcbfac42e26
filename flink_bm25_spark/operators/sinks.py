"""Sink-shape operators (K1–K5 in SURVEY.md §2.7).

The reference's TF sink upserts one nested Mongo document per doc_id:
``{_id: pid, tf: [{w, c}, ...]}`` sorted desc by count
(``MongoTFSink.java:43-58``, ``model/TF.java:66-74``).  Relational data
stays exploded through the whole pipeline (spill-safe, SURVEY.md §4) and
is only folded into the nested document shape at the sink boundary.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


@contextmanager
def overwrite_mode(spark: SparkSession, mode: str):
    """Scoped ``spark.sql.sources.partitionOverwriteMode`` — restores the
    previous session value on exit."""
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, "static")
    spark.conf.set(key, mode)
    try:
        yield
    finally:
        spark.conf.set(key, old)


def tf_vectors(tf: DataFrame, k: int | None = None) -> DataFrame:
    """``(doc_id, tf: array<struct<w,c>>)`` — the K1 document shape.

    ``collect_list`` order is nondeterministic, so the list is sorted
    after collection: ``sort_array`` on a (−c, w) key struct gives
    count-desc / word-asc, matching the engine's deterministic tiebreak.
    ``slice`` applies the reference's top-30 cap when ``k`` is given.
    """
    arr = F.sort_array(
        F.collect_list(F.struct((-F.col("tf")).alias("negc"), F.col("word").alias("w")))
    )
    folded = tf.groupBy("doc_id").agg(arr.alias("sorted_keys"))
    tf_col = F.transform(
        F.col("sorted_keys"),
        lambda s: F.struct(s["w"].alias("w"), (-s["negc"]).cast("long").alias("c")),
    )
    if k is not None:
        tf_col = F.slice(tf_col, 1, k)
    return folded.select("doc_id", tf_col.alias("tf"))


def write_tf_parquet(tf_vecs: DataFrame, path: str) -> None:
    """Persist the TF document table (K1's durable form).

    Mongo's ``findOneAndUpdate(upsert)`` has no plain-parquet twin; the
    batch equivalent is overwrite-by-run (or Delta MERGE where available —
    not in this image, SURVEY.md §7).
    """
    tf_vecs.write.mode("overwrite").parquet(path)


def write_partitioned(df: DataFrame, path: str, *part_cols: str) -> None:
    """Hive-style partitioned parquet write — the 100 TB layout: queries
    filtering on a partition column read only matching directories
    (partition pruning shows as ``PartitionFilters`` in the scan).
    STATIC overwrite is scoped explicitly: this is a full-table rewrite,
    and a session left in dynamic mode (the streaming sinks' setting)
    would otherwise keep partitions absent from the new data."""
    with overwrite_mode(df.sparkSession, "static"):
        df.write.mode("overwrite").partitionBy(*part_cols).parquet(path)


def write_bucketed_table(
    df: DataFrame, table: str, n_buckets: int, *bucket_cols: str
) -> None:
    """Bucketed managed table: co-locates rows by key at write time so a
    later join/agg on the bucket key needs NO shuffle on this side —
    pre-paying the exchange once instead of per query."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
        .sortBy(*bucket_cols)
        .saveAsTable(table)
    )


def write_text(df: DataFrame, path: str) -> None:
    """K4 — ``writeAsText(OVERWRITE)`` analogue
    (``backup/BatchBM25Pre.java:170-171``): one file per partition."""
    df.select(F.to_json(F.struct(*df.columns)).alias("value")).write.mode(
        "overwrite"
    ).text(path)


def reference_text_lines(
    tf: DataFrame, k: int | None = None, doc_col: str = "doc_id"
) -> DataFrame:
    """``(doc_id, line)`` in the reference's golden text format: one
    ``(word,count)`` tuple per line, count-desc (word-asc tiebreak), the
    exact shape of ``output/{pid}.txt`` written by
    ``backup/BatchBM25PrePrint.java:224-225`` (Flink ``Tuple2.toString``
    via ``writeAsText`` after ``sortPartition(1, DESCENDING)``).

    ``k`` applies the main job's ``MAX_WORD_COUNT = 30`` cap
    (``BatchBM25PreMain.java:50``) when the sink should mirror the Mongo
    top-30 contract instead of the uncapped golden files.
    """
    w = F.row_number().over(
        Window.partitionBy(doc_col).orderBy(F.desc("tf"), F.asc("word"))
    )
    ranked = tf.withColumn("rk", w)
    if k is not None:
        ranked = ranked.where(F.col("rk") <= k)
    return ranked.select(
        F.col(doc_col),
        F.col("rk"),
        F.concat(F.lit("("), F.col("word"), F.lit(","), F.col("tf"), F.lit(")")).alias(
            "line"
        ),
    )


def write_reference_text(
    tf: DataFrame, path: str, k: int | None = None, doc_col: str = "doc_id"
) -> None:
    """K4 in the reference's own on-disk format: one directory per doc id
    (Hive-partitioned analogue of one ``output/{pid}.txt`` per pid), lines
    ``(word,count)`` count-desc.

    In-file order at scale WITHOUT a driver loop: rows are repartitioned
    by ``doc_col`` and sorted ``(doc, -count, word)``; the partitioned
    text writer's required ordering (by partition column) is a prefix of
    that sort, so Spark keeps the existing order and each part file comes
    out count-desc.  One shuffle total, any number of documents.
    """
    lines = reference_text_lines(tf, k=k, doc_col=doc_col)
    with overwrite_mode(lines.sparkSession, "static"):  # full rewrite
        (
            lines.repartition(F.col(doc_col))
            .sortWithinPartitions(doc_col, "rk")
            .select(F.col(doc_col), F.col("line").alias("value"))
            .write.mode("overwrite")
            .partitionBy(doc_col)
            .text(path)
        )


def write_reference_idf(df_stats: DataFrame, path: str) -> None:
    """The reference's OTHER golden file: global ``idf.txt`` — one
    ``(word,df)`` tuple per line, the accumulated document-frequency
    relation written by ``backup/BatchBM25PrePrint.java:227``
    (``unionOperator.writeAsText("idf.txt", OVERWRITE)`` after the
    union+groupBy+sum accumulation).  The Flink job writes it with the
    job's parallelism-1 sink; here the vocabulary relation coalesces to
    one file the same way (a vocabulary is words-sized, not corpus-sized
    — at 100 TB it is still only the distinct-term table)."""
    (
        df_stats.orderBy(F.desc("df"), F.asc("word"))
        .select(
            F.concat(
                F.lit("("), F.col("word"), F.lit(","), F.col("df"), F.lit(")")
            ).alias("value")
        )
        .coalesce(1)
        .write.mode("overwrite")
        .text(path)
    )


def write_sorted_runs(
    df: DataFrame, path: str, order_col: str, n_ranges: int = 8
) -> None:
    """Globally ordered parquet output WITHOUT a single-reducer sort:
    ``repartitionByRange`` splits the key space into ``n_ranges``
    non-overlapping ranges (sampled range bounds), each partition sorts
    locally, and file order == range order.  A reader that concatenates
    the part files in name order sees a fully sorted dataset — the
    index-build / merge-join layout at 100 TB, where a global
    ``orderBy`` into one partition is impossible.
    """
    (
        df.repartitionByRange(n_ranges, F.col(order_col))
        .sortWithinPartitions(order_col)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_sized(
    df: DataFrame, path: str, target_mb: float = 128.0
) -> None:
    """Parquet output with AQE-governed file sizing — the small-files
    defense: at 100 TB a job that writes one file per shuffle partition
    emits millions of KB-sized files (each a namenode entry and a
    per-file open on every future scan), while a fixed ``coalesce(n)``
    guesses wrong in both directions as data volume drifts.

    The ``rebalance`` hint asks AQE to split oversized and merge
    undersized shuffle partitions to ``advisoryPartitionSizeInBytes`` at
    runtime — sized from OBSERVED bytes, so the same code yields sane
    files at every scale, including skewed inputs (an oversized
    partition is split, which plain ``repartition(n)`` cannot do).  The
    target governs shuffle-stage bytes; on-disk parquet lands within the
    columnar-compression ratio of it.
    """
    spark = df.sparkSession
    target = int(target_mb * 1024 * 1024)
    # The coalescer's min-partition floor (1 MB default) must scale with
    # the target or any sub-MB advisory collapses to one partition.
    confs = {
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(target),
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": str(
            max(1024, target // 5)
        ),
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        df.hint("rebalance").write.mode("overwrite").parquet(path)
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def write_training_shards(
    df: DataFrame,
    path: str,
    len_col: str = "n_tokens",
    shard_col: str = "shard",
) -> dict:
    """Emit a sharded training dataset WITH its manifest: rows are
    written partitioned by ``shard_col`` (one directory per shard — the
    layout a data loader maps to workers), and a ``_manifest.json`` at
    the root records (underscore prefix: ignored by Spark's file index,
    like ``_SUCCESS``, so reading the dataset back skips it) per-shard row counts, token counts and an
    order-insensitive content checksum, plus corpus totals.

    The manifest is computed from ONE aggregation over the same
    DataFrame (per-shard xor-of-row-hashes — mergeable and
    order-insensitive, so any partitioning produces the same checksum),
    and is the loader-side integrity contract: a resharded or truncated
    copy fails the checksum without reading row payloads.  Returns the
    manifest dict.
    """
    import json  # noqa: PLC0415
    import os  # noqa: PLC0415

    with overwrite_mode(df.sparkSession, "static"):  # full rewrite
        df.write.mode("overwrite").partitionBy(shard_col).parquet(path)
    data_cols = [c for c in df.columns if c != shard_col]
    row_h = F.xxhash64(*[F.col(c) for c in data_cols])
    per_shard = df.groupBy(shard_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(F.col(len_col)).cast("long").alias("n_tokens"),
        F.bit_xor(row_h).alias("checksum"),
    )
    shards = {
        str(r[shard_col]): {
            "n_rows": r["n_rows"],
            "n_tokens": r["n_tokens"],
            "checksum": int(r["checksum"]),
        }
        for r in per_shard.collect()
    }
    manifest = {
        "shards": dict(sorted(shards.items())),
        "total_rows": sum(s["n_rows"] for s in shards.values()),
        "total_tokens": sum(s["n_tokens"] for s in shards.values()),
    }
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest
