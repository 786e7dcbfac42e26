"""Streaming surface tests: batch-equivalence of streaming aggregates
(SURVEY.md §5 — streaming ops verified by final-state equivalence)."""

from __future__ import annotations

import pyspark.sql.functions as F

from flink_bm25_spark.sources.tables import load_table
from flink_bm25_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)
from flink_bm25_spark.streaming.wordcount import (
    running_word_count,
    with_bootstrap_counts,
)
from tests.conftest import SF_DIR


def _stage_dir(table: str) -> str:
    """The parquet file source requires a directory; stage the single
    fixture file into a temp dir (simulating a landing zone)."""
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=f"stream_{table}_")
    shutil.copy(f"{SF_DIR}/{table}.parquet", d)
    return d


def _stream_events(spark):
    batch = load_table(spark, "events", SF_DIR)
    raw_schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    stream = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .load(_stage_dir("events"))
    )
    # same ts normalization the batch loader applies (ns→µs, NTZ→LTZ):
    # watermarks/event-time require TIMESTAMP, and the fixture has shipped
    # as both TIMESTAMP(NANOS) and TIMESTAMP_NTZ across generations
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return batch, stream


def _run_complete(df, spark, name):
    q = (
        df.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_append_log_additive_equals_batch_df(spark, tmp_path):
    # Streaming $inc semantics (A3): per-batch word-count deltas appended,
    # aggregated on read — final state equals the batch word count.
    from flink_bm25_spark.operators.tokenize import tokenize
    from flink_bm25_spark.streaming.append_log import (
        read_additive,
        run_stream_to_log,
    )

    schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(_stage_dir("documents"))
    )
    log = str(tmp_path / "df_log")
    run_stream_to_log(
        stream,
        log,
        str(tmp_path / "ckpt"),
        transform=lambda b: tokenize(b).groupBy("word").agg(
            F.count("*").alias("c")
        ),
    )
    got = _rows(read_additive(spark, log, ["word"], "c"))
    want = _rows(
        tokenize(load_table(spark, "documents", SF_DIR))
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("c"))
    )
    assert got == want


def test_append_log_latest_wins_upsert(spark, tmp_path):
    # K1 upsert semantics: later batches overwrite earlier rows per key.
    from flink_bm25_spark.streaming.append_log import (
        append_batch_writer,
        compact,
        read_latest,
    )

    w = append_batch_writer(str(tmp_path / "log"))
    w(spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), 0)
    w(spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string"), 1)
    got = _rows(read_latest(spark, str(tmp_path / "log"), ["k"]))
    assert got == [(1, "a"), (2, "b2"), (3, "c")]
    # compaction folds the log without changing the view
    compact(spark, str(tmp_path / "log"), ["k"])
    assert _rows(read_latest(spark, str(tmp_path / "log"), ["k"])) == got


def test_tumbling_stream_equals_batch(spark):
    batch, stream = _stream_events(spark)
    got = _run_complete(tumbling_window_agg(stream), spark, "t_tumble")
    want = tumbling_window_agg(batch)
    assert _rows(got) == _rows(want)


def test_sliding_stream_equals_batch(spark):
    batch, stream = _stream_events(spark)
    got = _run_complete(sliding_window_agg(stream), spark, "t_slide")
    want = sliding_window_agg(batch)
    assert _rows(got) == _rows(want)


def test_session_window_batch_shape(spark):
    batch = load_table(spark, "events", SF_DIR)
    out = session_window_agg(batch)
    rows = out.collect()
    assert rows and out.columns == ["sess_start", "sess_end", "user_id", "n", "total"]
    # sessions are disjoint per user and ordered
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append((r.sess_start, r.sess_end))
    for spans in per_user.values():
        spans.sort()
        for (s1, e1), (s2, _) in zip(spans, spans[1:]):
            assert e1 <= s2


def test_running_word_count_stream_equals_batch(spark):
    docs_schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .format("parquet")
        .load(_stage_dir("documents"))
    )
    got = _run_complete(running_word_count(stream, "text"), spark, "t_wc")
    want = running_word_count(load_table(spark, "documents", SF_DIR), "text")
    assert _rows(got) == _rows(want)


def test_bootstrap_counts_merge(spark):
    live = spark.createDataFrame(
        [("spark", 3), ("join", 1)], "word string, cnt long"
    )
    snap = spark.createDataFrame(
        [("spark", 10), ("stream", 5)], "word string, cnt long"
    )
    out = {r.word: r.cnt for r in with_bootstrap_counts(live, snap).collect()}
    # snapshot-only words surface when the stream later emits them (update
    # mode); the merged view covers live keys
    assert out == {"spark": 13, "join": 1}


def test_interval_join_stream_equals_batch(spark):
    # stream-stream watermarked interval join == the same join on batch
    from flink_bm25_spark.streaming.joins import click_purchase_interval_join

    batch, stream = _stream_events(spark)

    def split(ev):
        return (
            ev.where(F.col("event_type") == "click"),
            ev.where(F.col("event_type") == "purchase"),
        )

    got_q = (
        click_purchase_interval_join(*split(stream))
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ivj")
        .start()
    )
    got_q.processAllAvailable()
    got_q.stop()
    got = spark.sql("SELECT * FROM t_ivj")
    want = click_purchase_interval_join(*split(batch))
    assert want.count() > 0
    assert _rows(got) == _rows(want)


def test_stream_dedup_equals_batch_distinct(spark):
    from flink_bm25_spark.streaming.dedup import dedup_keys

    batch, stream = _stream_events(spark)
    q = (
        dedup_keys(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_dedup")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT * FROM t_dedup")
    want = dedup_keys(batch)
    assert want.count() > 0
    assert _rows(got) == _rows(want)


def test_streaming_bloom_equals_batch(spark):
    # the portable sketches are plain groupBy aggregates, so they run
    # unchanged as streaming update-mode queries (T4 unified API): the
    # final streamed Bloom filter equals the batch-built one bit-for-bit
    from flink_bm25_spark.operators.sketches import bloom_build
    from flink_bm25_spark.operators.tokenize import filter_stopwords, tokenize
    from flink_bm25_spark.sources.tables import load_table

    batch_docs = load_table(spark, "documents", SF_DIR)
    raw_schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    stream_docs = (
        spark.readStream.schema(raw_schema)
        .format("parquet")
        .load(_stage_dir("documents"))
    )
    words = lambda d: filter_stopwords(tokenize(d)).select("word")  # noqa: E731
    q = (
        bloom_build(words(stream_docs), "word")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_bloom")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = _rows(spark.sql("SELECT * FROM t_bloom"))
    # streaming emits occupied slots only; batch fills absent slots with 0
    want = _rows(bloom_build(words(batch_docs), "word").where("bits != 0"))
    assert got == want


def test_streaming_histogram_and_grouped_hll_equal_batch(spark):
    # The histogram and grouped-HLL sketches are single aggregations, so
    # they run unchanged as complete-mode streams (T4 unified API); the
    # final streamed registers equal the batch-built ones exactly.
    from flink_bm25_spark.operators.sketches import (
        histogram_sketch,
        hll_buckets_by,
    )

    batch_ev, stream_ev = _stream_events(spark)

    q = (
        histogram_sketch(stream_ev, "value", 0.0, 500.0, 64)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_hist")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = _rows(spark.sql("SELECT * FROM t_hist"))
    # streaming emits occupied bins only; batch fills absent bins with 0
    want = [r for r in _rows(histogram_sketch(batch_ev, "value", 0.0, 500.0, 64)) if r[1] > 0]
    assert got == want

    def keyed(ev):
        # h60 hashes strings: the decimal form is the canonical
        # cross-engine byte representation of an integer id
        return ev.select(
            "event_type", F.col("user_id").cast("string").alias("uid")
        )

    q2 = (
        hll_buckets_by(keyed(stream_ev), "event_type", "uid")
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_ghll")
        .start()
    )
    q2.processAllAvailable()
    q2.stop()
    got2 = _rows(spark.sql("SELECT * FROM t_ghll"))
    want2 = _rows(hll_buckets_by(keyed(batch_ev), "event_type", "uid"))
    assert got2 == want2


def test_funnel_depths_stream_equals_batch(spark):
    """funnel_user_depths is a single stateful aggregate + map-side fold,
    so it runs unchanged on the event stream (T4 unified API): complete
    mode converges to the batch depths."""
    from flink_bm25_spark.operators.sessions import funnel_user_depths

    batch, stream = _stream_events(spark)
    got = _run_complete(funnel_user_depths(stream), spark, "t_funnel")
    want = funnel_user_depths(batch)
    assert _rows(got) == _rows(want)


def test_winnow_screen_stream(spark, tmp_path):
    """WinnowScreen through the generic screen_stream loop: near-copies
    arriving in LATER micro-batches are screened against earlier ones
    via the fingerprint store (first-arrival policy)."""
    from flink_bm25_spark.api import WinnowScreen
    from flink_bm25_spark.streaming.curation import (
        read_screened,
        screen_stream,
    )

    base = " ".join(f"w{i:02d}" for i in range(20))
    other = " ".join(f"z{i:02d}" for i in range(20))
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, base + " a1 a2"), (2, other)], "doc_id bigint, text string"
    ).write.parquet(src)
    spark.createDataFrame(
        [(10, base + " b1 b2"), (11, " ".join(f"y{i}" for i in range(20)))],
        "doc_id bigint, text string",
    ).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    out, ckpt, state = (
        str(tmp_path / "out"), str(tmp_path / "ckpt"), str(tmp_path / "state")
    )
    screen_stream(stream, WinnowScreen(min_shared=2), out, ckpt, state)
    kept = {r.doc_id for r in read_screened(spark, out).collect()}
    # exactly one of each near-dup pair survives; singletons survive
    assert (1 in kept) != (10 in kept)
    assert {2, 11} <= kept and len(kept) == 3


def test_append_log_redelivered_batch_counted_once(spark, tmp_path):
    # foreachBatch delivers at least once: writing batch 0 twice (a
    # redelivery) must replace its partition, not add a second copy
    from flink_bm25_spark.streaming.append_log import (
        append_batch_writer,
        read_additive,
    )

    log = str(tmp_path / "log")
    w = append_batch_writer(log)
    batch = spark.createDataFrame([("a", 3)], "word string, c long")
    w(batch, 0)
    w(batch, 0)
    assert _rows(read_additive(spark, log, ["word"], "c")) == [("a", 3)]
