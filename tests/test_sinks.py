"""Sink-boundary tests: the nested TF document shape (K1,
``model/TF.java:66-74``) and the text-file sink (K4)."""

from __future__ import annotations

import json
import tempfile

from pyspark.sql import functions as F

from flink_bm25_spark.operators.pipeline import corpus_stats_for
from flink_bm25_spark.operators.sinks import tf_vectors, write_text, write_tf_parquet
from tests.conftest import SF_DIR


def test_tf_vectors_shape_and_order(spark):
    s = corpus_stats_for(spark, SF_DIR)
    out = tf_vectors(s.tf, k=30)
    assert out.schema.simpleString() == (
        "struct<doc_id:bigint,tf:array<struct<w:string,c:bigint>>>"
    )
    row = out.where("doc_id = 0").first()
    counts = [e.c for e in row.tf]
    assert counts == sorted(counts, reverse=True)
    assert len(row.tf) <= 30
    # tie order: equal counts sorted ascending by word
    for a, b in zip(row.tf, row.tf[1:]):
        if a.c == b.c:
            assert a.w < b.w


def test_tf_vectors_roundtrip_parquet(spark):
    s = corpus_stats_for(spark, SF_DIR)
    out = tf_vectors(s.tf, k=5)
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/tf"
        write_tf_parquet(out, path)
        back = spark.read.parquet(path)
        assert back.count() == out.count()
        # nullability flags flip on parquet roundtrip; compare shapes
        assert back.schema.simpleString() == out.schema.simpleString()


def test_partitioned_write_prunes(spark):
    from flink_bm25_spark.operators.sinks import write_partitioned
    from flink_bm25_spark.plans import explain_str
    from flink_bm25_spark.sources.tables import load_documents

    docs = load_documents(spark, SF_DIR)
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/by_lang"
        write_partitioned(docs, path, "lang")
        back = spark.read.parquet(path).where("lang = 'en'")
        plan = explain_str(back, "formatted")
        assert "PartitionFilters" in plan and "lang" in plan
        assert back.count() == docs.where("lang = 'en'").count()


def test_bucketed_join_no_shuffle(spark):
    import uuid

    from flink_bm25_spark.operators.pipeline import corpus_stats_for
    from flink_bm25_spark.operators.sinks import write_bucketed_table
    from flink_bm25_spark.plans import count_exchanges

    s = corpus_stats_for(spark, SF_DIR)
    t1 = f"tf_b_{uuid.uuid4().hex[:8]}"
    t2 = f"dl_b_{uuid.uuid4().hex[:8]}"
    try:
        write_bucketed_table(s.tf, t1, 4, "doc_id")
        write_bucketed_table(s.dlen, t2, 4, "doc_id")
        joined = spark.table(t1).join(spark.table(t2), "doc_id")
        # both sides bucketed on the join key: zero shuffle exchanges
        assert count_exchanges(joined) == 0
        assert joined.count() == s.tf.count()
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {t1}")
        spark.sql(f"DROP TABLE IF EXISTS {t2}")


def test_write_text_json_lines(spark):
    s = corpus_stats_for(spark, SF_DIR)
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/txt"
        write_text(s.dlen.limit(10), path)
        lines = spark.read.text(path).collect()
        assert len(lines) == 10
        rec = json.loads(lines[0].value)
        assert set(rec) == {"doc_id", "dl"}


def test_sorted_runs_are_globally_ordered(spark, tmp_path):
    import glob as globmod

    from flink_bm25_spark.operators.pipeline import corpus_stats_for
    from flink_bm25_spark.operators.sinks import write_sorted_runs
    from tests.conftest import SF_DIR

    tf = corpus_stats_for(spark, SF_DIR).tf
    out = str(tmp_path / "sorted_runs")
    write_sorted_runs(tf.select("word", "doc_id", "tf"), out, "word", n_ranges=4)

    files = sorted(globmod.glob(f"{out}/part-*.parquet"))
    assert len(files) >= 2  # actually range-split
    prev_max = None
    total = 0
    for f in files:
        words = [r.word for r in spark.read.parquet(f).select("word").collect()]
        total += len(words)
        if not words:
            continue
        assert words == sorted(words)  # sorted within the run
        if prev_max is not None:
            assert words[0] >= prev_max  # ranges don't overlap, in file order
        prev_max = words[-1]
    assert total == tf.count()  # nothing lost


# --- reference golden text format (output/{pid}.txt) ---------------------

import os
import re

import pytest

GOLDEN_DIR = "/root/reference/output"
# Flink Tuple2.toString of ("word", count): no quotes, no spaces.
GOLDEN_LINE = re.compile(r"^\((?P<w>.+),(?P<c>\d+)\)$")


def _parse_golden(path):
    out = []
    with open(path, encoding="utf-8") as f:
        for ln in f:
            ln = ln.rstrip("\n")
            m = GOLDEN_LINE.match(ln)
            assert m, f"golden line does not parse: {ln!r}"
            out.append((m.group("w"), int(m.group("c"))))
    return out


def test_reference_goldens_structural_contract():
    """The committed goldens (backup/BatchBM25PrePrint.java:224-225) are
    (word,count) tuples with counts non-increasing — pin the contract our
    emitter must reproduce.  They live in the read-only reference
    checkout (TESTDATA.md): skipped, with the reason in the summary,
    where it is absent."""
    golden_dir = os.environ.get("SPARK_GRAFT_REFERENCE_GOLDEN_DIR", GOLDEN_DIR)
    if not os.path.isdir(golden_dir):
        pytest.skip(f"reference goldens not present at {golden_dir}")
    files = sorted(os.listdir(golden_dir))[:5]
    assert files, "reference goldens missing"
    for name in files:
        rows = _parse_golden(os.path.join(golden_dir, name))
        counts = [c for _, c in rows]
        assert counts == sorted(counts, reverse=True), name


def test_reference_text_sink_replays_golden_shape(spark, tmp_path):
    """write_reference_text emits files a reference consumer could not
    tell apart structurally: same line grammar, count-desc order, and
    (with k=30) the MAX_WORD_COUNT cap of BatchBM25PreMain.java:50."""
    from flink_bm25_spark.operators.sinks import (
        reference_text_lines,
        write_reference_text,
    )

    s = corpus_stats_for(spark, SF_DIR)
    path = str(tmp_path / "ref_text")
    write_reference_text(s.tf, path, k=30)

    doc_dirs = [d for d in os.listdir(path) if d.startswith("doc_id=")]
    assert len(doc_dirs) == s.tf.select("doc_id").distinct().count()

    # Re-read one partition the way a reference consumer would read
    # output/{pid}.txt: parse with the SAME regex the goldens satisfy.
    some = sorted(doc_dirs)[0]
    part = [
        f for f in os.listdir(os.path.join(path, some)) if f.startswith("part-")
    ]
    rows = []
    for p in part:
        rows += _parse_golden(os.path.join(path, some, p))
    counts = [c for _, c in rows]
    assert counts == sorted(counts, reverse=True)
    assert 0 < len(rows) <= 30

    # Values, not just shape: the partition's content equals the engine's
    # own top-30 TF for that doc (count-desc, word-asc — the emitter's
    # deterministic tiebreak).
    doc_id = int(some.split("=")[1])
    expect = [
        (r["word"], r["tf"])
        for r in s.tf.where(f"doc_id = {doc_id}")
        .orderBy(F.desc("tf"), F.asc("word"))
        .limit(30)
        .collect()
    ]
    # in-file line order IS the rank order (sorted-prefix write path)
    assert rows == expect
    # and the line grammar round-trips through reference_text_lines
    first = (
        reference_text_lines(s.tf, k=30)
        .where(f"doc_id = {doc_id} and rk = 1")
        .first()
    )
    assert first["line"] == f"({expect[0][0]},{expect[0][1]})"


def test_reference_idf_sink_golden_grammar(spark, tmp_path):
    """write_reference_idf emits the global idf.txt shape of
    backup/BatchBM25PrePrint.java:227: (word,df) tuples in one file,
    parsed by the same grammar as the committed goldens, values equal to
    the engine's DF relation."""
    from flink_bm25_spark.operators.sinks import write_reference_idf

    s = corpus_stats_for(spark, SF_DIR)
    path = str(tmp_path / "idf_txt")
    write_reference_idf(s.df_stats, path)

    parts = [f for f in os.listdir(path) if f.startswith("part-")]
    assert len(parts) == 1  # one global file, like the reference's sink
    rows = _parse_golden(os.path.join(path, parts[0]))
    counts = [c for _, c in rows]
    assert counts == sorted(counts, reverse=True)
    want = {
        (r["word"], r["df"]) for r in s.df_stats.select("word", "df").collect()
    }
    assert set(rows) == want and rows


def test_write_sized_scales_file_count_with_target(spark, tmp_path):
    """Smaller advisory target -> more (smaller) files; data identical
    either way.  This is the AQE rebalance path, so the file count is
    derived from observed bytes, not a hand-guessed coalesce()."""
    import glob

    from flink_bm25_spark.operators.sinks import write_sized
    from flink_bm25_spark.sources.tables import load_documents
    from tests.conftest import SF_DIR

    docs = load_documents(spark, SF_DIR)
    small, large = str(tmp_path / "small"), str(tmp_path / "large")
    write_sized(docs, small, target_mb=0.05)
    write_sized(docs, large, target_mb=64.0)
    n_small = len(glob.glob(small + "/part-*"))
    n_large = len(glob.glob(large + "/part-*"))
    assert n_large == 1  # everything fits one advisory-sized partition
    assert n_small > n_large
    a = sorted(map(tuple, spark.read.parquet(small).collect()))
    b = sorted(map(tuple, spark.read.parquet(large).collect()))
    assert a == b
    # the conf tweak is restored after the write
    assert spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", None
    ) in (None, "64MB")
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.minPartitionSize", None
    ) in (None, "1MB")


def test_write_training_shards_manifest(spark, tmp_path):
    """Sharded write + manifest: counts and token totals match; the
    checksum is order-insensitive (any partitioning agrees) and catches
    a truncated copy."""
    import json

    from flink_bm25_spark.operators.sinks import write_training_shards

    rows = [(i, i % 3, 10 + i) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, shard int, n_tokens long")
    man = write_training_shards(df, str(tmp_path / "ds"))
    on_disk = json.load(open(tmp_path / "ds" / "_manifest.json"))
    assert man == on_disk
    assert man["total_rows"] == 30
    assert man["total_tokens"] == sum(10 + i for i in range(30))
    assert set(man["shards"]) == {"0", "1", "2"}
    # re-partitioned input -> identical manifest (order-insensitive)
    man2 = write_training_shards(
        df.repartition(7), str(tmp_path / "ds2")
    )
    assert man2 == man
    # dropping a row flips that shard's checksum
    man3 = write_training_shards(
        df.where("doc_id <> 9"), str(tmp_path / "ds3")
    )
    assert man3["shards"]["0"]["checksum"] != man["shards"]["0"]["checksum"]
    # round-trip: the partitioned layout reads back complete
    back = spark.read.parquet(str(tmp_path / "ds"))
    assert back.count() == 30 and set(back.columns) == {"doc_id", "shard", "n_tokens"}
