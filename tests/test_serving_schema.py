"""Every index section is read with its declared schema
(``SECTION_SCHEMAS`` — no inference job per read), so every writer must
produce exactly that schema: after each mutation, the schema parquet
inference returns for a section on disk must equal the declared one.
This catches a writer drifting from the pinned reader — int vs long on
``doc_id``, ``_batch_id`` or ``bucket``, a renamed or reordered column."""

from __future__ import annotations

from pyspark.sql.types import StructType

from flink_bm25_spark.api import Bm25Index
from flink_bm25_spark.operators.serving import (
    BATCH_COL,
    SECTION_SCHEMAS,
    SECTIONS,
    _Layout,
    _read_section,
    _section_batch_ids,
    bm25_index_save,
)
from tests.test_serving_v2 import _run_cdc, _write_cdc_batches


def _docs(spark, ids):
    # int doc ids on purpose: the writers must still store long
    rows = [
        (i, " ".join(["hot", "head"] * 3 + [f"w{i % 11}", f"x{i % 5}"]))
        for i in ids
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def _assert_sections_match(spark, path, step):
    lay = _Layout(spark, path)
    present = [s for s in SECTIONS if lay.has(s)]
    assert {"postings", "df", "stats", "forward"} <= set(present), step
    for name in present:
        inferred = spark.read.parquet(lay.sec(name)).schema
        declared = StructType.fromDDL(SECTION_SCHEMAS[name])
        assert inferred == declared, (step, name, inferred.simpleString())
        # the job-free directory listing sees exactly the batches a read does
        read = _read_section(spark, lay, name).select(BATCH_COL).distinct()
        listed = _section_batch_ids(spark, lay, name)
        assert listed == {r[0] for r in read.collect()}, (step, name)


def test_every_writer_matches_the_declared_section_schemas(spark, tmp_path):
    path = str(tmp_path / "idx")
    bm25_index_save(
        _docs(spark, range(60)), path, n_buckets=8, hot_df_cap=10, forward=True
    )
    _assert_sections_match(spark, path, "create")
    assert _Layout(spark, path).has("hot")

    idx = Bm25Index(spark, path)
    idx.add(_docs(spark, range(100, 120)))
    _assert_sections_match(spark, path, "add")
    idx.delete([1, 2, 3])
    _assert_sections_match(spark, path, "delete")
    assert _Layout(spark, path).has("deleted")
    idx.upsert(_docs(spark, [4, 5, 200]))
    _assert_sections_match(spark, path, "upsert")

    src = str(tmp_path / "cdc")
    _write_cdc_batches(
        spark,
        src,
        [[("upsert", 6, "fresh crawl hot head", 1), ("delete", 7, None, 2)]],
    )
    _run_cdc(spark, src, path, str(tmp_path / "ckpt"))
    _assert_sections_match(spark, path, "cdc")

    idx.compact(hot_df_cap=10)
    _assert_sections_match(spark, path, "compact")
    assert _Layout(spark, path).version == 1
    idx.gc(grace_seconds=0)
    _assert_sections_match(spark, path, "gc")
