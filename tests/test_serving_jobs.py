"""Spark job budgets of the served index — wall time at this scale tracks
job count, so a read path that starts re-inferring section schemas or
re-folding pinned statistics per query fails here instead of hiding in
host noise.  Each budget diffs the DAG scheduler's next job id around
one call on a small hot-salted index with a forward section."""

from __future__ import annotations

import pytest

from flink_bm25_spark.api import Bm25Index
from flink_bm25_spark.operators.serving import bm25_index_save
from flink_bm25_spark.operators.similarity import ivf_save, ivf_topk_from_disk

# Measured on this fixture before section schemas were pinned and the
# read state was resolved once: add ran 21 jobs, delete 14.
ADD_JOBS_BEFORE = 21
DELETE_JOBS_BEFORE = 14
# One IVF probe below, measured while the centroid table was still read
# by schema inference: 4 jobs, two of them "parquet at ..." inferences.
IVF_PROBE_JOBS_BEFORE = 4

QUERY = "w1 w2 w250"


def _docs(spark, n=300, base=0):
    # every doc carries w0..w19-heavy text, so the head words cross the
    # hot cap and the index salts them across sub-buckets
    rows = []
    for i in range(base, base + n):
        words = [f"w{(i * 7 + j * 13) % 20}" for j in range(10)]
        words += [f"w{(i * 31 + j * 17) % 300}" for j in range(10)]
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture
def index(spark, tmp_path):
    path = str(tmp_path / "idx")
    bm25_index_save(
        _docs(spark), path, n_buckets=8, hot_df_cap=40, forward=True
    )
    return Bm25Index(spark, path)


def _jobs(spark, fn) -> list[str]:
    """Names of the Spark jobs ``fn`` ran."""
    core = spark.sparkContext._jsc.sc()
    first = int(core.dagScheduler().nextJobId())
    fn()
    core.listenerBus().waitUntilEmpty()
    store = core.statusStore()
    last = int(core.dagScheduler().nextJobId())
    return [store.job(j).name() for j in range(first, last)]


def _inference(names: list[str]) -> list[str]:
    # a served query writes nothing, so every "parquet at ..." job in it
    # is a schema inference
    return [n for n in names if n.startswith("parquet at")]


def test_warm_search_and_warm_budgets(spark, index):
    warm = _jobs(spark, index.warm)
    assert len(warm) <= 6, warm
    for q in (QUERY, "w3 w5", "w7"):
        names = _jobs(spark, lambda q=q: index.search(q).collect())
        assert len(names) <= 3, (q, names)
        assert not _inference(names), names
    index.cool()


def test_cold_search_budget_before_and_after_writes(spark, index):
    names = _jobs(spark, lambda: index.search(QUERY).collect())
    assert len(names) <= 8, names
    assert not _inference(names), names
    index.add(_docs(spark, n=10, base=1000))
    index.delete([1, 2, 3])
    names = _jobs(spark, lambda: index.search(QUERY).collect())
    assert len(names) <= 8, names
    assert not _inference(names), names
    names = _jobs(
        spark,
        lambda: index.search_batch([(0, ["w1", "w2"]), (1, ["w7"])]).collect(),
    )
    assert not _inference(names), names


def test_write_budgets(spark, index):
    add = _jobs(spark, lambda: index.add(_docs(spark, n=10, base=1000)))
    assert len(add) <= ADD_JOBS_BEFORE - 4, add
    delete = _jobs(spark, lambda: index.delete([1, 2, 3]))
    assert len(delete) <= DELETE_JOBS_BEFORE - 4, delete


def test_ivf_probe_budget(spark, tmp_path):
    """One ``ivf_topk_from_disk`` probe on a 60-vector, 2-cell index: the
    centroid table is read with its declared schema, so
    the only inference job left is the ``cells/`` read (its schema
    varies with the embedding type and ``post_train``)."""
    vecs = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), 1.0], i % 2) for i in range(60)],
        "vec_id long, embedding array<double>, cell int",
    )
    path = str(tmp_path / "ivf")
    ivf_save([[0.0, 0.0, 1.0], [5.0, 4.0, 1.0]], vecs, path)
    probe = lambda: ivf_topk_from_disk(  # noqa: E731
        spark, path, [1.0, 1.0, 1.0], k=5, nprobe=1
    ).collect()
    names = _jobs(spark, probe)
    assert len(names) <= IVF_PROBE_JOBS_BEFORE - 1, names
    assert len(_inference(names)) <= 1, names
