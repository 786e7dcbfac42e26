"""Spark job budgets of the served index — wall time at this scale tracks
job count, so a read path that starts re-inferring section schemas or
re-folding pinned statistics per query fails here instead of hiding in
host noise.  Each budget diffs the DAG scheduler's next job id around
one call on a small hot-salted index with a forward section."""

from __future__ import annotations

import pytest

from flink_bm25_spark.api import Bm25Index
from flink_bm25_spark.operators.serving import bm25_index_save

# Measured on this fixture before section schemas were pinned and the
# read state was resolved once: add ran 21 jobs, delete 14.
ADD_JOBS_BEFORE = 21
DELETE_JOBS_BEFORE = 14

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
