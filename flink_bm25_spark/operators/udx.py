"""User-function surface — the Spark twin of every Flink function
interface the reference uses (SURVEY.md §2.9), demonstrated end-to-end.

The engine's HOT paths never use these (built-in expressions and Arrow
``mapInPandas`` carry the pipelines); this module exists because the
reference's extension mechanism IS its function interfaces, so a user
porting custom ``FlatMapFunction``/``ReduceFunction`` logic needs the
idiomatic slot for each:

=======================  ==========================================
Flink interface          Spark slot here
=======================  ==========================================
``FlatMapFunction``      :func:`tokenize_udtf` — arrow Python UDTF
``MapFunction``          built-in ``withColumn`` (no UDF needed)
``FilterFunction``       built-in ``where`` (no UDF needed)
``ReduceFunction``       :func:`merge_counts_grouped_agg` —
                         ``pandas_udf`` GROUPED_AGG (map-side
                         partials + associative merge, like Flink's
                         combine/reduce)
``KeySelector``          ``groupBy(expression)``
``RichOutputFormat``     ``foreachBatch`` (see streaming/) / sinks
=======================  ==========================================

Every slot is tested equal to its built-in twin — they are escape
hatches, not alternative semantics.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tokenize_udtf(documents: DataFrame) -> DataFrame:
    """The reference's tokenize ``FlatMapFunction`` (1→N,
    ``BatchBM25PreMain.java:183-196``) as a PySpark arrow-optimized
    **Python UDTF** — the most literal Spark translation of Flink's
    ``flatMap(value, Collector out)`` shape: ``eval`` yields 0..N rows
    per input row.

    Prefer :func:`flink_bm25_spark.operators.tokenize.tokenize`
    (explode of a codegen'd split — no Python at all) or the Arrow
    ``mapInPandas`` slot for model-backed segmenters; this exists to
    cover the UDTF port path with identical output.
    """
    from pyspark.sql.functions import lit, udtf  # noqa: PLC0415

    @udtf(returnType="doc_id: long, word: string", useArrow=True)
    class Tokenize:
        def eval(self, doc_id: int, text: str):  # noqa: ANN001
            for w in (text or "").lower().split():
                if w:
                    yield doc_id, w

    from flink_bm25_spark.operators.pipeline import (  # noqa: PLC0415
        _parallelize_scan,
    )

    # lateral-join form: one UDTF call per document row; spread a
    # single-file scan first or the Python stage runs on one core
    spark = documents.sparkSession
    _parallelize_scan(documents.select("doc_id", "text")).createOrReplaceTempView(
        "__udtf_docs"
    )
    spark.udtf.register("__tokenize_udtf", Tokenize)
    _ = lit  # imported for parity with docs; lateral join passes columns
    return spark.sql(
        "SELECT t.doc_id, t.word FROM __udtf_docs d, "
        "LATERAL __tokenize_udtf(d.doc_id, d.text) t"
    )


def merge_counts_grouped_agg(counts: DataFrame) -> DataFrame:
    """The reference's ``ReduceFunction``/lambda-sum merge
    (``backup/StreamingJob.java:319``, ``SocketWindowWordCount.java:165``)
    as a ``pandas_udf`` GROUPED_AGG — Spark's associative-merge UDAF
    slot: partial aggregation runs map-side per group partition, exactly
    Flink's combine → reduce contract.

    Input ``(word, cnt)`` (pre-aggregated shards); output ``(word, cnt)``
    merged.  Equal to the built-in ``sum`` by construction — the slot
    matters when the merge is NOT a built-in (custom monoid).
    """
    # Series -> scalar hints make this a grouped agg; pyspark resolves
    # the stringified hints against this module's globals, hence the
    # module-level pandas import
    @F.pandas_udf("long")
    def merge(v: pd.Series) -> int:
        # associative, commutative — safe under partial aggregation
        return int(v.sum())

    return counts.groupBy("word").agg(merge(F.col("cnt")).alias("cnt"))
