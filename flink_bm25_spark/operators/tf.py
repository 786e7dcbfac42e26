"""Term-frequency operators (A1, A4, P6 in SURVEY.md §2.3).

Reference behavior: per-document ``groupBy(0).sum(1)`` inside a
job-per-document loop (``BatchBM25PreMain.java:200-205``), then a
driver-side sort + top-30 truncation (``:214-236``).

Spark restatement: ONE corpus-wide hash aggregation —
``groupBy(doc_id, word).count()`` — with map-side partial aggregation
(HashAggregateExec partial→final), then a window top-k.  This is the
engine's single big shuffle; everything downstream (doc length, DF, IDF)
derives from its output without re-tokenizing, so the pipeline does O(1)
jobs where the reference does O(corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_bm25_spark.config import TOP_K_TERMS
from flink_bm25_spark.operators.bm25 import rank_topk


def term_frequencies(tokens: DataFrame) -> DataFrame:
    """``(doc_id, word, tf)`` — A1.

    Partial (map-side combine) + final aggregation; the shuffle key
    (doc_id, word) is high-cardinality and therefore skew-resistant even
    for hot words, because doc_id spreads each word across partitions.
    """
    return tokens.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))


def doc_lengths(tf: DataFrame) -> DataFrame:
    """``(doc_id, dl)`` — document length in tokens (BM25 ``|d|``).

    Derived from the TF relation (sum of tf), not from re-tokenizing:
    reuses the aggregated, much smaller intermediate.
    """
    return tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))


def topk_terms(tf: DataFrame, k: int = TOP_K_TERMS) -> DataFrame:
    """Top-k terms per document (A4/P6 — reference cap
    ``MAX_WORD_COUNT=30``, ``BatchBM25PreMain.java:50,229-232``).

    ``row_number`` over (doc_id; tf desc, word asc) — the word tiebreak
    makes results deterministic where the reference's comparator is not
    (``BatchBM25PreMain.java:219-227``, SURVEY.md §5).  Spark ≥3.5 plans
    this with WindowGroupLimit, pushing the k-cut before the full sort.
    """
    return rank_topk(tf, k, "tf", "word", ("doc_id",))


def inverted_index(tf: DataFrame) -> DataFrame:
    """``(word, df, postings)`` — the search-index layout: per term, its
    document frequency and the posting list as ``array<struct<doc_id,
    tf>>`` sorted by doc_id (merge-join-able across terms at query time).

    One shuffle on word; ``collect_list`` is safe here because a posting
    list is bounded by the corpus's per-term document frequency — for
    web-scale terms ("the") pair this with stopword filtering or
    df-capping upstream, exactly as production indexers do.
    """
    return tf.groupBy("word").agg(
        F.count("*").cast("long").alias("df"),
        F.sort_array(F.collect_list(F.struct("doc_id", "tf"))).alias("postings"),
    )
