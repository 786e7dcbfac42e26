"""TF-IDF scoring and BM25 ranking (F2, F3 in SURVEY.md §2.4).

The reference materializes per-doc TF (``MongoTFSink.java:43-58``), global
DF (``BatchBM25PreMain.java:107-123``) and corpus size, then stops — the
BM25 formula appears nowhere in its code (SURVEY.md §0).  This module is
the natural completion: standard Robertson–Spärck Jones BM25 over exactly
those statistics.

Scale shape of :func:`bm25_rank` (the only joins in the engine —
SURVEY.md §2.6):

1. Filter the TF relation to the query's terms FIRST — the predicate
   prunes the big fact table before any join (at 100 TB this is the
   difference between joining billions and millions of rows).
2. Broadcast the per-term IDF dictionary (|query| rows) — no shuffle.
3. One shuffle join with doc lengths on ``doc_id``; AQE handles skew.
4. Aggregate per document and take global top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_bm25_spark.config import BM25_B, BM25_K1


def tfidf(tf: DataFrame, idf_stats: DataFrame) -> DataFrame:
    """``(doc_id, word, tfidf)`` = tf × idf (F2 — ``TfIdfUtil.java:126-137``).

    The IDF side is one row per vocabulary word — orders of magnitude
    smaller than TF — so it is broadcast: the join is map-side.
    """
    return tf.join(F.broadcast(idf_stats.select("word", "idf")), "word").select(
        "doc_id", "word", (F.col("tf") * F.col("idf")).alias("tfidf")
    )


def bm25_score_expr(tf, idf_col, dl, avgdl, k1: float = BM25_K1, b: float = BM25_B):
    """Per-(doc, term) BM25 contribution:
    ``idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))``."""
    tf_d = tf.cast("double")
    denom = tf_d + F.lit(k1) * (
        F.lit(1.0) - F.lit(b) + F.lit(b) * dl.cast("double") / avgdl
    )
    return idf_col * (tf_d * F.lit(k1 + 1.0)) / denom


def rank_topk(
    scored: DataFrame,
    k: int,
    score: str = "score",
    id_col: str = "doc_id",
    group_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Top-``k`` of ``scored`` by ``score`` desc, ``id_col`` asc — per
    ``group_cols`` key, or globally over zero keys — with a 1-based
    ``rk`` column appended.  The engine's one top-k rule.

    Zero keys: orderBy+limit plans TakeOrderedAndProject: each
    partition keeps a k-row heap and only k rows per partition move to
    the final merge (a row_number window over ``scored`` would instead
    drag every scored doc into ONE partition — wrong at scale).  Its
    output is ONE partition holding the k rows in sort order (the
    operator's declared SinglePartition / outputOrdering), so a row's
    index there is its rank: ``monotonically_increasing_id`` numbers
    partition 0's rows 0..k-1.  No rank window, hence no WindowExec
    logging "No Partition Defined" on every call (partitioning the
    window by a literal does not help: the optimizer drops foldable
    window partitions).

    With keys: ``row_number <= k`` over the key partition — Spark plans
    WindowGroupLimit, which prunes to k rows per key below the window
    sort, so no key ever sorts more than its own rows."""
    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy(
            F.desc(score), F.asc(id_col)
        )
        return scored.withColumn(
            "rk", F.row_number().over(w).cast("int")
        ).where(F.col("rk") <= F.lit(k))
    return (
        scored.orderBy(F.desc(score), F.asc(id_col))
        .limit(k)
        .withColumn("rk", (F.monotonically_increasing_id() + 1).cast("int"))
    )


def bm25_topk(
    joined: DataFrame,
    idf,
    avgdl,
    k: int | None,
    k1: float = BM25_K1,
    b: float = BM25_B,
    by: tuple[str, ...] = (),
    weight=None,
    n_terms: int | None = None,
    score: str = "score",
) -> DataFrame:
    """The BM25 scoring core every ranker shares — ``(*by, doc_id,
    score, rk)``: per-(doc, term) contributions (times the per-term
    ``weight`` Column when given) summed per ``(*by, doc_id)``, rounded
    to 6 places and cut to the top ``k`` per ``by`` key (globally over
    zero keys) by :func:`rank_topk`.  ``k=None`` stops at the raw
    per-doc sum — no round, no cut, no ``rk`` (facets roll it up).

    It starts where each caller's joins end, so every caller keeps its
    own join order and physical plan: ``joined`` carries ``tf`` and
    ``dl`` per posting plus whatever the ``idf`` and ``avgdl`` Columns
    read.  Batch callers join postings ⋈ broadcast idf ⋈ dlen ×
    broadcast avgdl (:func:`_corpus_topk`); served callers join
    postings ⋈ the broadcast df fold, ``idf = ln(n_docs/(df+1))`` —
    the same ``ln(N/(df+1))``.

    ``n_terms`` keeps only docs holding that many distinct words (AND):
    a ``count_distinct(word)`` in the same aggregate and a HAVING cut —
    no second pass, no self-join per term."""
    keys = [*by, "doc_id"]
    contrib = bm25_score_expr(F.col("tf"), idf, F.col("dl"), avgdl, k1, b)
    if weight is not None:
        contrib = weight * contrib
    total = F.sum("contrib") if k is None else F.round(F.sum("contrib"), 6)
    words, aggs = [], [total.alias(score)]
    if n_terms is not None:
        words = ["word"]
        aggs.append(F.count_distinct("word").alias("_nt"))
    scored = (
        joined.select(*keys, *words, contrib.alias("contrib"))
        .groupBy(*keys)
        .agg(*aggs)
    )
    if n_terms is not None:
        scored = scored.where(F.col("_nt") == F.lit(n_terms)).select(*keys, score)
    return scored if k is None else rank_topk(scored, k, score, group_cols=by)


def _corpus_topk(
    matches: DataFrame,
    idf_stats: DataFrame,
    dlen: DataFrame,
    k: int | None,
    k1: float,
    b: float,
    avgdl_row: DataFrame | None = None,
    **kw,
) -> DataFrame:
    """The batch rankers' join order in front of :func:`bm25_topk`:
    postings ``matches`` ⋈ broadcast idf (|query| rows) ⋈ dlen (one
    doc_id shuffle join) × broadcast avgdl (one row, so the scalar never
    round-trips through Python)."""
    if avgdl_row is None:
        avgdl_row = dlen.agg(F.avg("dl").alias("avgdl"))
    joined = (
        matches.join(F.broadcast(idf_stats.select("word", "idf")), "word")
        .join(dlen, "doc_id")
        .crossJoin(F.broadcast(avgdl_row))
    )
    return bm25_topk(joined, F.col("idf"), F.col("avgdl"), k, k1, b, **kw)


def bm25_rank(
    tf: DataFrame,
    idf_stats: DataFrame,
    dlen: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    *,
    _avgdl_row: DataFrame | None = None,
) -> DataFrame:
    """Top-k documents for a bag-of-words query — ``(doc_id, score, rk)``.

    ``avgdl`` enters the plan as a broadcast one-row cross join — not a
    driver-side ``first()`` — so the whole ranking is ONE Spark job and the
    scalar never round-trips through Python.  Ranking ties break on doc_id
    so output is deterministic.

    ``_avgdl_row`` (internal, r10): composites that rank more than once
    over the same corpus (RM3's two passes) pass ONE materialized
    ``avg(dl)`` scalar relation so the full-corpus average is not
    re-aggregated per pass — same value, fused subtree.
    """
    matches = tf.where(F.col("word").isin(*query_terms))
    return _corpus_topk(matches, idf_stats, dlen, k, k1, b, _avgdl_row)


def doc_norms(tfidf_rel: DataFrame) -> DataFrame:
    """``(doc_id, norm)`` — L2 norm of each document's sparse TF-IDF
    vector.  A corpus-wide per-doc statistic (one shuffle on ``doc_id``);
    at scale it is materialized once alongside TF/DF and reused by every
    similarity query."""
    return tfidf_rel.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tfidf") * F.col("tfidf"))).alias("norm")
    )


def more_like_this(tfidf_rel: DataFrame, source_doc_id: int, k: int = 10) -> DataFrame:
    """Top-k documents most cosine-similar to ``source_doc_id`` under
    sparse TF-IDF — "more like this" over the inverted corpus relation.

    The capability the reference's materialized TF/IDF store exists to
    serve (``TfIdfUtil.java:126-137`` computes exactly these products
    doc-at-a-time in local Java maps); here it is one declarative plan:

    1. The source vector (one doc's terms — at most a few hundred rows)
       broadcasts; the corpus-side TF-IDF relation is pruned to matching
       words by the map-side join, so only postings of the source's terms
       ever leave the scan.
    2. One ``groupBy(doc_id)`` sums the dot products — shuffle volume is
       O(docs sharing a term), not O(corpus).
    3. Norms join on the same key; the global top-k compiles to
       TakeOrderedAndProject on the *rounded* cosine with doc-id tiebreak
       (cross-engine stable), never a full sort.
    """
    src = tfidf_rel.where(F.col("doc_id") == source_doc_id).select(
        "word", F.col("tfidf").alias("w_src")
    )
    norms = doc_norms(tfidf_rel)
    src_norm = norms.where(F.col("doc_id") == source_doc_id).select(
        F.col("norm").alias("src_norm")
    )
    dots = (
        tfidf_rel.where(F.col("doc_id") != source_doc_id)
        .join(F.broadcast(src), "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("tfidf") * F.col("w_src")).alias("dot"))
    )
    top = (
        dots.join(norms, "doc_id")
        .join(F.broadcast(src_norm))
        .select(
            "doc_id",
            F.round(F.col("dot") / (F.col("norm") * F.col("src_norm")), 6).alias(
                "cosine"
            ),
        )
    )
    return rank_topk(top, k, score="cosine")


def bm25_rank_conjunctive(
    tf: DataFrame,
    idf_stats: DataFrame,
    dlen: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """AND-semantics top-k — ``(doc_id, score, rk)`` for documents
    containing EVERY query term (the conjunctive half of the boolean
    retrieval surface; :func:`bm25_rank` is the disjunctive OR form).

    The conjunction costs nothing beyond the aggregation the OR form
    already runs: a ``count(distinct word)`` column in the same
    ``groupBy(doc_id)``, filtered to the distinct-term count — no second
    pass, no self-join per term (the naive AND plan).  Postings are
    pruned to query terms at the scan exactly as in the OR form, so
    shuffle volume is O(docs matching ANY term) before the HAVING cut.
    """
    matches = tf.where(F.col("word").isin(*query_terms))
    return _corpus_topk(
        matches, idf_stats, dlen, k, k1, b, n_terms=len(set(query_terms))
    )


def bm25_rank_excluding(
    tf: DataFrame,
    idf_stats: DataFrame,
    dlen: DataFrame,
    query_terms: tuple[str, ...],
    exclude_terms: tuple[str, ...],
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Boolean-NOT retrieval — :func:`bm25_rank` restricted to documents
    containing NONE of ``exclude_terms`` (completing the boolean surface:
    OR = ``bm25_rank``, AND = :func:`bm25_rank_conjunctive`, NOT = this).

    The exclusion is ONE left-anti join against the excluded terms'
    postings — doc-id-sized on the probe side, postings pruned to the
    excluded terms at the scan (never a corpus scan per excluded term,
    never a NOT-IN subquery per doc).  Ranking then proceeds exactly as
    the OR form over the surviving candidates, so scores equal
    ``bm25_rank``'s for every surviving document.
    """
    banned = (
        tf.where(F.col("word").isin(*exclude_terms))
        .select("doc_id")
        .distinct()
    )
    matches = tf.where(F.col("word").isin(*query_terms)).join(
        banned, "doc_id", "left_anti"
    )
    return _corpus_topk(matches, idf_stats, dlen, k, k1, b)


def bm25_batch_rank(
    tf: DataFrame,
    idf_stats: DataFrame,
    dlen: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "query_id",
    terms_col: str = "terms",
) -> DataFrame:
    """``(query_id, doc_id, score, rk)`` — top-k per query for a whole
    RELATION of bag-of-words queries in ONE plan: the batch-retrieval
    primitive behind eval-set scoring and BM25 hard-negative mining,
    where thousands of queries rank against the corpus at once and a
    per-query driver loop (the reference's job-per-request shape) would
    take thousands of jobs.

    Plan: the exploded (query, term) relation is tiny and broadcasts
    into the postings join, so the corpus-side TF relation is pruned to
    terms ANY query uses and scanned once regardless of query count; one
    ``groupBy(query, doc)`` sums the contributions; the per-query k-cut
    is ``row_number <= k`` over the query partition — WindowGroupLimit
    prunes to k rows per query below the sort, never a global sort.
    Scores are identical to :func:`bm25_rank` of each query alone
    (pinned by test).
    """
    q_terms = queries.select(
        F.col(id_col), F.explode(F.col(terms_col)).alias("word")
    ).distinct()
    matches = tf.join(F.broadcast(q_terms), "word")
    return _corpus_topk(matches, idf_stats, dlen, k, k1, b, by=(id_col,))


def bm25_rank_prf(
    tf: DataFrame,
    idf_stats: DataFrame,
    dlen: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    fb_docs: int = 5,
    fb_terms: int = 5,
    orig_weight: float = 0.6,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Pseudo-relevance-feedback retrieval (RM3-style two-pass ranking,
    Lavrenko & Croft 2001 / Abdul-Jaleel et al. 2004 simplified to the
    TF-IDF relevance weights the engine materializes) —
    ``(doc_id, score, rk)``:

    1. rank with :func:`bm25_rank`, keep the top ``fb_docs`` documents
       as the pseudo-relevant set;
    2. mine the ``fb_terms`` strongest expansion terms from that set —
       per-term tf×idf mass summed over the feedback docs (rounded to 6
       decimals BEFORE the cut so the selection replays cross-engine),
       original query terms excluded, ties toward the lexically smaller
       word; only POSITIVE mass qualifies (``idf = ln(N/(df+1))`` goes
       negative for near-ubiquitous terms, and a non-positive max would
       invert the ``wgt/max`` normalization);
    3. re-rank with the weighted query: original terms at
       ``orig_weight`` each, expansion terms at
       ``(1 - orig_weight) × wgt/max_wgt`` — one weighted BM25 pass.

    Plan shape: pass 1 is ``bm25_rank`` (postings pruned to the query's
    terms at the scan); the feedback-doc set (``fb_docs`` rows) and the
    mined term relation (``fb_terms`` rows) broadcast, so expansion
    mining touches only the feedback docs' postings and pass 2 prunes
    the corpus to ``|query| + fb_terms`` words — never a corpus rescan
    beyond the two postings probes.  Everything is one declarative DAG;
    no term list round-trips through the driver.

    Shared subtrees are fused (r10, batch-only composite): Catalyst
    executes every ``broadcast(...)`` build as its own job, and this
    DAG embeds the pruned idf dictionary three times, the avgdl scalar
    twice, and the whole pass-1 ranking up to four times (fb → mined →
    mx → qrel each replay it).  One lazy ``localCheckpoint`` per shared
    relation makes each compute ONCE and every later broadcast replay
    the materialized rows — identical values, ~10 broadcast-subtree
    jobs collapse to 4 small ones plus the two ranking passes.
    """
    idf_sel = idf_stats.select("word", "idf").localCheckpoint(eager=False)
    avgdl_row = (
        dlen.agg(F.avg("dl").alias("avgdl")).localCheckpoint(eager=False)
    )
    fb = (
        bm25_rank(
            tf, idf_sel, dlen, query_terms, fb_docs, k1, b,
            _avgdl_row=avgdl_row,
        )
        .select("doc_id")
        .localCheckpoint(eager=False)
    )
    mined = (
        tf.join(F.broadcast(fb), "doc_id")
        .where(~F.col("word").isin(*query_terms))
        .join(F.broadcast(idf_sel), "word")
        .groupBy("word")
        .agg(F.round(F.sum(F.col("tf") * F.col("idf")), 6).alias("wgt"))
        .where(F.col("wgt") > 0)
        .orderBy(F.desc("wgt"), F.asc("word"))
        .limit(fb_terms)
        .localCheckpoint(eager=False)
    )
    mx = mined.agg(F.max("wgt").alias("mx"))
    expansion = mined.crossJoin(F.broadcast(mx)).select(
        "word",
        (F.lit(1.0 - orig_weight) * F.col("wgt") / F.col("mx")).alias("qwgt"),
    )
    spark = tf.sparkSession
    original = spark.createDataFrame(
        [(w,) for w in dict.fromkeys(query_terms)], "word string"
    ).select("word", F.lit(float(orig_weight)).alias("qwgt"))
    qrel = original.unionByName(expansion)

    matches = tf.join(F.broadcast(qrel), "word")
    return _corpus_topk(
        matches, idf_sel, dlen, k, k1, b, avgdl_row, weight=F.col("qwgt")
    )


def bm25_facets(
    tf: DataFrame,
    idf_stats: DataFrame,
    dlen: DataFrame,
    documents_meta: DataFrame,
    query_terms: tuple[str, ...],
    facet_col: str = "lang",
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Faceted result counts — ``(facet, n_docs, total_score)`` over ALL
    documents matching any query term (the aggregation a search UI shows
    next to the top-k list: "1,204 results in en, 310 in de, ...").

    Plan: the scored relation is the same pruned-postings aggregation
    ``bm25_rank`` runs (never a corpus scan), so the facet join touches
    only matching doc_ids; ``documents_meta`` is ``(doc_id, facet)`` —
    at 100 TB pass a pruned projection, the join is doc_id-keyed on the
    match set.  One extra groupBy on the facet closes it out.
    """
    matches = tf.where(F.col("word").isin(*query_terms))
    scored = _corpus_topk(matches, idf_stats, dlen, None, k1, b)
    meta = documents_meta.select(
        "doc_id", F.col(facet_col).alias("facet")
    )
    return (
        scored.join(meta, "doc_id")
        .groupBy("facet")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.sum("score"), 6).alias("total_score"),
        )
    )


def bm25_snippets(
    documents: DataFrame,
    ranked: DataFrame,
    query_terms: tuple[str, ...],
    width: int = 60,
) -> DataFrame:
    """Attach a match snippet to a ranked result set —
    ``(doc_id, score, rk, snippet)``: the ``width`` characters of the
    document starting at the FIRST occurrence of any query term
    (earliest position wins; term list order breaks position ties only
    via ``least`` being order-insensitive, so the choice is
    deterministic).  Documents where no term occurs as a substring
    (possible when ranking matched a token the raw text cases
    differently) fall back to the document head.

    Plan: ``ranked`` is k rows — it broadcasts into the documents scan
    and the snippet is a map-side substring; the corpus is read once,
    projected to (doc_id, text), never shuffled.
    """
    low = F.lower(F.col("text"))
    first_pos = F.least(
        *[
            F.nullif(F.instr(low, F.lit(t)), F.lit(0))
            for t in dict.fromkeys(query_terms)
        ]
    )
    start = F.coalesce(first_pos, F.lit(1))
    return (
        documents.select("doc_id", "text")
        .join(F.broadcast(ranked), "doc_id")
        .select(
            "doc_id",
            "score",
            "rk",
            F.substring(F.col("text"), start, width).alias("snippet"),
        )
    )
