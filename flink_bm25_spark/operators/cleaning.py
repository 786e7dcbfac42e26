"""End-to-end corpus cleaning — the composed training-data pipeline.

The reference stops at per-operator outputs; a 100 TB pretraining pipeline
composes them: quality-score every document, detect near-duplicate
clusters, elect one canonical document per cluster, and emit the kept
set.  This module is that composition — one declarative plan, so Catalyst
shares the scan and prunes columns across all three stages.

Scale shape: quality scoring is pure map-side codegen (no shuffle);
near-dup detection is the LSH pipeline (shuffles bounded by band-bucket
collisions, :mod:`flink_bm25_spark.operators.dedup`); cluster election is
O(log d) label propagation (:mod:`flink_bm25_spark.operators.graph`); the
final filter is a **left-anti join against the loser set**, which is tiny
relative to the corpus (duplicate fraction × corpus) and broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from flink_bm25_spark.operators.bm25 import rank_topk
from flink_bm25_spark.operators.dedup import minhash_dedup_pairs
from flink_bm25_spark.operators.graph import dedup_clusters
from flink_bm25_spark.operators.text_analysis import quality_scores


def clean_corpus(
    documents: DataFrame,
    min_keep_score: float = 0.2,
    jaccard_threshold: float = 0.8,
    checkpoint: bool = False,
) -> DataFrame:
    """``(doc_id, keep_score)`` for every document that survives cleaning:
    ``keep_score >= min_keep_score`` AND not a non-canonical member of a
    near-duplicate cluster (cluster-min doc id survives for each cluster).

    The loser set is duplicate-fraction-sized — usually small, but at a
    30–50% duplicate rate on a large corpus it is NOT broadcastable, so
    no broadcast hint is forced here: AQE picks broadcast when the
    runtime size allows and falls back to a shuffled anti-join when it
    doesn't (a forced hint would OOM the driver instead).

    ``checkpoint=True`` lazily localCheckpoints the input once so the
    quality and LSH branches replay ONE corpus read instead of scanning
    it each (Catalyst does not share scans across branches).  OFF by
    default, unlike :func:`~flink_bm25_spark.operators.text_analysis.
    gopher_filter`: there the branches re-pay TOKENIZATION per scan and
    the checkpoint measured ~2× faster, here the shared prefix is only
    the pruned parquet read and materializing the unpruned corpus
    measured ~2× SLOWER at sf0.1 (r6 A/B).  Turn it on when the input
    is an expensive derived lineage or the storage is remote/cold
    enough that re-reading beats one local write.  Batch-only when on.
    """
    if checkpoint:
        documents = documents.localCheckpoint(eager=False)
    scored = quality_scores(documents).select("doc_id", "keep_score")
    pairs = minhash_dedup_pairs(documents, jaccard_threshold)
    losers = (
        dedup_clusters(pairs)
        .where(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id")
    )
    return scored.where(F.col("keep_score") >= min_keep_score).join(
        losers, "doc_id", "left_anti"
    )


def elect_cluster_representatives(
    documents: DataFrame,
    pairs: DataFrame | None = None,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """``(canonical_id, best_doc, best_score)`` — the highest-quality
    member of each near-duplicate cluster (ties fall to the lowest
    ``doc_id``), one row per cluster.

    The reference's dedup story keeps the *first* representative it sees
    (its ``(word,count)`` distinct, ``backup/BatchBM25Pre.java:153`` has
    no notion of choice); ``clean_corpus`` refines that to the
    deterministic cluster-min id.  Production corpus curation usually
    wants neither: when boilerplate spawns a duplicate cluster, keep the
    member with the best quality signal and drop the rest.  This is that
    policy, as one declarative plan.

    Scale shape: ``quality_scores`` is map-side codegen; the score join
    is keyed on ``doc_id`` (same key the cluster relation is already
    hashed on); the argmax window partitions by ``canonical_id``, whose
    partition size is the cluster population — bounded and small, never
    the corpus.  Nothing data-dependent is broadcast.
    """
    if pairs is None:
        pairs = minhash_dedup_pairs(documents, jaccard_threshold)
    members = dedup_clusters(pairs).select("doc_id", "canonical_id")
    scored = quality_scores(documents).select("doc_id", "keep_score")
    return (
        rank_topk(
            members.join(scored, "doc_id"),
            1,
            "keep_score",
            group_cols=("canonical_id",),
        )
        .select(
            "canonical_id",
            F.col("doc_id").alias("best_doc"),
            F.col("keep_score").alias("best_score"),
        )
    )


def clean_corpus_keep_best(
    documents: DataFrame,
    min_keep_score: float = 0.2,
    jaccard_threshold: float = 0.8,
) -> DataFrame:
    """``clean_corpus`` with the keep-best-quality election policy:
    survivors are documents that clear the quality gate AND are either
    unclustered or their cluster's elected best-quality representative.

    Same plan skeleton as :func:`clean_corpus` (the loser set is
    duplicate-fraction-sized and joined anti, AQE choosing the
    strategy); only the election rule differs, so the two are directly
    comparable A/B policies over one corpus.
    """
    scored = quality_scores(documents).select("doc_id", "keep_score")
    pairs = minhash_dedup_pairs(documents, jaccard_threshold)
    members = dedup_clusters(pairs).select("doc_id", "canonical_id")
    reps = elect_cluster_representatives(documents, pairs=pairs)
    losers = members.join(
        reps.select(F.col("best_doc").alias("doc_id")), "doc_id", "left_anti"
    ).select("doc_id")
    return scored.where(F.col("keep_score") >= min_keep_score).join(
        losers, "doc_id", "left_anti"
    )


def curation_pipeline(
    documents: DataFrame,
    benchmark: DataFrame,
    weights: dict[str, float],
    budget: int = 512,
    min_keep_score: float = 0.2,
    jaccard_threshold: float = 0.8,
    decontam_n: int = 3,
    min_overlap: int = 3,
    stratum_col: str = "lang",
    shards: int = 4,
    default_weight: float = 1.0,
    checkpoint: bool = False,
) -> DataFrame:
    """The full pretraining curation DAG as ONE declarative plan:

    1. quality gate ∧ near-dup-loser removal (:func:`clean_corpus`),
    2. benchmark decontamination (drop docs overlapping ``benchmark``
       in ≥ ``min_overlap`` n-grams),
    3. temperature mix (per-stratum weights, deterministic upsampling),
    4. sequence packing (token-budget layout, hash-sharded).

    Output: ``(doc_id, rep, lang, n_tokens, shard, offset, seq_id)`` —
    one row per packed document copy, trainer-ready.

    Everything composes lazily.  Catalyst does NOT share the corpus
    scan across the quality/dedup/decontamination/token-counting
    branches — this plan reads the corpus 7× — but the branches share
    only the PRUNED parquet read, and the r6 A/B showed a shared
    localCheckpoint here is ~2× SLOWER at sf0.1 (materializing the
    unpruned corpus costs more than the re-scans; contrast
    gopher_filter, whose branches re-pay tokenization and win 2× from
    the same pattern).  Pass ``checkpoint=True`` when the input is an
    expensive derived lineage or storage is remote/cold.  The only
    corpus-sized shuffles are the ones each stage owns (LSH banding,
    the per-shard packing cumsum).  The drop-sets (losers,
    contaminated) are duplicate-fraction-sized and broadcast as
    anti-join probes — the surviving corpus crosses the network only
    for its own layout.
    """
    from flink_bm25_spark.operators.decontam import contamination  # noqa: PLC0415

    if checkpoint:
        documents = documents.localCheckpoint(eager=False)
    from flink_bm25_spark.operators.sampling import (  # noqa: PLC0415
        pack_sequences,
        temperature_resample,
    )
    from flink_bm25_spark.operators.text_analysis import token_stats  # noqa: PLC0415

    # The keep set feeds three branches (contamination probe, the
    # anti-join, token counting); without a cache Catalyst re-derives the
    # whole LSH dedup once per branch.  It is a thin one-column relation
    # — the standard stage checkpoint, same as the candidate set inside
    # minhash_dedup_pairs.
    kept = (
        clean_corpus(
            documents, min_keep_score, jaccard_threshold, checkpoint=False
        )
        .select("doc_id")
        .cache()
    )
    survivors = documents.join(kept, "doc_id")
    contaminated = (
        contamination(survivors, benchmark, n=decontam_n, min_overlap=min_overlap)
        .where("contaminated")
        .select("doc_id")
    )
    # Contamination-fraction-sized — data-dependent, so no forced
    # broadcast hint (AQE decides; see clean_corpus).
    decon = survivors.join(contaminated, "doc_id", "left_anti")

    # the stratum rides token_stats' projection — no doc-keyed rejoin
    # of two projections of the same relation (r6)
    base = token_stats(decon, carry=(stratum_col,)).select(
        "doc_id", stratum_col, "n_tokens"
    )
    mixed = temperature_resample(
        base,
        weights=weights,
        stratum_col=stratum_col,
        default_weight=default_weight,
    )
    # Composite layout key: each (doc, rep) copy packs as its own unit.
    # rep < ceil(weight), so the multiplier is the smallest power of two
    # ≥ max(16, ceil(max weight)) — collision-free for ANY weights, and
    # stays 16 (the historical constant) for all weights < 16.
    import math  # noqa: PLC0415

    max_w = max([*weights.values(), default_weight])
    mult = 16
    while mult < math.ceil(max_w):
        mult *= 2
    keyed = mixed.withColumn(
        "mkey", F.col("doc_id") * F.lit(mult) + F.col("rep")
    )
    packed = pack_sequences(
        keyed, budget=budget, len_col="n_tokens", key_col="mkey", shards=shards
    )
    return packed.select(
        "doc_id",
        F.col("rep").cast("long").alias("rep"),
        stratum_col,
        "n_tokens",
        "shard",
        "offset",
        "seq_id",
    )


def curation_report(
    documents: DataFrame,
    benchmark: DataFrame | None = None,
    min_keep_score: float = 0.2,
    jaccard_threshold: float = 0.8,
    min_overlap: int = 3,
    decontam_n: int = 3,
    checkpoint: bool = False,
) -> DataFrame:
    """``(doc_id, keep_score, status)`` for EVERY input document —
    ``status`` ∈ {'kept', 'quality', 'duplicate', 'contaminated'} with
    that precedence — the drop-accounting ledger behind
    :func:`clean_corpus` / ``curation_pipeline``: a pipeline that only
    emits survivors cannot answer "why did my corpus shrink 40%?", and
    at 100 TB the drop-reason distribution IS the monitoring signal
    (a jump in 'duplicate' means an upstream feed started looping).

    Same relations, one declarative plan: quality is map-side; the
    loser and contaminated sets arrive as flag joins (duplicate-
    fraction- and contamination-fraction-sized, keyed on doc_id — AQE
    picks broadcast when they fit, exactly as in ``clean_corpus``).
    ``checkpoint=True`` shares one corpus read across the branches —
    off by default for the same measured reason as ``clean_corpus``.
    """
    from flink_bm25_spark.config import SHINGLE_SIZE  # noqa: PLC0415
    from flink_bm25_spark.operators.dedup import shingles  # noqa: PLC0415

    if checkpoint:
        documents = documents.localCheckpoint(eager=False)
    # r10: when the dedup and decontamination legs shingle at the same
    # width (the defaults: SHINGLE_SIZE == decontam_n == 3), build ONE
    # cached shingle relation and feed both — the cache manager cannot
    # substitute the duplicate subtree itself (HOF lambda variables
    # defeat plan equality), so without this the corpus is shingled
    # twice per action.  Identical relation by construction.
    shared_sh = None
    if benchmark is not None and decontam_n == SHINGLE_SIZE:
        shared_sh = shingles(documents, n=decontam_n).cache()
    scored = quality_scores(documents).select("doc_id", "keep_score")
    pairs = minhash_dedup_pairs(
        documents, jaccard_threshold, shingles_rel=shared_sh
    )
    losers = (
        dedup_clusters(pairs)
        .where(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id")
        .withColumn("_dup", F.lit(True))
    )
    out = scored.join(losers, "doc_id", "left")
    if benchmark is not None:
        from flink_bm25_spark.operators.decontam import overlap_counts  # noqa: PLC0415

        grams = shingles(benchmark, n=decontam_n).select("gram").distinct()
        contam = (
            overlap_counts(
                documents, grams, n=decontam_n, shingles_rel=shared_sh
            )
            .where(F.col("n_overlap") >= F.lit(min_overlap))
            .select("doc_id")
            .withColumn("_ct", F.lit(True))
        )
        out = out.join(contam, "doc_id", "left")
    else:
        out = out.withColumn("_ct", F.lit(None).cast("boolean"))
    status = (
        F.when(F.col("keep_score") < F.lit(min_keep_score), "quality")
        .when(F.col("_dup"), "duplicate")
        .when(F.col("_ct"), "contaminated")
        .otherwise("kept")
    )
    return out.select("doc_id", "keep_score", status.alias("status"))


def c4_line_filter(
    documents: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    min_words_per_line: int = 5,
    min_sentences: int = 3,
) -> DataFrame:
    """The C4 line/page filters (Raffel et al. 2020 §2.2) as one
    map-side projection — our deterministic rendering of the published
    rules, one row per SURVIVING page: ``(doc_id, cleaned_text,
    n_lines, n_kept)``.

    Line rules (a line survives iff ALL hold):
    - ends in terminal punctuation (``. ! ? "`` after right-trim);
    - has at least ``min_words_per_line`` whitespace words;
    - does not contain the word "javascript" (case-insensitive).

    Page rules (the page is dropped iff ANY holds):
    - raw text contains "lorem ipsum" (case-insensitive) or ``{``
      (code, templating);
    - the RETAINED text has fewer than ``min_sentences`` sentences,
      counted as terminal-punctuation characters in the kept lines.

    Scale shape: zero shuffles — the line array is let-bound once, both
    rule sets are column expressions over it, and the page verdict is a
    filter.  Runs BEFORE :func:`web_intake_pipeline`'s line dedup in a
    C4-style chain (markup strip → C4 line filter → corpus dedup).
    The bad-words lexicon step of the paper is site policy, not
    engine semantics — compose it as one more ``F.filter`` predicate.
    """
    import re as _re  # noqa: PLC0415

    t = F.col(text_col)
    base = documents.select(
        "doc_id",
        F.split(t, _re.escape(sep)).alias("_ls"),
        F.lower(t).alias("_lt"),
    )
    ls = F.col("_ls")

    def line_ok(x):
        return (
            F.rtrim(x).rlike('[.!?"]$')
            & (
                F.size(
                    F.filter(F.split(x, r"\s+"), lambda w: w != F.lit(""))
                )
                >= F.lit(min_words_per_line)
            )
            & ~F.lower(x).contains("javascript")
        )

    kept = base.select(
        "doc_id",
        "_lt",
        F.size(ls).cast("long").alias("n_lines"),
        F.filter(ls, line_ok).alias("_kept"),
    )
    cleaned = F.array_join(F.col("_kept"), sep)
    sentences = F.length(cleaned) - F.length(
        F.translate(cleaned, ".!?", "")
    )
    return (
        kept.where(
            ~F.col("_lt").contains("lorem ipsum")
            & ~F.col("_lt").contains("{")
            & (sentences >= F.lit(min_sentences))
        )
        .select(
            "doc_id",
            cleaned.alias("cleaned_text"),
            "n_lines",
            F.size("_kept").cast("long").alias("n_kept"),
        )
    )


def web_intake_pipeline(
    documents: DataFrame,
    by_col: str = "lang",
    text_col: str = "text",
    sep: str = "\n",
    cutoff: float = 0.75,
    alpha: float = 0.1,
    cuts: tuple[float, float] = (1.0 / 3, 2.0 / 3),
    blocks: int = 64,
) -> DataFrame:
    """The web-corpus intake chain DEPLOY.md prescribes, as ONE
    callable: ``strip_markup`` (line-preserving) → corpus-wide
    ``line_dedup`` (CCNet step 1 — BEFORE any quality statistic, or
    boilerplate dominates every ratio) → per-``by_col`` LM perplexity
    buckets (``ccnet_buckets`` grouped on ``by_col``) → per-``by_col``
    quality percentile gate (``quality_percentile_gate`` grouped on
    ``by_col``).

    Output, one row per document KEPT by the gate: ``(doc_id, by_col,
    cleaned_text, n_lines, n_kept, nll, bucket, keep_score,
    quality_pr)`` — the deduped text plus both stages' scores, so the
    perplexity bucket is available for stratified sampling downstream.

    Scale shape: each stage pays exactly one keyed shuffle — markup
    stripping is pure map-side regexp; line dedup is the single
    hash-keyed line Exchange plus its doc-keyed reassembly; each LM is
    co-keyed on (group, w1, w2); the gates rank with no corpus window.
    The deduped corpus feeds three consumers (LM, gate, final join), so
    it is localCheckpointed ONCE here — the line shuffle never re-runs.
    Note the checkpoint (and the gates' internal ones) make plan
    construction eager, like the gates themselves.

    Contract: ``doc_id`` numeric (the gate's tiebreak arithmetic — see
    :func:`~flink_bm25_spark.operators.text_analysis.
    quality_percentile_gate`).
    """
    from flink_bm25_spark.functions.text import strip_markup  # noqa: PLC0415
    from flink_bm25_spark.operators.dedup import line_dedup  # noqa: PLC0415
    from flink_bm25_spark.operators.text_analysis import (  # noqa: PLC0415
        ccnet_buckets,
        quality_percentile_gate,
    )

    stripped = documents.select(
        "doc_id",
        by_col,
        strip_markup(F.col(text_col), keep_line_breaks=True).alias(text_col),
    ).localCheckpoint(eager=False)
    # ^ r9: line_dedup consumes its input THREE times (the line explode,
    # the whitespace-layout leg, and the map-side n_lines branch) —
    # without the checkpoint each leg re-ran the whole strip_markup
    # regex chain, the most expensive map work in this pipeline
    # (measured ~1.1 s/invocation at sf0.1).  Lazy: the first action
    # materializes it; same batch-only caveat as the `cleaned`
    # checkpoint below.
    # by_col rides line_dedup's n_lines spine (carry) — no second
    # doc-keyed join to re-attach it (r6)
    deduped = line_dedup(stripped, text_col, sep, carry=(by_col,))
    cleaned = (
        deduped.select(
            "doc_id",
            by_col,
            F.col("cleaned_text").alias("text"),
            "n_lines",
            "n_kept",
        )
        .localCheckpoint(eager=True)
    )
    g = [by_col]
    buckets = ccnet_buckets(cleaned, alpha, cuts, blocks, group_cols=g)
    gate = quality_percentile_gate(cleaned, cutoff, blocks, group_cols=g)
    return (
        gate.select("doc_id", "keep_score", F.col("pr").alias("quality_pr"))
        .join(buckets.select("doc_id", by_col, "nll", "bucket"), "doc_id")
        .join(
            cleaned.select(
                "doc_id",
                F.col("text").alias("cleaned_text"),
                "n_lines",
                "n_kept",
            ),
            "doc_id",
        )
        .select(
            "doc_id",
            by_col,
            "cleaned_text",
            "n_lines",
            "n_kept",
            "nll",
            "bucket",
            "keep_score",
            "quality_pr",
        )
    )
