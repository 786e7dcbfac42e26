"""Deduplication operators — the large-scale training-data-pipeline
extension (BASELINE.json north star; not present in the reference, which
only dedupes (word,count) records — A5, ``backup/BatchBM25Pre.java:153``).

Five families, each designed for 100 TB first and verified exactly on the
fixtures:

- **exact**: hash-groupBy on md5(text) — one shuffle on a 32-byte key.
- **MinHash + LSH**: shingle → 64 universal min-hashes → 16 bands × 4 rows
  → band-bucket self-join.  The 64× hash expansion happens map-side and
  collapses in the partial MIN aggregate, so the shuffle carries one row
  per (doc, hash-index) regardless of document size.
- **SimHash**: 60-bit weighted fingerprint, banded 4×15 bits; by
  pigeonhole, hamming ≤ 3 ⟹ at least one identical band, so banded
  candidate generation has **100% recall** (not approximate) for d ≤ 3.
- **n-gram Jaccard**: exact pairwise via shingle equi-join — the
  verification path for LSH candidates and the small-data brute force.
- **embedding cosine**: see :mod:`flink_bm25_spark.operators.similarity`.

All hashing is md5-derived (:mod:`flink_bm25_spark.functions.hashing`) so
results are bit-identical in any SQL engine — sketches are hash-checkable,
not just statistically similar.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_bm25_spark.config import (
    HASH_PRIME,
    MINHASH_BANDS,
    MINHASH_NUM_HASHES,
    MINHASH_ROWS_PER_BAND,
    SHINGLE_SIZE,
    SIMHASH_BANDS,
    SIMHASH_BAND_BITS,
    SIMHASH_BITS,
    SIMHASH_MAX_HAMMING,
)
from flink_bm25_spark.functions.hashing import h60, h_mod_p
from flink_bm25_spark.functions.text import tokenize_expr


# ---------------------------------------------------------------------------
# Exact duplicates
# ---------------------------------------------------------------------------


def exact_duplicates(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """``(doc_id, canonical_id)`` for every doc in a group of byte-identical
    texts (group size > 1); canonical = min doc_id.

    One shuffle on the md5 digest — the text column itself never moves.
    """
    hashed = documents.select("doc_id", F.md5(F.col(text_col).cast("binary")).alias("h"))
    canon = hashed.groupBy("h").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n")
    )
    return (
        hashed.join(canon.where(F.col("n") > 1), "h")
        .where(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id", "canonical_id")
    )


def line_dedup(
    documents: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(doc_id, cleaned_text, n_lines, n_kept)`` — corpus-wide
    line-level exact dedup, CCNet's step 1 (Wenzek et al. 2020: hash
    every line across the whole corpus, keep only the FIRST occurrence,
    then run the LM filters on what survives — boilerplate headers,
    navigation, cookie banners repeat verbatim across millions of pages
    and would otherwise dominate every downstream statistic).

    First occurrence = minimum ``(doc_id, pos)`` over the line's exact
    text; whitespace-only lines are layout, not content — they survive
    unconditionally and don't count.  ``cleaned_text`` reassembles the
    surviving lines in document order; ``n_lines``/``n_kept`` count
    content lines before/after.

    Scale shape: one posexplode (map-side), ONE corpus-sized shuffle
    keyed on ``xxhash64(line)`` (8-byte key; the line text rides only in
    the map-side-combinable min-struct payload, roughly halving shuffle
    bytes vs keying on the raw text), then ONE doc_id-keyed reassembly
    aggregation that also produces ``n_kept`` (count of content entries
    in the collected struct list — no second pass over ``kept_content``).
    ``n_lines`` never shuffles at all: it is computed map-side from the
    document text.  Plan-pinned: exactly one line-keyed Exchange
    (``test_plan_shape``).

    Keying on a 64-bit hash is CCNet's own semantics (the paper dedups
    on truncated line digests); a collision would silently merge two
    distinct lines, with probability ~n²/2⁶⁵ — negligible below ~10⁹
    distinct lines per corpus.
    """
    lines = _line_relation(documents, text_col, sep)
    kept_content = _first_arrival_lines(lines)
    return _reassemble_lines(
        documents, lines, kept_content, text_col, sep, carry
    )


def _line_relation(
    documents: DataFrame, text_col: str, sep: str
) -> DataFrame:
    """``(doc_id, pos, line)`` — map-side line explode.  Plain-string
    regex pattern (Column patterns need pyspark >= 4); ``sep`` is a
    literal separator, so regex metachars are escaped."""
    import re as _re  # noqa: PLC0415

    return documents.select(
        "doc_id",
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias(
            "pos", "line"
        ),
    )


def _first_arrival_lines(lines: DataFrame) -> DataFrame:
    """``(doc_id, pos, line)`` — each content line's first occurrence.
    min(struct) IS the surviving row — projected straight out of the
    aggregation; joining winners back against the corpus-sized line
    relation would pay a second line-keyed shuffle for zero gain.

    The group key is ``xxhash64(line)``, not the text: the shuffle row
    is (8-byte key, min-struct) with the line text appearing once, in
    the payload.  (doc_id, pos) is unique per row, so the trailing
    ``line`` field never participates in the struct comparison."""
    return (
        lines.where(F.trim("line") != "")
        .groupBy(F.xxhash64("line").alias("_lh"))
        .agg(F.min(F.struct("doc_id", "pos", "line")).alias("_first"))
        .select(
            F.col("_first.doc_id").alias("doc_id"),
            F.col("_first.pos").alias("pos"),
            F.col("_first.line").alias("line"),
        )
    )


def _reassemble_lines(
    documents: DataFrame,
    lines: DataFrame,
    kept_content: DataFrame,
    text_col: str,
    sep: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """Rebuild ``(doc_id, *carry, cleaned_text, n_lines, n_kept)`` from
    the surviving content lines plus the unconditionally-kept
    whitespace-only layout lines.

    Single-pass: ``n_kept`` is the count of content entries in the SAME
    doc_id-keyed aggregation that reassembles the text (``kept_content``
    is consumed exactly once, so its upstream line-keyed shuffle is paid
    exactly once), and ``n_lines`` is computed map-side from the raw
    document text — no shuffle at all on that branch.  ``carry`` rides
    per-doc columns (e.g. a group key) on the existing n_lines spine,
    so callers never pay a second doc-keyed join to re-attach them
    (r6)."""
    import re as _re  # noqa: PLC0415

    survivors = kept_content.select(
        "doc_id", "pos", "line", F.lit(1).alias("_content")
    ).unionByName(
        lines.where(F.trim("line") == "").select(
            "doc_id", "pos", "line", F.lit(0).alias("_content")
        )
    )
    reassembled = survivors.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda x: x["line"],
            ),
            sep,
        ).alias("cleaned_text"),
        F.sum("_content").alias("n_kept"),
    )
    docs = documents.select(
        "doc_id",
        *carry,
        F.size(
            F.filter(
                F.split(F.col(text_col), _re.escape(sep)),
                lambda x: F.trim(x) != "",
            )
        ).cast("long").alias("n_lines"),
    )
    return docs.join(reassembled, "doc_id", "left").select(
        "doc_id",
        *carry,
        F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        F.coalesce("n_lines", F.lit(0)).alias("n_lines"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


def line_dedup_incremental(
    store_lines: DataFrame,
    new_documents: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    carry: tuple[str, ...] = (),
) -> tuple[DataFrame, DataFrame]:
    """Ingest-time form of :func:`line_dedup`: screen a batch against
    the ARCHIVE of every line already ingested, without re-reading any
    archived text.  Returns ``(cleaned_batch, new_store_lines)`` —
    apply :func:`line_dedup`-shaped cleaning to the batch (first
    arrival within the batch AND not previously seen), and the UNSEEN
    delta: lines dupe-free against the store *by construction*, so the
    store absorbs them with a plain append — no re-distinct, no
    re-keying of the archive, ever.

    Equals a full rebuild over the concatenated batches whenever batch
    order agrees with doc_id order (the curator's contract); a
    REDELIVERED batch comes back with ``n_kept = 0`` everywhere — its
    lines are already archived, which is exactly first-arrival-wins
    (test-pinned) — and an EMPTY store delta.

    Scale shape: the batch pays its own hash-keyed line shuffle plus ONE
    left-anti join against the store keyed on line text; the store is
    only ever appended to, never re-keyed.
    """
    lines = _line_relation(new_documents, text_col, sep)
    batch_first = _first_arrival_lines(lines)
    unseen = batch_first.join(
        store_lines.select("line"), "line", "left_anti"
    )
    cleaned = _reassemble_lines(
        new_documents, lines, unseen, text_col, sep, carry
    )
    new_store = unseen.select("line")
    return cleaned, new_store


def token_set_duplicates(documents: DataFrame) -> DataFrame:
    """Exact dedup on the *sorted distinct token set* — catches documents
    that are word-order permutations / repetition variants of each other."""
    sets = documents.select(
        "doc_id",
        F.md5(
            F.array_join(
                F.array_sort(F.array_distinct(
                    F.filter(tokenize_expr(F.col("text")), lambda w: w != F.lit(""))
                )),
                " ",
            ).cast("binary")
        ).alias("h"),
    )
    canon = sets.groupBy("h").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n")
    )
    return (
        sets.join(canon.where(F.col("n") > 1), "h")
        .where(F.col("doc_id") != F.col("canonical_id"))
        .select("doc_id", "canonical_id")
    )


# ---------------------------------------------------------------------------
# Shingles + exact Jaccard
# ---------------------------------------------------------------------------


def shingles(documents: DataFrame, n: int = SHINGLE_SIZE) -> DataFrame:
    """Distinct word n-grams per document: ``(doc_id, gram)``.

    Built with an indexed ``transform`` over the token array — pure
    map-side generator, no Python.

    The token array is materialized in its own projection BEFORE the
    lambda: referencing the raw ``split(...)`` expression inside
    ``element_at`` would re-split the whole text once per (position ×
    gram-slot), turning an O(len) scan into O(len²) — measured 30× slower
    at 500 words/doc.  A bound column reference is evaluated once per row
    (and Catalyst's CollapseProject keeps non-cheap aliases
    un-inlined, so the projection survives optimization).
    """
    base = documents.select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("_ws")
    )
    ws = F.col("_ws")

    def make_gram(x, i):
        parts = None
        for j in range(n):
            piece = F.element_at(ws, (i + F.lit(j + 1)).cast("int"))
            parts = piece if parts is None else F.concat(parts, F.lit(" "), piece)
        return F.when(i + n <= F.size(ws), parts)

    grams = F.transform(ws, make_gram)
    # Per-doc dedup happens MAP-SIDE: each document is one row, so
    # array_distinct over its gram array is the whole distinct — no
    # (doc_id, gram) exchange.  At 100 TB this deletes the largest
    # shuffle of the dedup family (the gram relation dwarfs everything
    # downstream of it); it also makes the relation streaming-legal
    # (single aggregation budget stays unspent for the consumer).
    return base.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.filter(grams, lambda g: g.isNotNull()))
        ).alias("gram"),
    )


def jaccard_pairs(
    sh: DataFrame,
    threshold: float,
    pairs: DataFrame | None = None,
    max_gram_df: int | None = 500,
) -> DataFrame:
    """Exact n-gram Jaccard: ``(d1, d2, jaccard)`` with jaccard ≥ threshold.

    Intersections come from a shingle equi-join (only docs sharing a gram
    ever meet — never an all-pairs cross join).  When ``pairs`` is given,
    the join is pre-filtered to those candidates (the LSH verify path).

    The discovery path (no ``pairs``) caps gram document frequency at
    ``max_gram_df`` before the self-join: a gram shared by 10⁴ docs puts
    10⁸ rows in one join bucket, yet contributes nothing to *ranking*
    similar pairs (it matches everything — the same reason
    :func:`duplicated_span_fraction` prunes with ``cross_doc``).  Hot
    grams are excluded from BOTH the intersection and the size
    denominators, so the score is Jaccard over the discriminative gram
    universe; identical docs still score 1.0.  The hot set is tiny by
    construction (df > cap), so the exclusion is a broadcast anti-join —
    skew never reaches the self-join.  ``max_gram_df=None`` disables the
    cap (exact textbook Jaccard, small corpora only).
    """
    if pairs is not None:
        # Candidate-verify path: gather each candidate doc's (distinct)
        # gram set ONCE, then intersect per pair with array_intersect.
        # Cost is linear in candidate docs — and unlike a gram self-join,
        # immune to hot-gram skew (a stopword trigram shared by 10⁴ docs
        # would put 10⁸ rows in one join bucket; here it is one array
        # slot per doc).  The semi-join keeps the gather proportional to
        # |candidates|, not |corpus|.
        cand_docs = (
            pairs.select(F.col("d1").alias("doc_id"))
            .unionByName(pairs.select(F.col("d2").alias("doc_id")))
            .distinct()
        )
        # No broadcast hint: the candidate set is duplicate-fraction-sized
        # (data-dependent) — AQE broadcasts it when the runtime size
        # allows and falls back to a shuffled semi-join when it doesn't.
        gram_sets = (
            sh.join(cand_docs, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_list("gram").alias("grams"))
        )
        jac = (
            pairs.select("d1", "d2")
            .join(
                gram_sets.select(
                    F.col("doc_id").alias("d1"), F.col("grams").alias("g1")
                ),
                "d1",
            )
            .join(
                gram_sets.select(
                    F.col("doc_id").alias("d2"), F.col("grams").alias("g2")
                ),
                "d2",
            )
            .select(
                "d1",
                "d2",
                F.size(F.array_intersect("g1", "g2")).alias("i"),
                F.size("g1").alias("n1"),
                F.size("g2").alias("n2"),
            )
            .select(
                "d1",
                "d2",
                F.round(
                    F.col("i").cast("double")
                    / (F.col("n1") + F.col("n2") - F.col("i")),
                    6,
                ).alias("jaccard"),
            )
        )
        return jac.where(F.col("jaccard") >= threshold)
    # Discovery path (no candidates): the gram equi-join — only docs
    # sharing a gram ever meet, never an all-pairs cross join.
    if max_gram_df is not None:
        hot = (
            sh.groupBy("gram")
            .agg(F.count("*").alias("gdf"))
            .where(F.col("gdf") > max_gram_df)
            .select("gram")
        )
        sh = sh.join(F.broadcast(hot), "gram", "left_anti")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(F.count("*").alias("i"))
    )
    jac = (
        inter.join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
        .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
        .select(
            "d1",
            "d2",
            F.round(
                F.col("i").cast("double") / (F.col("n1") + F.col("n2") - F.col("i")),
                6,
            ).alias("jaccard"),
        )
    )
    return jac.where(F.col("jaccard") >= threshold)


def edit_candidate_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 3,
    q: int = 2,
    qgram_prefilter: bool = True,
) -> DataFrame:
    """``(v1, v2)`` — canonicalized candidate pairs of *distinct* values
    of ``col`` that survive the LOSSLESS blocking for Levenshtein
    distance ``max_dist``; every pair with ``lev ≤ max_dist`` is
    guaranteed present.  Generation splits on where the positional
    q-gram count bound (Gravano et al. 2001) has teeth — ``lev(a,b) ≤ d``
    implies at least ``bound = max(len)−q+1−q·d`` of ``a``'s positional
    grams have an equal gram in ``b`` within position distance ``d``:

    1. **Short class** (``max(len) ≤ q·d+q−1`` ⟹ bound ≤ 0, vacuous):
       only reachable for pairs whose members BOTH have len ≤ that cap
       (lengths differ by ≤ d), so the short values alone meet in the
       lossless length-band equi-join (``lev ≤ d ⟹ |Δlen| ≤ d``; the
       shorter side explodes over its ``d+1`` admissible partner
       lengths) — a bounded vocabulary class, never the long tail.
    2. **Long class** (bound ≥ 1): candidates are GENERATED by a
       positional-gram equi-join on ``(gram, position band)`` — band
       width ``2d+1`` with the probe side replicated to the 3 adjacent
       bands covers every ``|Δpos| ≤ d`` match — so join volume tracks
       shared-gram mass, not per-length-band vocabulary² (the r3 scale
       grade).  Length band and ``|Δpos| ≤ d`` apply as join filters.
       The probe side carries only each string's ``q·d+1``
       globally-RAREST grams (location-based prefix filtering, Ed-Join —
       Xiao et al., VLDB 2008): a true pair leaves at most ``q·d`` of
       the probe's grams without a position-tolerant match in the
       partner, so ANY ``q·d+1`` of them contain a matching one, and
       picking the rarest (by a global gram-frequency ranking over the
       vocabulary) keeps hot grams — shared by a constant fraction of
       the vocabulary, the quadratic bucket at scale — out of the probe
       entirely: a hot gram's join bucket is (few probes) × (many
       partners), never many × many.  The index side keeps ALL grams, so
       the filter is asymmetric and needs no both-prefixes lemma.
    Surviving candidates go STRAIGHT to the thresholded Levenshtein
    kernel — no per-pair gram-counting prefilter.  The count bound
    (matched grams ≥ max(len)−q+1−q·d) justifies the prefix join's
    losslessness but is deliberately NOT evaluated as a filter: the
    kernel is a codegen'd JVM builtin banded to ``O(d·len)``, while the
    equivalent higher-order-function scan is interpreted per element
    and measured ~6× SLOWER than the kernel it would guard (16.2s vs
    2.6s over the same 126k pairs) — a prefilter must be cheaper than
    what it prunes.

    ``qgram_prefilter=False`` falls back to the pure band join over the
    whole vocabulary (the comparison baseline pinned by tests).
    """
    names = (
        df.select(F.col(col).alias("v")).where(F.col("v").isNotNull()).distinct()
    )

    def _band_join(left: DataFrame, right: DataFrame) -> DataFrame:
        a = left.select(
            F.col("v").alias("va"),
            F.explode(
                F.sequence(F.length("v"), F.length("v") + F.lit(max_dist))
            ).alias("blen"),
        )
        b = right.select(F.col("v").alias("vb"), F.length("v").alias("blen"))
        return (
            a.join(b, "blen")
            .where(F.col("va") != F.col("vb"))
            .select(
                F.least("va", "vb").alias("v1"),
                F.greatest("va", "vb").alias("v2"),
            )
            .distinct()
        )

    if not qgram_prefilter:
        return _band_join(names, names)
    d = max_dist
    # Pairs whose count bound is vacuous (max(len) ≤ q·d+q−1 ⟹ bound ≤ 0)
    # can only be generated by the band join; since |len diff| ≤ d, both
    # members of such a pair have len ≤ short_max, so banding the SHORT
    # value class alone covers them — a bounded vocabulary, never the
    # long tail.  Every other true pair shares ≥ bound ≥ 1 positional
    # q-grams, so candidates with a long member are GENERATED by a
    # positional-gram equi-join (Gravano et al. 2001's DBMS realization)
    # instead of materializing the per-band cross product: grams join on
    # (gram, position band) with the a-side replicated to the 3 adjacent
    # bands (band width 2d+1 ⟹ |Δpos| ≤ d spans ≤ 2 bands), so shared-
    # gram volume, not band-vocabulary², bounds the join output.
    short_max = q * d + q - 1
    cand_short = _band_join(
        names.where(F.length("v") <= short_max),
        names.where(F.length("v") <= short_max),
    )
    p_band = 2 * d + 1
    g = names.select(
        "v",
        F.length("v").alias("lv"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.length("v") - (q - 1), F.lit(1))),
                lambda i: F.struct(
                    F.substr(F.col("v"), i, F.lit(q)).alias("gram"),
                    i.alias("p"),
                ),
            )
        ).alias("gp"),
    ).where(F.length("v") >= q)
    # Ed-Join location-based prefix: rank each string's grams by GLOBAL
    # gram frequency over the vocabulary (ties broken by gram text then
    # position, so the prefix is deterministic) and probe with only the
    # q·d+1 rarest.  Lossless: ``matched ≥ |G(a)| − q·d`` (the Gravano
    # bound restated per-side) means at most q·d probe grams lack a
    # position-tolerant partner, so any q·d+1 of them contain a match.
    # The ranking window partitions BY STRING — vocabulary-keyed, never
    # a global sort.  Long-class strings always have > q·d grams
    # (len > q·d+q−1 ⟹ len−q+1 > q·d), so the prefix is never the
    # whole gram set degenerately short.
    gram_freq = g.groupBy(F.col("gp.gram").alias("gram")).agg(
        F.count(F.lit(1)).alias("_gdf")
    )
    # Probe with LONG-class strings only: every short/short pair comes
    # from cand_short, and every short/long pair is generated with the
    # long member as probe (the unmatched-grams bound holds for either
    # orientation), so short probes are pure redundant join volume.
    prefix_w = Window.partitionBy("v").orderBy("_gdf", "gram", "p")
    g_prefix = (
        g.where(F.col("lv") > short_max)
        .select("v", "lv", F.col("gp.gram").alias("gram"), F.col("gp.p").alias("p"))
        .join(gram_freq, "gram")
        .withColumn("_gr", F.row_number().over(prefix_w))
        .where(F.col("_gr") <= q * d + 1)
    )
    gja = g_prefix.select(
        F.col("v").alias("va"),
        F.col("lv").alias("la"),
        "gram",
        F.col("p").alias("pa"),
        F.explode(
            F.array(
                (F.col("p") / p_band).cast("int") - 1,
                (F.col("p") / p_band).cast("int"),
                (F.col("p") / p_band).cast("int") + 1,
            )
        ).alias("pband"),
    )
    gjb = g.select(
        F.col("v").alias("vb"),
        F.col("lv").alias("lb"),
        F.col("gp.gram").alias("gram"),
        F.col("gp.p").alias("pb"),
        (F.col("gp.p") / p_band).cast("int").alias("pband"),
    )
    cand_long = (
        gja.join(gjb, ["gram", "pband"])
        .where(
            (F.abs(F.col("pa") - F.col("pb")) <= d)
            & (F.abs(F.col("la") - F.col("lb")) <= d)
            & (F.greatest("la", "lb") > short_max)
            & (F.col("va") != F.col("vb"))
        )
        .select(
            F.least("va", "vb").alias("v1"),
            F.greatest("va", "vb").alias("v2"),
        )
        .distinct()
    )
    return cand_short.unionByName(cand_long).distinct()


def edit_distance_pairs(
    df: DataFrame, col: str, max_dist: int = 3, q: int = 2
) -> DataFrame:
    """``(v1, v2, dist)`` — pairs of *distinct* values of ``col`` within
    Levenshtein distance ``max_dist`` (entity-resolution after exact dedup:
    near-identical names/titles that hashing can never catch).

    Scale shape: the pairwise work runs over the **distinct-value
    relation** (orders of magnitude smaller than the corpus), generated
    by the lossless length-band + Ed-Join prefix gram join of
    :func:`edit_candidate_pairs`; only pairs sharing a rare positional
    gram reach the O(d·len) thresholded ``levenshtein`` kernel (a JVM
    built-in — no Python in the loop).  Equal-length pairs meet in both
    orientations, so pairs are canonicalized and deduped.
    """
    cand = edit_candidate_pairs(df, col, max_dist, q)
    # Thresholded levenshtein bounds the DP band to O(d·len) and returns
    # -1 above the threshold — strictly cheaper than the full O(len²)
    # kernel for the pairs the filter would drop anyway.
    return cand.select(
        "v1",
        "v2",
        F.levenshtein("v1", "v2", max_dist).cast("int").alias("dist"),
    ).where(F.col("dist") >= 0)


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _seed_values(num_hashes: int) -> list[tuple[int, int, int]]:
    """Python-side seed literals — same formula as
    :func:`flink_bm25_spark.functions.hashing.minhash_seed_a` / ``_b``."""
    p = HASH_PRIME
    return [
        (i, (2_654_435_761 * (i + 1) + 1) % p, (40_503 * (i + 1) + 7) % p)
        for i in range(num_hashes)
    ]


def minhash_signatures_wide(
    sh: DataFrame, num_hashes: int = MINHASH_NUM_HASHES
) -> DataFrame:
    """``(doc_id, mh_0 … mh_{k-1})`` — MinHash signature as one wide row.

    The k universal hashes are k conditional-aggregate columns over ONE
    ``groupBy(doc_id)`` — no row fanout, no seed join: each input gram is
    hashed k times map-side inside the partial aggregate, and the shuffle
    carries one k-column row per (doc, partition).  This is the shape that
    scales: shuffle volume is O(docs × k), CPU is the unavoidable
    grams × k hashing, and nothing is ever materialized per (gram, seed).
    """
    g = sh.withColumn("gh", h_mod_p(F.col("gram")))
    aggs = [
        F.min((F.lit(a) * F.col("gh") + F.lit(b)) % F.lit(HASH_PRIME)).alias(
            f"mh_{i}"
        )
        for i, a, b in _seed_values(num_hashes)
    ]
    return g.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    sh: DataFrame, num_hashes: int = MINHASH_NUM_HASHES
) -> DataFrame:
    """``(doc_id, i, mh)`` — long-form MinHash signature rows (the
    oracle-checkable relation); computed wide, then unpivoted (docs × k
    rows — tiny next to the gram relation)."""
    wide = minhash_signatures_wide(sh, num_hashes)
    stack_args = ", ".join(f"{i}, mh_{i}" for i in range(num_hashes))
    return wide.selectExpr(
        "doc_id", f"stack({num_hashes}, {stack_args}) AS (i, mh)"
    ).select("doc_id", F.col("i").cast("int"), "mh")


def band_keys(
    sigs_wide: DataFrame,
    bands: int = MINHASH_BANDS,
    rows_per_band: int = MINHASH_ROWS_PER_BAND,
) -> DataFrame:
    """``(doc_id, band, bkey)`` — LSH band digests of a wide signature.

    Band keys are md5 digests of the band's signature slice (computed
    map-side from the wide row — no extra aggregation).  This relation is
    the persistable LSH index: store it alongside the signatures and new
    batches probe it without touching the archived corpus.
    """
    band_cols = []
    for b in range(bands):
        slice_cols = [
            F.col(f"mh_{b * rows_per_band + r}").cast("string")
            for r in range(rows_per_band)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws(",", *slice_cols).cast("binary")).alias("bkey"),
            )
        )
    return sigs_wide.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))


def _key_pairs(
    new: DataFrame,
    store: DataFrame | None,
    on: tuple[str, ...],
    id_col: str = "doc_id",
    carry: tuple[tuple[str, str, str], ...] = (),
) -> DataFrame:
    """``(d1, d2, *carry)`` — one row per key value (``on``) that two
    documents share: every new–new pair with ``d1 < d2`` and, with a
    ``store``, every new–old pair.  Old–old pairs are never formed: they
    were reported when their batch arrived (ids must be disjoint across
    batches, the caller contract of the reference's upsert sink,
    ``MongoTFSink.java:43-58``).

    ``carry`` lists ``(src_col, a_alias, b_alias)`` payload columns
    replicated per side.  New–old pairs are oriented (smaller id, larger
    id) so pair identity matches a rebuild over old ∪ new whatever the
    arrival order; each payload swaps with its id.  With no store this
    is the plain keyed self-join: a batch pays nothing for the store
    path (no Union, no extra Exchange).
    """
    def leg(df: DataFrame, d: str, side: int) -> DataFrame:
        payload = (F.col(c[0]).alias(c[side]) for c in carry)
        return df.select(F.col(id_col).alias(d), *payload, *on)

    a = leg(new, "d1", 1)
    out = ["d1", "d2", *(x for _, xa, xb in carry for x in (xa, xb))]
    pairs = (
        a.join(leg(new, "d2", 2), list(on))
        .where(F.col("d1") < F.col("d2"))
        .select(*out)
    )
    if store is None:
        return pairs
    swap = F.col("d1") > F.col("d2")
    swapped = (
        F.when(swap, F.col(y)).otherwise(F.col(x)).alias(x)
        for _, xa, xb in carry
        for x, y in ((xa, xb), (xb, xa))
    )
    new_old = (
        a.join(leg(store, "d2", 2), list(on))
        .where(F.col("d1") != F.col("d2"))
        .select(
            F.least("d1", "d2").alias("d1"),
            F.greatest("d1", "d2").alias("d2"),
            *swapped,
        )
    )
    return pairs.unionByName(new_old)


def lsh_candidate_pairs(
    new: DataFrame,
    store: DataFrame | None = None,
    id_col: str = "doc_id",
    carry: tuple[tuple[str, str, str], ...] = (),
) -> DataFrame:
    """LSH banding: ``(d1, d2, *carry)`` candidates for every two rows of
    band-key relations (``(id_col, band, bkey)``: :func:`band_keys`,
    ``similarity.embedding_band_store``) that agree on ALL rows of any
    band — the new–new pairs of ``new`` plus, against a persisted
    ``store`` of band keys, the new–old ones (see :func:`_key_pairs`).

    The pair join is an equi-join on (band, bkey), i.e. only same-bucket
    docs ever meet; one ``distinct`` folds the per-band repeats (the
    carried payload is a function of the id, so it cannot split a pair).
    """
    return _key_pairs(new, store, ("band", "bkey"), id_col, carry).distinct()


def minhash_dedup_pairs(
    documents: DataFrame,
    threshold: float = 0.8,
    n: int = SHINGLE_SIZE,
    num_hashes: int = MINHASH_NUM_HASHES,
    bands: int = MINHASH_BANDS,
    shingles_rel: DataFrame | None = None,
    store: DataFrame | None = None,
    archive: DataFrame | None = None,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified by exact Jaccard.

    This is the canonical 100 TB near-dup pipeline: LSH prunes the
    quadratic pair space to same-bucket collisions; the exact Jaccard join
    then runs only over candidates.  The shingle relation feeds both the
    signature and the verify stages, so it is cached for the run.

    ``shingles_rel`` optionally supplies a pre-built (cached) shingle
    relation of ``documents`` at width ``n`` (r10) so a composite that
    also probes the same shingles (curation_report's decontamination
    leg) shares ONE shingle pass — the caller owns the caching.

    Batch-incremental screening (same O(batch) posture as
    ``pipeline.merge_corpus_stats``): ``store`` is the persisted
    wide-signature relation (:func:`minhash_signatures_wide`) of every
    document already ingested, and ``archive`` those documents' text.
    The result then also holds the new–old pairs; old–old pairs are not
    re-emitted.  Only ``documents`` is shingled and signed in full; the
    archive is never re-signed, and its docs are re-shingled **only if
    LSH puts them in a candidate pair** (a semi-join prunes the archive
    before tokenization), so verify cost is O(candidates), not
    O(archive).  Without ``archive`` (a bare signature store), new–old
    candidates find no old shingles and fail verification.  A batch is the first delta against an empty store:
    ``store=None`` is the plain batch plan.
    """
    # The shingle relation feeds both the signature and the verify stages,
    # and the candidate set is consumed twice inside the verify (doc-level
    # prune + pair-level filter).  Both are cached; candidates are
    # materialized EAGERLY — otherwise Catalyst would recompute the whole
    # LSH subplan once per consumer (observed 8x slowdown).  At cluster
    # scale this is the standard stage checkpoint between candidate
    # generation and verification.  Caches are left to LRU eviction; an
    # eager unpersist would evict before the caller's action runs.
    rows_per_band = num_hashes // bands
    sh = (
        shingles_rel
        if shingles_rel is not None
        else shingles(documents, n).cache()
    )
    new_keys = band_keys(
        minhash_signatures_wide(sh, num_hashes), bands, rows_per_band
    )
    old_keys = None if store is None else band_keys(store, bands, rows_per_band)
    cands = lsh_candidate_pairs(new_keys, old_keys).cache()
    cands.count()
    if archive is not None:
        # No broadcast hint: the candidate set is duplicate-fraction-sized
        # (data-dependent); AQE picks the join strategy at runtime.
        ids = cands.select(F.explode(F.array("d1", "d2")).alias("doc_id"))
        sh = sh.unionByName(
            shingles(archive.join(ids, "doc_id", "left_semi"), n)
        )
    # The verified pair set is duplicate-fraction-sized (thin, tiny
    # relative to the corpus) and is the input every downstream consumer
    # (cluster election, loser flags, stats) re-derives: cache it so two
    # queries over the same corpus slice (e.g. the curation pipeline and
    # its drop-accounting report) pay the verify join once per session.
    return jaccard_pairs(sh, threshold, pairs=cands).cache()


def first_arrival_losers(pairs: DataFrame, new_ids: DataFrame) -> DataFrame:
    """``(doc_id)`` — which member of each near-dup pair is dropped under
    the greedy-stream FIRST-ARRIVAL policy: in a new-old pair the NEW
    member loses no matter its id (the old one is already emitted and
    cannot be retracted); in a new-new pair the greater id loses.  A
    plain ``greatest(d1, d2)`` would let a new duplicate with a SMALLER
    id than its archived twin slip through.

    ``pairs`` is any ``(d1, d2)`` relation; ``new_ids`` the single-column
    id relation of the current batch (column name must match the pair
    ids' source column, e.g. ``doc_id`` or ``vec_id``).  Pairs touching
    NO new id (old-old) are ignored — both members are already emitted,
    so neither can lose."""
    (id_col,) = new_ids.columns
    flagged = (
        pairs.join(
            new_ids.select(F.col(id_col).alias("d1")).withColumn(
                "_n1", F.lit(True)
            ),
            "d1",
            "left",
        )
        .join(
            new_ids.select(F.col(id_col).alias("d2")).withColumn(
                "_n2", F.lit(True)
            ),
            "d2",
            "left",
        )
        .where(
            F.coalesce(F.col("_n1"), F.lit(False))
            | F.coalesce(F.col("_n2"), F.lit(False))
        )
        .select(
            F.when(
                F.coalesce(F.col("_n1"), F.lit(False))
                & F.coalesce(F.col("_n2"), F.lit(False)),
                F.greatest("d1", "d2"),
            )
            .when(F.coalesce(F.col("_n1"), F.lit(False)), F.col("d1"))
            .otherwise(F.col("d2"))
            .alias(id_col)
        )
    )
    return flagged.distinct()


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(tf: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """``(doc_id, simhash)`` — 60-bit TF-weighted SimHash.

    One ``groupBy(doc_id)`` with ``bits`` conditional-sum aggregate columns
    — no row fanout: each word contributes ±tf to all 60 bit-sums inside
    the map-side partial aggregate, and the shuffle carries one 60-column
    row per (doc, partition).  The signature is then assembled map-side
    from the bit sums.
    """
    withh = tf.withColumn("h60", h60(F.col("word")))
    aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col("h60"), j).bitwiseAND(F.lit(1)) == 1, F.col("tf")
            ).otherwise(-F.col("tf"))
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    wide = withh.groupBy("doc_id").agg(*aggs)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return wide.select("doc_id", sig.alias("simhash"))


def simhash_signatures_from_tokens(
    tokens: DataFrame, bits: int = SIMHASH_BITS
) -> DataFrame:
    """``(doc_id, simhash)`` straight from the token relation — ONE
    shuffle.

    Bit-identical to :func:`simhash_signatures` over the TF relation
    (each occurrence contributes ±1; summed per (doc, word) that is
    exactly ±tf — pinned by test) but skips the TF aggregation: the only
    shuffle is the 60-column partial sum keyed by doc_id, whose volume is
    O(docs × 60) after map-side combine — strictly less than shuffling
    the (doc, word, tf) relation first.  Use the TF variant only when the
    TF relation is already materialized for other consumers.
    """
    withh = tokens.withColumn("h60", h60(F.col("word")))
    aggs = [
        F.sum(
            F.when(
                F.shiftright(F.col("h60"), j).bitwiseAND(F.lit(1)) == 1, F.lit(1)
            ).otherwise(F.lit(-1))
        ).alias(f"s{j}")
        for j in range(bits)
    ]
    wide = withh.groupBy("doc_id").agg(*aggs)
    sig = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig + term
    return wide.select("doc_id", sig.alias("simhash"))


def simhash_pairs(
    sigs: DataFrame,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bands: int = SIMHASH_BANDS,
    band_bits: int = SIMHASH_BAND_BITS,
) -> DataFrame:
    """``(d1, d2, hamming)`` with hamming ≤ max_hamming.

    Banded self-join: 4 bands × 15 bits; hamming ≤ 3 guarantees one exact
    band match (pigeonhole), so recall is exactly 100% — the banding is a
    pure pruning step, not an approximation.
    """
    spark = sigs.sparkSession
    # Both self-join legs derive from `sigs`; without a stage checkpoint
    # the signature aggregation (60 conditional sums over the token/TF
    # relation) is computed once per leg — ReusedExchange does not fire
    # across the differing leg projections.  The relation is thin
    # (doc_id + one int64), the standard cacheable shape.
    sigs = sigs.cache()
    band_ids = F.broadcast(
        spark.range(bands).select(F.col("id").cast("int").alias("band"))
    )
    mask = (1 << band_bits) - 1
    banded = sigs.crossJoin(band_ids).select(
        "doc_id",
        "simhash",
        "band",
        F.expr(f"shiftright(simhash, band * {band_bits})")
        .bitwiseAND(F.lit(mask))
        .alias("bkey"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            F.col("a.simhash").alias("s1"),
            F.col("b.simhash").alias("s2"),
        )
        .distinct()
    )
    ham = cand.select(
        "d1", "d2", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))).cast("int").alias("hamming")
    )
    return ham.where(F.col("hamming") <= max_hamming)


def sorted_neighborhood_pairs(
    documents: DataFrame,
    key: Column | None = None,
    window: int = 3,
) -> DataFrame:
    """Sorted-neighborhood blocking (Hernández–Stolfo): order the corpus
    by a blocking key, emit every pair within ``window`` positions —
    ``(d1, d2)`` candidates for a downstream verifier.

    The complement to hash-based blocking (LSH buckets can SPLIT true
    pairs whose keys differ slightly; a sort keeps near keys adjacent):
    standard practice is to union candidates from both and verify once.

    Default blocking key: first 8 chars of the lowercased text
    prepended to the doc length — cheap, sort-stable, groups
    boilerplate-prefixed duplicates.

    Scale shape: one ``row_number`` window over the key-thin projection,
    then the position-range join expressed as ``window`` equi-joins on
    ``rn = rn + k`` (k = 1..window) — co-partitioned integer-key joins,
    candidates O(n · window), never quadratic.  (The global sort is the
    method's cost; at cluster scale use ``repartitionByRange`` on the
    key so each range packs independently, accepting missed pairs at
    range boundaries or overlapping the ranges by ``window`` rows.)
    """
    from pyspark.sql import Window as W  # noqa: PLC0415

    if key is None:
        key = F.concat(
            F.substring(F.lower(F.col("text")), 1, 8),
            F.lpad(F.length("text").cast("string"), 6, "0"),
        )
    ranked = documents.select(
        "doc_id", F.row_number().over(W.orderBy(key.asc(), F.col("doc_id").asc())).alias("rn")
    )
    a = ranked.alias("a")
    out = None
    for k in range(1, window + 1):
        b = ranked.select(
            (F.col("rn") - F.lit(k)).alias("rn"), F.col("doc_id").alias("nbr")
        ).alias(f"b{k}")
        part = a.join(b, "rn").select(
            F.least(F.col("a.doc_id"), F.col("nbr")).alias("d1"),
            F.greatest(F.col("a.doc_id"), F.col("nbr")).alias("d2"),
        )
        out = part if out is None else out.unionByName(part)
    return out.distinct()


def positional_shingles(documents: DataFrame, n: int = 10) -> DataFrame:
    """``(doc_id, pos, gram)`` — word n-grams WITH their 0-based start
    position (not deduplicated: position matters here).  Map-side indexed
    transform, same rebinding discipline as :func:`shingles`."""
    base = documents.select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("_ws")
    )
    ws = F.col("_ws")

    def make_gram(x, i):
        parts = None
        for j in range(n):
            piece = F.element_at(ws, (i + F.lit(j + 1)).cast("int"))
            parts = piece if parts is None else F.concat(parts, F.lit(" "), piece)
        return F.when(i + n <= F.size(ws), F.struct(i.alias("pos"), parts.alias("gram")))

    grams = F.transform(ws, make_gram)
    return base.select(
        "doc_id",
        F.explode(F.filter(grams, lambda g: g.isNotNull())).alias("g"),
    ).select("doc_id", F.col("g.pos").cast("long").alias("pos"), "g.gram")


def _positional_hash_arrays(documents: DataFrame, n: int) -> DataFrame:
    """``(doc_id, _gs)`` — the per-document positional gram-hash ARRAY
    (``_gs[i] = struct(pos=i, gh=xxhash64(w_i..w_{i+n-1}))``, null for
    tail slots).  The shared spine of the span-dedup family: hashing a
    document's grams is the expensive map work, so composites that need
    both the positional relation AND the per-doc distinct set derive
    them from ONE (checkpointed) array relation instead of hashing the
    corpus twice (r9)."""
    base = documents.select(
        "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("_ws")
    )
    ws = F.col("_ws")

    def make(x, i):
        pieces = [
            F.element_at(ws, (i + F.lit(j + 1)).cast("int"))
            for j in range(n)
        ]
        return F.when(
            i + n <= F.size(ws),
            F.struct(i.alias("pos"), F.xxhash64(*pieces).alias("gh")),
        )

    return base.select("doc_id", F.transform(ws, make).alias("_gs"))


def positional_shingle_hashes(
    documents: DataFrame, n: int = 10, arrays: DataFrame | None = None
) -> DataFrame:
    """``(doc_id, pos, gh)`` — word n-grams as 64-bit IDENTITY hashes
    with their 0-based start position.  The span-dedup family only ever
    uses the gram as an equality key, so the gram text is never built:
    each slot emits ``xxhash64(w_i, …, w_{i+n-1})`` directly (no
    concatenation; ~8-byte join/shuffle keys instead of ~60-char
    strings).  Same hashed-identity semantics as :func:`line_dedup`:
    a collision falsely merges two grams with probability ~grams²/2⁶⁴
    — negligible below ~10⁹ distinct grams.  Null tail slots are
    dropped RELATIONALLY after the explode (interpreted array-level
    filters cost ~2s per width at sf0.1 — see THROUGHPUT r5).
    ``arrays`` optionally supplies a pre-built (possibly checkpointed)
    :func:`_positional_hash_arrays` relation (r9)."""
    rel = arrays if arrays is not None else _positional_hash_arrays(
        documents, n
    )
    return (
        rel.select("doc_id", F.explode("_gs").alias("g"))
        .where(F.col("g").isNotNull())
        .select(
            "doc_id", F.col("g.pos").cast("long").alias("pos"), "g.gh"
        )
    )


def _cross_doc_gram_hashes(
    documents: DataFrame, n: int, arrays: DataFrame | None = None
) -> DataFrame:
    """``(gh)`` — identity hashes of grams appearing in ≥ 2 DISTINCT
    documents.  Per-doc dedup happens map-side on the HASH array
    (``array_distinct`` over longs — cheaper than over gram strings,
    and measured cheaper than a relational (doc_id, gh) distinct over
    the exploded relation), so the aggregation's count(*) is a document
    frequency, exactly the ``shingles``-based form this replaces.
    ``arrays`` optionally supplies the shared
    :func:`_positional_hash_arrays` relation — the gram hashing itself
    then runs once for both this and the positional leg (r9)."""
    if arrays is not None:
        hashes = arrays.select(
            F.explode(
                F.array_distinct(
                    F.transform(F.col("_gs"), lambda g: g["gh"])
                )
            ).alias("gh")
        )
    else:
        base = documents.select(
            "doc_id", F.split(F.lower(F.col("text")), r"\s+").alias("_ws")
        )
        ws = F.col("_ws")

        def make(x, i):
            pieces = [
                F.element_at(ws, (i + F.lit(j + 1)).cast("int"))
                for j in range(n)
            ]
            return F.when(i + n <= F.size(ws), F.xxhash64(*pieces))

        hashes = base.select(
            F.explode(
                F.array_distinct(F.transform(ws, make))
            ).alias("gh")
        )
    return (
        hashes.where(F.col("gh").isNotNull())
        .groupBy("gh")
        .agg(F.count("*").alias("gdf"))
        .where(F.col("gdf") >= 2)
        .select("gh")
    )


def duplicated_span_fraction(documents: DataFrame, n: int = 10) -> DataFrame:
    """``(doc_id, n_tokens, n_dup_tokens, dup_frac)`` — the fraction of
    each document's tokens covered by an n-gram that also appears in
    ANOTHER document (the exact-substring-dedup signal of Lee et al.
    2022: long cross-document repeats are boilerplate/templates and
    inflate memorization; docs above a dup_frac threshold get cut or
    cropped).

    Relational shape: positional n-grams → gram-level doc-frequency →
    keep grams seen in ≥ 2 DISTINCT docs → explode each flagged gram
    into its n covered token offsets → per-doc distinct-offset count.
    The only corpus-sized shuffles are the gram-frequency aggregation
    and the final per-doc count; the offset fanout (n× flagged grams)
    happens between two aggregations with map-side partial combine.
    Docs with zero duplicated spans are reported at 0.0.
    """
    # ONE gram-hashing pass for both legs (r9): the positional-hash
    # array relation is lazily checkpointed and the positional explode
    # and the per-doc distinct set both replay it — both join sides
    # carry 8-byte identities, never gram text.  Batch-only.
    arrays = _positional_hash_arrays(documents, n).localCheckpoint(
        eager=False
    )
    pos_sh = positional_shingle_hashes(documents, n, arrays=arrays)
    cross_doc = _cross_doc_gram_hashes(documents, n, arrays=arrays)
    flagged = pos_sh.join(cross_doc, "gh")
    covered = (
        flagged.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("off"),
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("off").alias("n_dup_tokens"))
    )
    from flink_bm25_spark.operators.text_analysis import token_stats  # noqa: PLC0415

    lens = token_stats(documents).select("doc_id", "n_tokens")
    return (
        lens.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_dup_tokens", F.lit(0)).alias("n_dup_tokens"),
            F.when(F.col("n_tokens") <= 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.coalesce("n_dup_tokens", F.lit(0)).cast("double")
                    / F.col("n_tokens"),
                    6,
                )
            )
            .alias("dup_frac"),
        )
    )


def _reassemble_without(
    documents: DataFrame, flagged: DataFrame, n: int
) -> DataFrame:
    """``(doc_id, n_tokens, n_kept, cleaned_text)`` — cut every token
    covered by a flagged gram occurrence ``(doc_id, pos)`` and reassemble
    each document from the survivors in order.

    Relational shape: flagged occurrences explode into covered offsets,
    ONE groupBy gathers each document's covered-offset set, and the
    reassembly is then a MAP-SIDE array filter over the split text (keep
    token i iff i is absent from the doc's offset map) — the token
    relation itself never shuffles, token order needs no sort (the array
    is already in document order), and the only corpus-sized exchanges
    are the covered-set gather plus its doc-keyed join back.  (The
    previous shape posexploded every token through an anti-join and a
    ``collect_list`` re-sort — two shuffles of the full token relation
    for what the array already encodes.)  Membership is an O(1) map
    lookup per token, not ``array_contains`` (which would be
    O(covered) per token — quadratic on heavily-duplicated docs).
    """
    covered = flagged.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias(
            "off"
        ),
    ).distinct()
    cov_sets = covered.groupBy("doc_id").agg(
        F.collect_list(F.col("off").cast("long")).alias("_covs")
    )
    ws = F.split(F.lower(F.col("text")), r"\s+")
    # The map is bound as its OWN projection column before the filter
    # lambda reads it (the let-binding rule: an expression captured by a
    # HOF lambda is re-evaluated per element).
    cov_map = F.map_from_arrays(
        F.col("_covs"), F.transform(F.col("_covs"), lambda _: F.lit(True))
    )
    # try_element_at, not element_at: ANSI mode (Spark 4 default) makes a
    # missing map key an error, and "absent" IS the common case here.
    kept_arr = F.filter(
        ws,
        lambda tok, i: F.try_element_at(F.col("_cm"), i.cast("long")).isNull()
        & (tok != F.lit("")),
    )
    from flink_bm25_spark.operators.text_analysis import token_stats  # noqa: PLC0415

    lens = token_stats(documents).select("doc_id", "n_tokens")
    return (
        documents.join(cov_sets, "doc_id", "left")
        .withColumn(
            "_cm",
            F.when(F.col("_covs").isNotNull(), cov_map).otherwise(
                F.map_from_arrays(
                    F.array().cast("array<long>"),
                    F.array().cast("array<boolean>"),
                )
            ),
        )
        .withColumn("_kept", kept_arr)
        .join(lens, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            F.size("_kept").cast("long").alias("n_kept"),
            F.array_join(F.col("_kept"), " ").alias("cleaned_text"),
        )
    )


def remove_duplicated_spans(documents: DataFrame, n: int = 10) -> DataFrame:
    """``(doc_id, n_tokens, n_kept, cleaned_text)`` — exact-substring
    dedup REMOVAL (the action half of Lee et al. 2022, whose signal half
    is :func:`duplicated_span_fraction`): every token covered by an
    n-gram that also appears in ANOTHER document is cut, and the
    document is reassembled from the surviving tokens in order.

    Contract: token granularity (word n-grams over the lowercased
    whitespace split), so ``cleaned_text`` is whitespace-normalized; a
    document that is entirely boilerplate collapses to ``''`` (callers
    typically drop rows below a length floor afterwards).

    Scale shape: positional n-grams → gram doc-frequency ≥ 2 → covered
    offsets anti-join the token relation (see :func:`_reassemble_without`).
    """
    # Shared checkpointed gram-hash arrays: one hashing pass feeds the
    # positional leg and the df leg (see duplicated_span_fraction, r9);
    # 8-byte identities on both join sides.  Batch-only.
    arrays = _positional_hash_arrays(documents, n).localCheckpoint(
        eager=False
    )
    pos_sh = positional_shingle_hashes(documents, n, arrays=arrays)
    cross_doc = _cross_doc_gram_hashes(documents, n, arrays=arrays)
    return _reassemble_without(documents, pos_sh.join(cross_doc, "gh"), n)


def remove_repeated_spans(documents: DataFrame, n: int = 10) -> DataFrame:
    """``(doc_id, n_tokens, n_kept, cleaned_text)`` — WITHIN-document
    repetition removal, the intra-doc complement of
    :func:`remove_duplicated_spans` (the Gopher/MassiveText repetition
    filters *score* repetition; this cuts it): every n-gram occurrence
    after the FIRST occurrence of that gram in the same document is
    flagged, its covered tokens removed, and the document reassembled.
    A doc that is one phrase repeated M× keeps roughly one copy.

    Scale shape: one window (``row_number`` over ``(doc_id, gram)`` by
    position — hash-partitioned by doc+gram, no corpus-wide gram state)
    then the shared coverage anti-join / reassembly.  Deterministic:
    positions are unique within a partition key.
    """
    from pyspark.sql import Window  # noqa: PLC0415

    pos_sh = positional_shingle_hashes(documents, n)
    w = Window.partitionBy("doc_id", "gh").orderBy("pos")
    repeats = (
        pos_sh.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") > 1)
        .select("doc_id", "pos")
    )
    return _reassemble_without(documents, repeats, n)


def winnowing_fingerprints(
    documents: DataFrame, k: int = 3, w: int = 4
) -> DataFrame:
    """``(doc_id, pos, fp)`` — winnowing fingerprint selection (Schleimer,
    Wilkerson & Aiken, SIGMOD 2003; the MOSS scheme): hash every token
    ``k``-gram, slide a window of ``w`` consecutive hashes, keep each
    window's minimum (ties to the RIGHTMOST minimum), dedupe selections.
    Guarantees any shared run of ``w + k - 1`` tokens yields at least one
    shared fingerprint, while storing only ~``2/(w+1)`` of all grams —
    the principled sampling that plain "every n-th gram" lacks.

    Scale shape: ENTIRELY map-side — token split, gram hashing, window
    minima and the per-document dedupe all happen in one projection over
    array columns (no explode of the gram stream, no shuffle at all);
    rows leave the document only as the final selected-fingerprint
    explode, whose fanout is the ~2/(w+1) sample rate.  Documents of
    fewer than ``w`` grams winnow their single short window, so every
    document with ``>= k`` tokens is represented.
    """
    base = documents.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
        ).alias("_ws"),
    )
    ws = F.col("_ws")
    n_grams = F.size(ws) - F.lit(k - 1)
    hashed = base.select(
        "doc_id",
        F.when(
            n_grams >= 1,
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
                lambda i: F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                " ", F.slice(ws, i.cast("int"), k)
                            ).cast("binary")
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
            ),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("_hs"),
    )
    # Let-binding: CollapseProject would inline the `_hs` alias into
    # every window expression below (4 references per window -> the
    # whole gram-hash transform re-evaluated O(n) times per row, i.e.
    # cubic in document length — measured 58 s for ONE 400-token doc).
    # Wrapping the array in a 1-element transform binds it to a lambda
    # variable, which Catalyst cannot substitute through: the hash array
    # is evaluated exactly once per row, keeping selection O(n·w).
    def _select_windows(hs):
        n_windows = F.greatest(F.size(hs) - F.lit(w - 1), F.lit(1))

        def pick(i):
            sl = F.slice(hs, i.cast("int"), w)
            mn = F.array_min(sl)
            r = F.array_position(F.reverse(sl), mn)
            return F.struct(
                (i + F.size(sl) - r).cast("long").alias("pos"), mn.alias("fp")
            )

        # The selected position is monotonically non-decreasing in the
        # window start (the rightmost-argmin can never move left while
        # its element stays in the window), so duplicate selections are
        # always CONSECUTIVE — an adjacent-neighbor filter is exactly
        # array_distinct, but O(m) instead of the O(m²) struct-compare
        # loop array_distinct degrades to (measured 16 s/doc at 8k
        # tokens).  sarr gets its own let-binding for the same
        # no-inline reason as hs.
        def _dedupe_adjacent(sarr):
            return F.filter(
                sarr,
                lambda x, i: F.when(i == 0, F.lit(True)).otherwise(
                    x != F.element_at(sarr, i)
                ),
            )

        return F.when(
            F.size(hs) >= 1,
            F.element_at(
                F.transform(
                    F.array(F.transform(F.sequence(F.lit(1), n_windows), pick)),
                    _dedupe_adjacent,
                ),
                1,
            ),
        ).otherwise(F.array().cast("array<struct<pos:long,fp:long>>"))

    selected = hashed.select(
        "doc_id",
        F.element_at(
            F.transform(F.array(F.col("_hs")), _select_windows), 1
        ).alias("_sel"),
    )
    # explode_outer, NOT explode: for a plain explode, Catalyst's
    # InferFiltersFromGenerate plants a `size(_sel) > 0` filter BELOW the
    # projection stack with the whole selection expression inlined into
    # it — re-evaluating the pipeline per row outside codegen (measured
    # 233 s for one 32k-token doc vs 0.7 s without).  The null rows an
    # empty selection produces are dropped on the generated column
    # instead, which cannot be pushed below the Generate.
    return (
        selected.select("doc_id", F.explode_outer("_sel").alias("_s"))
        .where(F.col("_s").isNotNull())
        .select(
            "doc_id", F.col("_s.pos").alias("pos"), F.col("_s.fp").alias("fp")
        )
    )


def winnowing_dedup_pairs(
    documents: DataFrame,
    min_shared: int = 2,
    k: int = 3,
    w: int = 4,
    max_fp_doc_freq: int = 50,
    store: DataFrame | None = None,
) -> DataFrame:
    """``(d1, d2, n_shared)`` — document pairs sharing at least
    ``min_shared`` distinct winnowed fingerprints; the copy-detection
    discovery path over the ~2/(w+1)-rate fingerprint sample instead of
    the full gram relation.

    Skew posture (the lesson from the n-gram Jaccard path): fingerprints
    appearing in more than ``max_fp_doc_freq`` documents are boilerplate
    — they cannot discriminate and would put df² rows into one join
    bucket — so they are pruned BEFORE the self-join, bounding every
    bucket at ``max_fp_doc_freq²``.

    Batch-incremental screening: ``store`` is the persisted ``(doc_id,
    fp)`` fingerprint relation of every document already ingested (the
    archive is never re-read or re-hashed; only ``documents`` is
    fingerprinted).  The result then also holds the new–old pairs;
    old–old pairs are not re-emitted.  The boilerplate cap counts
    document frequency over store ∪ batch, so a fingerprint that BECOMES
    boilerplate as batches accumulate stops pairing exactly as in a full
    rebuild: the result equals this function over old ∪ new, restricted
    to pairs touching the batch (pinned by test).
    """
    fps = winnowing_fingerprints(documents, k=k, w=w).select(
        "doc_id", "fp"
    ).distinct()
    if store is not None:
        fps = fps.withColumn("_new", F.lit(True)).unionByName(
            store.select("doc_id", "fp", F.lit(False).alias("_new"))
        )
    # df-cap via a window count on the SAME fp partitioning the self-join
    # needs — one pass over the fingerprint relation.  A groupBy+join-back
    # would reference `fps` twice, and the whole per-document winnowing
    # pipeline (md5 per gram) is re-derived once per reference.
    pruned = fps.withColumn(
        "_df", F.count(F.lit(1)).over(Window.partitionBy("fp"))
    ).where(F.col("_df") <= F.lit(max_fp_doc_freq))
    if store is None:
        new, old = pruned, None
    else:
        new, old = pruned.where(F.col("_new")), pruned.where(~F.col("_new"))
    return (
        _key_pairs(new, old, ("fp",))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= F.lit(min_shared))
    )


def winnowing_shared_spans(
    documents: DataFrame,
    pairs: DataFrame,
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """``(d1, d2, pos1, pos2, fp)`` — the ALIGNED fingerprint matches
    behind each candidate pair: for every shared winnowed fingerprint,
    its gram position in both documents.  A copied run shows up as a
    diagonal (``pos2 - pos1`` constant over consecutive positions) —
    the attribution/provenance view a span-level deduper or a
    plagiarism report builds on (MOSS's match-display stage).

    The fingerprint relation is computed once and semi-join-pruned to
    the pair docs before the fp join, so cost is O(candidate docs), not
    O(corpus); the fp join itself inherits winnowing's ~2/(w+1) sample
    rate.

    ``pairs`` is referenced three times (candidate set + the final pair
    semi-join) and is typically itself a full discovery plan
    (:func:`winnowing_dedup_pairs`); it is duplicate-fraction-sized, so
    it is cached here — the thin stage-checkpoint pattern of
    ``clean_corpus`` — as is the candidate-pruned fingerprint relation
    the two join legs share.
    """
    pairs = pairs.select("d1", "d2").cache()
    cand = (
        pairs.select(F.col("d1").alias("doc_id"))
        .unionByName(pairs.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    fps = winnowing_fingerprints(
        documents.join(cand, "doc_id", "left_semi"), k=k, w=w
    ).cache()
    a = fps.select(
        F.col("doc_id").alias("d1"), F.col("pos").alias("pos1"), "fp"
    )
    b = fps.select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("pos2"), "fp"
    )
    return (
        a.join(b, "fp")
        .join(pairs.select("d1", "d2"), ["d1", "d2"], "left_semi")
        .select("d1", "d2", "pos1", "pos2", "fp")
    )


def dedup_stats(documents: DataFrame, threshold: float = 0.8) -> DataFrame:
    """``(cluster_size, n_clusters, n_docs)`` — the near-duplicate
    cluster-size distribution plus a size-1 row for unclustered
    documents: the dedup monitoring signal (a fattening tail means an
    upstream feed started looping; the size-1 row pins total coverage
    so the histogram always sums to the corpus).

    One aggregation over the cluster relation + a 1-row corpus count;
    cluster detection itself is the standard LSH pipeline.
    """
    from flink_bm25_spark.operators.graph import dedup_clusters  # noqa: PLC0415

    pairs = minhash_dedup_pairs(documents, threshold)
    members = dedup_clusters(pairs).select("doc_id", "canonical_id")
    sizes = members.groupBy("canonical_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    hist = sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )
    n_clustered = members.agg(F.count(F.lit(1)).alias("_n"))
    total = documents.agg(F.count(F.lit(1)).alias("_t"))
    singletons = (
        total.crossJoin(F.broadcast(n_clustered))
        .select(
            F.lit(1).cast("int").alias("cluster_size"),
            (F.col("_t") - F.col("_n")).cast("long").alias("n_clusters"),
        )
        .where(F.col("n_clusters") > 0)
    )
    return (
        hist.select(
            F.col("cluster_size").cast("int").alias("cluster_size"),
            "n_clusters",
        )
        .unionByName(singletons)
        .groupBy("cluster_size")
        .agg(F.sum("n_clusters").cast("long").alias("n_clusters"))
        .withColumn(
            "n_docs",
            (F.col("cluster_size") * F.col("n_clusters")).cast("long"),
        )
    )
