"""Structural invariants of the dedup sketches (beyond oracle parity):
LSH candidate generation must be a superset of true pairs at high
similarity; simhash banding recall is guaranteed, not statistical."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_bm25_spark.operators.dedup import (
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    minhash_signatures_wide,
    shingles,
    simhash_pairs,
    simhash_signatures,
)
from flink_bm25_spark.operators.pipeline import corpus_stats_for
from flink_bm25_spark.sources.tables import load_documents
from tests.conftest import SF_DIR


def test_minhash_lsh_covers_true_pairs(spark):
    docs = load_documents(spark, SF_DIR)
    sh = shingles(docs).cache()
    true_pairs = {
        (r.d1, r.d2) for r in jaccard_pairs(sh, 0.8).collect()
    }
    cands = {
        (r.d1, r.d2)
        for r in lsh_candidate_pairs(minhash_signatures_wide(sh)).collect()
    }
    missed = true_pairs - cands
    assert not missed, f"LSH missed high-similarity pairs: {missed}"
    sh.unpersist()


def test_minhash_signature_bounds(spark):
    docs = load_documents(spark, SF_DIR)
    sigs = minhash_signatures(shingles(docs))
    row = sigs.agg(
        F.min("mh").alias("lo"), F.max("mh").alias("hi"), F.count("*").alias("n")
    ).first()
    assert 0 <= row.lo <= row.hi < 2_147_483_647
    n_docs = docs.count()
    assert row.n == n_docs * 64  # one row per (doc, hash index)


def test_simhash_banding_exact_recall(spark):
    # brute-force hamming<=3 pairs must equal the banded result — the 4x15
    # pigeonhole guarantee, checked end-to-end
    tf = corpus_stats_for(spark, SF_DIR).tf
    sigs = simhash_signatures(tf).cache()
    banded = {(r.d1, r.d2) for r in simhash_pairs(sigs).collect()}
    a = sigs.selectExpr("doc_id d1", "simhash s1")
    b = sigs.selectExpr("doc_id d2", "simhash s2")
    brute = {
        (r.d1, r.d2)
        for r in a.join(b, F.col("d1") < F.col("d2"))
        .where(F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))) <= 3)
        .collect()
    }
    assert banded == brute
    sigs.unpersist()


def test_simhash_from_tokens_equals_tf_variant(spark):
    from flink_bm25_spark.operators.dedup import (
        simhash_signatures,
        simhash_signatures_from_tokens,
    )
    from flink_bm25_spark.operators.pipeline import corpus_stats_for

    stats = corpus_stats_for(spark, SF_DIR)
    via_tf = sorted(tuple(r) for r in simhash_signatures(stats.tf).collect())
    via_tokens = sorted(
        tuple(r) for r in simhash_signatures_from_tokens(stats.tokens).collect()
    )
    assert via_tf == via_tokens


def test_incremental_minhash_equals_full_restricted(spark):
    # Incremental dedup of a new batch must report exactly the full
    # rebuild's pairs that touch the batch — with or without a persisted
    # signature store for the archive.
    from flink_bm25_spark.operators.dedup import (
        minhash_dedup_pairs,
        minhash_dedup_pairs_incremental,
    )

    docs = load_documents(spark, SF_DIR)
    old = docs.where(F.col("doc_id") < 350)
    new = docs.where(F.col("doc_id") >= 350)

    full = {
        (r.d1, r.d2): r.jaccard for r in minhash_dedup_pairs(docs, 0.8).collect()
    }
    want = {p: j for p, j in full.items() if p[0] >= 350 or p[1] >= 350}
    assert want, "fixture produced no pairs touching the new batch"

    got = {
        (r.d1, r.d2): r.jaccard
        for r in minhash_dedup_pairs_incremental(old, new, threshold=0.8).collect()
    }
    assert got == want

    # persisted-store path: identical result without re-signing old docs
    store = minhash_signatures_wide(shingles(old))
    got2 = {
        (r.d1, r.d2): r.jaccard
        for r in minhash_dedup_pairs_incremental(
            old, new, old_sigs_wide=store, threshold=0.8
        ).collect()
    }
    assert got2 == want


def test_hll_merge_equals_rebuild(spark):
    # Sketch algebra: merging per-shard register states is bit-identical
    # to building one sketch over the union — estimates included.
    from flink_bm25_spark.operators.sketches import (
        hll_buckets,
        hll_estimate,
        hll_merge,
    )
    from flink_bm25_spark.operators.tokenize import tokenize

    words = tokenize(load_documents(spark, SF_DIR)).select("word", "doc_id")
    a = words.where(F.col("doc_id") % 2 == 0).select("word")
    b = words.where(F.col("doc_id") % 2 == 1).select("word")

    merged = hll_merge(hll_buckets(a, "word"), hll_buckets(b, "word"))
    rebuilt = hll_buckets(a.unionByName(b), "word")
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )
    assert (
        hll_estimate(merged).collect() == hll_estimate(rebuilt).collect()
    )


def test_histogram_merge_equals_rebuild_and_quantile_accuracy(spark):
    # Histogram sketch algebra (per-bin sums) is exact; quantiles read
    # off the registers are within one bin width of the true percentile.
    from flink_bm25_spark.operators.sketches import (
        histogram_merge,
        histogram_quantiles,
        histogram_sketch,
    )
    from flink_bm25_spark.sources.tables import load_table

    ev = load_table(spark, "events", SF_DIR)
    lo, hi, nb = 0.0, 500.0, 64
    a = ev.where(F.col("event_id") % 2 == 0)
    b = ev.where(F.col("event_id") % 2 == 1)
    merged = histogram_merge(
        histogram_sketch(a, "value", lo, hi, nb),
        histogram_sketch(b, "value", lo, hi, nb),
    )
    rebuilt = histogram_sketch(ev, "value", lo, hi, nb)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )

    q = histogram_quantiles(rebuilt, [0.5, 0.9], lo, hi, nb).collect()[0]
    true_p50, true_p90 = ev.selectExpr(
        "percentile(value, 0.5)", "percentile(value, 0.9)"
    ).collect()[0]
    binw = (hi - lo) / nb
    assert abs(q["q_50"] - true_p50) <= binw
    assert abs(q["q_90"] - true_p90) <= binw


def test_incremental_minhash_from_persisted_store(spark, tmp_path):
    # The operational loop: yesterday's signature store on parquet,
    # today's batch dedups against the RELOADED store — identical pairs
    # to an in-memory run (signatures are plain rows; persistence is
    # just a parquet round-trip, no custom serialization).
    from flink_bm25_spark.operators.dedup import (
        minhash_dedup_pairs_incremental,
        minhash_signatures_wide,
    )

    docs = load_documents(spark, SF_DIR)
    old = docs.where(F.col("doc_id") < 350)
    new = docs.where(F.col("doc_id") >= 350)

    path = str(tmp_path / "sig_store")
    minhash_signatures_wide(shingles(old)).write.mode("overwrite").parquet(path)
    reloaded = spark.read.parquet(path)

    want = {
        (r.d1, r.d2): r.jaccard
        for r in minhash_dedup_pairs_incremental(old, new, threshold=0.8).collect()
    }
    got = {
        (r.d1, r.d2): r.jaccard
        for r in minhash_dedup_pairs_incremental(
            old, new, old_sigs_wide=reloaded, threshold=0.8
        ).collect()
    }
    assert got == want and got


def test_grouped_hll_equals_per_group_singles(spark):
    # The grouped sketch is exactly the per-group single sketches: same
    # registers, same estimates — one aggregation instead of G scans.
    from flink_bm25_spark.operators.sketches import (
        hll_buckets_by,
        hll_distinct,
        hll_estimate,
    )
    from flink_bm25_spark.operators.tokenize import filter_stopwords, tokenize

    docs = load_documents(spark, SF_DIR)
    words = (
        filter_stopwords(tokenize(docs))
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("lang", "word")
    )
    grouped = {
        r["lang"]: r["n_distinct_est"]
        for r in hll_estimate(
            hll_buckets_by(words, "lang", "word"), ["lang"]
        ).collect()
    }
    for lang in grouped:
        single = hll_distinct(
            words.where(F.col("lang") == lang).select("word"), "word"
        ).collect()[0]["n_distinct_est"]
        assert grouped[lang] == single


def test_sorted_neighborhood_blocking(spark):
    from flink_bm25_spark.operators.dedup import sorted_neighborhood_pairs

    docs = load_documents(spark, SF_DIR)
    n = docs.count()
    pairs = sorted_neighborhood_pairs(docs, window=3).collect()
    # candidate volume is exactly O(n * window): sum_{k=1..3} (n - k)
    # unless least/greatest dedups mirror pairs (it can't: rn unique)
    assert len(pairs) == (n - 1) + (n - 2) + (n - 3)
    # identical texts share a blocking key, hence are adjacent: every
    # exact-duplicate pair must appear among the candidates
    from flink_bm25_spark.operators.dedup import exact_duplicates

    got = {(r.d1, r.d2) for r in pairs}
    for r in exact_duplicates(docs).collect():
        d1, d2 = sorted((r["doc_id"], r["canonical_id"]))
        assert (d1, d2) in got


def test_duplicated_span_fraction_hand_example(spark):
    from flink_bm25_spark.operators.dedup import duplicated_span_fraction

    docs = spark.createDataFrame(
        [
            # docs 1 and 2 share the 5-token run "v w x y z" at different
            # positions; doc 3 shares nothing
            (1, "a b c v w x y z d e"),
            (2, "v w x y z p q r s t"),
            (3, "m n o u f g h i j k"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in duplicated_span_fraction(docs, n=5).collect()}
    assert got[1]["n_dup_tokens"] == 5 and got[1]["dup_frac"] == 0.5
    assert got[2]["n_dup_tokens"] == 5 and got[2]["dup_frac"] == 0.5
    assert got[3]["n_dup_tokens"] == 0 and got[3]["dup_frac"] == 0.0
    # exact duplicates cover themselves fully
    dup = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f")], "doc_id bigint, text string"
    )
    full = {r["doc_id"]: r["dup_frac"] for r in duplicated_span_fraction(dup, n=5).collect()}
    assert full == {1: 1.0, 2: 1.0}


def test_histogram_clamps_out_of_range_values(spark):
    from flink_bm25_spark.operators.sketches import histogram_sketch

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (499.99,), (1000.0,), (None,)], "value double"
    )
    got = {r["bin"]: r["cnt"] for r in histogram_sketch(df, "value", 0.0, 500.0, 64).collect()}
    assert got[0] == 2      # -5 clamps into the first bin; 0.0 lands there
    assert got[63] == 2     # 499.99 is in-range edge; 1000 clamps to last
    assert sum(got.values()) == 4  # NULL dropped


def test_jaccard_discovery_gram_df_cap_kills_hot_gram_fanout(spark):
    # 200 docs sharing one ubiquitous trigram + unique tails: without the
    # cap the gram self-join meets 200*199/2 pairs on that single gram;
    # with it, the hot gram is pruned before the join and the join input
    # carries no gram above the cap, so the pair space collapses.
    docs = spark.createDataFrame(
        [(i, f"common hot gram unique{i} tail{i} word{i}") for i in range(200)],
        "doc_id long, text string",
    )
    sh = shingles(docs)

    capped = jaccard_pairs(sh, 0.0, max_gram_df=50)
    uncapped = jaccard_pairs(sh, 0.0, max_gram_df=None)
    n_capped, n_uncapped = capped.count(), uncapped.count()
    assert n_uncapped == 200 * 199 // 2
    assert n_capped == 0

    # row-count assert on the join input itself: no surviving gram can
    # put more than cap^2 rows in a bucket
    pruned_df = (
        sh.join(
            F.broadcast(
                sh.groupBy("gram").agg(F.count("*").alias("gdf"))
                .where(F.col("gdf") > 50).select("gram")
            ),
            "gram", "left_anti",
        )
        .groupBy("gram").count().agg(F.max("count")).first()[0]
    )
    assert pruned_df <= 50

    # identical docs still score 1.0 through the cap
    twins = spark.createDataFrame(
        [(1, "common hot gram x y z"), (2, "common hot gram x y z")]
        + [(10 + i, f"common hot gram a{i} b{i} c{i}") for i in range(60)],
        "doc_id long, text string",
    )
    got = {
        (r.d1, r.d2): r.jaccard
        for r in jaccard_pairs(shingles(twins), 0.9, max_gram_df=30).collect()
    }
    assert got.get((1, 2)) == 1.0


def test_edit_distance_length_blocking_lossless_and_pruning(spark):
    # Length-band blocking must lose nothing (lev<=d implies |dlen|<=d)
    # while meeting strictly fewer candidate pairs than all-pairs.
    from flink_bm25_spark.operators.dedup import edit_distance_pairs

    vals = (
        ["kettle", "kettles", "kegtle", "settle"]        # a lev<=3 clique
        + ["abcdefghij" + str(i) for i in range(30)]      # same-length band
        + ["x" * (20 + i) for i in range(30)]             # spread lengths
    )
    df = spark.createDataFrame([(v,) for v in vals], "name string")
    got = {
        (r.v1, r.v2): r.dist
        for r in edit_distance_pairs(df, "name", 3).collect()
    }
    # brute-force reference
    import itertools

    def lev(a, b):
        m = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, m[0] = m[0], i
            for j, cb in enumerate(b, 1):
                prev, m[j] = m[j], min(m[j] + 1, m[j - 1] + 1,
                                       prev + (ca != cb))
        return m[-1]

    want = {
        (min(a, b), max(a, b)): lev(min(a, b), max(a, b))
        for a, b in itertools.combinations(sorted(set(vals)), 2)
        if lev(a, b) <= 3
    }
    assert got == want

    # candidate pruning: pairs meeting the join are far fewer than n^2/2
    n = len(set(vals))
    names = df.select(F.col("name").alias("v")).distinct()
    a = names.select(
        F.col("v").alias("va"),
        F.explode(F.sequence(F.length("v"), F.length("v") + F.lit(3))).alias("blen"),
    )
    b = names.select(F.col("v").alias("vb"), F.length("v").alias("blen"))
    n_cand = (
        a.join(b, "blen").where(F.col("va") != F.col("vb"))
        .select(F.least("va", "vb"), F.greatest("va", "vb")).distinct().count()
    )
    assert n_cand < n * (n - 1) // 2 / 2


def test_edit_distance_qgram_prefilter_lossless_and_tighter(spark):
    """The positional q-gram count bound (r3 verdict item 2) must (a)
    keep every true lev<=d pair — it is an exact implication of the
    distance bound — and (b) send strictly fewer pairs to the
    Levenshtein kernel than pure length-band blocking on a skewed-length
    vocabulary (many same-length values that share no grams)."""
    from flink_bm25_spark.operators.dedup import (
        edit_candidate_pairs,
        edit_distance_pairs,
    )

    # skewed lengths: a hot 10-char band of mutually-distant values,
    # plus genuine near-duplicate cliques inside the same band
    vals = (
        [f"{c}bcdefghi{c}" for c in "abcdefghijklmnopqrst"]  # same band
        + ["catalogues", "katalogues", "catalogue5", "cataloguez"]
        + ["warehouse1", "warehouse2", "warehouse3"]
        + ["zyxwvutsrq"]
    )
    df = spark.createDataFrame([(v,) for v in vals], "name string")

    import itertools

    def lev(a, b):
        m = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, m[0] = m[0], i
            for j, cb in enumerate(b, 1):
                prev, m[j] = m[j], min(m[j] + 1, m[j - 1] + 1,
                                       prev + (ca != cb))
        return m[-1]

    want = {
        (min(a, b), max(a, b)): lev(min(a, b), max(a, b))
        for a, b in itertools.combinations(sorted(set(vals)), 2)
        if lev(a, b) <= 3
    }
    got = {
        (r.v1, r.v2): r.dist
        for r in edit_distance_pairs(df, "name", 3).collect()
    }
    assert got == want  # lossless through both filters

    n_band = edit_candidate_pairs(
        df, "name", 3, qgram_prefilter=False
    ).count()
    n_prefiltered = edit_candidate_pairs(df, "name", 3).count()
    assert set(want) <= {
        (r.v1, r.v2)
        for r in edit_candidate_pairs(df, "name", 3).collect()
    }
    assert n_prefiltered < n_band, (n_prefiltered, n_band)


def test_remove_duplicated_spans_cuts_cross_doc_boilerplate(spark):
    # The action half of Lee et al. exact-substring dedup: a 10-token
    # span shared across documents is cut from EVERY document carrying
    # it; unique content survives in order; a wholly-boilerplate doc
    # collapses to ''.
    from flink_bm25_spark.operators.dedup import remove_duplicated_spans

    boiler = "a b c d e f g h i j"
    docs = spark.createDataFrame(
        [
            (1, boiler + " unique one tail"),
            (2, boiler + " other unique words"),
            (3, "totally different text with no shared ten gram at all"),
            (4, boiler),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_duplicated_spans(docs, n=10).collect()}
    assert out[1].cleaned_text == "unique one tail"
    assert out[2].cleaned_text == "other unique words"
    assert out[3].cleaned_text == docs.where("doc_id = 3").first().text
    assert out[4].cleaned_text == "" and out[4].n_kept == 0
    assert out[1].n_tokens == 13 and out[1].n_kept == 3


def test_remove_duplicated_spans_consistent_with_fraction(spark):
    # Cross-operator invariant on the fixture corpus: tokens removed ==
    # tokens the signal operator reports as covered (same gram width).
    from flink_bm25_spark.operators.dedup import (
        duplicated_span_fraction,
        remove_duplicated_spans,
    )

    docs = load_documents(spark, SF_DIR)
    frac = {
        r.doc_id: r.n_dup_tokens
        for r in duplicated_span_fraction(docs, n=10).collect()
    }
    for r in remove_duplicated_spans(docs, n=10).collect():
        assert r.n_tokens - r.n_kept == frac[r.doc_id], r.doc_id


def test_remove_repeated_spans_cuts_intra_doc_repeats(spark):
    # One phrase repeated 3x collapses to ~one copy; a no-repeat doc is
    # untouched; cross-doc duplicates are NOT cut (that's the other op).
    from flink_bm25_spark.operators.dedup import remove_repeated_spans

    phrase = "p q r s t u v w x y"  # 10 tokens
    docs = spark.createDataFrame(
        [
            (1, " ".join([phrase] * 3)),
            (2, "all distinct tokens here never repeat themselves at all ok fine"),
            (3, phrase),  # same text as part of doc 1, but alone in-doc
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in remove_repeated_spans(docs, n=10).collect()}
    assert out[1].cleaned_text == phrase  # first occurrence survives
    assert out[1].n_kept == 10 and out[1].n_tokens == 30
    assert out[2].cleaned_text == docs.where("doc_id = 2").first().text
    assert out[3].cleaned_text == phrase  # intra-doc op ignores doc 1's copy


def test_span_removal_weird_whitespace_matches_duckdb(spark, duck):
    # Offset alignment hazard: leading/multiple spaces create empty
    # tokens in the raw split; both engines must agree on what survives.
    import duckdb

    from flink_bm25_spark.operators.dedup import remove_duplicated_spans

    boiler = "w1  w2 w3 w4\tw5 w6 w7 w8 w9 w10"
    rows = [
        (1, "  " + boiler + "  tail1 here"),
        (2, boiler + " other tail"),
        (3, "clean and unrelated text entirely without any shared grams"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.doc_id, r.n_tokens, r.n_kept, r.cleaned_text)
        for r in remove_duplicated_spans(docs, n=10).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, '{t}')" for i, t in rows)
        + ") t(doc_id, text)"
    )
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "entry_for_span_test",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    want = sorted(tuple(r) for r in
                  con.execute(mod.oracle_sql()["q_remove_dup_spans"]).fetchall())
    assert got == want


def test_winnowing_guarantee_and_mapside_plan(spark):
    """Schleimer et al. guarantee: two documents sharing a run of
    w + k - 1 = 6 tokens share at least one selected fingerprint.  And
    the selection itself is shuffle-free (array ops in one projection)."""
    import random

    from flink_bm25_spark.operators.dedup import winnowing_fingerprints

    rng = random.Random(99)
    shared = [f"s{i}" for i in range(6)]  # the common run
    rows = []
    for d in range(8):
        left = [f"a{d}x{j}" for j in range(rng.randint(0, 10))]
        right = [f"b{d}y{j}" for j in range(rng.randint(0, 10))]
        rows.append((d, " ".join(left + shared + right)))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    fps = winnowing_fingerprints(docs)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    common = set.intersection(*by_doc.values())
    assert common, "every doc shares the 6-token run -> a common fp must exist"

    plan = fps._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # selection is entirely map-side

    # sampling density lands near the theoretical 2/(w+1)
    long_doc = spark.createDataFrame(
        [(1, " ".join(f"t{rng.randint(0, 10**9)}" for _ in range(2000)))],
        "doc_id bigint, text string",
    )
    n_sel = winnowing_fingerprints(long_doc).count()
    density = n_sel / (2000 - 2)
    assert 0.2 < density < 0.6  # 2/(w+1) = 0.4 +/- sampling noise


def test_winnowing_pairs_prune_boilerplate(spark):
    """A fingerprint present in more docs than the cap is dropped before
    the self-join: 60 docs sharing ONLY boilerplate produce no pairs,
    while genuine near-copies still pair."""
    from flink_bm25_spark.operators.dedup import winnowing_dedup_pairs

    boiler = " ".join(f"c{i}" for i in range(12))
    rows = [(i, boiler + f" uniq{i}a uniq{i}b") for i in range(60)]
    rows += [(100, "p q r s t u v w x y z1"), (101, "p q r s t u v w x y z2")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = winnowing_dedup_pairs(docs, min_shared=2, max_fp_doc_freq=50)
    got = {(r.d1, r.d2) for r in pairs.collect()}
    assert (100, 101) in got
    assert all(d1 >= 100 for d1, _ in got), "boilerplate-only docs must not pair"


def test_winnowing_incremental_equals_full_restricted(spark):
    """Incremental screen == full winnowing_dedup_pairs over old ∪ new,
    restricted to pairs touching the new batch; and the returned store
    delta reproduces the full fingerprint relation."""
    import random

    from flink_bm25_spark.operators.dedup import (
        winnowing_dedup_pairs,
        winnowing_fingerprints,
        winnowing_pairs_incremental,
    )

    rng = random.Random(5)
    base = " ".join(f"w{i:02d}" for i in range(25))
    old_rows = [(i, base + f" o{i}a o{i}b") for i in range(6)]
    old_rows += [(i, " ".join(f"x{i}y{j}" for j in range(15))) for i in range(10, 14)]
    new_rows = [(100, base + " n100a n100b"), (101, " ".join(f"z{j}" for j in range(15)))]
    new_rows += [(102, " ".join(f"x12y{j}" for j in range(15)))]  # near-copies doc 12
    old = spark.createDataFrame(old_rows, "doc_id bigint, text string")
    new = spark.createDataFrame(new_rows, "doc_id bigint, text string")

    old_fps = winnowing_fingerprints(old).select("doc_id", "fp").distinct()
    pairs, new_fps = winnowing_pairs_incremental(old_fps, new, min_shared=2)
    got = {(r.d1, r.d2): r.n_shared for r in pairs.collect()}

    full = winnowing_dedup_pairs(old.unionByName(new), min_shared=2)
    new_ids = {100, 101, 102}
    want = {
        (r.d1, r.d2): r.n_shared
        for r in full.collect()
        if r.d1 in new_ids or r.d2 in new_ids
    }
    assert got == want
    assert want, "fixture must produce at least one batch-touching pair"
    # the store delta matches a fresh fingerprint run on the batch
    a = sorted(map(tuple, new_fps.collect()))
    b = sorted(
        map(tuple, winnowing_fingerprints(new).select("doc_id", "fp").distinct().collect())
    )
    assert a == b


def test_winnowing_shared_spans_align_on_diagonal(spark):
    """A copied run yields fingerprint matches on a constant diagonal
    (pos2 - pos1 == the offset of the copied block), and only pair docs
    are fingerprinted (semi-join pruning)."""
    from flink_bm25_spark.operators.dedup import (
        winnowing_dedup_pairs,
        winnowing_shared_spans,
    )

    shared = " ".join(f"s{i:02d}" for i in range(12))
    rows = [
        (1, "a1 a2 a3 " + shared),                 # run starts at token 4
        (2, shared + " b1 b2"),                    # run starts at token 1
        (3, " ".join(f"u{i}" for i in range(15))), # unrelated
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    pairs = winnowing_dedup_pairs(docs, min_shared=2)
    assert {(r.d1, r.d2) for r in pairs.collect()} == {(1, 2)}

    spans = winnowing_shared_spans(docs, pairs).collect()
    assert spans
    diags = {r.pos2 - r.pos1 for r in spans}
    # doc1's copy of the run sits 3 tokens later than doc2's
    assert diags == {-3}
    assert all(r.d1 == 1 and r.d2 == 2 for r in spans)


def test_dedup_stats_sums_to_corpus(spark):
    from flink_bm25_spark.operators.dedup import dedup_stats

    base = " ".join(f"w{i:02d}" for i in range(25))
    rows = [(i, base + f" t{i}a t{i}b") for i in range(4)]          # 4-cluster
    rows += [(10, " ".join(f"x{j}" for j in range(20)))]            # singleton
    rows += [(11, " ".join(f"y{j}" for j in range(20)))]            # singleton
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {r.cluster_size: (r.n_clusters, r.n_docs) for r in dedup_stats(docs).collect()}
    assert got == {4: (1, 4), 1: (2, 2)}
    assert sum(n for _, n in got.values()) == len(rows)


def test_first_arrival_losers_ignores_old_old_pairs(spark):
    """Regression (r02 advice): a pair touching NO new id (both members
    already emitted from the archive) must flag nobody — neither can be
    retracted."""
    from flink_bm25_spark.operators.dedup import first_arrival_losers

    pairs = spark.createDataFrame(
        [(1, 2), (2, 10), (10, 11)], "d1 long, d2 long"
    )
    new = spark.createDataFrame([(10,), (11,)], "doc_id long")
    losers = {r.doc_id for r in first_arrival_losers(pairs, new).collect()}
    # (1,2) is old-old -> ignored; (2,10): new 10 loses; (10,11): greater 11 loses
    assert losers == {10, 11}

def test_edit_distance_hot_gram_prefix_lossless(spark):
    """Ed-Join location-based prefix filtering (probe side carries only
    the q*d+1 globally-rarest grams) must stay lossless on the
    hot-gram vocabulary it exists for: every string shares the same
    hot leading grams, so a naive all-grams join would pay a
    vocabulary-squared bucket on them while the prefix probe must keep
    them out of the join AND still find every true pair through the
    rare tail grams."""
    import itertools
    import random

    from flink_bm25_spark.operators.dedup import edit_distance_pairs

    rng = random.Random(41)
    # hot head: every value starts with the same 8 chars ("aaaaaaaa"),
    # so grams aa@1..aa@7 each occur in ALL values; the informative
    # grams live in the random 8-char tail.  Seed genuine near-dup
    # cliques by mutating a few tails in 1-3 positions.
    tails = ["".join(rng.choice("stuvwxyz") for _ in range(8)) for _ in range(40)]
    vals = {"aaaaaaaa" + t for t in tails}
    for t in tails[:10]:
        mut = list(t)
        for k in range(rng.randint(1, 3)):
            mut[rng.randrange(8)] = rng.choice("stuvwxyz")
        vals.add("aaaaaaaa" + "".join(mut))
    vals = sorted(vals)
    df = spark.createDataFrame([(v,) for v in vals], "name string")

    def lev(a, b):
        m = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, m[0] = m[0], i
            for j, cb in enumerate(b, 1):
                prev, m[j] = m[j], min(m[j] + 1, m[j - 1] + 1,
                                       prev + (ca != cb))
        return m[-1]

    want = {
        (a, b): lev(a, b)
        for a, b in itertools.combinations(vals, 2)
        if lev(a, b) <= 3
    }
    assert want  # the construction must actually seed true pairs
    got = {
        (r.v1, r.v2): r.dist
        for r in edit_distance_pairs(df, "name", 3).collect()
    }
    assert got == want


def test_line_dedup_first_arrival_and_layout(spark):
    """CCNet step-1 semantics: a repeated line survives only at its
    first (doc_id, pos) occurrence corpus-wide; whitespace-only lines
    are layout and survive unconditionally; fully-duplicated docs come
    back empty with their counts."""
    from flink_bm25_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha\nshared line\nbeta"),
            (2, "shared line\ngamma\n\ndelta"),
            (3, "shared line"),
            (4, ""),
            (5, "beta\nalpha"),  # dup lines from doc 1, later arrival
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.cleaned_text, r.n_lines, r.n_kept)
        for r in line_dedup(docs).collect()
    }
    assert got == {
        1: ("alpha\nshared line\nbeta", 3, 3),
        2: ("gamma\n\ndelta", 3, 2),
        3: ("", 1, 0),
        4: ("", 0, 0),
        5: ("", 2, 0),
    }


def test_line_dedup_differential_random_corpus(spark):
    """Seeded-random multi-line corpus vs a pure-Python first-arrival
    reference: cleaned_text / n_lines / n_kept agree exactly on 120
    docs with heavy cross-document line repetition, blank layout lines,
    empty docs, and duplicate lines WITHIN one document."""
    import random

    from flink_bm25_spark.operators.dedup import line_dedup

    rng = random.Random(42)
    vocab = [f"w{i}" for i in range(30)]
    # small pool of repeating lines -> guaranteed cross-doc collisions
    pool = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 6)))
        for _ in range(40)
    ]
    docs = []
    for d in range(120):
        n = rng.randint(0, 8)
        ls = []
        for _ in range(n):
            r = rng.random()
            if r < 0.15:
                ls.append("")  # blank layout line
            elif r < 0.25:
                ls.append(" " * rng.randint(1, 3))  # whitespace-only
            else:
                ls.append(rng.choice(pool))
        docs.append((d, "\n".join(ls)))

    # pure-Python reference: first (doc_id, pos) wins corpus-wide;
    # whitespace-only lines are layout (always kept, never counted)
    seen: set[str] = set()
    expect = {}
    for d, text in docs:
        lines = text.split("\n")
        kept, n_lines, n_kept = [], 0, 0
        for line in lines:
            if line.strip(" ") == "":
                kept.append(line)
                continue
            n_lines += 1
            if line not in seen:
                seen.add(line)
                kept.append(line)
                n_kept += 1
        expect[d] = ("\n".join(kept), n_lines, n_kept)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.cleaned_text, r.n_lines, r.n_kept)
        for r in line_dedup(df).collect()
    }
    assert got == expect


def test_positional_shingle_hashes_match_text_form(spark):
    """positional_shingle_hashes is the identity-only twin of
    positional_shingles (the text form stays public for span
    display/attribution): same (doc_id, pos) set, and the hash at each
    position equals xxhash64 over that position's gram words."""
    from pyspark.sql import functions as F

    from flink_bm25_spark.operators.dedup import (
        positional_shingle_hashes,
        positional_shingles,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z"), (3, "")],
        "doc_id long, text string",
    )
    n = 3
    text_form = positional_shingles(docs, n)
    hash_form = positional_shingle_hashes(docs, n)
    # identical (doc, pos) coverage
    t = {(r.doc_id, r.pos): r.gram for r in text_form.collect()}
    h = {(r.doc_id, r.pos): r.gh for r in hash_form.collect()}
    assert set(t) == set(h) and t
    # hash at each position == xxhash64 over the gram's words
    words = {k: v.split(" ") for k, v in t.items()}
    expected = {
        k: r.gh
        for k, r in zip(
            sorted(words),
            spark.createDataFrame(
                [tuple(words[k]) for k in sorted(words)],
                ", ".join(f"w{i} string" for i in range(n)),
            )
            .select(F.xxhash64(*[f"w{i}" for i in range(n)]).alias("gh"))
            .collect(),
        )
    }
    assert {k: h[k] for k in sorted(h)} == expected
