"""Coverage for the remaining operator variants: the pluggable mapInPandas
tokenizer, broadcast stopword removal, and sign-LSH candidate pairs."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_bm25_spark.operators import profiling
from flink_bm25_spark.operators import sketches as sk_ops
from flink_bm25_spark.operators import text_analysis as ta
from flink_bm25_spark.operators.similarity import (
    rp_lsh_bucket,
    rp_lsh_candidate_pairs,
)
from flink_bm25_spark.operators.tokenize import (
    filter_stopwords,
    filter_stopwords_broadcast,
    tokenize,
    tokenize_with_udf,
)
from flink_bm25_spark.sources.tables import load_documents, load_embeddings
from tests.conftest import SF_DIR


def test_udf_tokenizer_matches_builtin(spark):
    docs = load_documents(spark, SF_DIR).limit(50)
    builtin = {(r.doc_id, r.word) for r in tokenize(docs).collect()}

    # a segmenter closure — the ansj/jieba slot; pickled by value
    def segment(text: str) -> list[str]:
        return [w for w in text.lower().split() if w]

    viaudf = {(r.doc_id, r.word) for r in tokenize_with_udf(docs, segment).collect()}
    assert viaudf == builtin


def test_broadcast_stopword_filter_matches_isin(spark):
    docs = load_documents(spark, SF_DIR).limit(100)
    tokens = tokenize(docs)
    sw_df = spark.createDataFrame([("the",), ("a",)], "word string")
    a = sorted(tuple(r) for r in filter_stopwords(tokens).collect())
    b = sorted(tuple(r) for r in filter_stopwords_broadcast(tokens, sw_df).collect())
    assert a == b


def test_rp_lsh_candidates_are_plausible(spark):
    emb = load_embeddings(spark, SF_DIR)
    bucketed = rp_lsh_bucket(emb, num_planes=6).cache()
    pairs = rp_lsh_candidate_pairs(bucketed)
    rows = pairs.collect()
    assert all(r.d1 < r.d2 for r in rows)
    # candidate count is the sum over buckets of C(n,2) — verify exactly
    sizes = bucketed.groupBy("bucket").count().collect()
    expect = sum(r["count"] * (r["count"] - 1) // 2 for r in sizes)
    assert len(rows) == expect
    bucketed.unpersist()


def test_portable_hll_accuracy(spark):
    # estimate within the expected rse envelope (1.04/sqrt(64) ~ 13%)
    from flink_bm25_spark.operators.pipeline import corpus_stats_for
    from flink_bm25_spark.operators.sketches import hll_distinct

    tf = corpus_stats_for(spark, SF_DIR).tf
    exact = tf.select("word").distinct().count()
    est = hll_distinct(tf.select("word"), "word").first()["n_distinct_est"]
    assert abs(est - exact) / exact < 0.30


def test_portable_hll_empty_input(spark):
    from flink_bm25_spark.operators.sketches import hll_distinct

    empty = spark.createDataFrame([], "word string")
    assert hll_distinct(empty, "word").first()["n_distinct_est"] == 0.0


def test_bloom_no_false_negatives_and_prunes(spark):
    from flink_bm25_spark.operators.pipeline import corpus_stats_for
    from flink_bm25_spark.operators.sketches import bloom_build, bloom_might_contain

    vocab = corpus_stats_for(spark, SF_DIR).tf.select("word").distinct()
    filt = bloom_build(vocab, "word").collect()
    assert len(filt) == 16

    # every member must hit (no false negatives, by construction)
    members = bloom_might_contain(vocab, "word", filt)
    assert members.where(~F.col("bloom_hit")).count() == 0

    # non-members: 1024 bits over ~30 keys -> fp rate should be tiny
    ghosts = spark.createDataFrame(
        [(f"zz_unseen_token_{i}",) for i in range(200)], "word string"
    )
    fp = bloom_might_contain(ghosts, "word", filt).where(F.col("bloom_hit")).count()
    assert fp <= 10  # expected ~0 at this fill ratio


def test_cms_never_underestimates_and_is_tight_here(spark):
    from flink_bm25_spark.operators.pipeline import corpus_stats_for
    from flink_bm25_spark.operators.sketches import cms_build, cms_estimate

    tf = corpus_stats_for(spark, SF_DIR).tf
    truth = {
        r.word: r.n
        for r in tf.groupBy("word").agg(F.sum("tf").alias("n")).collect()
    }
    cms = cms_build(tf, "word", weight="tf").collect()
    probe = spark.createDataFrame([(w,) for w in truth], "word string")
    est = {
        r.word: r.cms_count for r in cms_estimate(probe, "word", cms).collect()
    }
    for w, n in truth.items():
        assert est[w] >= n  # CMS never undercounts
    # 31-word vocab in 4x256 counters -> collisions ~0: estimates exact
    exact_hits = sum(1 for w in truth if est[w] == truth[w])
    assert exact_hits >= len(truth) - 2


def test_cms_weighted_equals_multiplicity_build(spark):
    from flink_bm25_spark.operators.sketches import cms_build

    rows = [("a", 3), ("b", 2), ("c", 1)]
    weighted = spark.createDataFrame(rows, "word string, n int")
    expanded = spark.createDataFrame(
        [(w,) for w, n in rows for _ in range(n)], "word string"
    )
    got_w = sorted(tuple(r) for r in cms_build(weighted, "word", weight="n").collect())
    got_e = sorted(tuple(r) for r in cms_build(expanded, "word").collect())
    assert got_w == got_e


def test_inverted_index_postings_sorted_and_complete(spark):
    from flink_bm25_spark.operators.pipeline import corpus_stats_for
    from flink_bm25_spark.operators.tf import inverted_index

    tf = corpus_stats_for(spark, SF_DIR).tf
    idx = inverted_index(tf)
    rows = idx.collect()
    assert sum(r.df for r in rows) == tf.count()  # every posting accounted
    for r in rows:
        ids = [p.doc_id for p in r.postings]
        assert ids == sorted(ids)  # merge-join-able ordering
        assert r.df == len(r.postings)


def test_phrase_and_repetition_random_corpus_vs_python(spark):
    # Randomized check against a naive Python oracle: tiny vocabulary so
    # phrases and repetition are dense, seed fixed for reproducibility.
    import random

    from flink_bm25_spark.operators.phrase import phrase_search
    from flink_bm25_spark.operators.text_analysis import repetition_scores

    rng = random.Random(42)
    vocab = ["a", "b", "c", "d"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
        for i in range(200)
    ]
    sdf = spark.createDataFrame(
        [(i, t, "en", "t", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    )

    phrase = ("a", "b", "a")

    def n_matches(text):
        toks = [w for w in text.lower().split() if w]
        return sum(
            1 for j in range(len(toks) - 2) if tuple(toks[j : j + 3]) == phrase
        )

    got = {r.doc_id: r.n_matches for r in phrase_search(sdf, phrase).collect()}
    want = {i: n_matches(t) for i, t in docs if n_matches(t) > 0}
    assert got == want

    def rep(text):
        toks = [w for w in text.lower().split() if w]
        if not toks:
            return (0.0, 0.0)
        top = round(max(toks.count(w) for w in set(toks)) / len(toks), 6)
        bis = [(toks[j], toks[j + 1]) for j in range(len(toks) - 1)]
        dup = round((len(bis) - len(set(bis))) / len(bis), 6) if bis else 0.0
        return (top, dup)

    got_r = {
        r.doc_id: (r.top_word_frac, r.dup_bigram_frac)
        for r in repetition_scores(sdf).collect()
    }
    want_r = {i: rep(t) for i, t in docs}
    assert got_r == want_r


def test_repetition_scores_hand_computed(spark):
    from flink_bm25_spark.operators.text_analysis import repetition_scores

    docs = spark.createDataFrame(
        [
            (1, "a b a b", "en", "t", 7),     # top a:2/4; bigrams [ab,ba,ab] → 1/3 dup
            (2, "x x x x", "en", "t", 7),     # top 4/4=1.0; bigrams 3 slots 1 uniq → 2/3
            (3, "a b c", "en", "t", 5),       # no repetition
            (4, "solo", "en", "t", 4),        # 1 token: no bigram slots
            (5, "", "en", "t", 0),            # empty text
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r.doc_id: (r.top_word_frac, r.dup_bigram_frac)
        for r in repetition_scores(docs).collect()
    }
    assert got[1] == (0.5, round(1 / 3, 6))
    assert got[2] == (1.0, round(2 / 3, 6))
    assert got[3] == (round(1 / 3, 6), 0.0)
    assert got[4] == (1.0, 0.0)
    assert got[5] == (0.0, 0.0)


def test_phrase_search_three_terms_and_overlaps(spark):
    from flink_bm25_spark.operators.phrase import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c", "en", "t", 11),
            (2, "a b x c", "en", "t", 7),
            (3, "c b a", "en", "t", 5),
            (4, "a a a a", "en", "t", 7),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r.doc_id: r.n_matches for r in phrase_search(docs, ("a", "b", "c")).collect()}
    assert got == {1: 2}
    # overlapping occurrences are each counted
    aa = {r.doc_id: r.n_matches for r in phrase_search(docs, ("a", "a")).collect()}
    assert aa == {4: 3}
    # single-term phrase degenerates to term frequency
    single = {r.doc_id: r.n_matches for r in phrase_search(docs, ("c",)).collect()}
    assert single == {1: 2, 2: 1, 3: 1}


def test_redact_pii_rules(spark):
    from flink_bm25_spark.operators.text_analysis import redact_pii

    docs = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@sub.example.org today"),
            (2, "server 192.168.0.1 and 10.0.0.255 up"),
            (3, "call +1 555-0147 or +49 800-1234 now"),
            (4, "nested user@10.0.0.1 case"),
            (5, "clean text no pii"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in redact_pii(docs).collect()}
    assert got[1].redacted == "mail me at <EMAIL> today"
    assert (got[1].n_email, got[1].n_ip, got[1].n_phone) == (1, 0, 0)
    assert got[2].redacted == "server <IP> and <IP> up"
    assert got[2].n_ip == 2
    assert got[3].redacted == "call <PHONE> or <PHONE> now"
    assert got[3].n_phone == 2
    # an IP-host address is NOT an email (the email rule demands an
    # alphabetic TLD) — the IP rule catches the host part instead
    assert got[4].redacted == "nested user@<IP> case"
    assert (got[4].n_email, got[4].n_ip) == (0, 1)
    assert got[5].redacted == "clean text no pii"
    assert (got[5].n_email, got[5].n_ip, got[5].n_phone) == (0, 0, 0)


def test_redact_pii_is_map_side(spark):
    from flink_bm25_spark.operators.text_analysis import redact_pii
    from flink_bm25_spark.plans import count_exchanges

    assert count_exchanges(redact_pii(load_documents(spark, SF_DIR))) == 0


def test_more_like_this_matches_brute_force(spark):
    import math

    from flink_bm25_spark.operators.bm25 import more_like_this, tfidf
    from flink_bm25_spark.operators.pipeline import corpus_stats_for
    from flink_bm25_spark.plans import explain_str

    s = corpus_stats_for(spark, SF_DIR)
    ti = tfidf(s.tf, s.idf_stats)
    got = [(r.doc_id, r.cosine, r.rk) for r in more_like_this(ti, 0, k=5).collect()]

    vecs = {}
    for r in ti.collect():
        vecs.setdefault(r.doc_id, {})[r.word] = r.tfidf
    src = vecs[0]
    src_norm = math.sqrt(sum(w * w for w in src.values()))
    exp = []
    for d, v in vecs.items():
        if d == 0:
            continue
        dot = sum(w * src.get(t, 0.0) for t, w in v.items())
        if dot == 0.0:
            continue
        norm = math.sqrt(sum(w * w for w in v.values()))
        exp.append((round(dot / (norm * src_norm), 6), d))
    exp.sort(key=lambda p: (-p[0], p[1]))
    assert got == [(d, c, i + 1) for i, (c, d) in enumerate(exp[:5])]
    # source vector broadcasts; global top-k is a heap merge, not a sort
    plan = explain_str(more_like_this(ti, 0, k=5), "simple")
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_lm_perplexity_prefers_typical_text(spark):
    # A doc made of the corpus's most common transitions must score a
    # lower avg NLL than a doc of rare transitions; n_bigrams is exact.
    from flink_bm25_spark.operators.text_analysis import lm_perplexity_scores

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b a b a b"),
            (2, "a b a b a b a b a b"),
            (3, "a b a b a b a b a b"),
            (4, "q z x w p v m k j h"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r for r in lm_perplexity_scores(docs).collect()}
    assert got[1]["n_bigrams"] == 9
    assert got[1]["nll"] == got[2]["nll"] == got[3]["nll"]
    assert got[4]["nll"] > got[1]["nll"]


def test_collocations_pmi_hand_check(spark):
    # "new york" always co-occurs -> PMI = ln(N*C12/(C1*C2)) with exact
    # counts; a pair of independent fillers scores lower.
    import math

    from flink_bm25_spark.operators.text_analysis import collocations

    docs = spark.createDataFrame(
        [(i, "new york " + "x y " * 4) for i in range(5)],
        "doc_id bigint, text string",
    )
    got = {(r["w1"], r["w2"]): r for r in collocations(docs, min_count=5).collect()}
    ny = got[("new", "york")]
    # per doc: 9 bigram slots; N=45; (new,york) 5 times; C(new,*)=5; C(*,york)=5
    assert ny["pair_count"] == 5
    assert ny["pmi"] == round(math.log(45 * 5 / (5 * 5)), 6)
    assert ny["pmi"] > got[("x", "y")]["pmi"]


def test_chunk_documents_coverage_and_overlap(spark):
    from flink_bm25_spark.operators.text_analysis import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "")],
        "doc_id bigint, text string",
    )
    got = {(r["doc_id"], r["chunk_id"]): r for r in chunk_documents(docs, 4, 3).collect()}
    # doc1: 10 tokens, windows at 0/3/6 -> [t0..t3], [t3..t6], [t6..t9]
    assert {(1, 0), (1, 1), (1, 2), (2, 0)} == set(got)
    assert got[(1, 0)]["chunk_text"] == "t0 t1 t2 t3"
    assert got[(1, 1)]["chunk_text"] == "t3 t4 t5 t6"
    assert got[(1, 2)]["chunk_text"] == "t6 t7 t8 t9"
    assert got[(2, 0)]["chunk_text"] == "a b"
    assert got[(2, 0)]["n_chunk_tokens"] == 2
    # adjacent chunks overlap by size - stride tokens; coverage is total
    toks = set()
    for (d, _), r in got.items():
        if d == 1:
            toks.update(r["chunk_text"].split())
    assert toks == {f"t{i}" for i in range(10)}


def test_numeric_outliers_flags_injected_point(spark):
    from flink_bm25_spark.operators.profiling import numeric_outliers

    rows = [(i, "a", 10.0 + (i % 5) * 0.1) for i in range(100)]
    rows.append((100, "a", 500.0))     # the outlier
    rows += [(200 + i, "b", 5.0) for i in range(10)]  # zero-variance group
    df = spark.createDataFrame(rows, "event_id bigint, event_type string, value double")
    got = numeric_outliers(df, "value", "event_type", z=3.0).collect()
    assert [r["event_id"] for r in got] == [100]
    assert got[0]["zscore"] > 3.0


def test_learn_bpe_matches_pure_python_reference(spark):
    """Differential oracle: the distributed greedy merge loop equals a
    from-scratch Python BPE (Sennrich-style over word counts) on the same
    corpus — merge rules, order, and counts."""
    from collections import Counter

    from flink_bm25_spark.operators.text_analysis import learn_bpe
    from flink_bm25_spark.sources.tables import load_documents
    from tests.conftest import SF_DIR

    docs = load_documents(spark, SF_DIR)
    got = learn_bpe(docs, n_merges=8)

    vocab = Counter()
    for (text,) in docs.select("text").collect():
        for w in text.lower().split():
            if w:
                vocab[w] += 1
    syms = {w: list(w) + ["</w>"] for w in vocab}
    want = []
    for rank in range(8):
        pc = Counter()
        for w, freq in vocab.items():
            s = syms[w]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += freq
        if not pc:
            break
        # argmax with (count desc, pair asc) tiebreak
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, l, r, cnt))
        for w in vocab:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == l and s[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = out
    assert got == want


def test_udtf_tokenizer_equals_builtin(spark):
    """The Python-UDTF port path (Flink FlatMapFunction shape) produces
    exactly the built-in explode tokenizer's output."""
    from flink_bm25_spark.operators.tokenize import tokenize
    from flink_bm25_spark.operators.udx import tokenize_udtf
    from flink_bm25_spark.sources.tables import load_documents
    from tests.conftest import SF_DIR

    docs = load_documents(spark, SF_DIR).limit(50)
    got = sorted(map(tuple, tokenize_udtf(docs).collect()))
    want = sorted(map(tuple, tokenize(docs).collect()))
    assert got == want


def test_grouped_agg_udaf_equals_builtin_sum(spark):
    from flink_bm25_spark.operators.udx import merge_counts_grouped_agg

    counts = spark.createDataFrame(
        [("a", 3), ("b", 5), ("a", 4), ("c", 1), ("b", 2)],
        "word string, cnt long",
    )
    got = {r["word"]: r["cnt"] for r in merge_counts_grouped_agg(counts).collect()}
    assert got == {"a": 7, "b": 7, "c": 1}


def test_normalize_text_rules(spark):
    from pyspark.sql import functions as F

    from flink_bm25_spark.functions.text import normalize_text

    cases = [
        ("“Hi” \x07 a—b…  c\td\n", '"Hi" a-b... c d'),
        ("  lead nbsp", "lead nbsp"),
        ("already clean", "already clean"),
        ("", ""),
    ]
    df = spark.createDataFrame([(i, t) for i, (t, _) in enumerate(cases)],
                               "i long, t string")
    got = {r.i: r.n for r in df.select(
        "i", normalize_text(F.col("t")).alias("n")).collect()}
    for i, (_, want) in enumerate(cases):
        assert got[i] == want, (i, got[i])


def test_key_skew_profile_shares_and_plan(spark):
    from flink_bm25_spark.operators.profiling import key_skew_profile

    rows = [(i, "hot" if i % 10 else "cold") for i in range(100)]
    df = spark.createDataFrame(rows, "id bigint, k string")
    out = key_skew_profile(df, "k", top_k=2).collect()
    assert [(r.key, r.n_rows, r.share) for r in out] == [
        ("hot", 90, 0.9),
        ("cold", 10, 0.1),
    ]
    assert out[-1].cum_share == 1.0
    # global top-k must compile to TakeOrderedAndProject, not a full sort
    plan = (
        key_skew_profile(df, "k", top_k=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_psi_drift_detects_shift(spark):
    import math

    from flink_bm25_spark.operators.profiling import psi_drift

    ref = spark.createDataFrame([(float(v),) for v in [1, 1, 5, 5, 9, 9]], "v double")
    same = spark.createDataFrame([(float(v),) for v in [1, 5, 9]], "v double")
    shifted = spark.createDataFrame([(float(v),) for v in [9, 9, 9]], "v double")
    edges = [4.0, 8.0]

    stable = psi_drift(ref, same, "v", edges).collect()
    assert all(r.psi == 0.0 for r in stable)  # identical fractions

    drifted = psi_drift(ref, shifted, "v", edges).collect()
    psi = drifted[0].psi
    # hand PSI: ref (1/3,1/3,1/3) vs cur (eps, eps, ~1): bins 0,1 shrink
    eps = 1e-6
    want = round(
        sum(
            round((c - r) * math.log(c / r), 6)
            for r, c in [(1 / 3, eps), (1 / 3, eps), (1 / 3, 1.0)]
        ),
        6,
    )
    assert abs(psi - want) < 1e-9
    assert psi > 0.25  # "drifted" by the standard rule of thumb


def test_ngram_diversity_hand_case(spark):
    from flink_bm25_spark.operators.text_analysis import ngram_diversity

    df = spark.createDataFrame(
        [
            (1, "a b c a b c", "rep"),   # grams: abc bca cab abc -> 3/4 distinct
            (2, "a b c d e", "fresh"),   # grams: abc bcd cde -> 3/3
            (3, "x y", "fresh"),         # too short: no grams
        ],
        "doc_id long, text string, source string",
    )
    out = {r.source: r for r in ngram_diversity(df, n=3).collect()}
    assert out["rep"].n_grams == 4 and out["rep"].n_distinct == 3
    assert out["rep"].distinct_ratio == 0.75
    assert out["fresh"].n_grams == 3 and out["fresh"].distinct_ratio == 1.0


def test_kmv_sketch_merge_equals_rebuild_and_quantiles(spark):
    import random

    from flink_bm25_spark.operators.sketches import (
        kmv_merge,
        kmv_quantiles,
        kmv_sketch,
    )

    rnd = random.Random(7)
    rows = [(i, float(rnd.randint(0, 100000)) / 100.0) for i in range(5000)]
    df = spark.createDataFrame(rows, "rid long, val double")
    k = 128

    # merge law: bottom-k of per-half sketches == bottom-k of the whole
    left = kmv_sketch(df.where("rid < 2500"), "val", "rid", k=k)
    right = kmv_sketch(df.where("rid >= 2500"), "val", "rid", k=k)
    merged = sorted(map(tuple, kmv_merge(left, right, k=k).collect()))
    rebuilt = sorted(map(tuple, kmv_sketch(df, "val", "rid", k=k).collect()))
    assert merged == rebuilt

    # determinism + seed independence
    again = sorted(map(tuple, kmv_sketch(df, "val", "rid", k=k).collect()))
    assert again == rebuilt
    other = sorted(
        map(tuple, kmv_sketch(df, "val", "rid", k=k, seed="kmv:1").collect())
    )
    assert other != rebuilt

    # accuracy: sample median within ~4/sqrt(k) rank error of the truth
    est = {
        r.q: r.est
        for r in kmv_quantiles(
            kmv_sketch(df, "val", "rid", k=k), [0.25, 0.5, 0.75]
        ).collect()
    }
    svals = sorted(v for _, v in rows)
    n = len(svals)
    for q in (0.25, 0.5, 0.75):
        true_rank = q * (n - 1)
        est_rank = svals.index(est[q])
        assert abs(est_rank - true_rank) / n <= 4.0 / (k ** 0.5), (q, est[q])

    # plan: distributed top-k heap, never a global sort
    plan = (
        kmv_sketch(df, "val", "rid", k=k)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan

    # empty input -> empty quantile relation (no NULL row)
    empty = spark.createDataFrame([], "rid long, val double")
    assert kmv_quantiles(kmv_sketch(empty, "val", "rid"), [0.5]).count() == 0
    _ = F  # match sibling import usage


def test_kmv_sketch_by_groupwise_law_and_plan(spark):
    from flink_bm25_spark.operators.sketches import (
        kmv_quantiles,
        kmv_sketch_by,
        kmv_sketch,
    )

    rows = [(i, "g%d" % (i % 3), float(i)) for i in range(900)]
    df = spark.createDataFrame(rows, "rid long, grp string, val double")
    k = 32
    sk = kmv_sketch_by(df, "grp", "val", "rid", k=k)
    got = {}
    for r in sk.collect():
        got.setdefault(r.grp, []).append((r.hk, r.key, r.v))
    # group-wise law: each group's sample == the ungrouped sketch of that
    # group's rows
    for g in ("g0", "g1", "g2"):
        solo = [
            (r.hk, r.key, r.v)
            for r in kmv_sketch(
                df.where(F.col("grp") == g), "val", "rid", k=k
            ).collect()
        ]
        assert sorted(got[g]) == sorted(solo), g
    # per-group quantiles exist for every group
    qs = kmv_quantiles(sk, [0.5], group_cols=["grp"]).collect()
    assert {r.grp for r in qs} == {"g0", "g1", "g2"}
    # plan: the k-cut must run below the window sort (WindowGroupLimit)
    plan = sk._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_winsorize_clip_and_trim(spark):
    from flink_bm25_spark.operators.profiling import winsorize

    rows = [(i, float(i)) for i in range(100)] + [(1000, 1e9), (1001, -1e9)]
    df = spark.createDataFrame(rows, "rid long, val double")
    clipped = winsorize(df, "val", "rid", lo=0.1, hi=0.9, k=64)
    vals = [r.val_w for r in clipped.collect()]
    assert len(vals) == 102
    lo, hi = min(vals), max(vals)
    assert -1e9 < lo and hi < 1e9  # the planted outliers were clipped
    assert all(lo <= v <= hi for v in vals)
    trimmed = winsorize(df, "val", "rid", lo=0.1, hi=0.9, k=64, clip=False)
    tv = [r.val for r in trimmed.collect()]
    assert 1e9 not in tv and -1e9 not in tv
    assert len(tv) < 102
    # bad bounds rejected
    import pytest

    with pytest.raises(ValueError):
        winsorize(df, "val", "rid", lo=0.9, hi=0.1)


def test_winsorize_by_per_group_bounds(spark):
    from flink_bm25_spark.operators.profiling import winsorize

    rows = (
        [(i, "a", float(i)) for i in range(100)]
        + [(500, "a", 1e9)]
        + [(1000 + i, "b", float(10 * i)) for i in range(100)]
        + [(2000, "b", -1e9)]
    )
    df = spark.createDataFrame(rows, "rid long, grp string, val double")
    out = winsorize(
        df, "val", "rid", lo=0.1, hi=0.9, k=64, group_cols=["grp"]
    )
    by = {}
    for r in out.collect():
        by.setdefault(r.grp, []).append(r.val_w)
    assert len(by["a"]) == 101 and len(by["b"]) == 101
    # each group's outlier clipped to ITS OWN bounds
    assert max(by["a"]) < 1e9 and min(by["b"]) > -1e9
    # group-wise equality with the ungrouped operator on that slice
    solo = sorted(
        r.val_w
        for r in winsorize(
            df.where(F.col("grp") == "a").drop("grp"),
            "val", "rid", lo=0.1, hi=0.9, k=64,
        ).collect()
    )
    assert sorted(by["a"]) == solo


def test_winsorize_null_group_keeps_rows_and_own_bounds(spark):
    """A null group key is a group of its own (SQL keeps the NULL
    partition): its rows all survive the join-back, clipped to the null
    group's own bounds, not dropped by a plain equi-join."""
    from flink_bm25_spark.operators.profiling import winsorize

    rows = (
        [(i, "a", float(i)) for i in range(20)]
        + [(100 + i, None, float(1000 + i)) for i in range(10)]
        + [(200, None, 1e9)]
    )
    df = spark.createDataFrame(rows, "rid long, grp string, val double")
    out = winsorize(
        df, "val", "rid", lo=0.1, hi=0.9, k=64, group_cols=["grp"]
    ).collect()
    nulls = sorted(r.val_w for r in out if r.grp is None)
    assert len(nulls) == 11 and len(out) == 31
    assert 1000.0 <= nulls[0] and nulls[-1] < 1e9  # own bounds, outlier clipped
    solo = sorted(
        r.val_w
        for r in winsorize(
            df.where(F.col("grp").isNull()).drop("grp"),
            "val", "rid", lo=0.1, hi=0.9, k=64,
        ).collect()
    )
    assert nulls == solo


def _kmv_quantiles_over(df, g):
    val = df.withColumn("val", F.length("text"))
    sk = (
        sk_ops.kmv_sketch_by(val, g[0], "val", "doc_id", k=16)
        if g
        else sk_ops.kmv_sketch(val, "val", "doc_id", k=16)
    )
    return sk_ops.kmv_quantiles(sk, [0.25, 0.5, 0.75], g)


# each operator as f(documents, group_cols)
_ZERO_VS_ONE_KEY = {
    "quality_gate": lambda df, g: ta.quality_percentile_gate(
        df, cutoff=0.5, group_cols=g
    ),
    "quality_gate_approx": lambda df, g: ta.quality_percentile_gate_approx(
        df, cutoff=0.5, group_cols=g
    ),
    "ccnet_buckets": lambda df, g: ta.ccnet_buckets(df, group_cols=g),
    "ccnet_buckets_approx": lambda df, g: ta.ccnet_buckets_approx(
        df, group_cols=g
    ),
    "lm_perplexity_scores": lambda df, g: ta.lm_perplexity_scores(
        df, group_cols=g
    ),
    "winsorize": lambda df, g: profiling.winsorize(
        df.withColumn("val", F.length("text")),
        "val", "doc_id", lo=0.1, hi=0.9, k=16, group_cols=g,
    ),
    "kmv_quantiles": _kmv_quantiles_over,
}


@pytest.mark.parametrize("op", sorted(_ZERO_VS_ONE_KEY))
def test_zero_keys_equal_one_constant_key(spark, op):
    """Ungrouped is grouped over zero keys: the zero-key path (broadcast
    cross join of a one-row statistic) and the one-key path (null-safe
    keyed join) give the same rows when the one key is constant."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    docs = spark.createDataFrame(
        [
            (d, "c", " ".join(
                rng.choice(vocab) for _ in range(rng.randint(3, 40))
            ))
            for d in range(40)
        ],
        "doc_id long, grp string, text string",
    )
    f = _ZERO_VS_ONE_KEY[op]
    solo = sorted(map(tuple, f(docs.drop("grp"), []).collect()))
    grouped = sorted(map(tuple, f(docs, ["grp"]).drop("grp").collect()))
    assert solo and grouped == solo


def test_strip_markup_tags_entities_payloads(spark):
    """strip_markup: tags become word boundaries, script/style payloads
    vanish entirely, comments vanish, the six dominant entities decode
    exactly once (&amp;lt; -> the literal &lt; the author wrote)."""
    from pyspark.sql import functions as F

    from flink_bm25_spark.functions.text import strip_markup

    cases = [
        ("<p>Hello <b>world</b></p>", "Hello world"),
        (
            '<SCRIPT type="x">var a=1;\n</script >visible<style>.x{}</style>',
            "visible",
        ),
        (
            "a<br>b &amp;lt; c &quot;q&quot; &nbsp; d &#39;e&#39; &lt;tag&gt;",
            "a b &lt; c \"q\" d 'e' <tag>",
        ),
        ("<!-- hidden\nstuff -->shown", "shown"),
        ("plain text", "plain text"),
        ("", ""),
        # custom elements sharing the script/style prefix are ordinary
        # tags, not payload blocks
        (
            "<styled-note>keep this text</styled-note><style>.a{}</style>tail",
            "keep this text tail",
        ),
        # a bare '<' in prose is not a tag: the words survive
        ("profit was < 3% and growth > 1%", "profit was < 3% and growth > 1%"),
        ("<!DOCTYPE html><p>x</p>", "x"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], "i long, t string"
    )
    got = {
        r.i: r.s
        for r in df.select("i", strip_markup(F.col("t")).alias("s")).collect()
    }
    assert got == {i: want for i, (_, want) in enumerate(cases)}


def test_strip_markup_keep_line_breaks(spark):
    """keep_line_breaks=True preserves the document's line structure
    through the strip (only horizontal whitespace collapses, each line
    is trimmed, leading/trailing blank lines are dropped) so the output
    feeds straight into line dedup."""
    from flink_bm25_spark.functions.text import strip_markup

    df = spark.createDataFrame(
        [
            (
                1,
                "<html><body>\ncookie  notice\n<p>alpha\t beta</p>\n"
                "<script>var\nx=1;</script>gamma</body></html>",
            ),
            (2, "plain\n\n  spaced   line  \nlast"),
        ],
        "i long, t string",
    )
    got = {
        r.i: r.s
        for r in df.select(
            "i", strip_markup(F.col("t"), keep_line_breaks=True).alias("s")
        ).collect()
    }
    # doc 1: tags/payload -> spaces, lines survive, blank edges trimmed
    assert got[1] == "cookie notice\nalpha beta\ngamma"
    # doc 2: interior blank line survives (layout), per-line trim applied
    assert got[2] == "plain\n\nspaced line\nlast"


def test_gopher_quality_flags_rules(spark):
    """Each MassiveText rule (Rae et al. 2021 App. A) fires on its own
    hand case and the composite keep requires ALL of them."""
    from flink_bm25_spark.operators.text_analysis import (
        gopher_quality_flags,
    )

    prose = ("the results be known to all of them and we note that "
             "they have agreed with every claim so far ")
    cases = [
        (1, prose * 3),                       # everything passes
        (2, "the be to of and that have with"),  # rule 1: too short
        (3, "aa " * 60),                      # rule 2: mean len < 3 (+stops)
        (4, prose * 3 + "#" * 30),            # rule 3: symbol ratio
        (5, "\n".join(["- item"] * 10)),      # rule 4: all bullets
        (6, "\n".join(["so...…"] * 10)), # rule 5: ellipsis ends
        (7, ("42 17 99 " * 30) + "the be"),   # rule 6: alpha frac
        (8, "word " * 80),                    # rule 7: no required stops
        (9, ""),                              # empty: fails, null ratios
    ]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    assert got[1].keep
    assert all(not got[i].keep for i in range(2, 10))
    assert got[2].n_words == 8
    assert got[3].mean_word_len == 2.0
    assert got[4].hash_word_ratio > 0.1
    # r5 ADVICE: each symbol ratio is cut SEPARATELY — a hash-heavy doc
    # fails on hash_word_ratio alone even with zero ellipses
    assert got[4].ellipsis_word_ratio == 0.0
    assert got[5].bullet_line_frac == 1.0
    assert got[6].ellipsis_line_frac == 1.0
    assert got[7].alpha_word_frac < 0.8
    assert got[8].n_required_stops == 0
    assert got[9].mean_word_len is None and not got[9].keep
    # keep is never null
    assert all(r.keep in (True, False) for r in got.values())


def test_gopher_repetition_scores_hand_cases(spark):
    """Duplicate line/paragraph fractions: dup occurrences are every
    occurrence AFTER the first; whitespace-only units are layout; char
    fractions weight by unit length; empty docs score 0.0."""
    from flink_bm25_spark.operators.text_analysis import (
        gopher_repetition_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "aa\nbbbb\naa\ncc"),               # aa dup: 1/4 lines, 2/10 chars
            (2, "para one\n\npara one\n\npara two"),
            (3, ""),
            (4, "x\n \nx"),                         # layout line excluded
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_repetition_scores(docs).collect()}
    assert got[1].dup_line_frac == 0.25
    assert got[1].dup_line_char_frac == round(2 / 10, 6)
    assert got[1].dup_para_frac == 0.0
    assert got[2].dup_para_frac == round(1 / 3, 6)
    assert got[2].dup_para_char_frac == round(8 / 24, 6)
    assert all(v == 0.0 for v in got[3][1:])
    assert got[4].dup_line_frac == 0.5 and got[4].dup_para_frac == 0.0


def test_gopher_ngram_fracs_hand_cases(spark):
    """Top-n-gram and duplicated-n-gram character fractions: hand
    arithmetic on a crafted doc, 1.0 cap on adversarial repeats, zeros
    for empty docs."""
    from flink_bm25_spark.operators.text_analysis import gopher_ngram_fracs

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),  # chars=11; top-2 'a b' 3x len3 -> 9/11
            (2, "w " * 40),      # one word repeated: everything capped
            (3, ""),
            # r5 ADVICE hand cases:
            (4, "a b"),          # 2 tokens: no 3-gram exists -> 0.0, NOT
                                 # the least(1.0, NULL)->1.0 regression
            # 'cc cc' 3x (len5, mass 15) vs 'aaaaaa bb' 2x (len9, mass
            # 18): MOST FREQUENT gram wins, not max product
            (5, "cc cc cc cc aaaaaa bb aaaaaa bb"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.asDict() for r in gopher_ngram_fracs(docs).collect()}
    assert got[1]["top_2gram_char_frac"] == round(9 / 11, 6)
    assert got[1]["top_3gram_char_frac"] == round(10 / 11, 6)
    assert got[1]["top_4gram_char_frac"] == 1.0  # 14/11 capped
    assert got[1]["dup_5gram_char_frac"] == 0.0  # no 5-gram repeats
    assert all(v == 1.0 for k, v in got[2].items() if k != "doc_id")
    assert all(v == 0.0 for k, v in got[3].items() if k != "doc_id")
    assert got[4]["top_2gram_char_frac"] == 1.0  # 'a b' 1x len3 / chars 3
    assert got[4]["top_3gram_char_frac"] == 0.0  # fewer than 3 tokens
    assert got[4]["top_4gram_char_frac"] == 0.0
    assert all(got[4][f"dup_{n}gram_char_frac"] == 0.0 for n in range(5, 11))
    # chars = 8 + 16 + 7 spaces = 31; argmax-by-count picks 'cc cc'
    assert got[5]["top_2gram_char_frac"] == round(15 / 31, 6)


def test_gopher_filter_ledger(spark):
    """The composed filter: keep = rule_keep AND repetition_keep, one
    ledger row per input doc; a rules-clean but repetitive doc fails on
    repetition alone and vice versa."""
    from flink_bm25_spark.operators.text_analysis import gopher_filter

    # 60 distinct words + two required stops: passes every rule and has
    # no repeated n-gram at all
    clean = "the results " + " ".join(f"word{i}" for i in range(58)) + " be"
    line = "the results that have been with us again and again so far."
    docs = spark.createDataFrame(
        [
            (1, clean),                   # clean prose: keep
            (2, clean + ("\n" + line) * 9),
            # ^ rules pass but 9 duplicated long lines: repetition fails
            (3, "word " * 80),            # repetition-clean, rules fail
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_filter(docs).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1].rule_keep and got[1].repetition_keep and got[1].keep
    assert got[2].rule_keep and not got[2].repetition_keep and not got[2].keep
    assert not got[3].rule_keep and not got[3].keep


def test_gopher_ngram_fracs_python_differential(spark):
    """Independent pure-Python reimplementation on randomized docs —
    the defense against the shared-expression blind spot the r5 ADVICE
    exposed (the DuckDB oracle mirrors the engine's formula, so a
    mistake encoded in BOTH twins passes the parity gate; a third,
    structurally different implementation does not share it)."""
    import random
    from collections import Counter

    from flink_bm25_spark.operators.text_analysis import gopher_ngram_fracs

    rng = random.Random(11)
    vocab = ["a", "bb", "ccc", "dddd", "e", "ffffff", "gg", "hhh"]
    docs = []
    for i in range(40):
        n = rng.choice([0, 1, 2, 3, 5, 8, 15, 30, 60])
        toks = [rng.choice(vocab) for _ in range(n)]
        if rng.random() < 0.3 and n >= 6:  # plant a repeated block
            toks = toks[:6] * (1 + n // 6)
        docs.append((i, " ".join(toks)))

    def py_fracs(text):
        toks = [t for t in text.split() if t]
        chars = len(" ".join(toks))
        out = {}
        for n in (2, 3, 4):
            grams = [tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)]
            if not grams:
                out[f"top_{n}gram_char_frac"] = 0.0
                continue
            c = Counter(grams)

            def glen(g):
                return sum(map(len, g)) + n - 1

            best = max(c.items(), key=lambda kv: (kv[1], glen(kv[0])))
            out[f"top_{n}gram_char_frac"] = min(
                1.0, best[1] * glen(best[0]) / chars
            )
        for n in (5, 6, 7, 8, 9, 10):
            grams = [tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)]
            c = Counter(grams)
            mass = sum(
                cnt * (sum(map(len, g)) + n - 1)
                for g, cnt in c.items()
                if cnt >= 2
            )
            out[f"dup_{n}gram_char_frac"] = (
                min(1.0, mass / chars) if grams else 0.0
            )
        return out

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in gopher_ngram_fracs(df).collect()}
    assert set(got) == set(range(40))
    for i, text in docs:
        want = py_fracs(text)
        for col, w in want.items():
            assert abs(got[i][col] - w) < 5e-7, (i, col, got[i][col], w, text)


def test_gopher_flags_python_differential(spark):
    """Independent pure-Python reimplementation of the seven Gopher
    rules on randomized dirty docs (same blind-spot defense as the
    n-gram differential: the DuckDB twin mirrors the engine formula,
    a third implementation does not)."""
    import random
    import re

    from flink_bm25_spark.operators.text_analysis import (
        gopher_quality_flags,
    )

    rng = random.Random(13)
    vocab = ["the", "word", "amount", "to", "###", "so...", "Abc", "12",
             "...", "…", "-", "•", "x"]
    docs = []
    for i in range(40):
        n_lines = rng.randint(1, 6)
        lines = [
            " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30)))
            for _ in range(n_lines)
        ]
        docs.append((i, "\n".join(lines)))

    def py_flags(text):
        ws = [w for w in re.split(r"\s+", text) if w]
        ls = text.split("\n")
        n_words, n_lines = len(ws), len(ls)
        n_hash = text.count("#")
        n_ell = text.count("...") + text.count("…")
        mean_len = sum(map(len, ws)) / n_words if n_words else None
        hash_r = n_hash / n_words if n_words else None
        ell_r = n_ell / n_words if n_words else None
        bullet = sum(
            1 for x in ls if re.match(r"^[-*•‣▪]( |$)", x.lstrip())
        ) / n_lines
        ell_end = sum(
            1 for x in ls if re.search(r"(\.\.\.|…)$", x.rstrip())
        ) / n_lines
        alpha = (
            sum(1 for w in ws if re.search("[A-Za-z]", w)) / n_words
            if n_words
            else None
        )
        stops = {"the", "be", "to", "of", "and", "that", "have", "with"}
        n_stops = len({w.lower() for w in ws} & stops)
        keep = bool(
            n_words
            and 50 <= n_words <= 100_000
            and 3.0 <= mean_len <= 10.0
            and hash_r <= 0.1
            and ell_r <= 0.1
            and bullet <= 0.9
            and ell_end <= 0.3
            and alpha >= 0.8
            and n_stops >= 2
        )
        return (n_words, mean_len, hash_r, ell_r, bullet, ell_end,
                alpha, n_stops, keep)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    for i, text in docs:
        (n_words, mean_len, hash_r, ell_r, bullet, ell_end, alpha,
         n_stops, keep) = py_flags(text)
        g = got[i]
        assert g.n_words == n_words, (i, "n_words")

        def close(a, b):
            return (a is None and b is None) or abs(a - b) < 5e-7

        assert close(g.mean_word_len, mean_len), (i, "mean")
        assert close(g.hash_word_ratio, hash_r), (i, "hash")
        assert close(g.ellipsis_word_ratio, ell_r), (i, "ell")
        assert close(g.bullet_line_frac, bullet), (i, "bullet")
        assert close(g.ellipsis_line_frac, ell_end), (i, "ell_end")
        assert close(g.alpha_word_frac, alpha), (i, "alpha")
        assert g.n_required_stops == n_stops, (i, "stops")
        assert g.keep == keep, (i, "keep", text)


def test_c4_line_filter_python_differential(spark):
    """Independent pure-Python C4 rules on randomized web-ish docs."""
    import random

    from flink_bm25_spark.operators.cleaning import c4_line_filter

    rng = random.Random(17)
    frags = [
        "this is a sentence that really ends properly.",
        "click here",
        "please enable javascript now to continue reading this page.",
        'he said "fine."',
        "short one.",
        "a much longer line of prose with many words that ends well!",
        "does it end with a question mark after enough words here?",
        "lorem ipsum dolor sit amet",
        "function f() { return 1; }",
        "no terminal punctuation on this line at all",
    ]
    docs = []
    for i in range(40):
        lines = [rng.choice(frags) for _ in range(rng.randint(1, 8))]
        docs.append((i, "\n".join(lines)))

    def py_c4(text, min_words=5, min_sentences=3):
        lt = text.lower()
        if "lorem ipsum" in lt or "{" in lt:
            return None
        ls = text.split("\n")
        kept = [
            x
            for x in ls
            if x.rstrip()[-1:] in '.!?"'
            and len([w for w in x.split() if w]) >= min_words
            and "javascript" not in x.lower()
        ]
        cleaned = "\n".join(kept)
        sentences = sum(cleaned.count(c) for c in ".!?")
        if sentences < min_sentences:
            return None
        return (cleaned, len(ls), len(kept))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in c4_line_filter(df).collect()}
    for i, text in docs:
        want = py_c4(text)
        if want is None:
            assert i not in got, (i, text)
        else:
            assert i in got, (i, text)
            assert got[i].cleaned_text == want[0], i
            assert got[i].n_lines == want[1] and got[i].n_kept == want[2]


def test_gopher_repetition_python_differential(spark):
    """Independent pure-Python duplicate line/paragraph fractions."""
    import random
    from collections import Counter

    from flink_bm25_spark.operators.text_analysis import (
        gopher_repetition_scores,
    )

    rng = random.Random(19)
    units = ["alpha beta", "gamma", "delta epsilon zeta", " ", "eta"]
    docs = []
    for i in range(40):
        n = rng.randint(0, 8)
        parts = [rng.choice(units) for _ in range(n)]
        sep = rng.choice(["\n", "\n\n"])
        docs.append((i, sep.join(parts)))

    def fracs(unit_list):
        us = [u for u in unit_list if u.strip()]
        if not us:
            return 0.0, 0.0
        c = Counter(us)
        dup = sum(v - 1 for v in c.values()) / len(us)
        dup_ch = sum((v - 1) * len(u) for u, v in c.items()) / sum(
            v * len(u) for u, v in c.items()
        )
        return dup, dup_ch

    import re

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in gopher_repetition_scores(df).collect()}
    for i, text in docs:
        dl, dlc = fracs(text.split("\n"))
        dp, dpc = fracs(re.split(r"\n\n+", text))
        g = got[i]
        for a, b in [(g.dup_line_frac, dl), (g.dup_line_char_frac, dlc),
                     (g.dup_para_frac, dp), (g.dup_para_char_frac, dpc)]:
            assert abs(a - b) < 5e-7, (i, text, a, b)
