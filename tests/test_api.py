"""BM25Engine facade: fit/search/save/load lifecycle."""

from __future__ import annotations

import tempfile

import pytest

from pyspark.sql import functions as F

from flink_bm25_spark.api import BM25Engine, _tokenize_query
from flink_bm25_spark.config import DEFAULT_QUERY_TERMS
from flink_bm25_spark.operators.bm25 import bm25_rank
from flink_bm25_spark.operators.pipeline import corpus_stats_for
from flink_bm25_spark.sources.tables import load_documents
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def engine(spark):
    return BM25Engine.fit(load_documents(spark, SF_DIR))


def test_search_matches_low_level_rank(spark, engine):
    s = corpus_stats_for(spark, SF_DIR)
    want = [
        (r.doc_id, r.score)
        for r in bm25_rank(s.tf, s.idf_stats, s.dlen, DEFAULT_QUERY_TERMS, 10).collect()
    ]
    got = [
        (r.doc_id, r.score)
        for r in engine.search(" ".join(DEFAULT_QUERY_TERMS), k=10).collect()
    ]
    assert got == want


def test_query_tokenization_drops_stopwords(spark):
    assert _tokenize_query("the spark A join") == ("spark", "join")
    with pytest.raises(ValueError):
        _tokenize_query("the a")


def test_save_load_roundtrip(spark, engine):
    with tempfile.TemporaryDirectory() as d:
        engine.save(d)
        loaded = BM25Engine.load(spark, d)
        assert loaded.stats.n_docs == engine.stats.n_docs
        want = [(r.doc_id, r.score) for r in engine.search("spark join", 5).collect()]
        got = [(r.doc_id, r.score) for r in loaded.search("spark join", 5).collect()]
        assert got == want


def test_term_stats_and_vectors(spark, engine):
    ts = {r.word: r.df for r in engine.term_stats("spark", "join").collect()}
    assert set(ts) == {"spark", "join"} and all(v > 0 for v in ts.values())
    vecs = engine.doc_vectors(k=5)
    row = vecs.first()
    assert len(row.tf) <= 5


def test_incremental_update_equals_full_fit(spark):
    from pyspark.sql import functions as F

    docs = load_documents(spark, SF_DIR)
    old = docs.where(F.col("doc_id") % 5 != 0)
    new = docs.where(F.col("doc_id") % 5 == 0)
    merged = BM25Engine.fit(old).update(new)
    full = BM25Engine.fit(docs)
    assert merged.stats.n_docs == full.stats.n_docs

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    assert rows(merged.stats.tf) == rows(full.stats.tf)
    assert rows(merged.stats.dlen) == rows(full.stats.dlen)
    assert rows(merged.stats.df_stats) == rows(full.stats.df_stats)
    q = " ".join(DEFAULT_QUERY_TERMS)
    assert rows(merged.search(q, 10)) == rows(full.search(q, 10))


def test_corpus_curator_incremental_loop(spark, tmp_path):
    # Two-batch operational loop: batch 2 dedups against batch 1 through
    # the signature store; survivors are quality-pass, uncontaminated,
    # and never near-dups of anything already seen; state round-trips
    # through parquet.
    from flink_bm25_spark.api import CorpusCurator
    from flink_bm25_spark.operators.dedup import minhash_dedup_pairs
    from flink_bm25_spark.operators.sampling import hash_split
    from flink_bm25_spark.operators.text_analysis import quality_scores
    from flink_bm25_spark.sources.tables import load_documents
    from tests.conftest import SF_DIR

    docs = load_documents(spark, SF_DIR)
    labeled = hash_split(docs, splits=(("eval", 5), ("train", 100)))
    train = labeled.where(F.col("split") == "train").drop("split")
    bench = labeled.where(F.col("split") == "eval").drop("split")
    b1 = train.where(F.col("doc_id") < 250)
    b2 = train.where(F.col("doc_id") >= 250)

    cur = CorpusCurator.fit(bench)
    s1 = {r["doc_id"] for r in cur.curate_batch(b1).collect()}
    s2 = {r["doc_id"] for r in cur.curate_batch(b2).collect()}
    assert s1 and s2 and not (s1 & s2)

    # survivors of batch 2 are not near-dups of ANY earlier doc
    all_pairs = {
        (r.d1, r.d2) for r in minhash_dedup_pairs(train, 0.8).collect()
    }
    for d1, d2 in all_pairs:
        assert d2 not in (s1 | s2) or d1 not in (s1 | s2) or (d1, d2) not in all_pairs

    qual = {
        r["doc_id"]: r["keep_score"] for r in quality_scores(train).collect()
    }
    assert all(qual[d] >= 0.2 for d in s1 | s2)

    # persistence round-trip: a reloaded curator screens a duplicate of
    # an already-ingested doc
    path = str(tmp_path / "cur_state")
    cur.save(path)
    reloaded = CorpusCurator.load(spark, path)
    some_id = sorted(s1)[0]
    dup = (
        train.where(F.col("doc_id") == some_id)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text",
                "lang", "source", "n_chars")
    )
    out = {r["doc_id"] for r in reloaded.curate_batch(dup).collect()}
    assert out == set()


def test_curator_drops_contaminated_doc(spark):
    # Decontamination must actually fire: a batch doc that IS a benchmark
    # doc (same text, new id) shares every eval shingle and must be
    # dropped.  Pins the fit/probe shingle-width agreement — a width
    # mismatch makes overlap identically zero and this doc survives.
    from flink_bm25_spark.api import CorpusCurator
    from flink_bm25_spark.operators.sampling import hash_split
    from flink_bm25_spark.sources.tables import load_documents
    from tests.conftest import SF_DIR

    docs = load_documents(spark, SF_DIR)
    labeled = hash_split(docs, splits=(("eval", 5), ("train", 100)))
    bench = labeled.where(F.col("split") == "eval").drop("split")
    leak = bench.limit(1).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text",
        "lang", "source", "n_chars",
    )
    clean = (
        labeled.where(F.col("split") == "train").drop("split").limit(3)
    )

    cur = CorpusCurator.fit(bench)
    out = {r["doc_id"] for r in cur.curate_batch(clean.unionByName(leak)).collect()}
    leak_id = leak.first()["doc_id"]
    assert leak_id not in out
    assert out  # the clean docs were not collateral damage


def test_curator_sigs_without_docs_archive(spark, tmp_path):
    # A curator holding signatures but no archive text (bare signature
    # store) must not crash in curate_batch; and save() must clear stale
    # subdirs so load() can't reconstruct inconsistent state.
    import os

    from flink_bm25_spark.api import CorpusCurator
    from flink_bm25_spark.operators.dedup import minhash_signatures_wide, shingles
    from flink_bm25_spark.operators.sampling import hash_split
    from flink_bm25_spark.sources.tables import load_documents
    from tests.conftest import SF_DIR

    docs = load_documents(spark, SF_DIR)
    labeled = hash_split(docs, splits=(("eval", 5), ("train", 100)))
    train = labeled.where(F.col("split") == "train").drop("split")
    bench = labeled.where(F.col("split") == "eval").drop("split")

    sigs = minhash_signatures_wide(shingles(train.where(F.col("doc_id") < 100)))
    cur = CorpusCurator.fit(bench)
    cur.sigs_wide = sigs  # signatures without archive text
    batch = train.where(F.col("doc_id").between(100, 120))
    out = cur.curate_batch(batch)  # must not raise
    assert out.count() > 0

    # save() with _docs present writes docs/; a later save() after state
    # reset must remove the stale subdir.
    path = str(tmp_path / "state")
    cur.save(path)
    assert os.path.exists(os.path.join(path, "docs"))
    cur._docs = None
    cur.sigs_wide = None
    cur.save(path)
    assert not os.path.exists(os.path.join(path, "docs"))
    assert not os.path.exists(os.path.join(path, "sigs"))


def test_curator_checkpoint_to_its_own_load_path(spark, tmp_path):
    # The hazard case: state loaded FROM a path, then checkpointed back
    # TO the same path after another batch — the eager materialization
    # must protect the overwrite (no data loss, dedup memory intact).
    from flink_bm25_spark.api import CorpusCurator
    from flink_bm25_spark.operators.sampling import hash_split
    from flink_bm25_spark.sources.tables import load_documents
    from tests.conftest import SF_DIR

    docs = load_documents(spark, SF_DIR)
    labeled = hash_split(docs, splits=(("eval", 5), ("train", 100)))
    train = labeled.where(F.col("split") == "train").drop("split")
    bench = labeled.where(F.col("split") == "eval").drop("split")
    path = str(tmp_path / "state")

    cur = CorpusCurator.fit(bench)
    cur.curate_batch(train.where(F.col("doc_id") < 200))
    cur.checkpoint_state(path)

    re = CorpusCurator.load(spark, path)
    re.curate_batch(train.where(F.col("doc_id").between(200, 350)))
    re.checkpoint_state(path)  # overwrite the path we loaded from

    final = CorpusCurator.load(spark, path)
    # the reloaded store remembers docs from BOTH eras
    for probe_id in (0, 250):
        src = train.where(F.col("doc_id") == probe_id)
        if src.count() == 0:
            continue
        dup = src.select(
            (F.col("doc_id") + 888_000).alias("doc_id"), "text", "lang",
            "source", "n_chars"
        )
        assert final.curate_batch(dup).count() == 0


def test_curator_first_arrival_wins_regardless_of_id_order(spark):
    # The emitted-cannot-retract rule: when a duplicate arrives LATER
    # with a SMALLER id than its already-kept twin, the newcomer must
    # lose — id order never overrides arrival order.
    from flink_bm25_spark.api import CorpusCurator

    text = "alpha beta gamma delta epsilon zeta eta theta " * 10
    mk = lambda ids: spark.createDataFrame(  # noqa: E731
        [(i, text) for i in ids], "doc_id bigint, text string"
    )
    bench = spark.createDataFrame(
        [(9_999, "totally unrelated benchmark words only")],
        "doc_id bigint, text string",
    )
    cur = CorpusCurator.fit(bench)
    first = {r["doc_id"] for r in cur.curate_batch(mk([1000])).collect()}
    assert first == {1000}
    second = {r["doc_id"] for r in cur.curate_batch(mk([1])).collect()}
    assert second == set(), "smaller-id latecomer must not displace the kept doc"


def test_winnow_screen_incremental_loop(spark, tmp_path):
    """WinnowScreen: first-arrival-wins across batches, state survives
    save/load, and a copy arriving after its source is dropped even
    when the source itself was dropped earlier."""
    from flink_bm25_spark.api import WinnowScreen

    base = " ".join(f"w{i:02d}" for i in range(20))
    other = " ".join(f"z{i:02d}" for i in range(20))
    b1 = spark.createDataFrame(
        [(1, base + " a1 a2"), (2, other)], "doc_id bigint, text string"
    )
    # batch 2: a near-copy of doc 1 and a fresh doc
    b2 = spark.createDataFrame(
        [(10, base + " b1 b2"), (11, " ".join(f"y{i}" for i in range(20)))],
        "doc_id bigint, text string",
    )
    # batch 3: a near-copy of doc 10 (which was DROPPED) must still drop
    b3 = spark.createDataFrame(
        [(20, base + " c1 c2")], "doc_id bigint, text string"
    )

    ws = WinnowScreen(min_shared=2)
    k1 = {r.doc_id for r in ws.screen_batch(b1).collect()}
    assert k1 == {1, 2}
    ws.checkpoint_state(str(tmp_path / "st"))

    ws = WinnowScreen.load(spark, str(tmp_path / "st"))
    k2 = {r.doc_id for r in ws.screen_batch(b2).collect()}
    assert k2 == {11}  # 10 near-dups the archived doc 1
    k3 = {r.doc_id for r in ws.screen_batch(b3).collect()}
    assert k3 == set()  # matches the dropped doc 10's stored fps


def test_engine_save_after_load_same_path_then_search(spark, tmp_path):
    """Regression: save() back to the load path must invalidate the
    cached idf_stats plan (it reads the pre-overwrite df files)."""
    from flink_bm25_spark.api import BM25Engine
    from flink_bm25_spark.sources.tables import load_documents
    from tests.conftest import SF_DIR

    p = str(tmp_path / "stats")
    BM25Engine.fit(load_documents(spark, SF_DIR).limit(50)).save(p)

    eng = BM25Engine.load(spark, p)
    first = eng.search("spark stream join", k=3).collect()
    eng.save(p)  # overwrite the very files the cached idf plan reads
    again = eng.search("spark stream join", k=3).collect()
    assert [tuple(r) for r in again] == [tuple(r) for r in first]


def test_quantile_tracker_batches_equal_rebuild(spark, tmp_path):
    """QuantileTracker: any batch sequence == one full rebuild (the KMV
    merge law, applied through the incremental loop), state survives
    save/load, and state size stays at groups x k."""
    from flink_bm25_spark.api import QuantileTracker
    from flink_bm25_spark.operators.sketches import (
        kmv_quantiles,
        kmv_sketch_by,
    )

    rows = [(i, "g%d" % (i % 2), float((i * 37) % 1000)) for i in range(600)]
    df = spark.createDataFrame(rows, "rid long, grp string, val double")
    k = 16

    qt = QuantileTracker(k=k)
    for lo, hi in ((0, 200), (200, 400), (400, 600)):
        qt.update_batch(
            df.where((F.col("rid") >= lo) & (F.col("rid") < hi)),
            "grp", "val", "rid",
        )
    inc = sorted(map(tuple, qt.sketch.collect()))
    full = sorted(
        map(tuple, kmv_sketch_by(df, "grp", "val", "rid", k=k).collect())
    )
    assert inc == full
    assert len(inc) == 2 * k  # state bounded at groups x k

    got = {(r.grp, r.q): r.est for r in qt.quantiles([0.5]).collect()}
    want = {
        (r.grp, r.q): r.est
        for r in kmv_quantiles(
            kmv_sketch_by(df, "grp", "val", "rid", k=k), [0.5], ["grp"]
        ).collect()
    }
    assert got == want

    path = str(tmp_path / "qt_state")
    qt.checkpoint_state(path)
    back = QuantileTracker.load(spark, path, k=k)
    assert sorted(map(tuple, back.sketch.collect())) == inc
    # the reloaded store keeps absorbing batches
    back.update_batch(df.limit(50), "grp", "val", "rid")
    assert sorted(map(tuple, back.sketch.collect())) == inc  # re-ingest = no-op


def test_bm25_conjunctive_subset_of_or(spark):
    """AND-ranked docs contain every query term; AND is a sub-universe of
    OR; the global top-k stays a distributed heap."""
    from flink_bm25_spark.operators.bm25 import bm25_rank, bm25_rank_conjunctive
    from flink_bm25_spark.operators.pipeline import corpus_stats_for
    from tests.conftest import SF_DIR

    s = corpus_stats_for(spark, SF_DIR)
    terms = ("spark", "stream", "join")
    both = bm25_rank_conjunctive(s.tf, s.idf_stats, s.dlen, terms, k=1000)
    rows = both.collect()
    assert rows, "no conjunctive match in fixture"
    and_ids = {r.doc_id for r in rows}
    # every AND doc carries all terms in the TF relation
    per_doc = {
        r.doc_id: r.nt
        for r in s.tf.where(F.col("word").isin(*terms))
        .groupBy("doc_id")
        .agg(F.count_distinct("word").alias("nt"))
        .collect()
    }
    assert all(per_doc[d] == len(terms) for d in and_ids)
    # AND universe subset of OR universe; AND scores match OR's for those docs
    or_rows = {
        r.doc_id: r.score
        for r in bm25_rank(s.tf, s.idf_stats, s.dlen, terms, k=10**6).collect()
    }
    assert and_ids <= set(or_rows)
    assert all(abs(or_rows[r.doc_id] - r.score) < 1e-9 for r in rows)
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_bm25_not_excludes_and_preserves_scores(spark):
    from flink_bm25_spark.operators.bm25 import bm25_rank, bm25_rank_excluding
    from flink_bm25_spark.operators.pipeline import corpus_stats_for
    from tests.conftest import SF_DIR

    s = corpus_stats_for(spark, SF_DIR)
    terms, banned = ("spark", "stream"), ("slow",)
    out = bm25_rank_excluding(s.tf, s.idf_stats, s.dlen, terms, banned, k=10**6)
    rows = out.collect()
    assert rows
    bad = {
        r.doc_id
        for r in s.tf.where(F.col("word").isin(*banned)).select("doc_id").collect()
    }
    assert not ({r.doc_id for r in rows} & bad)
    # survivors score exactly as in the OR form
    or_scores = {
        r.doc_id: r.score
        for r in bm25_rank(s.tf, s.idf_stats, s.dlen, terms, k=10**6).collect()
    }
    assert all(abs(or_scores[r.doc_id] - r.score) < 1e-9 for r in rows)


def test_bm25_batch_equals_per_query(spark):
    """Each query's batch scores == its solo bm25_rank scores; the
    per-query k-cut runs below the window sort."""
    from flink_bm25_spark.operators.bm25 import bm25_batch_rank, bm25_rank
    from flink_bm25_spark.operators.pipeline import corpus_stats_for
    from tests.conftest import SF_DIR

    s = corpus_stats_for(spark, SF_DIR)
    qs = {1: ("spark", "stream"), 2: ("fast", "merge")}
    qdf = spark.createDataFrame(
        [(qid, list(t)) for qid, t in qs.items()],
        "query_id int, terms array<string>",
    )
    batch = bm25_batch_rank(s.tf, s.idf_stats, s.dlen, qdf, k=7)
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.rk, r.doc_id, r.score))
    for qid, terms in qs.items():
        solo = [
            (r.rk, r.doc_id, r.score)
            for r in bm25_rank(s.tf, s.idf_stats, s.dlen, terms, k=7).collect()
        ]
        assert sorted(got[qid]) == sorted(solo), qid
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_quantile_tracker_cfg_survives_restart(spark, tmp_path):
    """The (group, value, key, seed) configuration is part of the saved
    state: a restarted process must reject a batch sketched under a
    different configuration instead of silently merging incomparable
    samples (r3 advice)."""
    import pytest

    from flink_bm25_spark.api import QuantileTracker

    df = spark.createDataFrame(
        [(i, "g", float(i)) for i in range(20)], "rid long, grp string, val double"
    )
    qt = QuantileTracker(k=8)
    qt.update_batch(df, "grp", "val", "rid")
    path = str(tmp_path / "qt_cfg")
    qt.save(path)

    back = QuantileTracker.load(spark, path, k=8)
    assert back._cfg == ("grp", "val", "rid", "kmv:0")
    with pytest.raises(ValueError, match="incomparable"):
        back.update_batch(df, "grp", "rid", "val")  # swapped columns
    # the matching configuration still ingests
    back.update_batch(df.limit(5), "grp", "val", "rid")


def test_quantile_tracker_load_rejects_conflicting_k(spark, tmp_path):
    """A restored bottom-k sample is only the bottom-k of history at its
    own k — re-cutting at a larger k silently biases every later
    quantile (reproduced: median 1095 vs true 1009).  k is state."""
    from flink_bm25_spark.api import QuantileTracker

    df = spark.createDataFrame(
        [("a", float(i), i) for i in range(200)], "grp string, val double, rid long"
    )
    qt = QuantileTracker(k=8)
    qt.update_batch(df, "grp", "val", "rid")
    path = str(tmp_path / "qt_k")
    qt.save(path)

    # omitted k restores the saved k
    back = QuantileTracker.load(spark, path)
    assert back.k == 8
    # conflicting explicit k raises instead of silently re-cutting
    with pytest.raises(ValueError, match="k=8"):
        QuantileTracker.load(spark, path, k=256)
    # matching explicit k still loads
    assert QuantileTracker.load(spark, path, k=8).k == 8


def test_line_screen_equals_full_rebuild_and_redelivery(spark, tmp_path):
    """LineScreen batches == one line_dedup rebuild (batch order
    agreeing with doc_id order); a redelivered batch keeps nothing; the
    store round-trips through save/load."""
    from flink_bm25_spark.api import LineScreen
    from flink_bm25_spark.operators.dedup import line_dedup

    b1 = spark.createDataFrame(
        [(1, "alpha\nshared line\nbeta"), (2, "shared line\ngamma")],
        "doc_id long, text string",
    )
    b2 = spark.createDataFrame(
        [(3, "beta\ndelta"), (4, "delta\nepsilon")],
        "doc_id long, text string",
    )
    ls = LineScreen()
    got1 = {r.doc_id: (r.cleaned_text, r.n_kept) for r in ls.screen_batch(b1).collect()}
    got2 = {r.doc_id: (r.cleaned_text, r.n_kept) for r in ls.screen_batch(b2).collect()}

    full = {
        r.doc_id: (r.cleaned_text, r.n_kept)
        for r in line_dedup(b1.unionByName(b2)).collect()
    }
    assert {**got1, **got2} == full

    # redelivery: every line already archived
    redeliver = {r.doc_id: r.n_kept for r in ls.screen_batch(b2).collect()}
    assert redeliver == {3: 0, 4: 0}

    # persistence round-trip continues screening where it left off
    path = str(tmp_path / "ls_state")
    ls.checkpoint_state(path)
    back = LineScreen.load(spark, path)
    b3 = spark.createDataFrame(
        [(5, "epsilon\nzeta")], "doc_id long, text string"
    )
    got3 = {r.doc_id: r.cleaned_text for r in back.screen_batch(b3).collect()}
    assert got3 == {5: "zeta"}


def test_curator_line_screen_stage(spark, tmp_path):
    """Opt-in LineScreen stage inside CorpusCurator (DEPLOY.md intake
    order): cross-batch boilerplate lines are removed BEFORE quality /
    signatures, survivors carry the n_lines/n_kept drop ledger, state
    round-trips, and a redelivered batch yields empty text everywhere."""
    import os

    from flink_bm25_spark.api import CorpusCurator

    boiler = "subscribe to our newsletter today friends"
    body = {
        1: "alpha beta gamma delta epsilon zeta eta theta one",
        2: "iota kappa lambda mu nu xi omicron pi two",
        3: "rho sigma tau upsilon phi chi psi omega three",
    }
    b1 = spark.createDataFrame(
        [(1, f"{boiler}\n{body[1]}")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(2, f"{boiler}\n{body[2]}"), (3, f"{boiler}\n{body[3]}")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(900, "totally unrelated benchmark words here")],
        "doc_id long, text string",
    )

    cur = CorpusCurator.fit(bench, line_screen=True, min_keep_score=0.0)
    out1 = {r.doc_id: r for r in cur.curate_batch(b1).collect()}
    out2 = {r.doc_id: r for r in cur.curate_batch(b2).collect()}
    # batch 1: first arrival keeps the boilerplate line
    assert out1[1].text == f"{boiler}\n{body[1]}"
    assert (out1[1].n_lines, out1[1].n_kept) == (2, 2)
    # batch 2: boilerplate archived by batch 1 -> removed from BOTH docs
    # (within doc 2 it's also not first — doc 1 owns it)
    for d in (2, 3):
        assert boiler not in out2[d].text and body[d] in out2[d].text
        assert (out2[d].n_lines, out2[d].n_kept) == (2, 1)

    # state round-trip: the line archive persists and keeps screening
    path = str(tmp_path / "state")
    cur.checkpoint_state(path)
    assert os.path.exists(os.path.join(path, "lines"))
    re = CorpusCurator.load(spark, path, min_keep_score=0.0)
    assert re.line_screen is not None

    # redelivery of batch 2 through the RELOADED curator: every line is
    # already archived -> n_kept = 0, empty text, and the minhash stage
    # drops the (now duplicate-of-archive) docs entirely or keeps empty
    # shells -- either way no original text survives
    redelivered = re.curate_batch(b2).collect()
    for r in redelivered:
        assert r.n_kept == 0 and r.text == ""

    # stale-subdir contract: disabling the stage then saving removes lines/
    re.line_screen = None
    re.save(path)
    assert not os.path.exists(os.path.join(path, "lines"))


def test_web_intake_screen_frozen_model_loop(spark, tmp_path):
    """WebIntakeScreen = CCNet's production loop: model + operating
    points fitted once on a reference corpus and FROZEN; batches are
    line-deduped against the cross-batch archive, bucketed by the frozen
    nll terciles, gated at the frozen per-group quality cut.  Pins the
    degradation contract (no known bigram -> nll null + 'tail'; unseen
    group -> global fallback cut), state round-trip, and redelivery."""
    import random

    from flink_bm25_spark.api import WebIntakeScreen

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(25)]

    def doc(n):
        return " ".join(rng.choice(vocab) for _ in range(n))

    ref = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", doc(rng.randint(20, 80)))
         for i in range(40)],
        "doc_id long, lang string, text string",
    )
    screen = WebIntakeScreen.fit(ref, quality_cutoff=0.25)
    # frozen state snapshots
    model_before = screen.model.count()
    cuts_before = {r.lang: (r.nll_c1, r.nll_c2)
                   for r in screen.nll_cuts.collect()}

    boiler = "subscribe to our newsletter right now"
    b1 = spark.createDataFrame(
        [(100, "en", f"<p>{boiler}</p>\n{doc(60)}")],
        "doc_id long, lang string, text string",
    )
    b2 = spark.createDataFrame(
        [
            (200, "en", f"<p>{boiler}</p>\n{doc(60)}"),
            # out-of-domain: no bigram the reference LM knows (long
            # enough that the quality gate is not the reason it moves)
            (201, "en", " ".join(
                rng.choice(["zz", "qq", "xx", "vv", "kk", "pp"])
                for _ in range(60)
            )),
            # unseen group: gates against the global fallback cut
            (202, "fr", doc(60)),
        ],
        "doc_id long, lang string, text string",
    )
    out1 = {r.doc_id: r for r in screen.screen_batch(b1).collect()}
    out2 = {r.doc_id: r for r in screen.screen_batch(b2).collect()}
    assert boiler in out1[100].cleaned_text
    assert 200 in out2 and boiler not in out2[200].cleaned_text
    assert out2[200].n_kept == out2[200].n_lines - 1
    # degradation: unknown bigrams -> null nll, tail bucket; survives the
    # quality gate (it IS long enough text)
    assert out2[201].nll is None and out2[201].bucket == "tail"
    # unseen group: screened (not crashed), tail bucket, global cut used
    assert out2[202].bucket == "tail" and out2[202].nll is None
    # the model and cuts did NOT drift with the batches
    assert screen.model.count() == model_before
    assert {r.lang: (r.nll_c1, r.nll_c2)
            for r in screen.nll_cuts.collect()} == cuts_before
    # in-domain docs get real buckets from the frozen terciles
    assert out1[100].bucket in ("head", "middle", "tail")
    assert out1[100].nll is not None

    # round-trip: the reloaded screen remembers the line archive AND the
    # frozen cuts; a redelivered b2 comes back fully boilerplate
    path = str(tmp_path / "wis")
    screen.checkpoint_state(path)
    re = WebIntakeScreen.load(spark, path)
    redelivered = {r.doc_id: r for r in re.screen_batch(b2).collect()}
    # every content line of b2 is archived -> n_kept = 0 and empty text
    # -> keep_score 0 -> the gate drops them (cut > 0 for both langs)
    assert all(r.keep_score == 0.0 or r.n_kept == 0
               for r in redelivered.values())
    for r in redelivered.values():
        assert r.n_kept == 0 and r.cleaned_text == ""


def test_lm_score_backoff_half_ood_ranks_between(spark):
    """The r5 verdict's backoff ask: with lm_score_backoff, a document
    that is HALF out-of-domain scores between a fully in-domain doc and
    a fully out-of-domain one (the inner-join scorer would score the
    half-OOD doc on its known half only, making it look in-domain), and
    every bigram scores (n_bigrams counted, n_known = exact hits)."""
    from flink_bm25_spark.operators.text_analysis import (
        lm_fit_backoff_by,
        lm_score,
        lm_score_backoff,
    )

    in_domain = "the cat sat on the mat and the dog sat on the rug"
    train = spark.createDataFrame(
        [(1, "en", in_domain)], "doc_id long, lang string, text string"
    )
    half = in_domain.split()
    half_ood = " ".join(half[: len(half) // 2]) + " zz qq vv kk xx pp"
    score = spark.createDataFrame(
        [
            (10, "en", in_domain),             # fully known
            (11, "en", half_ood),              # half known
            (12, "en", "zz qq vv kk xx pp"),   # nothing known
        ],
        "doc_id long, lang string, text string",
    )
    model, contexts, defaults = lm_fit_backoff_by(train, "lang", alpha=0.1)
    got = {
        r.doc_id: r
        for r in lm_score_backoff(
            score, model, contexts, defaults, group_cols=["lang"]
        ).collect()
    }
    assert got[10].nll < got[11].nll < got[12].nll
    # every bigram scored; n_known counts exact model hits only
    assert got[12].n_known == 0 and got[12].n_bigrams == 5
    assert 0 < got[11].n_known < got[11].n_bigrams
    assert got[10].n_known == got[10].n_bigrams
    # on fully-known text the backoff scorer equals the inner-join one
    inner = {
        r.doc_id: r
        for r in lm_score(score, model, group_cols=["lang"]).collect()
    }
    assert got[10].nll == inner[10].nll


def test_web_intake_screen_backoff_flag(spark, tmp_path):
    """fit(backoff=True): a half-OOD page lands in a worse-or-equal
    bucket than its fully in-domain twin (the inner-join scorer would
    let its known half masquerade as in-domain), no-known-bigram pages
    get a REAL (worst-tail) nll instead of null, and the backoff
    relations survive save/load."""
    import random

    from flink_bm25_spark.api import WebIntakeScreen

    rng = random.Random(7)
    # STRUCTURED reference text (cyclic sentence): in-domain bigrams are
    # near-deterministic, so the model's in-domain nll is genuinely low
    # — uniform-random text would score exactly ln(V), the same as the
    # OOV backoff, and the ranking below would be vacuous
    sent = ("the quick brown fox jumps over the lazy dog near the river "
            "bank today").split()

    def doc(n):
        off = rng.randrange(len(sent))
        return " ".join(sent[(off + k) % len(sent)] for k in range(n))

    ref = spark.createDataFrame(
        [(i, "en", doc(rng.randint(20, 80))) for i in range(40)],
        "doc_id long, lang string, text string",
    )
    screen = WebIntakeScreen.fit(ref, quality_cutoff=0.25, backoff=True)
    ood = " ".join(
        rng.choice(["zz", "qq", "xx", "vv", "kk", "pp"]) for _ in range(60)
    )
    batch = spark.createDataFrame(
        [
            (100, "en", doc(60)),
            (101, "en", doc(30) + " " + ood),
            (102, "en", ood),
        ],
        "doc_id long, lang string, text string",
    )
    out = {r.doc_id: r for r in screen.screen_batch(batch).collect()}
    # backoff: even the fully-OOD page gets a real nll now
    assert out[102].nll is not None and out[102].bucket == "tail"
    assert out[100].nll < out[101].nll < out[102].nll
    # round-trip keeps the backoff relations (and therefore the scores)
    path = str(tmp_path / "wis_backoff")
    screen.checkpoint_state(path)
    re = WebIntakeScreen.load(spark, path)
    assert re.contexts is not None and re.defaults is not None
    # a NEW ood line — doc 102's line is already in the line archive and
    # would be deduped to an empty page
    fresh_ood = " ".join(
        rng.choice(["mm", "nn", "tt", "rr"]) for _ in range(60)
    )
    fresh = spark.createDataFrame(
        [(200, "en", fresh_ood)], "doc_id long, lang string, text string"
    )
    r2 = re.screen_batch(fresh).collect()
    assert len(r2) == 1 and r2[0].nll is not None


def test_line_screen_store_compaction_many_batches(spark, tmp_path):
    """r5 verdict item 7: the line archive is an append-only union
    chain — after 50 batches the store's parquet file count must stay
    bounded (compaction coalesces on save past 2× default parallelism)
    and redelivery of an early batch still comes back fully deduped."""
    import glob
    import os

    from flink_bm25_spark.api import LineScreen

    ls = LineScreen()
    path = str(tmp_path / "ls_many")
    first = spark.createDataFrame(
        [(0, "line zero\nline shared")], "doc_id long, text string"
    )
    ls.screen_batch(first)
    for b in range(1, 50):
        batch = spark.createDataFrame(
            [(b, f"line {b} alpha\nline {b} beta\nline shared")],
            "doc_id long, text string",
        )
        ls.screen_batch(batch)
        if b % 10 == 0:
            ls.checkpoint_state(path)
    ls.checkpoint_state(path)
    files = glob.glob(os.path.join(path, "lines", "*.parquet"))
    cap = 2 * spark.sparkContext.defaultParallelism
    assert 0 < len(files) <= cap, f"{len(files)} store files (cap {cap})"
    # redelivery pin: batch 0's lines are all archived
    re = LineScreen.load(spark, path)
    redone = re.screen_batch(first).collect()
    assert len(redone) == 1 and redone[0].n_kept == 0


def _state_case(spark, name):
    """``(populated, empty)`` factories for one incremental-state class,
    over tiny in-memory batches."""
    from flink_bm25_spark import api

    text = [
        (1, "en", "alpha beta gamma delta epsilon\nzeta eta theta iota kappa"),
        (2, "de", "lambda mu nu xi omicron\npi rho sigma tau upsilon"),
        (3, "en", "alpha beta gamma delta epsilon\nphi chi psi omega one"),
    ]
    docs = spark.createDataFrame(text, "doc_id long, lang string, text string")
    if name == "CorpusCurator":
        # the stores as a batch leaves them, without running the
        # MinHash plan (other tests pin curate_batch itself)
        grams = spark.createDataFrame([("lambda mu nu",)], "gram string")

        def empty():
            return api.CorpusCurator(grams)

        def populated():
            cur = empty()
            cur.sigs_wide = docs.select("doc_id", F.lit(7).alias("band"))
            cur._docs = docs.select("doc_id", "text")
            return cur

    elif name == "EmbeddingDeduper":

        def empty():
            return api.EmbeddingDeduper(dim=4, nnz=2, bands=2, bits_per_band=2)

        def populated():
            dd = empty()
            dd.screen_batch(spark.createDataFrame(
                [(i, [float(i), 1.0, 0.5, -1.0]) for i in range(4)],
                "vec_id long, embedding array<double>",
            ))
            return dd

    elif name == "QuantileTracker":

        def empty():
            return api.QuantileTracker(k=4)

        def populated():
            qt = empty()
            qt.update_batch(docs, "lang", "doc_id", "doc_id")
            return qt

    elif name == "WebIntakeScreen":
        # frozen relations as literals: the state under test is the
        # line archive, and fitting would only add Spark jobs
        model = spark.createDataFrame(
            [("en", "alpha", "beta", 0.5)],
            "lang string, w1 string, w2 string, nl double",
        )
        nll_cuts = spark.createDataFrame(
            [("en", 1.0, 2.0)], "lang string, nll_c1 double, nll_c2 double"
        )
        score_cuts = spark.createDataFrame(
            [("en", 0.0)], "lang string, score_cut double"
        )

        def empty():
            return api.WebIntakeScreen(model, nll_cuts, score_cuts, 0.0)

        def populated():
            ws = empty()
            ws.screen_batch(docs)
            return ws

    else:  # WinnowScreen, LineScreen: text batches, default config
        cls = getattr(api, name)

        def empty():
            return cls()

        def populated():
            screen = empty()
            screen.screen_batch(docs.select("doc_id", "text"))
            return screen

    return populated, empty


def _jobs_run(spark, fn) -> int:
    core = spark.sparkContext._jsc.sc()
    first = int(core.dagScheduler().nextJobId())
    fn()
    return int(core.dagScheduler().nextJobId()) - first


@pytest.mark.parametrize(
    "name, grown",
    [
        pytest.param(name, grown, id=name)
        for name, grown in (
            ("LineScreen", ["lines"]),
            ("QuantileTracker", ["sketch"]),
            ("WinnowScreen", ["fps"]),
            ("EmbeddingDeduper", ["keys_wide"]),
            ("WebIntakeScreen", ["lines"]),
            ("CorpusCurator", ["sigs_wide", "_docs"]),
        )
    ],
)
def test_empty_save_removes_stale_state(spark, tmp_path, name, grown):
    """save -> save of an EMPTY object to the same path -> load must not
    resurrect the first save's ``grown`` relations (a stale sample or
    archive would be merged into the next batch), and the older
    ``checkpoint_state`` name runs no more Spark jobs than ``save``."""
    populated, empty = _state_case(spark, name)
    cls = type(empty())
    full = populated()
    assert all(getattr(full, a) is not None for a in grown)
    assert all(getattr(empty(), a) is None for a in grown)

    path = str(tmp_path / "state")
    full.save(path)  # runs the batch plan; the relations are now flat
    save_jobs = _jobs_run(spark, lambda: full.save(path))
    ckpt_jobs = _jobs_run(spark, lambda: full.checkpoint_state(path))
    assert ckpt_jobs <= save_jobs, (ckpt_jobs, save_jobs)

    empty().save(path)
    back = cls.load(spark, path)
    for attr in grown:
        assert getattr(back, attr) is None, attr
