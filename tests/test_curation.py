"""Tests for the corpus-curation extensions: benchmark decontamination,
BPE pair counting, percentile quality gating, deterministic k-means."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from flink_bm25_spark.operators.decontam import contamination, decontaminate
from flink_bm25_spark.operators.kmeans import cluster_sizes, kmeans_assign
from flink_bm25_spark.operators.text_analysis import (
    bpe_pair_counts,
    quality_percentile_gate,
)
from flink_bm25_spark.sources.tables import load_table

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_bpe_pair_counts_hand_example(spark):
    docs = _docs(spark, [(1, "a b a b"), (2, "b a")])
    got = {
        (r["w1"], r["w2"]): r["pair_count"]
        for r in bpe_pair_counts(docs, min_count=1).collect()
    }
    # doc1 pairs: (a,b) (b,a) (a,b); doc2: (b,a)
    assert got == {("a", "b"): 2, ("b", "a"): 2}
    # min_count filters after the global aggregation
    got3 = bpe_pair_counts(docs, min_count=3).collect()
    assert got3 == []


def test_contamination_flags_ngram_overlap(spark):
    train = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely unrelated words about nothing at all"),
        ],
    )
    bench = _docs(spark, [(100, "quick brown fox jumps over a fence")])
    # doc 1 shares the trigrams "quick brown fox", "brown fox jumps",
    # "fox jumps over" with the benchmark; doc 2 shares none.
    rows = {r["doc_id"]: r for r in contamination(train, bench, n=3, min_overlap=3).collect()}
    assert set(rows) == {1}
    assert rows[1]["n_overlap"] == 3
    assert rows[1]["contaminated"] is True

    survivors = {r["doc_id"] for r in decontaminate(train, bench, n=3, min_overlap=3).collect()}
    assert survivors == {2}


def test_quality_gate_keeps_top_quartile(spark):
    docs = load_table(spark, "documents", SF_DIR)
    n = docs.count()
    kept = quality_percentile_gate(docs, cutoff=0.75).collect()
    assert all(r["pr"] >= 0.75 for r in kept)
    # percent_rank over a unique ordering keeps ~25% (ties shift a little)
    assert 0.15 * n <= len(kept) <= 0.35 * n


def _numpy_lloyd(vecs, ids, k, iterations):
    """Single-process differential twin of kmeans_assign: identical
    init, rounding, and tie rules."""
    order = np.argsort(ids)
    cents = [vecs[order[i]].astype(np.float64) for i in range(k)]

    def assign(cs):
        out = {}
        for vid, v in zip(ids, vecs):
            dists = [
                (round(float(((v.astype(np.float64) - c) ** 2).sum()), 6), cid)
                for cid, c in enumerate(cs)
            ]
            out[vid] = min(dists)[1]
        return out

    for _ in range(iterations):
        a = assign(cents)
        new = []
        for cid in range(k):
            members = [v for vid, v in zip(ids, vecs) if a[vid] == cid]
            if members:
                m = np.mean(np.stack(members).astype(np.float64), axis=0)
                new.append(np.round(m, 6))
            else:
                new.append(cents[cid])
        cents = new
    return assign(cents)


def test_kmeans_matches_numpy_differential(spark):
    emb = load_table(spark, "embeddings", SF_DIR)
    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    vecs = np.array([r["embedding"] for r in rows], dtype=np.float32)

    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(emb, k=4, iterations=2).collect()
    }
    want = _numpy_lloyd(vecs, ids, k=4, iterations=2)
    assert got == want


def test_kmeans_deterministic_and_total(spark):
    emb = load_table(spark, "embeddings", SF_DIR)
    a = kmeans_assign(emb, k=4, iterations=2)
    sizes = {r["cluster"]: r["n"] for r in cluster_sizes(a).collect()}
    assert sum(sizes.values()) == emb.count()
    assert set(sizes) <= {0, 1, 2, 3}
    b = kmeans_assign(emb, k=4, iterations=2)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_kmeans_empty_input(spark):
    emb = load_table(spark, "embeddings", SF_DIR).limit(0)
    assert kmeans_assign(emb, k=4, iterations=2).collect() == []


def test_streaming_overlap_equals_batch(spark):
    # The contamination probe runs unchanged over a documents stream
    # (map-side shingles + broadcast stream-static join + single agg):
    # final streamed overlap counts equal the batch relation.
    import shutil
    import tempfile

    from flink_bm25_spark.operators.decontam import overlap_counts
    from flink_bm25_spark.operators.dedup import shingles
    from flink_bm25_spark.operators.sampling import hash_split

    docs = load_table(spark, "documents", SF_DIR)
    labeled = hash_split(docs, splits=(("eval", 5), ("train", 100)))
    bench = labeled.where(F.col("split") == "eval").drop("split")
    eval_grams = shingles(bench, n=3).select("gram").distinct()

    d = tempfile.mkdtemp(prefix="stream_decontam_")
    shutil.copy(f"{SF_DIR}/documents.parquet", d)
    schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    stream = spark.readStream.schema(schema).format("parquet").load(d)

    q = (
        overlap_counts(stream, eval_grams, n=3)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_overlap")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM t_overlap").collect())
    want = sorted(tuple(r) for r in overlap_counts(docs, eval_grams, n=3).collect())
    assert got == want


def test_curation_pipeline_invariants(spark):
    # End-to-end DAG: survivors are clean, uncontaminated, mixed per
    # weights, and laid out contiguously per shard.
    from flink_bm25_spark.operators.cleaning import clean_corpus, curation_pipeline
    from flink_bm25_spark.operators.decontam import contamination
    from flink_bm25_spark.operators.sampling import hash_split

    docs = load_table(spark, "documents", SF_DIR)
    labeled = hash_split(docs, splits=(("eval", 5), ("train", 100)))
    train = labeled.where(F.col("split") == "train").drop("split")
    bench = labeled.where(F.col("split") == "eval").drop("split")

    out = curation_pipeline(
        train, bench, weights={"en": 0.5, "de": 2.3, "fr": 3.0}, budget=256
    ).collect()
    assert out

    kept = {r["doc_id"] for r in clean_corpus(train).collect()}
    contaminated = {
        r["doc_id"]
        for r in contamination(train, bench, n=3, min_overlap=3)
        .where("contaminated")
        .collect()
    }
    out_ids = {r["doc_id"] for r in out}
    assert out_ids <= kept
    assert not (out_ids & contaminated)

    # copies are dense per doc and the layout is contiguous per shard
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for rows in by_shard.values():
        rows.sort(key=lambda r: r["doc_id"] * 16 + r["rep"])
        run = 0
        for r in rows:
            assert r["offset"] == run and r["seq_id"] == r["offset"] // 256
            run += r["n_tokens"]


def test_curation_ops_on_empty_and_degenerate_inputs(spark):
    # Empty/degenerate corpora flow through the curation ops without
    # special-casing (the 100 TB pipeline meets empty partitions daily).
    from flink_bm25_spark.operators.decontam import contamination, decontaminate
    from flink_bm25_spark.operators.sampling import pack_sequences, temperature_resample

    empty = _docs(spark, []).where("doc_id IS NOT NULL")
    some = _docs(spark, [(1, "a b c d e"), (2, "x y z w v")])

    assert contamination(empty, some).collect() == []
    assert contamination(some, empty).collect() == []
    assert {r["doc_id"] for r in decontaminate(some, empty).collect()} == {1, 2}
    assert bpe_pair_counts(empty, min_count=1).collect() == []
    assert quality_percentile_gate(empty).collect() == []

    mixed = temperature_resample(
        empty.select("doc_id", F.lit("en").alias("lang")), weights={"en": 2.0}
    )
    assert mixed.collect() == []
    packed = pack_sequences(
        empty.select("doc_id", F.lit(1).alias("n_tokens")), budget=8
    )
    assert packed.collect() == []
    # weight 0 drops the stratum entirely
    zeroed = temperature_resample(
        some.select("doc_id", F.lit("en").alias("lang")), weights={"en": 0.0}
    )
    assert zeroed.collect() == []


def test_streaming_feature_hash_equals_batch(spark):
    # Feature hashing is one wide aggregation — streaming-legal; the
    # final streamed vectors equal the batch ones (T4 unified API).
    import shutil
    import tempfile

    from flink_bm25_spark.operators.pipeline import build_corpus_stats
    from flink_bm25_spark.operators.similarity import feature_hash_embeddings
    from flink_bm25_spark.operators.tokenize import filter_stopwords, tokenize

    d = tempfile.mkdtemp(prefix="stream_fh_")
    shutil.copy(f"{SF_DIR}/documents.parquet", d)
    schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    stream = spark.readStream.schema(schema).format("parquet").load(d)

    def tf_of(docs):
        toks = filter_stopwords(tokenize(docs))
        return toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))

    # NB: TF + the slot sums would be two aggregations — fold TF into the
    # contribution instead: sum of per-token signs == sign * tf.
    def stream_vectors(docs):
        toks = filter_stopwords(tokenize(docs)).withColumn("tf", F.lit(1))
        return feature_hash_embeddings(toks, dim=16)

    q = (
        stream_vectors(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_fh")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r["doc_id"], tuple(r["fvec"]))
        for r in spark.sql("SELECT * FROM t_fh").collect()
    )
    docs = load_table(spark, "documents", SF_DIR)
    want = sorted(
        (r["doc_id"], tuple(r["fvec"]))
        for r in feature_hash_embeddings(build_corpus_stats(docs).tf, dim=16).collect()
    )
    assert got == want


def test_streaming_curation_loop(spark, tmp_path):
    # Continuous-ingest curation: micro-batches screened against state
    # accumulated from EARLIER triggers of the same stream; survivors
    # are duplicate-free across batch boundaries.
    import os
    import shutil

    from flink_bm25_spark.api import CorpusCurator
    from flink_bm25_spark.operators.dedup import minhash_dedup_pairs
    from flink_bm25_spark.operators.sampling import hash_split
    from flink_bm25_spark.streaming.curation import curate_stream, read_curated

    docs = load_table(spark, "documents", SF_DIR)
    labeled = hash_split(docs, splits=(("eval", 5), ("train", 100)))
    train = labeled.where(F.col("split") == "train").drop("split")
    bench = labeled.where(F.col("split") == "eval").drop("split")

    # stage the train docs as two parquet files -> two micro-batches
    land = str(tmp_path / "landing")
    os.makedirs(land)
    train.where(F.col("doc_id") < 250).coalesce(1).write.parquet(str(tmp_path / "p1"))
    train.where(F.col("doc_id") >= 250).coalesce(1).write.parquet(str(tmp_path / "p2"))
    for i, src in enumerate(["p1", "p2"]):
        for f in os.listdir(str(tmp_path / src)):
            if f.endswith(".parquet"):
                shutil.copy(str(tmp_path / src / f), os.path.join(land, f"{i}_{f}"))

    stream = (
        spark.readStream.schema(train.schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(land)
    )
    curator = CorpusCurator.fit(bench)
    out = str(tmp_path / "curated")
    curate_stream(stream, curator, out, str(tmp_path / "ckpt"),
                  state_path=str(tmp_path / "state"))

    kept = read_curated(spark, out)
    kept_ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert kept_ids and kept.count() == len(kept_ids)  # no dup rows
    # no surviving pair is a near-duplicate (cross-batch dedup worked)
    for r in minhash_dedup_pairs(train, 0.8).collect():
        assert not (r.d1 in kept_ids and r.d2 in kept_ids)
    # state checkpoint is reloadable and remembers the stream's docs
    re = CorpusCurator.load(spark, str(tmp_path / "state"))
    dup = train.where(F.col("doc_id") == sorted(kept_ids)[0]).select(
        (F.col("doc_id") + 777_000).alias("doc_id"), "text", "lang",
        "source", "n_chars"
    )
    assert re.curate_batch(dup).count() == 0


def test_streaming_lm_scoring_equals_batch(spark):
    # Train once on the batch corpus, score a document STREAM against the
    # fitted model relation: stream-static (w1,w2) join + one agg —
    # final streamed scores equal the batch scorer's.
    import shutil
    import tempfile

    from flink_bm25_spark.operators.text_analysis import (
        lm_perplexity_scores,
        lm_score,
        _bigram_relation,
        lm_model,
    )
    from flink_bm25_spark.functions.text import tokenize_expr

    docs = load_table(spark, "documents", SF_DIR)
    bigrams = _bigram_relation(docs)
    pair_counts = bigrams.groupBy("w1", "w2").agg(F.count("*").alias("c12"))
    uni_counts = bigrams.groupBy("w1").agg(F.count("*").alias("c1"))
    vocab = docs.select(
        F.explode(
            F.array_distinct(
                F.filter(tokenize_expr(F.col("text")), lambda w: w != F.lit(""))
            )
        ).alias("w")
    ).agg(F.countDistinct("w").alias("v"))
    model = lm_model(pair_counts, uni_counts, vocab, alpha=0.1).cache()
    model.count()

    d = tempfile.mkdtemp(prefix="stream_lm_")
    shutil.copy(f"{SF_DIR}/documents.parquet", d)
    schema = spark.read.parquet(f"{SF_DIR}/documents.parquet").schema
    stream = spark.readStream.schema(schema).format("parquet").load(d)

    q = (
        lm_score(stream, model)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_lm")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM t_lm").collect())
    want = sorted(tuple(r) for r in lm_perplexity_scores(docs, alpha=0.1).collect())
    assert got == want
    model.unpersist()


def test_curation_sink_redelivery_is_idempotent(spark, tmp_path):
    # The mechanism the streaming sink depends on: with dynamic partition
    # overwrite, rewriting the same _batch_id partition replaces it — a
    # re-delivered micro-batch cannot double its rows.
    from flink_bm25_spark.streaming.curation import BATCH_COL

    path = str(tmp_path / "sink")
    df = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id bigint, text string")
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        for _ in range(2):  # deliver the same batch twice
            (
                df.withColumn(BATCH_COL, F.lit(0).cast("long"))
                .write.mode("overwrite")
                .partitionBy(BATCH_COL)
                .parquet(path)
            )
        assert spark.read.parquet(path).count() == 2
        # a different batch id lands in its own partition, untouched
        (
            df.withColumn(BATCH_COL, F.lit(1).cast("long"))
            .write.mode("overwrite")
            .partitionBy(BATCH_COL)
            .parquet(path)
        )
        assert spark.read.parquet(path).count() == 4
    finally:
        # restore: leaking dynamic mode into the session-scoped fixture
        # changes full-rebuild overwrite semantics for every later test
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def test_compact_curated_preserves_rows(spark, tmp_path):
    from flink_bm25_spark.streaming.curation import (
        BATCH_COL,
        compact_curated,
        read_curated,
    )

    path = str(tmp_path / "sink")
    for b in range(5):
        (
            spark.range(b * 10, b * 10 + 10)
            .select(F.col("id").alias("doc_id"), F.lit(f"t{b}").alias("text"))
            .withColumn(BATCH_COL, F.lit(b).cast("long"))
            .write.mode("append")
            .partitionBy(BATCH_COL)
            .parquet(path)
        )
    before = sorted(map(tuple, read_curated(spark, path).collect()))
    compact_curated(spark, path, num_files=2)
    after = sorted(map(tuple, read_curated(spark, path).collect()))
    assert after == before
    import glob
    import os
    assert len(glob.glob(os.path.join(path, "*.parquet"))) <= 2


def test_quality_gate_approx_agrees_with_exact_off_boundary(spark):
    """The sketch-threshold gate equals the exact percent_rank gate except
    possibly inside the sketch's rank-error band; at accuracy=10000 on a
    500-doc corpus the band is < 1 doc, so the sets must be identical up
    to boundary ties on keep_score."""
    from flink_bm25_spark.operators.text_analysis import (
        quality_percentile_gate,
        quality_percentile_gate_approx,
    )
    from flink_bm25_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)
    exact = {r["doc_id"]: r["keep_score"] for r in
             quality_percentile_gate(docs, cutoff=0.75).collect()}
    approx = {r["doc_id"]: r["keep_score"] for r in
              quality_percentile_gate_approx(docs, cutoff=0.75).collect()}
    # any disagreement must sit exactly at the threshold score
    only_exact = set(exact) - set(approx)
    only_approx = set(approx) - set(exact)
    boundary = min(exact.values())
    assert all(exact[d] == boundary for d in only_exact)
    assert all(approx[d] <= boundary for d in only_approx)
    # and the bulk of the gate agrees
    assert len(set(exact) & set(approx)) >= 0.95 * len(exact)


def test_quality_gate_approx_plan_has_no_global_sort(spark):
    from flink_bm25_spark.operators.text_analysis import (
        quality_percentile_gate_approx,
    )
    from flink_bm25_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)
    plan = (
        quality_percentile_gate_approx(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # no single-reducer percent_rank window; the threshold joins back as
    # a broadcast one-row scalar (nested-loop over ONE row is fine)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_contamination_bloom_no_false_negatives(spark):
    """The Bloom probe can only INFLATE overlap counts (false positives),
    never deflate them: every doc the exact check flags is flagged by the
    Bloom variant, and per-doc n_overlap_bloom >= exact n_overlap."""
    from flink_bm25_spark.operators.decontam import (
        contamination,
        contamination_bloom,
    )
    from flink_bm25_spark.sources.tables import load_documents
    from tests.conftest import SF_DIR

    docs = load_documents(spark, SF_DIR)
    train, bench = docs.where("doc_id >= 50"), docs.where("doc_id < 50")
    exact = {
        r["doc_id"]: r["n_overlap"]
        for r in contamination(train, bench, n=3, min_overlap=3).collect()
    }
    bloom = {
        r["doc_id"]: r["n_overlap_bloom"]
        for r in contamination_bloom(
            train, bench, n=3, min_overlap=3, bits=8192
        ).collect()
    }
    assert set(exact) <= set(bloom)
    for d, n in exact.items():
        assert bloom[d] >= n, (d, bloom[d], n)


def test_contamination_bloom_broadcast_is_fixed_size(spark):
    """The probe ships the filter as literals — the plan has NO join
    against an eval-gram relation (that is the whole point: O(bits)
    broadcast regardless of benchmark size)."""
    from flink_bm25_spark.operators.decontam import contamination_bloom
    from flink_bm25_spark.sources.tables import load_documents
    from tests.conftest import SF_DIR

    docs = load_documents(spark, SF_DIR)
    out = contamination_bloom(
        docs.where("doc_id >= 50"), docs.where("doc_id < 50"), bits=8192
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # one corpus-side agg join pair (sizes x hits); no broadcast of grams
    assert plan.count("Exchange") <= 6


def test_keep_best_election_beats_min_id(spark):
    """A cluster whose lowest-id member is NOT its best-quality member:
    min-id election and keep-best election must disagree, and keep-best
    must pick the argmax keep_score."""
    from flink_bm25_spark.operators.cleaning import (
        clean_corpus,
        clean_corpus_keep_best,
        elect_cluster_representatives,
    )

    base = " ".join(f"w{i:02d}" for i in range(30))
    longer = base + " x1 x2 x3"  # superset shingles: J = 28/31 ~ 0.90
    other = " ".join(f"z{i:02d}" for i in range(25))  # unclustered
    docs = _docs(spark, [(10, base), (20, longer), (30, other)])

    reps = elect_cluster_representatives(docs).collect()
    assert len(reps) == 1
    # canonical is still the cluster-min id; the elected doc is the
    # higher-scoring longer document (30 vs 33 tokens -> 0.30 vs 0.33)
    assert reps[0].canonical_id == 10
    assert reps[0].best_doc == 20

    kept_best = {r.doc_id for r in clean_corpus_keep_best(docs).collect()}
    kept_min = {r.doc_id for r in clean_corpus(docs).collect()}
    assert kept_best == {20, 30}
    assert kept_min == {10, 30}


def test_simplified_silhouette_separated_vs_mixed(spark):
    """Well-separated blobs score near 1; splitting ONE blob into two
    clusters (k too high) scores poorly for the split halves."""
    import numpy as np

    from flink_bm25_spark.operators.kmeans import simplified_silhouette

    rng = np.random.default_rng(3)
    blob_a = rng.normal(0.0, 0.05, (30, 8))
    blob_b = rng.normal(5.0, 0.05, (30, 8))
    rows = [
        (i, [float(x) for x in v])
        for i, v in enumerate(np.vstack([blob_a, blob_b]))
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    good = simplified_silhouette(emb, k=2, iterations=2).collect()
    assert len(good) == 2
    assert all(r.mean_s > 0.9 for r in good)

    over = simplified_silhouette(emb, k=4, iterations=2).collect()
    # at least one over-split cluster scores clearly worse
    assert min(r.mean_s for r in over) < 0.5


def test_compression_ratio_flags_repetition(spark):
    import numpy as np

    from flink_bm25_spark.operators.text_analysis import (
        compression_ratio_scores,
    )

    rng = np.random.default_rng(1)
    natural = " ".join(
        "".join(chr(97 + rng.integers(0, 26)) for _ in range(6))
        for _ in range(60)
    )
    docs = spark.createDataFrame(
        [
            (1, "spam spam spam " * 40),   # repetition -> compresses hard
            (2, natural),                  # high-entropy prose-ish
            (3, ""),                       # empty -> ratio 0, no crash
        ],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: r for r in compression_ratio_scores(docs).collect()}
    assert got[1].ratio < 0.2
    assert got[2].ratio > 0.5
    assert got[3].ratio == 0.0 and got[3].n_bytes == 0
    # deterministic across runs
    again = {r.doc_id: r.ratio for r in compression_ratio_scores(docs).collect()}
    assert again == {k: v.ratio for k, v in got.items()}


def test_ccnet_buckets_terciles_and_order(spark):
    from flink_bm25_spark.operators.text_analysis import ccnet_buckets
    from flink_bm25_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    out = ccnet_buckets(load_table(spark, "documents", SF_DIR)).collect()
    n = len(out)
    by = {}
    for r in out:
        by.setdefault(r.bucket, []).append(r.nll)
    # terciles cover the corpus and are ordered: every head nll <= every
    # middle nll <= every tail nll
    assert set(by) == {"head", "middle", "tail"}
    assert sum(len(v) for v in by.values()) == n
    assert max(by["head"]) <= min(by["middle"]) <= max(by["middle"]) <= min(by["tail"])
    # roughly a third each (ties can shift boundaries slightly)
    for k in by:
        assert abs(len(by[k]) - n / 3) <= n * 0.1


def test_ccnet_buckets_approx_agrees_off_boundary(spark):
    from flink_bm25_spark.operators.text_analysis import (
        ccnet_buckets,
        ccnet_buckets_approx,
    )
    from flink_bm25_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)
    exact = {r.doc_id: r.bucket for r in ccnet_buckets(docs).collect()}
    approx = {r.doc_id: r.bucket for r in ccnet_buckets_approx(docs).collect()}
    assert set(exact) == set(approx)
    disagree = sum(1 for k in exact if exact[k] != approx[k])
    # sketch error only near the two cuts
    assert disagree <= len(exact) * 0.05
    # the approx plan never sorts globally: every window PARTITIONED
    # (the LM fit's pair-marginal c1 window is keyed on w1 — bounded by
    # one context word's fan-out, never a corpus sort)
    import re

    plan = ccnet_buckets_approx(docs)._jdf.queryExecution().executedPlan().toString()
    spec_re = re.compile(r"windowspecdefinition\(([^,]+),")
    for line in plan.splitlines():
        if "windowspecdefinition" not in line:
            continue
        m = spec_re.search(line)
        first_arg = m.group(1) if m else ""
        assert " ASC" not in first_arg and " DESC" not in first_arg, (
            f"unpartitioned window: {line}"
        )


def test_fit_and_components_recompute_on_repeat(spark):
    """r9 optimization round: repeat fits/labelings RECOMPUTE (the former
    result memos are gone) and must be value-identical — determinism in
    the input is now pinned by equality, not object identity."""
    from flink_bm25_spark.operators.graph import connected_components
    from flink_bm25_spark.operators.kmeans import kmeans_fit

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 3)]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    c1 = kmeans_fit(emb, k=3, iterations=2)
    c2 = kmeans_fit(emb, k=3, iterations=2)
    assert c1 is not c2 and c1 == c2
    # a different parameterization is a different fit
    assert len(kmeans_fit(emb, k=2, iterations=2)) == 2

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "d1 long, d2 long"
    )
    l1 = sorted(map(tuple, connected_components(pairs).collect()))
    l2 = sorted(map(tuple, connected_components(pairs).collect()))
    assert l1 == l2
    assert l1 == [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)]


def test_ccnet_buckets_by_lang_per_group_terciles(spark):
    """Per-language CCNet: each language gets its OWN model and its own
    tercile cut — within every language the buckets are ordered and
    ~1/3 each, and a document's nll comes from its language's model
    (pinned by differing from the pooled-model nll on a corpus where
    languages have distinct bigram statistics)."""
    from flink_bm25_spark.operators.text_analysis import ccnet_buckets
    from flink_bm25_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)
    out = ccnet_buckets(docs, group_cols=["lang"]).collect()
    per_lang: dict[str, dict[str, list[float]]] = {}
    for r in out:
        per_lang.setdefault(r.lang, {}).setdefault(r.bucket, []).append(r.nll)
    assert len(per_lang) > 1
    for lang, by in per_lang.items():
        n = sum(len(v) for v in by.values())
        if n < 9:
            continue  # tiny languages: terciles degenerate legitimately
        assert set(by) <= {"head", "middle", "tail"}, lang
        lo = max(by.get("head", [float("-inf")]))
        mid = by.get("middle", [])
        hi = min(by.get("tail", [float("inf")]))
        if mid:
            assert lo <= min(mid) and max(mid) <= hi, lang
    # per-language models score differently from the pooled model
    pooled = {r.doc_id: r.nll for r in ccnet_buckets(docs).collect()}
    grouped = {r.doc_id: r.nll for r in out}
    assert grouped.keys() == pooled.keys()
    assert any(abs(grouped[d] - pooled[d]) > 1e-9 for d in grouped)


def test_grouped_approx_twins_agree_off_boundary(spark):
    """The grouped approx twins must agree with the exact grouped forms
    away from each group's cut boundary (within the sketch's rank-error
    band disagreement is allowed; off it, none is)."""
    from flink_bm25_spark.operators.text_analysis import (
        ccnet_buckets,
        ccnet_buckets_approx,
        quality_percentile_gate,
        quality_percentile_gate_approx,
    )
    from flink_bm25_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)

    exact = {
        (r.doc_id): (r.lang, r.bucket, r.pr)
        for r in ccnet_buckets(docs, group_cols=["lang"]).collect()
    }
    approx = {
        r.doc_id: r.bucket
        for r in ccnet_buckets_approx(docs, group_cols=["lang"]).collect()
    }
    assert exact.keys() == approx.keys()
    band = 2e-2  # generous rank-error margin on the tiny fixture
    for d, (lang, bucket, pr) in exact.items():
        if min(abs(pr - 1 / 3), abs(pr - 2 / 3)) > band:
            assert approx[d] == bucket, (d, lang, pr, bucket, approx[d])

    g_exact = {
        r.doc_id
        for r in quality_percentile_gate(
            docs, cutoff=0.5, group_cols=["lang"]
        ).collect()
    }
    g_approx = {
        r.doc_id
        for r in quality_percentile_gate_approx(
            docs, cutoff=0.5, group_cols=["lang"]
        ).collect()
    }
    # approx kept-set differs from exact only near the per-group cut:
    # symmetric difference is a small fraction of the corpus
    n = docs.count()
    assert len(g_exact ^ g_approx) <= max(4, n * 0.1)


def test_web_intake_pipeline_end_to_end(spark):
    """The composed intake chain (strip -> line dedup -> per-lang LM ->
    per-lang gate): corpus-wide boilerplate lines survive only in their
    FIRST document, markup never reaches the statistics, and the output
    carries both stages' scores for every gate-kept doc."""
    from flink_bm25_spark.operators.cleaning import web_intake_pipeline

    boiler = "cookie notice and consent"
    docs = spark.createDataFrame(
        [
            (1, "en", f"<p>{boiler}</p>\n<b>alpha</b> beta gamma delta one"),
            (2, "en", f"<p>{boiler}</p>\ndelta epsilon zeta eta two"),
            (3, "en", f"<p>{boiler}</p>\ntheta iota kappa lambda three"),
            (4, "de", f"<p>{boiler}</p>\nein zwei drei vier fuenf"),
        ],
        "doc_id long, lang string, text string",
    )
    out = web_intake_pipeline(docs, cutoff=0.0)  # keep everything gated
    rows = {r.doc_id: r for r in out.collect()}
    assert set(rows) == {1, 2, 3, 4}
    # boilerplate kept only at its first arrival (doc 1)
    assert boiler in rows[1].cleaned_text
    for d in (2, 3, 4):
        assert boiler not in rows[d].cleaned_text
        assert rows[d].n_kept == rows[d].n_lines - 1
    # markup never leaks into the cleaned text
    assert all("<" not in r.cleaned_text for r in rows.values())
    # per-language gate: every doc carries its group's scores
    assert all(r.bucket in ("head", "middle", "tail") for r in rows.values())
    assert all(0.0 <= r.quality_pr <= 1.0 for r in rows.values())
    assert all(r.nll is not None for r in rows.values())


def test_web_intake_pipeline_empty_and_single(spark):
    """Degenerate inputs keep the contract: an EMPTY corpus returns an
    empty frame with the full output schema (no empty-frame inference
    crash anywhere in the chain), and a single document passes a 0.0
    gate with pr = 0.0 (the n=1 guard) and its own text intact."""
    from flink_bm25_spark.operators.cleaning import web_intake_pipeline

    empty = spark.createDataFrame([], "doc_id long, lang string, text string")
    out = web_intake_pipeline(empty)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "lang", "cleaned_text", "n_lines", "n_kept",
        "nll", "bucket", "keep_score", "quality_pr",
    ]

    one = spark.createDataFrame(
        [(1, "en", "hello world one two three")],
        "doc_id long, lang string, text string",
    )
    rows = web_intake_pipeline(one, cutoff=0.0).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.cleaned_text == "hello world one two three"
    assert (r.n_lines, r.n_kept, r.quality_pr) == (1, 1, 0.0)
    assert r.bucket in ("head", "middle", "tail")


def test_web_intake_equals_manual_composition(spark):
    """web_intake_pipeline == the four stages composed by hand
    (strip_markup(keep_line_breaks) -> line_dedup -> per-lang ccnet_buckets
    -> per-lang quality_percentile_gate, inner-joined on doc_id) — guards the
    facade against drift from its own stages under refactors."""
    import random

    from flink_bm25_spark.functions.text import strip_markup
    from flink_bm25_spark.operators.cleaning import web_intake_pipeline
    from flink_bm25_spark.operators.dedup import line_dedup
    from flink_bm25_spark.operators.text_analysis import (
        ccnet_buckets,
        quality_percentile_gate,
    )

    rng = random.Random(9)
    vocab = [f"w{i}" for i in range(40)]
    pool = [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 9)))
        for _ in range(25)
    ]
    docs = spark.createDataFrame(
        [
            (
                d,
                rng.choice(["en", "de"]),
                "<p>header</p>\n" + "\n".join(
                    rng.choice(pool) for _ in range(rng.randint(1, 5))
                ),
            )
            for d in range(60)
        ],
        "doc_id long, lang string, text string",
    )

    got = {
        (r.doc_id, r.lang, r.cleaned_text, r.n_lines, r.n_kept,
         r.nll, r.bucket, r.keep_score, r.quality_pr)
        for r in web_intake_pipeline(docs, cutoff=0.5).collect()
    }

    stripped = docs.select(
        "doc_id", "lang",
        strip_markup(F.col("text"), keep_line_breaks=True).alias("text"),
    )
    cleaned = line_dedup(stripped).join(
        docs.select("doc_id", "lang"), "doc_id"
    ).select("doc_id", "lang", F.col("cleaned_text").alias("text"),
             "n_lines", "n_kept")
    buckets = ccnet_buckets(cleaned, group_cols=["lang"])
    gate = quality_percentile_gate(cleaned, cutoff=0.5, group_cols=["lang"])
    want = {
        (r.doc_id, r.lang, r.cleaned_text, r.n_lines, r.n_kept,
         r.nll, r.bucket, r.keep_score, r.quality_pr)
        for r in gate.select("doc_id", "keep_score",
                             F.col("pr").alias("quality_pr"))
        .join(buckets.select("doc_id", "lang", "nll", "bucket"), "doc_id")
        .join(cleaned.select("doc_id",
                             F.col("text").alias("cleaned_text"),
                             "n_lines", "n_kept"), "doc_id")
        .collect()
    }
    assert got == want and got  # non-vacuous


def test_c4_line_filter_rules(spark):
    """Each published C4 rule on its own hand case: terminal punct,
    min words per line, javascript lines, lorem-ipsum pages, curly-brace
    pages, and the min-sentence page floor."""
    from flink_bm25_spark.operators.cleaning import c4_line_filter

    good = ("this is a perfectly normal sentence one.\n"
            "here is another normal sentence number two!\n"
            'and a third one ends with a quote."')
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, good + "\nno terminal punctuation on this line here"),
            (3, good + "\ntoo short."),
            (4, good + "\nplease enable javascript to see this content."),
            (5, good + "\nlorem ipsum dolor sit amet."),
            (6, good + "\nvar x = { a: 1 }."),
            (7, "just one single sentence lives on this page."),
            (8, ""),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in c4_line_filter(docs).collect()}
    # pages 5 (lorem ipsum), 6 ({), 7 (<3 sentences), 8 (empty) dropped
    assert set(got) == {1, 2, 3, 4}
    assert got[1].cleaned_text == good and got[1].n_kept == 3
    # the offending LINE is cut, the page survives
    for d in (2, 3, 4):
        assert got[d].cleaned_text == good
        assert got[d].n_lines == 4 and got[d].n_kept == 3


def test_c4_line_filter_differential_random_corpus(spark):
    """Seeded-random corpus vs a pure-Python rendering of the C4 rules:
    cleaned_text / n_lines / n_kept and the page drop set agree exactly
    on 150 docs mixing terminal/non-terminal lines, short lines,
    javascript notices, lorem ipsum, braces, and empty pages."""
    import random

    from flink_bm25_spark.operators.cleaning import c4_line_filter

    rng = random.Random(11)
    vocab = [f"word{i}" for i in range(30)]

    def line():
        n = rng.randint(1, 9)
        body = " ".join(rng.choice(vocab) for _ in range(n))
        r = rng.random()
        if r < 0.5:
            return body + rng.choice([".", "!", "?", '"'])
        if r < 0.6:
            return body + " javascript required."
        return body  # no terminal punctuation

    docs = []
    for d in range(150):
        ls = [line() for _ in range(rng.randint(0, 8))]
        if rng.random() < 0.08:
            ls.append("lorem ipsum filler.")
        if rng.random() < 0.08:
            ls.append("code { block }.")
        docs.append((d, "\n".join(ls)))

    def keep_line(x):
        xs = x.rstrip(" ")
        return (
            bool(xs) and xs[-1] in '.!?"'
            and len([w for w in x.split() if w]) >= 5
            and "javascript" not in x.lower()
        )

    expect = {}
    for d, text in docs:
        lt = text.lower()
        kept = [x for x in text.split("\n") if keep_line(x)]
        ct = "\n".join(kept)
        sentences = sum(ct.count(c) for c in ".!?")
        if "lorem ipsum" in lt or "{" in lt or sentences < 3:
            continue
        expect[d] = (ct, len(text.split("\n")), len(kept))

    got = {
        r.doc_id: (r.cleaned_text, r.n_lines, r.n_kept)
        for r in c4_line_filter(spark.createDataFrame(
            docs, "doc_id long, text string"
        )).collect()
    }
    assert got == expect and expect  # non-vacuous


def test_streaming_lm_backoff_scoring_equals_batch(spark):
    # The backoff scorer's streaming-legality claim, proven: three
    # stream-static LEFT joins (pair/context/group backoff relations)
    # + one agg in complete mode — final streamed scores equal the
    # batch scorer's, unseen bigrams included.
    import shutil
    import tempfile

    from flink_bm25_spark.operators.text_analysis import (
        lm_fit_backoff_by,
        lm_score_backoff,
    )

    docs = load_table(spark, "documents", SF_DIR)
    # train on the even half only, so the streamed odd half genuinely
    # exercises the backoff joins (unseen bigrams/contexts)
    train = docs.where(F.col("doc_id") % 2 == 0)
    score = docs.where(F.col("doc_id") % 2 == 1)
    model, contexts, defaults = lm_fit_backoff_by(train, "lang", alpha=0.1)
    model = model.cache(); model.count()
    contexts = contexts.cache(); contexts.count()
    defaults = defaults.cache(); defaults.count()

    d = tempfile.mkdtemp(prefix="stream_lm_backoff_")
    score.write.mode("overwrite").parquet(f"{d}/docs.parquet")
    schema = score.schema
    stream = spark.readStream.schema(schema).format("parquet").load(
        f"{d}/docs.parquet"
    )
    q = (
        lm_score_backoff(stream, model, contexts, defaults, ["lang"])
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_lm_backoff")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM t_lm_backoff").collect()
    )
    want = sorted(
        tuple(r)
        for r in lm_score_backoff(
            score, model, contexts, defaults, ["lang"]
        ).collect()
    )
    assert got == want and got
    for fr in (model, contexts, defaults):
        fr.unpersist()
    shutil.rmtree(d, ignore_errors=True)


def test_lm_score_backoff_python_differential(spark):
    # Independent Counter-based reimplementation of the add-alpha
    # backoff scorer on randomized split-train/score docs — the same
    # shared-expression-blind-spot defense as the gopher differentials
    # (the DuckDB twin mirrors the engine's CASE; this does not).
    import math
    import random
    from collections import Counter

    from flink_bm25_spark.operators.text_analysis import (
        lm_fit_backoff_by,
        lm_score_backoff,
    )

    rng = random.Random(23)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    rows = []
    for i in range(60):
        n = rng.choice([0, 1, 2, 5, 12, 25])
        lang = rng.choice(["en", "de"])
        rows.append((i, lang, " ".join(rng.choice(vocab) for _ in range(n))))
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    train = [(i, g, t) for i, g, t in rows if i % 2 == 0]
    alpha = 0.1

    pc, uc, vv = Counter(), Counter(), {}
    for _, g, t in train:
        toks = t.split()
        vv.setdefault(g, set()).update(toks)
        for a, b in zip(toks, toks[1:]):
            pc[(g, a, b)] += 1
            uc[(g, a)] += 1
    V = {g: len(ws) for g, ws in vv.items()}

    def nl(g, a, b):
        if (g, a, b) in pc:
            return -math.log(
                (pc[(g, a, b)] + alpha) / (uc[(g, a)] + alpha * V[g])
            ), True
        if (g, a) in uc:
            return -math.log(alpha / (uc[(g, a)] + alpha * V[g])), False
        if g in V:
            return math.log(V[g]), False
        return None, False

    model, contexts, defaults = lm_fit_backoff_by(
        df.where(F.col("doc_id") % 2 == 0), "lang", alpha
    )
    got = {
        r.doc_id: r
        for r in lm_score_backoff(
            df.where(F.col("doc_id") % 2 == 1),
            model,
            contexts,
            defaults,
            ["lang"],
        ).collect()
    }
    for i, g, t in rows:
        if i % 2 == 0:
            continue
        toks = t.split()
        bgs = list(zip(toks, toks[1:]))
        if not bgs:
            assert i not in got  # no bigrams -> no score row
            continue
        vals = [nl(g, a, b) for a, b in bgs]
        want_known = sum(1 for _, k in vals if k)
        assert got[i].n_bigrams == len(bgs), i
        assert got[i].n_known == want_known, i
        want_nll = sum(v for v, _ in vals) / len(bgs)
        assert abs(got[i].nll - want_nll) < 5e-7, (i, got[i].nll, want_nll)
