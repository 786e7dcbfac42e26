"""Statistical tests for the approximate similarity tier (sign-LSH) —
recall against the exact brute force, plus determinism of the bucketing."""

from __future__ import annotations

import pytest

from flink_bm25_spark.operators.similarity import (
    cosine_topk,
    ivf_build,
    ivf_topk,
    rp_lsh_bucket,
    rp_lsh_topk,
    sparse_plane,
)
from flink_bm25_spark.sources.tables import load_embeddings
from tests.conftest import SF_DIR


def _qvec(emb):
    return [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]


def test_lsh_bucket_deterministic(spark):
    emb = load_embeddings(spark, SF_DIR)
    b1 = {r.vec_id: r.bucket for r in rp_lsh_bucket(emb).collect()}
    b2 = {r.vec_id: r.bucket for r in rp_lsh_bucket(emb).collect()}
    assert b1 == b2
    assert len(set(b1.values())) > 1  # planes actually split the space


def test_lsh_topk_recall(spark):
    emb = load_embeddings(spark, SF_DIR)
    q = _qvec(emb)
    exact = [r.vec_id for r in cosine_topk(emb, q, k=10, exclude_id=0).collect()]
    approx = [
        r.vec_id
        for r in rp_lsh_topk(emb, q, k=10, num_planes=8, probe_hamming=3).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    # multi-probe with 8 planes / hamming<=3 probes ~half the corpus —
    # recall should be substantial on 500 vectors
    assert recall >= 0.5, f"recall {recall}"


def test_ivf_topk_recall(spark):
    emb = load_embeddings(spark, SF_DIR)
    q = _qvec(emb)
    exact = [r.vec_id for r in cosine_topk(emb, q, k=10, exclude_id=0).collect()]
    model, assigned = ivf_build(emb, n_cells=8)
    assigned = assigned.cache()
    approx = [
        r.vec_id
        for r in ivf_topk(model, assigned, q, k=10, nprobe=4, exclude_id=0).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert recall >= 0.5, f"recall {recall}"
    # probing all cells must reproduce the exact result
    full = [
        r.vec_id
        for r in ivf_topk(model, assigned, q, k=10, nprobe=8, exclude_id=0).collect()
    ]
    assert full == exact


def test_lsh_topk_scores_subset_of_exact_order(spark):
    emb = load_embeddings(spark, SF_DIR)
    q = _qvec(emb)
    approx = cosine_topk(emb, q, k=5, exclude_id=0).collect()
    assert all(
        a.cos >= b.cos for a, b in zip(approx, approx[1:])
    )  # descending order


def test_quantized_topk_equals_exact_with_overfetch(spark):
    from flink_bm25_spark.operators.similarity import quantized_topk

    emb = load_embeddings(spark, SF_DIR)
    q = _qvec(emb)
    exact = [(r.vec_id, r.cos) for r in cosine_topk(emb, q, 10, exclude_id=0).collect()]
    quant = [
        (r.vec_id, r.cos)
        for r in quantized_topk(emb, q, 10, overfetch=5, exclude_id=0).collect()
    ]
    assert quant == exact


def test_quantized_topk_recall_at_low_overfetch(spark):
    from flink_bm25_spark.operators.similarity import quantized_topk

    emb = load_embeddings(spark, SF_DIR)
    q = _qvec(emb)
    exact = {r.vec_id for r in cosine_topk(emb, q, 10, exclude_id=0).collect()}
    quant = {
        r.vec_id
        for r in quantized_topk(emb, q, 10, overfetch=2, exclude_id=0).collect()
    }
    # int8 coarse scoring keeps most of the true neighborhood even at 2x
    assert len(exact & quant) >= 7


def test_feature_hash_is_stateless_and_incremental(spark):
    # The hash IS the projection: a batch embedded alone must produce
    # exactly the rows the full-corpus run produces for those docs —
    # the property that makes the vectors incrementally computable and
    # the ANN index appendable without refits.
    from pyspark.sql import functions as F

    from flink_bm25_spark.operators.pipeline import build_corpus_stats
    from flink_bm25_spark.operators.similarity import feature_hash_embeddings
    from flink_bm25_spark.sources.tables import load_documents

    docs = load_documents(spark, SF_DIR)
    full = feature_hash_embeddings(build_corpus_stats(docs).tf, dim=16)
    batch_docs = docs.where(F.col("doc_id") >= 400)
    batch = feature_hash_embeddings(build_corpus_stats(batch_docs).tf, dim=16)

    want = sorted(
        (r["doc_id"], tuple(r["fvec"]))
        for r in full.where(F.col("doc_id") >= 400).collect()
    )
    got = sorted((r["doc_id"], tuple(r["fvec"])) for r in batch.collect())
    assert got == want and got

    # the vectors plug straight into the ANN tier
    qvec = [float(v) for v in got[0][1]]
    top = cosine_topk(
        full.select(F.col("doc_id").alias("vec_id"), F.col("fvec").alias("embedding")),
        qvec,
        k=3,
    ).collect()
    assert len(top) == 3 and top[0]["vec_id"] == got[0][0]


def test_ivf_disk_probe_prunes_partitions(spark, tmp_path):
    # The persisted index answers identically to the in-memory probe,
    # and the cell filter reaches the scan as PARTITION pruning — the
    # disk layout IS the inverted list.
    from flink_bm25_spark.operators.similarity import (
        ivf_build,
        ivf_save,
        ivf_topk,
        ivf_topk_from_disk,
    )

    emb = load_embeddings(spark, SF_DIR)
    model, assigned = ivf_build(emb, n_cells=8)
    path = str(tmp_path / "ivf")
    ivf_save(model, assigned, path)

    qvec = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    want = [tuple(r) for r in ivf_topk(model, assigned, qvec, k=5, nprobe=3).collect()]
    disk = ivf_topk_from_disk(spark, path, qvec, k=5, nprobe=3)
    got = [tuple(r) for r in disk.collect()]
    assert got == want

    plan = disk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:120]


def test_near_dup_blocked_equals_brute_force(spark):
    # The blocked theta-join must return EXACTLY the naive all-pairs
    # result (it is the same relation, just a distributable plan) — for
    # any block count, including ones that don't divide n.
    import itertools
    import math

    from flink_bm25_spark.operators.similarity import embedding_near_dup_pairs

    emb = load_embeddings(spark, SF_DIR)
    rows = emb.select("vec_id", "embedding").limit(120).collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}
    small = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
    )

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b)))

    expected = {
        (i, j)
        for i, j in itertools.combinations(sorted(vecs), 2)
        if round(cos(vecs[i], vecs[j]), 6) >= 0.3
    }
    for g in (1, 5, 8):
        got = {
            (r.d1, r.d2)
            for r in embedding_near_dup_pairs(small, 0.3, num_blocks=g).collect()
        }
        assert got == expected, f"num_blocks={g}"


def test_near_dup_lsh_subset_and_high_threshold_recall(spark):
    # (a) the LSH tier returns a subset of the exact tier; (b) at dedup
    # thresholds (cos >= ~0.95, planted near-identical copies) banded
    # sign-LSH recall is ~1: every planted pair is found.
    from flink_bm25_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
    )

    emb = load_embeddings(spark, SF_DIR)
    exact = {
        (r.d1, r.d2) for r in embedding_near_dup_pairs(emb, 0.45).collect()
    }
    approx = {
        (r.d1, r.d2) for r in embedding_near_dup_pairs_lsh(emb, 0.45).collect()
    }
    assert approx <= exact
    assert approx  # finds a non-trivial subset on the fixture

    # Planted near-dups: copy 40 vectors with one component nudged — the
    # pair cosine stays ~0.999; all 40 pairs must be recovered.
    base = emb.limit(40).collect()
    planted = []
    for r in base:
        v = [float(x) for x in r.embedding]
        w = list(v)
        w[0] += 0.01
        planted.append((int(r.vec_id), v))
        planted.append((int(r.vec_id) + 100_000, w))
    df = spark.createDataFrame(planted, "vec_id long, embedding array<float>")
    found = {
        (r.d1, r.d2)
        for r in embedding_near_dup_pairs_lsh(df, 0.99).collect()
    }
    want = {(int(r.vec_id), int(r.vec_id) + 100_000) for r in base}
    assert want <= found


def test_semantic_dedup_pairs_cluster_bounded(spark):
    # SemDeDup = clustered near-dup: (a) its pairs are a subset of the
    # exact all-pairs relation at the same threshold; (b) a planted
    # near-identical copy lands in its source's cluster and is found;
    # (c) the plan is an equi-join on cluster, never a nested loop.
    from flink_bm25_spark.operators.similarity import (
        embedding_near_dup_pairs,
        semantic_dedup_pairs,
    )

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    exact = {
        (r.d1, r.d2) for r in embedding_near_dup_pairs(emb, 0.45).collect()
    }
    sem = semantic_dedup_pairs(emb, threshold=0.45, k=4, iterations=2)
    got = {(r.d1, r.d2) for r in sem.collect()}
    assert got <= exact
    assert got  # the fixture's same-cluster near-dups are found

    plan = sem._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # Planted copy: nudge one component of vec 0 — cosine ~1, same
    # cluster with certainty, so the pair MUST be recovered.
    base = emb.where("vec_id = 0").first()
    v = [float(x) for x in base.embedding]
    v[0] += 1e-3
    planted = emb.unionByName(
        spark.createDataFrame(
            [(99999, v)], "vec_id long, embedding array<float>"
        )
    )
    pairs = {
        (r.d1, r.d2)
        for r in semantic_dedup_pairs(planted, threshold=0.99).collect()
    }
    assert (0, 99999) in pairs


def test_semantic_dedup_survivors_drop_higher_id(spark):
    from flink_bm25_spark.operators.similarity import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    pairs = semantic_dedup_pairs(emb, threshold=0.45).collect()
    losers = {r.d2 for r in pairs}
    survivors = {r.vec_id for r in semantic_dedup(emb, threshold=0.45).collect()}
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    assert survivors == all_ids - losers
    # keep-lowest policy: the smaller member of every pair survives
    # unless it lost some other pair
    assert {r.d1 for r in pairs} - losers <= survivors


def test_embedding_incremental_equals_full_rebuild(spark):
    # Screening batch B against archive A finds exactly the full-corpus
    # LSH pairs that touch B (old-old pairs excluded by contract).
    from flink_bm25_spark.operators.similarity import (
        embedding_band_store,
        embedding_near_dup_pairs_lsh,
    )

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    old = emb.where("vec_id % 2 = 0")
    new = emb.where("vec_id % 2 = 1")
    full = {
        (r.d1, r.d2): r.cos
        for r in embedding_near_dup_pairs_lsh(emb, 0.45).collect()
    }
    old_ids = {r.vec_id for r in old.select("vec_id").collect()}
    expected = {
        p: c for p, c in full.items() if not (p[0] in old_ids and p[1] in old_ids)
    }
    pairs = embedding_near_dup_pairs_lsh(
        new, 0.45, store=embedding_band_store(old)
    )
    new_keys = embedding_band_store(new)
    got = {(r.d1, r.d2): r.cos for r in pairs.collect()}
    assert got == expected
    assert set(new_keys.columns) == {"vec_id", "embedding", "nrm", "band", "bkey"}


def test_embedding_deduper_first_arrival_and_replay(spark, tmp_path):
    from flink_bm25_spark.api import EmbeddingDeduper

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    base = emb.limit(20).collect()

    def nudged(r, new_id):
        v = [float(x) for x in r.embedding]
        v[0] += 1e-3
        return (new_id, v)

    # batch1: vectors 0..19; batch2: near-copies with LOWER ids (negative)
    batch1 = spark.createDataFrame(
        [(r.vec_id, [float(x) for x in r.embedding]) for r in base],
        "vec_id long, embedding array<float>",
    )
    batch2 = spark.createDataFrame(
        [nudged(r, -r.vec_id - 1) for r in base],
        "vec_id long, embedding array<float>",
    )
    dd = EmbeddingDeduper(threshold=0.99)
    s1 = {r.vec_id for r in dd.screen_batch(batch1).collect()}
    s2 = {r.vec_id for r in dd.screen_batch(batch2).collect()}
    assert s1 == {r.vec_id for r in base}  # fixture vectors aren't 0.99-dups
    assert s2 == set()  # first arrival wins DESPITE batch2's smaller ids

    # save/load continuity: a third batch of copies still screens out
    dd.save(str(tmp_path / "state"))
    from flink_bm25_spark.api import EmbeddingDeduper as DD
    dd2 = DD.load(spark, str(tmp_path / "state"), threshold=0.99)
    batch3 = spark.createDataFrame(
        [nudged(r, 1000 + r.vec_id) for r in base],
        "vec_id long, embedding array<float>",
    )
    assert dd2.screen_batch(batch3).count() == 0

    # replay determinism: same sequence, same survivors
    dd3 = EmbeddingDeduper(threshold=0.99)
    r1 = {r.vec_id for r in dd3.screen_batch(batch1).collect()}
    r2 = {r.vec_id for r in dd3.screen_batch(batch2).collect()}
    assert (r1, r2) == (s1, s2)


def test_embedding_screen_stream(spark, tmp_path):
    # availableNow stream over parquet: two files -> micro-batches; dup
    # vectors across the stream are screened with first-arrival policy.
    from flink_bm25_spark.api import EmbeddingDeduper
    from flink_bm25_spark.streaming.curation import (
        read_screened,
        screen_stream,
    )

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    rows = [
        (r.vec_id, [float(x) for x in r.embedding]) for r in emb.limit(10).collect()
    ]
    dups = [(100 + i, v) for i, (_, v) in enumerate(rows)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, "vec_id long, embedding array<float>").write.parquet(
        src
    )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # second file lands before the stream starts; availableNow drains both
    spark.createDataFrame(
        dups, "vec_id long, embedding array<float>"
    ).write.mode("append").parquet(src)

    out, ckpt, state = (
        str(tmp_path / "out"), str(tmp_path / "ckpt"), str(tmp_path / "state")
    )
    screen_stream(stream, EmbeddingDeduper(threshold=0.999), out, ckpt, state)
    kept = {r.vec_id for r in read_screened(spark, out).collect()}
    # every exact-duplicate pair resolved to ONE surviving copy
    assert len(kept) == 10
    for (orig, _), (dup, _) in zip(rows, dups):
        assert (orig in kept) != (dup in kept)


def test_ivf_add_appends_without_retrain(spark, tmp_path):
    # Index maintenance: vectors added after ivf_save are assigned to
    # their nearest EXISTING cell and found by disk probes, and the
    # probe keeps its partition-pruned scan shape.
    from flink_bm25_spark.operators.similarity import (
        ivf_add,
        ivf_build,
        ivf_save,
        ivf_topk_from_disk,
    )

    emb = load_embeddings(spark, SF_DIR)
    old = emb.where("vec_id < 400")
    new = emb.where("vec_id >= 400")
    model, assigned = ivf_build(old, n_cells=8)
    path = str(tmp_path / "ivf")
    ivf_save(model, assigned, path)
    ivf_add(spark, path, new)

    # a query equal to an ADDED vector finds it at cos 1.0
    probe_row = new.orderBy("vec_id").first()
    qvec = [float(x) for x in probe_row["embedding"]]
    disk = ivf_topk_from_disk(spark, path, qvec, k=3, nprobe=3)
    rows = disk.collect()
    assert rows[0]["vec_id"] == probe_row["vec_id"]
    assert rows[0]["cos"] == 1.0
    plan = disk._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # archive + batch both present on disk
    total = spark.read.parquet(str(tmp_path / "ivf" / "cells")).count()
    assert total == emb.count()


def test_audio_features_feed_embedding_deduper(spark):
    # Cross-tier composition: WAV payloads -> real DSP feature vectors ->
    # incremental embedding dedup.  Re-encodings of the same tone are
    # near-dups; distinct tones survive.
    import numpy as np

    from flink_bm25_spark.api import EmbeddingDeduper
    from flink_bm25_spark.functions.wav import wav_encode
    from flink_bm25_spark.operators.multimodal import extract_audio_features
    from pyspark.sql import functions as F

    def tone(freq, amp=20000, rate=8000, secs=0.25):
        t = np.arange(int(rate * secs)) / rate
        return wav_encode((np.sin(2 * np.pi * freq * t) * amp).astype(np.int16), rate)

    rows = [
        (1, bytearray(tone(300))),
        (2, bytearray(tone(300, amp=19995))),  # re-encode at a hair less gain
        (3, bytearray(tone(2400))),
    ]
    blobs = spark.createDataFrame(rows, "id long, payload binary")
    # dedup on the dimension-homogeneous band profile (the raw vector's
    # centroid component dominates a plain cosine)
    feats = extract_audio_features(blobs, n_bands=8).select(
        F.col("id").alias("vec_id"),
        F.slice(F.col("features"), 4, 8).alias("embedding"),
    )
    dd = EmbeddingDeduper(threshold=0.999, dim=8)
    kept = {r.vec_id for r in dd.screen_batch(feats).collect()}
    assert kept == {1, 3}  # the re-encoded tone deduped, distinct tone kept


def test_zero_vector_does_not_crash_any_tier(spark):
    # ANSI mode: an unguarded x/0 throws — one all-zeros embedding in a
    # 100 TB corpus must degrade to "no similarity", not kill the job.
    from flink_bm25_spark.operators.similarity import (
        embedding_near_dup_pairs,
        embedding_near_dup_pairs_lsh,
        semantic_dedup_pairs,
    )

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding").limit(50)
    zero = spark.createDataFrame(
        [(99999, [0.0] * 64)], "vec_id long, embedding array<float>"
    )
    with_zero = emb.unionByName(zero)
    for pairs in (
        embedding_near_dup_pairs(with_zero, 0.3),
        embedding_near_dup_pairs_lsh(with_zero, 0.3),
        semantic_dedup_pairs(with_zero, threshold=0.3, k=2, iterations=1),
    ):
        ids = {i for r in pairs.collect() for i in (r.d1, r.d2)}
        assert 99999 not in ids  # zero vector is similar to nothing
    top = cosine_topk(with_zero, [0.0] * 64, k=3).collect()
    assert all(r.cos is None for r in top)  # NULL scores, no crash


def test_srp_hof_form_bit_identical_to_unrolled(spark):
    """srp_band_keys' HOF/literal-matrix form must reproduce the fully
    unrolled expression bit-for-bit (same term order in every dot
    product).  The unrolled spelling is kept here as the reference: it
    blew Janino's 64 KB method limit in whole-stage codegen and fell
    back to interpretation — the HOF form exists to keep codegen alive
    without changing a single key."""
    from pyspark.sql import functions as F

    from flink_bm25_spark.operators.similarity import (
        sparse_plane,
        srp_band_keys,
    )

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding").limit(200)

    bands, bits, dim, nnz = 12, 6, 64, 8
    structs = []
    for b in range(bands):
        key = F.lit(0)
        for j in range(bits):
            terms = [
                F.col("embedding")[idx].cast("double") * F.lit(float(s))
                for idx, s in sparse_plane(b * bits + j, dim, nnz)
            ]
            dot = terms[0]
            for t in terms[1:]:
                dot = dot + t
            key = key + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        structs.append(
            F.struct(F.lit(b).alias("band"), key.cast("int").alias("bkey"))
        )
    want = sorted(
        map(
            tuple,
            emb.select(
                "vec_id", F.explode(F.array(*structs)).alias("bk")
            ).select("vec_id", "bk.band", "bk.bkey").collect(),
        )
    )
    got = sorted(
        map(tuple, srp_band_keys(emb).select("vec_id", "band", "bkey").collect())
    )
    assert got == want


def test_deduper_save_after_load_same_path(spark, tmp_path):
    """Regression (r02 advice): save() on a store LOADED from the same
    path must not self-overwrite the files its lazy plan still reads —
    the lineage is truncated before the overwrite."""
    from flink_bm25_spark.api import EmbeddingDeduper

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    batch = spark.createDataFrame(
        [(r.vec_id, [float(x) for x in r.embedding]) for r in emb.limit(8).collect()],
        "vec_id long, embedding array<float>",
    )
    p = str(tmp_path / "state")
    dd = EmbeddingDeduper(threshold=0.99)
    dd.screen_batch(batch)
    dd.save(p)
    n_keys = dd.keys_wide.count()

    dd2 = EmbeddingDeduper.load(spark, p, threshold=0.99)
    more = spark.createDataFrame(
        [(9000 + r.vec_id, [float(x) for x in r.embedding]) for r in emb.limit(8).collect()],
        "vec_id long, embedding array<float>",
    )
    dd2.screen_batch(more)
    dd2.save(p)  # direct save, NOT checkpoint_state — must not corrupt
    dd3 = EmbeddingDeduper.load(spark, p, threshold=0.99)
    assert dd3.keys_wide.count() == dd2.keys_wide.count() > n_keys


# --- hybrid retrieval (RRF) ----------------------------------------------


def test_rrf_fuse_math_and_agreement(spark):
    from flink_bm25_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rk int")
    den = spark.createDataFrame([(2, 1), (4, 2)], "doc_id long, rk int")
    out = {r.doc_id: r for r in rrf_fuse([lex, den], k0=60, k=10).collect()}
    # doc 2 appears in both systems: 1/62 + 1/61
    assert out[2].n_systems == 2
    assert abs(out[2].rrf - round(1 / 62 + 1 / 61, 6)) < 1e-9
    # docs 1/3/4 appear once
    assert out[1].n_systems == 1 and abs(out[1].rrf - round(1 / 61, 6)) < 1e-9
    assert out[4].n_systems == 1 and abs(out[4].rrf - round(1 / 62, 6)) < 1e-9
    # agreement dominates: doc 2 ranks first
    assert out[2].rk == 1
    # rank is dense 1..n over the fused set
    assert sorted(r.rk for r in out.values()) == [1, 2, 3, 4]


def test_rrf_fuse_k_truncation_and_ties(spark):
    from flink_bm25_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(i, i) for i in range(1, 8)], "doc_id long, rk int")
    out = rrf_fuse([a], k=3).collect()
    assert [r.doc_id for r in out] == [1, 2, 3]  # rank order preserved
    # equal scores tie-break on id: two lists with symmetric ranks
    b1 = spark.createDataFrame([(10, 1), (20, 2)], "doc_id long, rk int")
    b2 = spark.createDataFrame([(20, 1), (10, 2)], "doc_id long, rk int")
    rows = rrf_fuse([b1, b2], k=2).collect()
    assert [r.doc_id for r in rows] == [10, 20]  # same rrf, id ascending


def test_hybrid_search_end_to_end(spark):
    from flink_bm25_spark.operators.pipeline import build_corpus_stats
    from flink_bm25_spark.operators.retrieval import hybrid_search
    from flink_bm25_spark.sources.tables import load_table
    from flink_bm25_spark.config import DEFAULT_QUERY_TERMS

    docs = load_table(spark, "documents", SF_DIR)
    emb = load_embeddings(spark, SF_DIR)
    s = build_corpus_stats(docs)
    qvec = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    out = hybrid_search(
        s.tf, s.idf_stats, s.dlen, emb, DEFAULT_QUERY_TERMS, qvec,
        k=10, pool=20, exclude_id=0,
    )
    rows = out.collect()
    assert out.columns == ["doc_id", "rrf", "n_systems", "rk"]
    assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
    assert all(1 <= r.n_systems <= 2 for r in rows)
    # fused order is by score desc (ties id asc)
    scores = [r.rrf for r in rows]
    assert scores == sorted(scores, reverse=True)


# --- contrastive triplet mining ------------------------------------------


def test_contrastive_triplets_hand_case(spark):
    from flink_bm25_spark.operators.similarity import contrastive_triplets

    rows = [
        (0, [1.0, 0.0], "a"),
        (1, [0.9, 0.1], "a"),   # pos for 0
        (2, [0.0, 1.0], "a"),
        (3, [1.0, 0.05], "b"),  # hard negative for 0
        (4, [-1.0, 0.0], "b"),
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label string"
    )
    out = {r.anchor_id: r for r in contrastive_triplets(df).collect()}
    assert len(out) == 5
    assert out[0].pos_id == 1 and out[0].neg_id == 3
    assert out[0].pos_cos > 0.99 and out[0].neg_cos > 0.99
    # anchor 3's positive is its only same-label partner
    assert out[3].pos_id == 4
    # no singleton here, so every field is populated
    assert all(r.pos_id is not None and r.neg_id is not None for r in out.values())


def test_contrastive_triplets_singleton_label_null_pos(spark):
    from flink_bm25_spark.operators.similarity import contrastive_triplets

    df = spark.createDataFrame(
        [(0, [1.0, 0.0], "only"), (1, [0.5, 0.5], "b"), (2, [0.0, 1.0], "b")],
        "vec_id long, embedding array<float>, label string",
    )
    out = {r.anchor_id: r for r in contrastive_triplets(df).collect()}
    assert out[0].pos_id is None and out[0].neg_id is not None
    assert out[1].pos_id == 2 and out[1].neg_id == 0


def test_contrastive_triplets_candidates_path_restricts(spark):
    from flink_bm25_spark.operators.similarity import contrastive_triplets

    emb = load_embeddings(spark, SF_DIR).limit(30)
    exact = {r.anchor_id: r for r in contrastive_triplets(emb).collect()}
    # candidates = ALL unordered pairs -> identical to the exact tier
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    allp = spark.createDataFrame(
        [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]],
        "d1 long, d2 long",
    )
    viac = {
        r.anchor_id: r
        for r in contrastive_triplets(emb, candidates=allp).collect()
    }
    assert set(exact) == set(viac)
    for k in exact:
        assert (exact[k].pos_id, exact[k].neg_id) == (
            viac[k].pos_id,
            viac[k].neg_id,
        )


def test_ivf_topk_exact_full_probe_equals_brute(spark):
    from flink_bm25_spark.operators.similarity import cosine_topk, ivf_topk_exact

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    brute = [(r.vec_id, r.cos) for r in cosine_topk(emb, q, k=10, exclude_id=0).collect()]
    # probing EVERY cell degrades to the brute-force scan
    full = [
        (r.vec_id, r.cos)
        for r in ivf_topk_exact(
            emb, q, k=10, n_cells=4, nprobe=4, exclude_id=0
        ).collect()
    ]
    assert full == brute


def test_ivf_topk_exact_partial_probe_recall(spark):
    from flink_bm25_spark.operators.similarity import cosine_topk, ivf_topk_exact

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    brute = {r.vec_id for r in cosine_topk(emb, q, k=10, exclude_id=0).collect()}
    part = ivf_topk_exact(emb, q, k=10, n_cells=4, nprobe=2, exclude_id=0)
    rows = part.collect()
    got = {r.vec_id for r in rows}
    assert len(rows) == 10
    # the query's own cell is probed, so neighbors cluster with it:
    # recall@10 must be substantial even at nprobe=2/4
    assert len(got & brute) >= 5
    # scores of returned candidates match the brute scores exactly
    bs = {r.vec_id: r.cos for r in cosine_topk(emb, q, k=500, exclude_id=0).collect()}
    for r in rows:
        assert r.cos == bs[r.vec_id]


def test_late_interaction_maxsim_hand_case(spark):
    from flink_bm25_spark.operators.retrieval import late_interaction_topk

    # doc 1: a perfect match for q0 and one for q1 -> score 2.0
    # doc 2: only a q0 match (its other chunk is orthogonal) -> ~1.0
    rows = [
        (1, [1.0, 0.0]), (1, [0.0, 1.0]),
        (2, [1.0, 0.0]), (2, [0.0, 0.0001]),
        (3, [-1.0, 0.0]), (3, [0.0, -1.0]),
    ]
    chunks = spark.createDataFrame(rows, "doc_id long, embedding array<float>")
    q = [[1.0, 0.0], [0.0, 1.0]]
    out = [(r.doc_id, r.score) for r in late_interaction_topk(chunks, q, k=3).collect()]
    assert out[0] == (1, 2.0)
    assert out[1][0] == 2 and abs(out[1][1] - 2.0) < 0.01
    # MaxSim takes each query vector's BEST chunk: doc 3's orthogonal
    # chunk (cos 0) beats its anti-parallel one (cos -1) for both.
    assert out[2] == (3, 0.0)


def test_late_interaction_plan_is_scan_plus_one_agg(spark):
    from pyspark.sql import functions as F

    from flink_bm25_spark.operators.retrieval import late_interaction_topk

    emb = load_embeddings(spark, SF_DIR).select(
        (F.floor(F.col("vec_id") / 5)).cast("long").alias("doc_id"),
        "embedding",
    )
    q = [[0.1] * 64, [0.2] * 64]
    df = late_interaction_topk(emb, q, k=5)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Join" not in plan  # query folds into literals, no join/fanout


def test_knn_graph_shapes_and_symmetric_sanity(spark):
    from flink_bm25_spark.operators.similarity import cosine_topk, knn_graph

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    out = knn_graph(emb.limit(40), k=3)
    rows = out.collect()
    by_anchor = {}
    for r in rows:
        by_anchor.setdefault(r.anchor_id, []).append(r)
    assert len(by_anchor) == 40
    for a, nbrs in by_anchor.items():
        assert sorted(r.rk for r in nbrs) == [1, 2, 3]
        assert all(r.neighbor_id != a for r in nbrs)
    # anchor 0's neighbors agree with the single-query brute tier
    q = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    brute = [
        r.vec_id
        for r in cosine_topk(emb.limit(40), q, k=3, exclude_id=0).collect()
    ]
    mine = [r.neighbor_id for r in sorted(by_anchor[0], key=lambda r: r.rk)]
    assert mine == brute


def test_knn_graph_plan_uses_window_group_limit(spark):
    from flink_bm25_spark.operators.similarity import knn_graph

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    plan = knn_graph(emb, k=5)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan  # k-cut pushed below the full sort
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mutual_knn_clusters_hand_case(spark):
    from flink_bm25_spark.operators.similarity import mutual_knn_clusters

    # two tight pairs + a hub that points at everyone but reciprocates
    # nothing at k=1 + an isolated vector
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),   # mutual with 0
        (2, [0.0, 1.0, 0.0]),
        (3, [0.01, 0.999, 0.0]),   # mutual with 2
        (4, [0.0, 0.0, 1.0]),      # isolated (low cos to all)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in mutual_knn_clusters(df, k=1, min_cos=0.5).collect()}
    assert len(out) == 5
    assert out[0].cluster == out[1].cluster == 0 and out[0].cluster_size == 2
    assert out[2].cluster == out[3].cluster == 2 and out[2].cluster_size == 2
    assert out[4].cluster == 4 and out[4].cluster_size == 1


def test_mutual_knn_hub_does_not_chain(spark):
    from flink_bm25_spark.operators.similarity import mutual_knn_clusters

    # hub h sits between two tight pairs; with k=1 each pair prefers its
    # twin, so h's outgoing edges are unreciprocated -> three clusters
    rows = [
        (0, [1.0, 0.0]), (1, [0.999, 0.03]),
        (10, [0.0, 1.0]), (11, [0.03, 0.999]),
        (5, [0.7, 0.7]),  # the hub
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.cluster for r in mutual_knn_clusters(df, k=1, min_cos=0.0).collect()}
    assert out[0] == out[1] and out[10] == out[11]
    assert out[0] != out[10]
    assert out[5] not in (out[0], out[10])  # hub stays a singleton


def test_knn_graph_candidates_dedup_and_mutuality_robust(spark):
    from flink_bm25_spark.operators.similarity import (
        knn_graph,
        mutual_knn_clusters,
    )

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding").limit(20)
    ids = [r.vec_id for r in emb.select("vec_id").collect()]
    clean = [(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]]
    # a dirty producer: every pair duplicated AND mirrored
    dirty = clean * 2 + [(b, a) for a, b in clean]
    cand_clean = spark.createDataFrame(clean, "d1 long, d2 long")
    cand_dirty = spark.createDataFrame(dirty, "d1 long, d2 long")
    want = sorted(
        (r.anchor_id, r.neighbor_id, r.rk)
        for r in knn_graph(emb, k=3, candidates=cand_clean).collect()
    )
    got = sorted(
        (r.anchor_id, r.neighbor_id, r.rk)
        for r in knn_graph(emb, k=3, candidates=cand_dirty).collect()
    )
    assert got == want
    cw = {
        r.vec_id: r.cluster
        for r in mutual_knn_clusters(
            emb, k=3, min_cos=0.2, candidates=cand_clean
        ).collect()
    }
    cg = {
        r.vec_id: r.cluster
        for r in mutual_knn_clusters(
            emb, k=3, min_cos=0.2, candidates=cand_dirty
        ).collect()
    }
    assert cg == cw


def test_pool_embeddings_modes_and_norm(spark):
    import math

    from pyspark.sql import functions as F

    from flink_bm25_spark.operators.similarity import pool_embeddings

    rows = [
        (1, [1.0, 0.0]), (1, [0.0, 1.0]),
        (2, [2.0, 2.0]),
        (3, [0.0, 0.0]),  # zero vector stays unnormalized
    ]
    df = spark.createDataFrame(rows, "doc_id long, embedding array<float>")
    mean = {r.doc_id: r for r in pool_embeddings(df, mode="mean").collect()}
    assert mean[1].n_chunks == 2
    # mean (0.5, 0.5) renormalized -> (~0.707107, ~0.707107)
    assert all(abs(x - round(1 / math.sqrt(2), 6)) < 1e-6 for x in mean[1].embedding)
    assert all(abs(x - round(1 / math.sqrt(2), 6)) < 1e-6 for x in mean[2].embedding)
    assert list(mean[3].embedding) == [0.0, 0.0]
    mx = {r.doc_id: r for r in pool_embeddings(df, mode="max", normalize=False).collect()}
    assert list(mx[1].embedding) == [1.0, 1.0]
    assert list(mx[2].embedding) == [2.0, 2.0]
    # pooled vectors feed the ANN tier directly
    from flink_bm25_spark.operators.similarity import cosine_topk

    pooled = pool_embeddings(df, mode="mean").select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    top = cosine_topk(pooled, [1.0, 1.0], k=2).collect()
    assert len(top) == 2 and top[0].cos >= top[1].cos


def test_blocked_pairs_handle_negative_ids(spark):
    # pmod block keys: a negative vec_id must still meet its partners —
    # signed % would put it in block -1, which the exploded side never
    # covers, silently losing pairs.
    from flink_bm25_spark.operators.similarity import embedding_near_dup_pairs

    rows = [(-5, [1.0, 0.0]), (-3, [1.0, 0.01]), (7, [1.0, 0.02])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {(r.d1, r.d2) for r in embedding_near_dup_pairs(df, 0.9).collect()}
    assert got == {(-5, -3), (-5, 7), (-3, 7)}


def test_cosine_batch_topk_equals_per_query(spark):
    from pyspark.sql import functions as F

    from flink_bm25_spark.operators.similarity import (
        cosine_batch_topk,
        cosine_topk,
    )
    from flink_bm25_spark.sources.tables import load_embeddings
    from tests.conftest import SF_DIR

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding")
    qrows = emb.where(F.col("vec_id") < 2).collect()
    queries = spark.createDataFrame(
        [(r.vec_id, list(r.embedding)) for r in qrows],
        "query_id long, qvec array<float>",
    )
    batch = cosine_batch_topk(emb, queries, k=4, exclude_same_id=True)
    got = {}
    for r in batch.collect():
        got.setdefault(r.query_id, []).append((r.rk, r.vec_id, r.cos))
    for r in qrows:
        solo = [
            (i + 1, s.vec_id, s.cos)
            for i, s in enumerate(
                cosine_topk(
                    emb, list(r.embedding), k=4, exclude_id=r.vec_id
                ).collect()
            )
        ]
        assert sorted(got[r.vec_id]) == sorted(solo), r.vec_id
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_pool_embeddings_empty_inherits_key_type(spark):
    """Empty-input pool_embeddings derives the group column's dtype from
    the input schema (r3 advice: hardcoded long broke unions when the
    doc key is a string)."""
    from flink_bm25_spark.operators.similarity import pool_embeddings

    empty = spark.createDataFrame(
        [], "doc_id string, embedding array<double>"
    )
    out = pool_embeddings(empty)
    assert out.count() == 0
    assert dict(out.dtypes)["doc_id"] == "string"
    # a string-keyed non-empty frame unions cleanly with the empty path
    nonempty = pool_embeddings(
        spark.createDataFrame(
            [("a", [1.0, 0.0]), ("a", [0.0, 1.0])],
            "doc_id string, embedding array<double>",
        )
    )
    assert out.unionByName(nonempty).count() == 1


def test_semantic_dedup_auto_k_resolves_k_prop_n(spark):
    """k=None defaults to the SemDeDup k ∝ n recipe (r3 verdict item 5):
    max(k_min, ceil(n / target_cluster_size)), clamped to [1, n] — with a
    fixed k the within-cluster pair sweep is quadratic by construction."""
    from flink_bm25_spark.operators.similarity import (
        _auto_k,
        semantic_dedup_pairs,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 11), 1.0]) for i in range(100)],
        "vec_id long, embedding array<double>",
    )
    assert _auto_k(emb, k_min=4, target_cluster_size=10) == 10  # ceil(100/10)
    assert _auto_k(emb, k_min=4, target_cluster_size=1024) == 4  # floor at k_min
    tiny = emb.limit(2)
    assert _auto_k(tiny, k_min=4, target_cluster_size=1024) == 2  # clamp to n

    # the default path equals the explicit-k path it resolves to
    auto = semantic_dedup_pairs(
        emb, threshold=0.9, iterations=1, target_cluster_size=10
    )
    explicit = semantic_dedup_pairs(emb, threshold=0.9, k=10, iterations=1)
    assert sorted(map(tuple, auto.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_ivf_add_ten_batches_recall_drift_bound(spark, tmp_path):
    """Incremental IVF maintenance proof (r3 verdict item 6): after the
    archive doubles through 10 ivf_add batches with NO retrain, probe
    recall@10 stays within a bounded drift of a fresh rebuild on the
    full set.  Deterministic: seeded KMeans, fixed batch order."""
    from flink_bm25_spark.operators.similarity import (
        cosine_topk,
        ivf_add,
        ivf_build,
        ivf_save,
        ivf_topk_from_disk,
    )

    emb = load_embeddings(spark, SF_DIR).select("vec_id", "embedding").cache()
    base = emb.where("vec_id < 250")
    inc_path, fresh_path = str(tmp_path / "inc"), str(tmp_path / "fresh")

    model, assigned = ivf_build(base, n_cells=8)
    ivf_save(model, assigned, inc_path)
    for b in range(10):
        lo = 250 + 25 * b
        ivf_add(
            spark, inc_path,
            emb.where(f"vec_id >= {lo} and vec_id < {lo + 25}"),
        )
    assert (
        spark.read.parquet(inc_path + "/cells").count() == emb.count()
    )

    fresh_model, fresh_assigned = ivf_build(emb, n_cells=8)
    ivf_save(fresh_model, fresh_assigned, fresh_path)

    # query vectors drawn from the ADDED half — the ones a drifted
    # quantizer would misplace
    qrows = emb.where("vec_id >= 250 and vec_id % 50 = 0").collect()

    def recall(path: str) -> float:
        hits = tot = 0
        for r in qrows:
            q = [float(x) for x in r["embedding"]]
            want = {x["vec_id"] for x in cosine_topk(emb, q, k=10).collect()}
            got = {
                x["vec_id"]
                for x in ivf_topk_from_disk(
                    spark, path, q, k=10, nprobe=4
                ).collect()
            }
            hits += len(got & want)
            tot += 10
        return hits / tot

    r_inc, r_fresh = recall(inc_path), recall(fresh_path)
    # drift bound: the un-retrained index gives up at most 0.2 recall vs
    # a fresh rebuild at the same nprobe/n_cells, and stays useful
    assert r_inc >= r_fresh - 0.2, (r_inc, r_fresh)
    assert r_inc >= 0.5, r_inc


def test_sparse_plane_nnz_bounded_by_dim():
    # nnz > dim cannot yield distinct indices: refused, not an endless loop
    with pytest.raises(ValueError, match="nnz"):
        sparse_plane(0, dim=4, nnz=8)
    plane = sparse_plane(3, dim=4, nnz=4)
    assert sorted(i for i, _ in plane) == [0, 1, 2, 3]
    assert all(s in (-1, 1) for _, s in plane)
