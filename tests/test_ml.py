"""In-engine logistic regression (operators/ml.py): gradient-descent
differential vs numpy, scoring sanity, and the quality-classifier demo."""

from __future__ import annotations

import numpy as np

from flink_bm25_spark.operators.ml import (
    logreg_fit,
    logreg_score,
    quality_classifier_scores,
)


def test_logreg_matches_numpy_gd(spark):
    rng = np.random.default_rng(5)
    X = rng.uniform(-1, 1, (200, 2))
    y = (X[:, 0] + 0.5 * X[:, 1] > 0).astype(float)
    rows = [(float(y[i]), float(X[i, 0]), float(X[i, 1])) for i in range(200)]
    df = spark.createDataFrame(rows, "y double, a double, b double")

    w = logreg_fit(df, ["a", "b"], "y", iterations=4, lr=0.5)

    # numpy reference with the same per-round 6-decimal rounding
    wn = np.zeros(3)
    Xb = np.hstack([np.ones((200, 1)), X])
    for _ in range(4):
        p = 1.0 / (1.0 + np.exp(-(Xb @ wn)))
        g = (y - p) @ Xb / 200
        wn = np.round(wn + 0.5 * g, 6)
    assert np.allclose(w, wn, atol=1e-9), (w, wn)

    # the learned direction separates: positive class scores higher
    scored = logreg_score(df, w, ["a", "b"]).collect()
    pos = [r.p for r in scored if r.y == 1.0]
    neg = [r.p for r in scored if r.y == 0.0]
    assert min(pos) > 0.4 and max(neg) < 0.6
    assert sum(pos) / len(pos) > sum(neg) / len(neg) + 0.1


def test_quality_classifier_orders_by_quality(spark):
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(80))),  # long, clean -> keep
            (2, "a b"),                                  # too short -> drop
            (3, " ".join(f"v{i}" for i in range(60))),
        ],
        "doc_id bigint, text string",
    )
    p = {r.doc_id: r.p for r in quality_classifier_scores(docs).collect()}
    assert p[1] > p[2] and p[3] > p[2]


def test_classifier_metrics_hand_case(spark):
    """AUC with ties, plus threshold metrics, against hand arithmetic."""
    rows = [
        (1.0, 0.9), (1.0, 0.7), (0.0, 0.7), (1.0, 0.4), (0.0, 0.3),
        (0.0, 0.1),
    ]
    df = spark.createDataFrame(rows, "y double, p double")
    from flink_bm25_spark.operators.ml import classifier_metrics

    got = {r.metric: r.value for r in classifier_metrics(df).collect()}
    # pairs (pos, neg): (0.9>all three) 3 + (0.7: >0.3,>0.1, tie 0.7=0.5)
    # + (0.4: >0.3,>0.1) => (3 + 2.5 + 2) / 9
    assert got["auc"] == round(7.5 / 9, 6)
    # threshold 0.5: predicted pos = {0.9, 0.7, 0.7} -> tp=2 fp=1 fn=1
    assert got["precision"] == round(2 / 3, 6)
    assert got["recall"] == round(2 / 3, 6)
    assert got["accuracy"] == round(4 / 6, 6)
    assert got["f1"] == round(2 / 3, 6)


def test_classifier_metrics_single_class_null_auc(spark):
    df = spark.createDataFrame([(1.0, 0.8), (1.0, 0.2)], "y double, p double")
    from flink_bm25_spark.operators.ml import classifier_metrics

    got = {r.metric: r.value for r in classifier_metrics(df).collect()}
    assert got["auc"] is None  # no negative class -> undefined, not a crash
    assert got["recall"] == 0.5


def test_power_iteration_matches_numpy(spark):
    """Bit-exact (after per-round rounding) against the dense numpy
    power iteration, and the result is the dominant direction of a
    corpus with one planted strong axis."""
    from flink_bm25_spark.operators.ml import power_iteration_top_component

    rng = np.random.default_rng(9)
    d = 8
    axis = np.zeros(d); axis[2] = 1.0
    X = rng.normal(0, 0.1, (100, d)) + rng.normal(0, 3.0, (100, 1)) * axis
    rows = [(i, [float(x) for x in X[i]]) for i in range(100)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.dim: r.component for r in power_iteration_top_component(emb).collect()}

    Xf = np.array([[np.float32(x) for x in X[i]] for i in range(100)], dtype=np.float64)
    v = np.round(np.full(d, 1.0 / np.sqrt(d)), 6)
    for _ in range(3):
        s = Xf.T @ (Xf @ v)
        v = np.round(s / np.sqrt((s * s).sum()), 6)
    assert max(abs(got[i] - v[i]) for i in range(d)) < 2e-6
    # the planted axis dominates
    assert abs(got[2]) == max(abs(got[i]) for i in range(d))
    assert abs(got[2]) > 0.9


def test_calibration_curve_hand_case(spark):
    from flink_bm25_spark.operators.ml import calibration_curve

    rows = [
        (1.0, 0.95), (0.0, 0.92), (1.0, 1.0),   # bin 9 (1.0 clamps in)
        (1.0, 0.45), (0.0, 0.41),                # bin 4
        (0.0, 0.05),                             # bin 0
    ]
    df = spark.createDataFrame(rows, "y double, p double")
    got = {r.bin: (r.n, r.mean_p, r.frac_pos) for r in calibration_curve(df).collect()}
    assert got[9] == (3, round((0.95 + 0.92 + 1.0) / 3, 6), round(2 / 3, 6))
    assert got[4] == (2, 0.43, 0.5)
    assert got[0] == (1, 0.05, 0.0)


def test_logreg_and_classifier_on_empty_input(spark):
    from flink_bm25_spark.operators.ml import (
        logreg_fit,
        quality_classifier_scores,
    )

    empty = spark.createDataFrame([], "y double, a double")
    assert logreg_fit(empty, ["a"], "y", iterations=2) == [0.0, 0.0]
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert quality_classifier_scores(empty_docs).count() == 0


def test_kmeans_no_result_memo(spark):
    """r9 optimization round: the former module-level RESULT memos
    (kmeans fit / connected components, keyed on plan semantic hash) are
    gone — repeat fits RECOMPUTE and must be value-identical."""
    from flink_bm25_spark.operators import graph, kmeans

    assert not hasattr(kmeans, "_KM_MEMO")
    assert not hasattr(graph, "_CC_MEMO")
    df = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    c1 = kmeans.kmeans_fit(df, k=2, iterations=1)
    assert kmeans.kmeans_fit(df, k=2, iterations=1) == c1  # refit identical
