"""Distributed (per-partition ensemble) IsolationForest training
(round-5 directive #5): parity with the driver-trained forest on
identical data, bounded driver memory, and end-to-end detect().
"""

from __future__ import annotations

import pickle

import numpy as np
import pandas as pd
import pytest

from sustainable_building_energy_benchmarking_pipeline_spark.ml.isolation_forest import (
    FEATURE_COLS,
    IsolationForestDetector,
)


def _auc(scores_pos: np.ndarray, scores_neg: np.ndarray) -> float:
    """P(outlier score > normal score) — rank AUC by pair counting."""
    wins = 0.0
    for sp in scores_pos:
        wins += (scores_neg < sp).sum() + 0.5 * (scores_neg == sp).sum()
    return wins / (len(scores_pos) * len(scores_neg))


@pytest.fixture(scope="module")
def synth(spark):
    """2000 normal rows (unit gaussian) + 40 far outliers, with the
    id/time columns the driver-path train() sorts on."""
    rng = np.random.RandomState(0)
    d = len(FEATURE_COLS)
    Xn = rng.normal(0.0, 1.0, (2000, d))
    Xo = rng.normal(6.0, 1.0, (40, d))
    X = np.vstack([Xn, Xo])
    pdf = pd.DataFrame(X, columns=FEATURE_COLS)
    pdf["timestamp"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(
        np.arange(len(X)), unit="m"
    )
    pdf["zone_id"] = ["Z1"] * len(X)
    pdf["ahu_id"] = ["A1"] * len(X)
    pdf["is_outlier"] = [False] * 2000 + [True] * 40
    df = spark.createDataFrame(pdf.drop(columns=["is_outlier"])).cache()
    df.count()
    return df, X, pdf["is_outlier"].to_numpy()


def test_ensemble_parity_with_driver_forest(spark, synth):
    df, X, is_out = synth
    driver = IsolationForestDetector(n_estimators=64).train(df, normal_only=False)
    dist = IsolationForestDetector(n_estimators=64).train_distributed(
        df, normal_only=False, num_partitions=4
    )

    def auc_of(det):
        s = -det.model.score_samples(det.scaler.transform(X))  # s(x), higher=worse
        return _auc(s[is_out], s[~is_out])

    a_driver, a_dist = auc_of(driver), auc_of(dist)
    # both separate the planted outliers essentially perfectly, and the
    # ensemble is within tolerance of the single forest
    assert a_driver > 0.95 and a_dist > 0.95
    assert abs(a_driver - a_dist) < 0.05
    # scalers agree: both are the same global mean/std (driver fit vs
    # one distributed aggregate)
    np.testing.assert_allclose(driver.scaler.mean_, dist.scaler.mean_, atol=1e-9)
    np.testing.assert_allclose(driver.scaler.scale_, dist.scaler.scale_, atol=1e-9)


def test_ensemble_driver_state_is_bounded(spark, synth):
    """The driver holds P pickled sub-forests (flat arrays), never rows:
    the whole broadcast payload stays far under a single partition's
    data size even though training saw every row."""
    df, _X, _ = synth
    det = IsolationForestDetector(n_estimators=64).train_distributed(
        df, normal_only=False, num_partitions=4
    )
    assert len(det.model.forests) == 4
    assert sum(f.n_estimators for f in det.model.forests) >= 64
    payload = pickle.dumps({"model": det.model, "scaler": det.scaler})
    assert len(payload) < 5_000_000
    assert det.model.threshold_ is not None and np.isfinite(det.model.threshold_)


def test_ensemble_detect_end_to_end(spark, synth):
    df, _X, _ = synth
    det = IsolationForestDetector(
        contamination=0.02, n_estimators=64
    ).train_distributed(df, normal_only=False, num_partitions=4)
    out = det.detect(df)
    rows = out.collect()
    n = len(rows)
    # ~contamination of 2040 rows flag; the cut is a quantile so the
    # count lands near 2% (loose bounds for partition-dependent seeds)
    assert 10 <= n <= 120
    assert {r["rule_name"] for r in rows} == {"isolation_forest"}
    assert {r["severity"] for r in rows} <= {"low", "medium", "high"}
    # persistence round-trip (M6) works for the ensemble model too
    import tempfile, os

    with tempfile.TemporaryDirectory() as td:
        p = os.path.join(td, "ens.pkl")
        det.save(p)
        det2 = IsolationForestDetector().load(p)
        assert det2.detect(df).count() == n


def test_ensemble_unequal_psi_partitions(spark):
    """A tiny trailing partition (fewer rows than ψ=256) still merges:
    per-forest c(ψ_i) normalization handles unequal subsample sizes."""
    rng = np.random.RandomState(1)
    d = len(FEATURE_COLS)
    pdf = pd.DataFrame(rng.normal(0, 1, (300, d)), columns=FEATURE_COLS)
    pdf["timestamp"] = pd.Timestamp("2024-01-01")
    pdf["zone_id"] = "Z1"
    pdf["ahu_id"] = "A1"
    df = spark.createDataFrame(pdf)
    det = IsolationForestDetector(n_estimators=8).train_distributed(
        df, normal_only=False, num_partitions=3
    )
    psis = {f._psi for f in det.model.forests}
    assert len(det.model.forests) == 3
    scores = det.model.score_samples(det.scaler.transform(pdf[FEATURE_COLS].values))
    assert np.isfinite(scores).all() and (scores <= 0).all()
    assert min(psis) <= 256


# ---------------------------------------------------------------------------
# Tree traversal: the mask-free walk is bit-identical to the masked loop
# ---------------------------------------------------------------------------

def _reference_path_lengths(forest, X: np.ndarray) -> np.ndarray:
    """The masked per-tree walk ``_path_lengths`` replaced: advance only
    the rows still at an internal node, stop when none are."""
    m = X.shape[0]
    total = np.zeros(m, dtype=np.float64)
    for t in range(forest.n_estimators):
        node = np.zeros(m, dtype=np.int64)
        if forest._feat[t, 0] < 0:
            total += forest._leaf_adj[t, 0]
            continue
        live = np.ones(m, dtype=bool)
        for _ in range(forest._max_depth + 1):
            feats = forest._feat[t, node]
            internal = live & (feats >= 0)
            if not internal.any():
                break
            f = feats[internal]
            go_left = X[internal, f] < forest._thresh[t, node[internal]]
            node[internal] = np.where(go_left, 2 * node[internal] + 1, 2 * node[internal] + 2)
        total += forest._leaf_adj[t, node]
    return total / forest.n_estimators


def _forest_cases():
    from sustainable_building_energy_benchmarking_pipeline_spark.ml.iforest_numpy import (
        NumpyIsolationForest,
    )

    rng = np.random.RandomState(7)
    X = rng.normal(0.0, 1.0, (600, 5))
    X[:20] += 5.0
    const = X.copy()
    const[:, 2] = 3.0  # a constant column is never a split candidate
    nan_q = rng.normal(0.0, 2.0, (300, 5))
    nan_q[rng.rand(*nan_q.shape) < 0.1] = np.nan
    return {
        "gaussian": (NumpyIsolationForest(n_estimators=40).fit(X), rng.normal(0, 2, (400, 5))),
        "small_psi": (NumpyIsolationForest(n_estimators=30, max_samples=16).fit(X), X),
        "psi_1": (NumpyIsolationForest(n_estimators=10).fit(X[:1]), X[:50]),
        "constant_column": (NumpyIsolationForest(n_estimators=30).fit(const), const),
        "nan_features": (NumpyIsolationForest(n_estimators=30).fit(X), nan_q),
    }


@pytest.mark.parametrize("case", sorted(_forest_cases()))
def test_path_lengths_match_masked_loop(case):
    from sustainable_building_energy_benchmarking_pipeline_spark.ml.iforest_numpy import (
        EnsembleIsolationForest,
        _c_norm,
    )

    cases = _forest_cases()
    forest, Xq = cases[case]
    assert np.array_equal(forest._path_lengths(Xq), _reference_path_lengths(forest, Xq))
    # fit's predict cut rides the same walk
    ref = np.power(2.0, -_reference_path_lengths(forest, Xq) / _c_norm(forest._psi))
    assert np.array_equal(forest._anomaly_score(Xq), ref)
    ens = EnsembleIsolationForest([forest, cases["gaussian"][0]])
    acc = sum(
        f.n_estimators * (_reference_path_lengths(f, Xq) / _c_norm(f._psi)) for f in ens.forests
    )
    assert np.array_equal(ens._anomaly_score(Xq), np.power(2.0, -acc / ens._w.sum()))


def test_outlier_mask_is_predicts_rule():
    from sustainable_building_energy_benchmarking_pipeline_spark.ml.iforest_numpy import (
        EnsembleIsolationForest,
    )
    from sustainable_building_energy_benchmarking_pipeline_spark.ml.isolation_forest import (
        _outlier_mask,
    )

    cases = _forest_cases()
    forest, Xq = cases["gaussian"]
    Xq = np.vstack([Xq, 3.0 * Xq])  # spread far past the training cut
    ens = EnsembleIsolationForest([forest, cases["small_psi"][0]])
    ens.threshold_ = float(np.quantile(ens._anomaly_score(Xq), 0.9))
    for model in (forest, ens):
        mask = _outlier_mask(model, model.score_samples(Xq))
        assert mask.any() and np.array_equal(mask, model.predict(Xq) == -1)

    class SklearnLike:
        """sklearn's predict: inlier iff score_samples − offset_ ≥ 0."""

        offset_ = -0.55

        def score_samples(self, X):
            return -forest._anomaly_score(X)

        def predict(self, X):
            return np.where(self.score_samples(X) - self.offset_ >= 0, 1, -1)

    sk = SklearnLike()
    mask = _outlier_mask(sk, sk.score_samples(Xq))
    assert 0 < mask.sum() < len(mask) and np.array_equal(mask, sk.predict(Xq) == -1)
    with pytest.raises(ValueError, match="threshold_"):
        _outlier_mask(EnsembleIsolationForest([forest]), forest.score_samples(Xq))


def test_detect_matches_predict_and_score_samples(spark, synth):
    """detect() scores once; its rows are exactly predict()'s outliers
    with |score_samples| rounded to 4 dp."""
    df, _X, _ = synth
    det = IsolationForestDetector(n_estimators=32).train(df, normal_only=False)
    got = sorted(
        tuple(r) for r in det.detect(df).selectExpr("unix_micros(timestamp)", "score").collect()
    )
    pdf = df.selectExpr("unix_micros(timestamp) AS us", *FEATURE_COLS).toPandas()
    Xs = det.scaler.transform(pdf[FEATURE_COLS].values)
    hit = det.model.predict(Xs) == -1
    scores = pd.Series(det.model.score_samples(Xs)[hit]).abs().round(4).values
    want = sorted(zip(pdf["us"][hit].tolist(), scores.tolist()))
    assert len(got) > 0 and got == want
