"""Self-contained NumPy Isolation Forest (Liu, Ting, Zhou 2008).

Used when scikit-learn is unavailable in the runtime (the engine gates the
sklearn import). Implements the published algorithm directly:

- fit: ``n_estimators`` random binary trees, each on a ψ-row subsample;
  random split feature + random split value; grown to depth ⌈log2 ψ⌉.
- score: s(x) = 2^(−E[h(x)]/c(ψ)) ∈ (0, 1]; higher = more anomalous.
- predict: −1 where s exceeds the (1−contamination) quantile of the
  training scores (mirrors sklearn's offset_ mechanics), else 1.
- ``score_samples`` returns −s(x), matching sklearn's sign convention so
  downstream ``abs(score_samples)`` severity cuts (src/models.py:330-338)
  behave identically.

Fully vectorized: trees are flat arrays, traversal is a batched index walk
— no Python-per-row work, so executor-side scoring inside mapInPandas
stays fast.
"""

from __future__ import annotations

import numpy as np


def _c(n: float) -> float:
    """Average path length of unsuccessful BST search (eq. 1 in the paper)."""
    if n <= 1:
        return 0.0
    return 2.0 * (np.log(n - 1) + np.euler_gamma) - 2.0 * (n - 1) / n


def _c_norm(n: float) -> float:
    """Score-normalization denominator: c(ψ) floored at c(2).

    c(1) = 0 is correct as the LEAF adjustment, but as a denominator it
    turns every score of a ψ=1 degenerate forest (a partition that got
    exactly one training row) into 0/0 = NaN — which then poisons the
    ensemble sum, the percentile threshold, and predict (``s > nan`` is
    always False: the detector silently flags nothing). Floored, such a
    forest scores ~1.0 everywhere — no discriminative signal, but
    finite; ``train_distributed`` additionally drops ψ<2 sub-forests
    when any real sibling exists."""
    return max(_c(n), _c(2.0))


class NumpyStandardScaler:
    """Drop-in mean/std standardizer (sklearn StandardScaler equivalent)."""

    def fit(self, X: np.ndarray) -> "NumpyStandardScaler":
        self.mean_ = X.mean(axis=0)
        std = X.std(axis=0)
        self.scale_ = np.where(std == 0, 1.0, std)
        return self

    def transform(self, X: np.ndarray) -> np.ndarray:
        return (X - self.mean_) / self.scale_

    def fit_transform(self, X: np.ndarray) -> np.ndarray:
        return self.fit(X).transform(X)


class NumpyIsolationForest:
    def __init__(self, contamination: float = 0.02, random_state: int = 42,
                 n_estimators: int = 100, max_samples: int = 256):
        self.contamination = contamination
        self.random_state = random_state
        self.n_estimators = n_estimators
        self.max_samples = max_samples

    def fit(self, X: np.ndarray) -> "NumpyIsolationForest":
        rng = np.random.RandomState(self.random_state)
        n, d = X.shape
        psi = min(self.max_samples, n)
        self._psi = psi
        max_depth = int(np.ceil(np.log2(max(psi, 2))))
        self._max_depth = max_depth
        n_nodes = 2 ** (max_depth + 1) - 1

        # flat complete-binary-tree arrays per estimator
        self._feat = np.full((self.n_estimators, n_nodes), -1, dtype=np.int32)
        self._thresh = np.zeros((self.n_estimators, n_nodes), dtype=np.float64)
        # for leaves: c(n_leaf) correction + depth
        self._leaf_adj = np.zeros((self.n_estimators, n_nodes), dtype=np.float64)

        for t in range(self.n_estimators):
            idx = rng.choice(n, size=psi, replace=False) if n > psi else np.arange(n)
            # each node holds a list of row indices; grow breadth-first
            node_rows: dict[int, np.ndarray] = {0: idx}
            for node in range(n_nodes):
                rows = node_rows.pop(node, None)
                if rows is None:
                    continue
                depth = int(np.floor(np.log2(node + 1)))
                sub = X[rows]
                if depth >= max_depth or len(rows) <= 1:
                    self._leaf_adj[t, node] = depth + _c(len(rows))
                    continue
                # random feature with spread; fall back to leaf if constant
                spreads = sub.max(axis=0) - sub.min(axis=0)
                candidates = np.flatnonzero(spreads > 0)
                if candidates.size == 0:
                    self._leaf_adj[t, node] = depth + _c(len(rows))
                    continue
                f = int(rng.choice(candidates))
                lo, hi = sub[:, f].min(), sub[:, f].max()
                v = rng.uniform(lo, hi)
                self._feat[t, node] = f
                self._thresh[t, node] = v
                mask = sub[:, f] < v
                node_rows[2 * node + 1] = rows[mask]
                node_rows[2 * node + 2] = rows[~mask]

        train_scores = self._anomaly_score(X)
        self.threshold_ = float(np.quantile(train_scores, 1.0 - self.contamination))
        return self

    def _path_lengths(self, X: np.ndarray) -> np.ndarray:
        """Mean leaf-adjusted depth over the trees. Each tree walks all rows
        ``_max_depth`` steps over child arrays in which a leaf is its own
        child, so rows that reach a leaf early stay there with no masks.
        NaN features compare False and go right, as in fit's split."""
        m = X.shape[0]
        node_id = np.arange(self._feat.shape[1])
        internal = self._feat >= 0
        feat = np.where(internal, self._feat, 0)
        left = np.where(internal, 2 * node_id + 1, node_id)
        right = np.where(internal, 2 * node_id + 2, node_id)
        rows = np.arange(m)
        total = np.zeros(m, dtype=np.float64)
        for t in range(self.n_estimators):
            f, thr, lt, rt = feat[t], self._thresh[t], left[t], right[t]
            node = np.zeros(m, dtype=np.int64)
            for _ in range(self._max_depth):
                node = np.where(X[rows, f[node]] < thr[node], lt[node], rt[node])
            total += self._leaf_adj[t, node]
        return total / self.n_estimators

    def _anomaly_score(self, X: np.ndarray) -> np.ndarray:
        eh = self._path_lengths(X)
        return np.power(2.0, -eh / _c_norm(self._psi))

    def score_samples(self, X: np.ndarray) -> np.ndarray:
        """−s(x), sklearn sign convention."""
        return -self._anomaly_score(X)

    def predict(self, X: np.ndarray) -> np.ndarray:
        s = self._anomaly_score(X)
        return np.where(s > self.threshold_, -1, 1)


class EnsembleIsolationForest:
    """Merge of independently-trained ``NumpyIsolationForest`` sub-forests
    (one per Spark partition — see ``IsolationForestDetector.
    train_distributed``) into a single scorer.

    Merge rule: anomaly score = 2^(−mean of the per-forest NORMALIZED
    path lengths E[h(x)]/c(ψ_i), tree-count weighted). When every
    sub-forest shares the same subsample size ψ this is EXACTLY the
    score of the union forest (the paper's E[h] is the mean over all
    trees, and c(ψ) factors out); with unequal ψ (a small trailing
    partition) each forest normalizes by its own c(ψ_i) first, which is
    the principled way to average path lengths measured against
    different baseline depths. ``threshold_`` (the predict cut) is set
    by the caller from a distributed quantile of training scores —
    mirroring the single-forest offset mechanics."""

    def __init__(self, forests: list[NumpyIsolationForest]):
        if not forests:
            raise ValueError("ensemble needs at least one sub-forest")
        self.forests = list(forests)
        self._w = np.array([f.n_estimators for f in self.forests], dtype=np.float64)
        self.threshold_: float | None = None

    def _anomaly_score(self, X: np.ndarray) -> np.ndarray:
        acc = np.zeros(X.shape[0], dtype=np.float64)
        for f, w in zip(self.forests, self._w):
            acc += w * (f._path_lengths(X) / _c_norm(f._psi))
        return np.power(2.0, -acc / self._w.sum())

    def score_samples(self, X: np.ndarray) -> np.ndarray:
        """−s(x), sklearn sign convention (matches NumpyIsolationForest)."""
        return -self._anomaly_score(X)

    def predict(self, X: np.ndarray) -> np.ndarray:
        if self.threshold_ is None:
            raise ValueError("threshold_ not set — train_distributed sets it")
        s = self._anomaly_score(X)
        return np.where(s > self.threshold_, -1, 1)
