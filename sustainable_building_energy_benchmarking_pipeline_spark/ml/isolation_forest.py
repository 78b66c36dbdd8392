"""IsolationForest anomaly detection, Spark-integrated (SURVEY M3-M6,
reference ``src/models.py:237-386``).

Spark has no native IsolationForest; per SURVEY §4 option (a): train
sklearn on driver-collected normal rows (training data is the bounded
"normal" subset — at 100 TB you'd train on a deterministic sample, which is
statistically equivalent for IF), broadcast {scaler, model}, score
distributed via Arrow-batched ``mapInPandas``. Scoring — the expensive
part — is fully parallel and never collects.

Determinism: seed 42 + training rows sorted by (zone_id, timestamp) pins
sklearn's result (SURVEY §7 'What's hard' #4).
"""

from __future__ import annotations

import pickle
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_COLS = [
    "temp_zone_c", "temp_error_c", "power_kw", "fan_speed_pct",
    "delta_return_supply", "temp_error_rolling_mean_60min",
    "temp_error_rolling_std_60min", "power_rolling_mean_60min",
    "power_rolling_std_60min", "temp_change_rate", "power_change_rate",
]  # src/models.py:270-275

_SCORE_SCHEMA = T.StructType([
    T.StructField("timestamp", T.TimestampType()),
    T.StructField("zone_id", T.StringType()),
    T.StructField("ahu_id", T.StringType()),
    T.StructField("metric", T.StringType()),
    T.StructField("score", T.DoubleType()),
    T.StructField("rule_name", T.StringType()),
    T.StructField("severity", T.StringType()),
    T.StructField("fault_type_label", T.StringType()),
])


def _outlier_mask(model, scores):
    """``model.predict(X) == -1`` from precomputed ``score_samples(X)``,
    by predict's own rule: sklearn flags scores below ``offset_``; the
    bundled forests flag −scores (their s(x)) above ``threshold_``."""
    offset = getattr(model, "offset_", None)
    if offset is not None:
        return scores < offset
    if model.threshold_ is None:
        raise ValueError("threshold_ not set — train_distributed sets it")
    return -scores > model.threshold_


class IsolationForestDetector:
    """Driver-trained, executor-scored IF detector (M4/M5)."""

    def __init__(self, contamination: float = 0.02, random_state: int = 42,
                 n_estimators: int = 100, max_train_rows: int = 1_000_000):
        self.contamination = contamination
        self.random_state = random_state
        self.n_estimators = n_estimators
        self.max_train_rows = max_train_rows
        self.model = None
        self.scaler = None
        self.feature_cols = list(FEATURE_COLS)

    def train(self, features: DataFrame, normal_only: bool = True) -> "IsolationForestDetector":
        """Fit scaler + IF on (a deterministic sample of) normal rows
        (src/models.py:259-295). Uses sklearn when present; otherwise the
        bundled NumPy implementation (same algorithm, same interface)."""
        try:
            from sklearn.ensemble import IsolationForest
            from sklearn.preprocessing import StandardScaler
        except ImportError:
            from sustainable_building_energy_benchmarking_pipeline_spark.ml.iforest_numpy import (
                NumpyIsolationForest as IsolationForest,
                NumpyStandardScaler as StandardScaler,
            )

        train_df = features
        if normal_only and "fault_type" in features.columns:
            train_df = features.filter(F.col("fault_type") == "none")
        # deterministic order + bounded size for the driver collect
        pdf = (
            train_df.select("zone_id", "timestamp", *self.feature_cols)
            .orderBy("zone_id", "timestamp")
            .limit(self.max_train_rows)
            .toPandas()
        )
        X = pdf[self.feature_cols].values
        self.scaler = StandardScaler().fit(X)
        self.model = IsolationForest(
            contamination=self.contamination,
            random_state=self.random_state,
            n_estimators=self.n_estimators,
        ).fit(self.scaler.transform(X))
        return self

    def train_distributed(
        self,
        features: DataFrame,
        normal_only: bool = True,
        num_partitions: int | None = None,
    ) -> "IsolationForestDetector":
        """Fit WITHOUT the ≤``max_train_rows`` driver sample: one
        sub-forest per partition over ALL normal rows (mapInPandas),
        merged by normalized-path averaging (see
        ``EnsembleIsolationForest``) — the reference trains on the full
        normal set (src/models.py:250-295) and at 100 TB the sample cap
        changes model fidelity; this path removes it.

        Scale shape (nothing unbounded on the driver):
        - scaler stats: ONE Spark aggregate (mean + stddev_pop per
          feature, matching np.std ddof=0) — no row collect;
        - training: each partition fits ψ=256-subsample trees on its
          local rows inside mapInPandas and emits one pickled sub-forest
          (a few flat int/float arrays, ~100 KB) — the driver collects
          P sub-forests, never rows;
        - predict threshold: a second distributed pass scores the
          training rows with the broadcast ensemble and takes the exact
          (1−contamination) percentile — the single-forest
          ``np.quantile`` offset, computed in the cluster.

        ``train()`` remains the small-data fast path (one collect, one
        fit, no extra passes). Per-partition seeds are
        ``random_state + partition_id``, so the model is deterministic
        for a fixed partitioning."""
        import pickle as _pickle

        import numpy as np

        from sustainable_building_energy_benchmarking_pipeline_spark.ml.iforest_numpy import (
            EnsembleIsolationForest,
            NumpyIsolationForest,
            NumpyStandardScaler,
        )

        train_df = features
        if normal_only and "fault_type" in features.columns:
            train_df = features.filter(F.col("fault_type") == "none")
        sel = train_df.select(*self.feature_cols)

        stats = sel.agg(
            *[F.avg(c).alias(f"m_{c}") for c in self.feature_cols],
            *[F.stddev_pop(c).alias(f"s_{c}") for c in self.feature_cols],
        ).first()
        scaler = NumpyStandardScaler()
        scaler.mean_ = np.array(
            [stats[f"m_{c}"] or 0.0 for c in self.feature_cols], dtype=np.float64
        )
        std = np.array(
            [stats[f"s_{c}"] or 0.0 for c in self.feature_cols], dtype=np.float64
        )
        scaler.scale_ = np.where(std == 0, 1.0, std)

        spark = features.sparkSession
        n_parts = num_partitions or spark.sparkContext.defaultParallelism
        trees_per_part = max(1, -(-self.n_estimators // n_parts))
        contamination = self.contamination
        seed0 = self.random_state
        cols = list(self.feature_cols)
        sc_mean, sc_scale = scaler.mean_, scaler.scale_

        def fit_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            from pyspark import TaskContext

            parts = [pdf for pdf in batches if not pdf.empty]
            if not parts:
                return
            X = (pd.concat(parts)[cols].values - sc_mean) / sc_scale
            pid = TaskContext.get().partitionId()
            forest = NumpyIsolationForest(
                contamination=contamination,
                random_state=seed0 + pid,
                n_estimators=trees_per_part,
                max_samples=256,
            ).fit(X)
            yield pd.DataFrame(
                {"pid": [pid], "payload": [_pickle.dumps(forest)]}
            )

        repartitioned = sel.repartition(n_parts)
        rows = sorted(
            repartitioned.mapInPandas(
                fit_partition, "pid int, payload binary"
            ).collect(),
            key=lambda r: r["pid"],
        )
        if not rows:
            raise ValueError("no training rows for distributed IF training")
        forests = [_pickle.loads(bytes(r["payload"])) for r in rows]
        # a partition that received exactly one row yields a ψ=1
        # degenerate forest: zero path lengths, no discriminative
        # signal — drop it from the merge whenever a real (ψ≥2)
        # sibling exists (keep-all fallback: an all-singleton corpus
        # still gets finite scores via the _c_norm floor)
        real = [f for f in forests if getattr(f, "_psi", 0) >= 2]
        model = EnsembleIsolationForest(real or forests)

        payload = _pickle.dumps({"model": model, "scaler": scaler})
        bc = spark.sparkContext.broadcast(payload)

        def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            state = _pickle.loads(bc.value)
            m, s = state["model"], state["scaler"]
            for pdf in batches:
                if pdf.empty:
                    continue
                yield pd.DataFrame(
                    {"_s": m._anomaly_score(s.transform(pdf[cols].values))}
                )

        q = 1.0 - self.contamination
        model.threshold_ = float(
            sel.mapInPandas(score_batches, "_s double")
            .agg(F.expr(f"percentile(_s, {q})"))
            .first()[0]
        )
        self.model = model
        self.scaler = scaler
        return self

    def detect(self, features: DataFrame) -> DataFrame:
        """Distributed scoring via mapInPandas (src/models.py:297-358):
        predict==−1 → anomaly; score=|score_samples| rounded 4dp; severity
        cut at 0.5/0.3. The forest is walked once per batch: the anomaly
        mask comes from the same scores (``_outlier_mask``)."""
        if self.model is None:
            raise ValueError("Model must be trained before detection")
        payload = pickle.dumps(
            {"model": self.model, "scaler": self.scaler, "cols": self.feature_cols}
        )
        spark = features.sparkSession
        bc = spark.sparkContext.broadcast(payload)

        def score_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            state = pickle.loads(bc.value)
            model, scaler, cols = state["model"], state["scaler"], state["cols"]
            for pdf in batches:
                if pdf.empty:
                    continue
                X = scaler.transform(pdf[cols].values)
                scores = model.score_samples(X)
                hit = _outlier_mask(model, scores)
                hits = pdf[hit]
                if hits.empty:
                    continue
                s = pd.Series(scores[hit]).abs().round(4).values
                yield pd.DataFrame(
                    {
                        "timestamp": hits["timestamp"].values,
                        "zone_id": hits["zone_id"].values,
                        "ahu_id": hits["ahu_id"].values,
                        "metric": "multiple",
                        "score": s,
                        "rule_name": "isolation_forest",
                        "severity": pd.cut(
                            s,
                            bins=[-1, 0.3, 0.5, float("inf")],
                            labels=["low", "medium", "high"],
                        ).astype(str),
                        "fault_type_label": (
                            hits["fault_type"].fillna("unknown").values
                            if "fault_type" in hits.columns
                            else "unknown"
                        ),
                    }
                )

        cols = ["timestamp", "zone_id", "ahu_id", *self.feature_cols] + (
            ["fault_type"] if "fault_type" in features.columns else []
        )
        return features.select(*cols).mapInPandas(score_batches, _SCORE_SCHEMA)

    # --- persistence (M6, src/models.py:359-386) ---
    def save(self, filepath: str) -> None:
        if self.model is None:
            raise ValueError("Cannot save untrained model")
        import os

        os.makedirs(os.path.dirname(filepath) or ".", exist_ok=True)
        with open(filepath, "wb") as f:
            pickle.dump(
                {"model": self.model, "scaler": self.scaler,
                 "feature_cols": self.feature_cols}, f
            )

    def load(self, filepath: str) -> "IsolationForestDetector":
        with open(filepath, "rb") as f:
            data = pickle.load(f)
        self.model = data["model"]
        self.scaler = data["scaler"]
        self.feature_cols = data["feature_cols"]
        return self
