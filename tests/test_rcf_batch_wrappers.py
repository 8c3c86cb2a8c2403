"""Grouped-map RCF wrappers: per-cohort outlier scoring and per-series
forecasting over Spark DataFrames."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from random_cut_forest_by_aws_spark.operators.rcf_batch import (
    rcf_group_forecast,
    rcf_group_scores,
)


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    return df.localCheckpoint(eager=True)


def test_rcf_group_scores_flags_planted_outlier(spark, emb):
    # plant an obvious outlier into one label group
    out_row = spark.createDataFrame(
        [(99_999, [50.0] * 64, int(emb.first()["label"]))],
        "vec_id long, embedding array<float>, label int",
    )
    df = emb.unionByName(out_row)
    scored = rcf_group_scores(df, "embedding", ("label",), "vec_id").toPandas()
    assert len(scored) == df.count()
    planted = scored[scored.vec_id == 99_999]["score"].iloc[0]
    grp = scored[scored.label == scored[scored.vec_id == 99_999]["label"].iloc[0]]
    assert planted > np.percentile(grp["score"], 99)


def test_rcf_group_scores_deterministic(spark, emb):
    a = rcf_group_scores(emb, "embedding", ("label",), "vec_id").toPandas()
    b = rcf_group_scores(emb, "embedding", ("label",), "vec_id").toPandas()
    a = a.sort_values(["label", "vec_id"]).reset_index(drop=True)
    b = b.sort_values(["label", "vec_id"]).reset_index(drop=True)
    np.testing.assert_array_equal(a["score"].values, b["score"].values)


def test_rcf_group_forecast_shapes(spark):
    ev = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    fc = rcf_group_forecast(ev, "value", ("event_type",), "ts",
                            shingle_size=4, horizon=3).toPandas()
    n_types = ev.select("event_type").distinct().count()
    assert set(fc["step"]) <= {1, 2, 3}
    assert len(fc) <= 3 * n_types
    assert (fc["upper"] >= fc["forecast"] - 1e-9).all()
    assert (fc["lower"] <= fc["forecast"] + 1e-9).all()


def test_glad_group_scores(spark):
    """Per-group GLAD: planted outlier rows grade anomalous within their
    cohort."""
    import numpy as np

    from random_cut_forest_by_aws_spark.operators.rcf_batch import glad_group_scores

    rng = np.random.default_rng(0)
    rows = []
    rid = 0
    for g in ("a", "b"):
        base = rng.normal(5.0 if g == "a" else -5.0, 0.4, (1200, 3))
        for v in base:
            rows.append((g, rid, v.tolist())); rid += 1
        rows.append((g, rid, [50.0, 50.0, 50.0])); rid += 1  # planted outlier
    df = spark.createDataFrame(rows, "g string, rid long, vec array<double>")
    out = glad_group_scores(
        df, "vec", ("g",), "rid", order_col="rid", capacity=128, max_clusters=4
    ).toPandas()
    assert len(out) == len(rows)
    planted = out[out["rid"].isin([1200, 2401])]
    assert (planted["score"] > 3.0).all()
    assert (planted["grade"] > 0).all()
    normal = out[~out["rid"].isin([1200, 2401])]
    # the overwhelming majority of in-distribution rows are not flagged
    assert (normal["grade"] > 0).mean() < 0.05


def test_rcf_group_forecast_timestamps_follow_grid(spark):
    """TimedRangeVector parity: on a perfectly regular grid (gap g, zero
    deviation) the forecast timestamps are last + h·g with upper == lower
    == ts (Preprocessor.invertForecastRange:596-640)."""
    import pandas as pd

    n = 200
    pdf = pd.DataFrame({
        "g": "a",
        "t": np.arange(n, dtype=np.int64) * 10,
        "value": np.sin(np.arange(n) / 5.0),
    })
    df = spark.createDataFrame(pdf)
    fc = rcf_group_forecast(
        df, "value", ("g",), "t", shingle_size=4, horizon=3
    ).toPandas().sort_values("step")
    last = (n - 1) * 10
    np.testing.assert_array_equal(fc["ts"].values, last + 10 * fc["step"].values)
    np.testing.assert_array_equal(fc["ts_upper"].values, fc["ts"].values)
    np.testing.assert_array_equal(fc["ts_lower"].values, fc["ts"].values)


def test_rcf_group_forecast_timestamp_bounds_widen_on_jitter(spark):
    """Irregular cadence ⇒ ts_lower ≤ ts ≤ ts_upper with a strict spread
    (1.3× the discounted gap deviation per step, chained)."""
    import pandas as pd

    rng = np.random.default_rng(4)
    n = 300
    t = np.cumsum(rng.integers(5, 16, n)).astype(np.int64)
    pdf = pd.DataFrame({"g": "a", "t": t, "value": rng.normal(0, 1, n)})
    fc = rcf_group_forecast(
        spark.createDataFrame(pdf), "value", ("g",), "t",
        shingle_size=4, horizon=4,
    ).toPandas().sort_values("step")
    assert (fc["ts_upper"] > fc["ts"]).all()
    assert (fc["ts_lower"] < fc["ts"]).all()
    assert fc["ts"].is_monotonic_increasing
