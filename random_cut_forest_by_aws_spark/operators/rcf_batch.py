"""Grouped-map wrappers exposing the extended RCF query operators
(score / density / forecast / neighbors) as DataFrame transforms.

Each group (bounded by the caller's grouping) trains one forest inside an
Arrow ``applyInPandas`` task and runs the requested query — the Spark
surface for ``core/queries.py``. For the drift/validation pipeline see
``operators/drift.py``; these wrappers serve ad-hoc analytics
(per-cohort outlier ranking, per-series forecasting) over the same
engine core.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..core.forest import RCFForest
from ..core.queries import density as _density
from ..core.queries import extrapolate as _extrapolate
from .drift import _group_seed


def _fit_forest(X: np.ndarray, key, num_trees: int, sample_size: int, seed: int) -> RCFForest:
    """One group's forest, trained on all of its points (no time decay),
    seeded from the group key."""
    forest = RCFForest(
        X.shape[1], num_trees=num_trees, sample_size=sample_size,
        time_decay=0.0, seed=_group_seed(tuple(key), seed),
    )
    forest.update_batch(X)
    return forest


def _per_group(
    df: DataFrame, gcols: list[str], cols: list[str], keep: list[str], fields: str, fn
) -> DataFrame:
    """``fn(key, pdf)`` over each ``gcols`` group of ``df[cols]``, spread
    over max(2 × default parallelism, 16) partitions. ``fn`` returns the
    ``keep`` columns (typed as in ``df``) followed by ``fields`` (DDL)."""
    prefix = ", ".join(f"{c} {t}" for c, t in df.select(*keep).dtypes)
    sc = df.sparkSession.sparkContext
    grouped = df.select(*cols).repartition(max(sc.defaultParallelism * 2, 16), *gcols)
    return grouped.groupBy(*gcols).applyInPandas(fn, f"{prefix}, {fields}")


def rcf_group_scores(
    df: DataFrame,
    vec_col: str,
    group_cols: tuple[str, ...],
    id_col: str,
    num_trees: int = 30,
    sample_size: int = 128,
    seed: int = 42,
    with_density: bool = False,
    approximate: float | None = None,
) -> DataFrame:
    """Train one forest per group on its vectors; emit per-row anomaly
    score (and optionally density) — per-cohort outlier ranking.

    ``approximate`` (a precision, e.g. 0.1) switches scoring to the
    early-converging accumulator (``RCFForest.score_approximate``,
    RandomCutForest.java:858-873): confident rows stop after a few tree
    slabs, trading the (1±p)·score ± p band for less compute on large
    cohorts."""
    gcols = list(group_cols)

    def fn(key, pdf):
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
        forest = _fit_forest(X, key, num_trees, sample_size, seed)
        out = pdf[gcols + [id_col]].copy()
        out["score"] = (
            forest.score_approximate(X, precision=approximate)
            if approximate is not None
            else forest.score(X)
        )
        if with_density:
            out["density"] = _density(forest, X)["density"]
        return out

    fields = "score double" + (", density double" if with_density else "")
    return _per_group(df, gcols, gcols + [id_col, vec_col], gcols + [id_col], fields, fn)


def rcf_group_attributions(
    df: DataFrame,
    vec_col: str,
    group_cols: tuple[str, ...],
    id_col: str,
    num_trees: int = 30,
    sample_size: int = 128,
    seed: int = 42,
    approximate: float | None = None,
) -> DataFrame:
    """Per-row anomaly attribution DiVector per cohort: score plus the
    directional per-dimension split (``getAnomalyAttribution``,
    RandomCutForest.java:891-905) as ``high``/``low`` array columns —
    which dimensions pushed the score, and from which side.

    ``approximate`` (a precision, e.g. 0.1) uses the converging DiVector
    accumulator (``getApproximateAnomalyAttribution``,
    RandomCutForest.java:915-936): the high+low sum still equals the
    approximate score by construction."""
    gcols = list(group_cols)

    def fn(key, pdf):
        X = np.stack(pdf[vec_col].to_numpy()).astype(np.float32)
        forest = _fit_forest(X, key, num_trees, sample_size, seed)
        if approximate is not None:
            hi, lo = forest.attribution_approximate(X, precision=approximate)
        else:
            hi, lo = forest.attribution(X)
        out = pdf[gcols + [id_col]].copy()
        out["score"] = hi.sum(1) + lo.sum(1)
        out["high"] = list(hi)
        out["low"] = list(lo)
        return out

    return _per_group(df, gcols, gcols + [id_col, vec_col], gcols + [id_col],
                      "score double, high array<double>, low array<double>", fn)


def rcf_group_forecast(
    df: DataFrame,
    value_col: str,
    group_cols: tuple[str, ...],
    order_col: str,
    shingle_size: int = 8,
    horizon: int = 4,
    num_trees: int = 30,
    sample_size: int = 128,
    seed: int = 42,
    time_discount: float = 0.01,
) -> DataFrame:
    """Per-series calibrated-range forecasting: shingle each group's
    ordered values, train a forest, extrapolate ``horizon`` steps
    (extrapolateWithRanges analogue).

    Each step also carries forecast **timestamps** (TimedRangeVector
    parity, ``returntypes/TimedRangeVector.java:35-43``): per
    ``Preprocessor.invertForecastRange`` (Preprocessor.java:596-640,
    standard-mode branch) the step timestamp is the previous one plus the
    discounted mean observed gap (timeDrift), with upper/lower bounds at
    ±1.3× the discounted gap deviation (timeGapDifference), chained so
    horizon-h uncertainty accumulates. ``order_col`` may be numeric or a
    timestamp (emitted as epoch millis)."""
    gcols = list(group_cols)

    def fn(key, pdf):
        pdf = pdf.sort_values(order_col, kind="mergesort")
        v = pdf[value_col].to_numpy(np.float64)
        ov = pdf[order_col]
        if np.issubdtype(ov.dtype, np.datetime64):
            tvals = ov.to_numpy("datetime64[ns]").astype(np.int64) // 1_000_000
        else:
            tvals = ov.to_numpy(np.float64)
        rows = []
        if len(v) > shingle_size * 4:
            sh = np.lib.stride_tricks.sliding_window_view(v, shingle_size)
            forest = _fit_forest(sh.astype(np.float32), key, num_trees, sample_size, seed)
            fc = _extrapolate(forest, sh[-1].astype(np.float32), horizon)
            # discounted gap statistics, closed-form (Deviation.java
            # semantics: weight f^{n-1-i} per gap, f = 1 - discount)
            gaps = np.diff(np.asarray(tvals, np.float64))
            if len(gaps):
                f = 1.0 - time_discount
                if f >= 1.0:
                    wsum, s1 = float(len(gaps)), float(gaps.sum())
                    s2 = float((gaps * gaps).sum())
                else:
                    w = f ** np.arange(len(gaps) - 1, -1, -1, dtype=np.float64)
                    wsum = float(w.sum())
                    s1 = float((w * gaps).sum())
                    s2 = float((w * gaps * gaps).sum())
                mean_gap = s1 / wsum
                gap_dev = float(np.sqrt(max(s2 / wsum - mean_gap * mean_gap, 0.0)))
            else:
                mean_gap, gap_dev = 1.0, 0.0
            bound = 1.3 * gap_dev
            t_prev = float(tvals[-1])
            for h in range(horizon):
                ts = t_prev + mean_gap
                ts_up = max(ts, t_prev + mean_gap + bound)
                ts_lo = min(ts, t_prev + max(0.0, mean_gap - bound))
                rows.append(
                    list(key)
                    + [h + 1, float(fc["values"][h]), float(fc["upper"][h]),
                       float(fc["lower"][h]),
                       int(round(ts)), int(round(ts_up)), int(round(ts_lo))]
                )
                t_prev = ts
        return pd.DataFrame(
            rows,
            columns=gcols + ["step", "forecast", "upper", "lower",
                             "ts", "ts_upper", "ts_lower"],
        )

    return _per_group(
        df, gcols, gcols + [order_col, value_col], gcols,
        "step int, forecast double, upper double, lower double, "
        "ts long, ts_upper long, ts_lower long", fn,
    )


def glad_group_scores(
    df: DataFrame,
    vec_col: str,
    group_cols: tuple[str, ...],
    id_col: str,
    order_col: str | None = None,
    capacity: int = 256,
    max_clusters: int = 10,
    representatives: int = 5,
    recluster_within: int | None = None,
    seed: int = 42,
    consider_occlusion: bool = False,
) -> DataFrame:
    """GLAD per group: stream each group's vectors (in ``order_col`` order
    when given) through a GladDetector and emit per-row (score, threshold,
    grade) — the clustering-based alternative to forest scoring for
    multi-modal cohorts (``parkservices/GlobalLocalAnomalyDetector.java:
    38-330`` re-expressed; one detector per group, state never leaves the
    task)."""
    from ..core.glad import GladDetector

    gcols = list(group_cols)

    def fn(key, pdf):
        if order_col is not None:
            pdf = pdf.sort_values(order_col, kind="mergesort")
        det = GladDetector(
            capacity=capacity, max_clusters=max_clusters,
            representatives=representatives, recluster_within=recluster_within,
            seed=_group_seed(tuple(key), seed),
        )
        # vectorized batch: distances computed per frozen-cluster segment,
        # bit-identical to streaming det.process per row (occlusion
        # included: the right-triangle mask is frozen-segment-pure)
        res = det.process_batch(
            np.stack(pdf[vec_col].to_numpy()).astype(np.float64),
            consider_occlusion=consider_occlusion,
        )
        out = pdf[gcols + [id_col]].copy()
        out["score"] = res["score"]
        out["threshold"] = res["threshold"]
        out["grade"] = res["grade"]
        return out

    cols = gcols + [id_col, vec_col]
    if order_col and order_col not in cols:
        cols.append(order_col)
    return _per_group(df, gcols, cols, gcols + [id_col],
                      "score double, threshold double, grade double", fn)
