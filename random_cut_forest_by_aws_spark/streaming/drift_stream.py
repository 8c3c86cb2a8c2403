"""Structured Streaming drift scoring — the reference's streaming TRCF
``process()`` loop (``parkservices/ThresholdedRandomCutForest.java:
234-277``: preprocess → score → threshold → update per record) as a
stateful grouped-map over micro-batches.

Each group key (source × bucket) carries its forest + thresholder +
normalizer as GroupState (one binary blob, npz-serialized — the same
format as the batch checkpoint). Watermarking/late data follow Spark
semantics: within a micro-batch rows are processed in ``order_col``
order; cross-batch ordering is the stream's responsibility (the
reference likewise accepts caller-ordered sequence indexes,
``RandomCutForest.java:604-614``).

Emits one row per scored record with (score, threshold, grade) — the
AnomalyDescriptor analogue — so downstream sinks can alert on grade > 0.
"""

from __future__ import annotations

import io

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core.forest import RCFForest
from ..core.thresholder import BasicThresholder, Deviation
from ..operators.drift import (
    DriftConfig,
    _feature_columns,
    _feature_matrix,
    _group_seed,
    _load_group_state,
    _Normalizer,
    _resolve_transform,
    _shingle_points,
    _state_dict,
    _transform_chunk,
)


def _pack(
    forest: RCFForest,
    th: BasicThresholder,
    norm: _Normalizer,
    tlast: np.ndarray,
    sh_tail: np.ndarray | None = None,
) -> bytes:
    extras = {"baseline": Deviation(0.01), "tlast": tlast}
    if sh_tail is not None:
        extras["sh_tail"] = sh_tail
    state = _state_dict(
        forest, th, norm,
        extras,
        np.zeros((0, forest.d)), np.zeros(0, np.int64),
    )
    buf = io.BytesIO()
    np.savez_compressed(buf, **state)
    return buf.getvalue()


def _unpack(blob: bytes, mean_only: bool = False, base_dim: int | None = None):
    forest, th, raw, extras = _load_group_state(io.BytesIO(blob))
    d = base_dim or forest.d
    norm = _Normalizer(d, 0.0, 100.0, mean_only=mean_only)
    norm.load_state(raw)
    tlast = extras.get("tlast", np.full(d, np.nan))
    sh_tail = extras.get("sh_tail", np.zeros((0, d), np.float32))
    return forest, th, norm, tlast, sh_tail


def streaming_drift_scores(
    df: DataFrame,
    feature_col: str = "features",
    group_cols: tuple[str, ...] = ("source",),
    order_col: str = "seq",
    cfg: DriftConfig | None = None,
) -> DataFrame:
    """Streaming DataFrame → per-record anomaly descriptors.

    ``df`` must be a streaming DataFrame already carrying ``order_col``
    and ``feature_col``: a struct of numeric fields, one per dimension in
    field order (``F.struct(...)``; see functions.token_features). Any
    other feature type raises ``TypeError`` before the query starts.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    cfg = cfg or DriftConfig()
    feat_names, feat_cols = _feature_columns(df, feature_col)
    gcols = list(group_cols)
    buckets = cfg.buckets or 8
    bucketed = df.select(
        *gcols,
        F.pmod(F.xxhash64(F.col(order_col), F.lit(cfg.seed)), F.lit(buckets))
        .cast("int")
        .alias("bucket"),
        F.col(order_col),
        *feat_cols,
    )
    key_cols = gcols + ["bucket"]
    key_fields = [
        StructField(c, t, True)
        for c, t in zip(
            key_cols,
            [f.dataType for f in bucketed.select(*key_cols).schema.fields],
        )
    ]
    out_schema = StructType(
        key_fields
        + [
            StructField(order_col, LongType()),
            StructField("score", DoubleType()),
            StructField("threshold", DoubleType()),
            StructField("grade", DoubleType()),
        ]
    )
    state_schema = StructType([StructField("blob", BinaryType())])

    s_sh = max(1, cfg.shingle_size)

    def fn(key, pdf_iter, state):
        tf = None
        if state.exists:
            forest, th, norm, tlast, sh_tail = _unpack(
                bytes(state.get[0]),
                mean_only=(cfg.transform == "subtract_ma"),
                base_dim=None,
            )
            tf = _resolve_transform(cfg, forest.d // s_sh)
        else:
            forest = None
            th = norm = tlast = sh_tail = None
        blocks: list[np.ndarray] = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(order_col, kind="mergesort")
            X = _feature_matrix(pdf, feat_names)
            seqs = pdf[order_col].to_numpy(np.int64)
            if forest is None:
                tf = _resolve_transform(cfg, X.shape[1])
                forest = RCFForest(
                    X.shape[1] * s_sh,
                    num_trees=cfg.num_trees,
                    sample_size=cfg.sample_size,
                    time_decay=cfg.time_decay,
                    seed=_group_seed(tuple(key), cfg.seed),
                )
                th = BasicThresholder(z_factor=cfg.z_factor)
                norm = _Normalizer(
                    X.shape[1], cfg.norm_discount if tf["do_stat"] else 0.0,
                    cfg.clip_factor, mean_only=tf["do_sub"],
                )
                tlast = np.full(X.shape[1], np.nan)
                sh_tail = np.zeros((0, X.shape[1]), np.float32)
            for lo in range(0, len(X), cfg.chunk_size):
                chunk = X[lo : lo + cfg.chunk_size]
                sq = seqs[lo : lo + cfg.chunk_size]
                base, real, xn, raw_last, updated = _transform_chunk(
                    tf, chunk, None, norm, tlast
                )
                # shingling parity with the batch operator: the tail of
                # the last s−1 transformed rows rides the state blob, so
                # windows spanning micro-batch boundaries score exactly
                # like an unbroken stream
                pts, row_map, sh_tail = _shingle_points(sh_tail, xn, s_sh)
                sq_p = sq[row_map]
                if forest.is_output_ready and len(pts):
                    scores = forest.score(pts)
                    thr_arr, grade_arr = th.process_batch(
                        scores, normalized=tf["do_norm"]
                    )
                    blocks.append(
                        np.column_stack(
                            [sq_p.astype(np.float64), scores, thr_arr, grade_arr]
                        )
                    )
                if tf["do_stat"] and not updated and len(real):
                    norm.update(real)
                if len(pts):
                    forest.update_batch(pts, seqs=sq_p)
                tlast = raw_last
        if forest is not None:
            state.update(
                (bytearray(_pack(forest, th, norm, tlast, sh_tail)),)
            )
        cols = key_cols + [order_col, "score", "threshold", "grade"]
        out = (
            np.concatenate(blocks)
            if blocks
            else np.zeros((0, 4))
        )
        pdf_out = pd.DataFrame(
            {c: [k] * len(out) for c, k in zip(key_cols, key)}
            | {
                order_col: out[:, 0].astype(np.int64),
                "score": out[:, 1],
                "threshold": out[:, 2],
                "grade": out[:, 3],
            }
        )
        yield pdf_out[cols]

    return bucketed.groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )
