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
from ..core.thresholder import BasicThresholder
from ..operators.drift import (
    DriftConfig,
    _check_config,
    _feature_columns,
    _feature_matrix,
    _load_group_state,
    _new_sketch,
    _Normalizer,
    _resolve_transform,
    _shingle_points,
    _state_dict,
    _transform_chunk,
)


def _pack(forest: RCFForest, th: BasicThresholder, norm: _Normalizer, extras: dict) -> bytes:
    """The sketch as one GroupState blob: the batch checkpoint layout with
    an empty replay buffer."""
    state = _state_dict(forest, th, norm, extras, np.zeros((0, forest.d)), np.zeros(0, np.int64))
    buf = io.BytesIO()
    np.savez_compressed(buf, **state)
    return buf.getvalue()


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
    Each group value is hashed into ``cfg.buckets or 8`` buckets by
    ``order_col``, each carrying its own sketch. ``cfg`` is checked as
    ``drift_scores`` checks it; only ``mode="standard"`` with
    ``scoring="expected_inverse_depth"`` is implemented here, so any
    other mode or scoring raises ``ValueError`` before the query starts.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    cfg = cfg or DriftConfig()
    _check_config(cfg)
    if cfg.mode != "standard" or cfg.scoring != "expected_inverse_depth":
        raise ValueError(
            "streaming drift implements mode='standard' with "
            f"scoring='expected_inverse_depth' only (got mode={cfg.mode!r}, "
            f"scoring={cfg.scoring!r})"
        )
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
        sketch = None
        blocks: list[np.ndarray] = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(order_col, kind="mergesort")
            X = _feature_matrix(pdf, feat_names)
            seqs = pdf[order_col].to_numpy(np.int64)
            if sketch is None:
                tf = _resolve_transform(cfg, X.shape[1])
                sketch = (
                    _load_group_state(io.BytesIO(bytes(state.get[0])), tf["do_sub"])[:4]
                    if state.exists
                    else _new_sketch(cfg, key, X.shape[1], tf)
                )
                forest, th, norm, extras = sketch
            for lo in range(0, len(X), cfg.chunk_size):
                chunk = X[lo : lo + cfg.chunk_size]
                sq = seqs[lo : lo + cfg.chunk_size]
                base, real, xn, raw_last, updated = _transform_chunk(
                    tf, chunk, None, norm, extras["tlast"]
                )
                # shingling parity with the batch operator: the tail of
                # the last s−1 transformed rows rides the state blob, so
                # windows spanning micro-batch boundaries score exactly
                # like an unbroken stream
                pts, row_map, extras["sh_tail"] = _shingle_points(extras["sh_tail"], xn, s_sh)
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
                extras["tlast"] = raw_last
        if sketch is not None:
            state.update((bytearray(_pack(*sketch)),))
        if not blocks:  # nothing scored yet: the forest is still warming up
            return
        cols = key_cols + [order_col, "score", "threshold", "grade"]
        out = np.concatenate(blocks)
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
