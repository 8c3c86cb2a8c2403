"""Per-sequence feature vectors for the drift sketch — built-ins only.

The reference consumes dense numeric vectors (``inputtypes/Point.java``);
our rows are token sequences, so we derive a small float vector per row.
Everything here is JVM-side (higher-order array functions, whole-stage
codegen) — the Python/Arrow boundary is crossed only once, by the drift
UDF that consumes the ready-made ``features`` struct. At 10^12 rows this
keeps the hot loop out of Python entirely and lets Catalyst prune
``tokens`` whenever drift isn't requested.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

FEATURE_NAMES = ["log_n_tok", "mean_token", "head_frac", "max_token_frac"]


def token_features(
    tokens_col: str = "tokens",
    n_tok_col: str = "n_tok",
    vocab: int = 50_000,
    head_bucket: int | None = None,
) -> Column:
    """struct<float> (fields ``FEATURE_NAMES``) of log1p(n_tok), mean
    token/vocab, frac tokens in the head of the vocab, max token/vocab —
    cheap, distribution-sensitive summaries that move under both length
    drift and token-skew drift."""
    head = head_bucket if head_bucket is not None else max(1, vocab // 100)
    t = F.col(tokens_col)
    n = F.greatest(F.size(t), F.lit(1)).cast("double")
    mean_token = (
        F.aggregate(t, F.lit(0.0), lambda acc, x: acc + x.cast("double")) / n / float(vocab)
    )
    head_frac = (
        F.size(F.filter(t, lambda x: x < F.lit(head))).cast("double") / n
    )
    max_frac = F.array_max(t).cast("double") / float(vocab)
    cols = (F.log1p(F.col(n_tok_col).cast("double")), mean_token, head_frac, max_frac)
    return F.struct(*(c.cast("float").alias(n) for c, n in zip(cols, FEATURE_NAMES)))
