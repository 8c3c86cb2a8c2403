"""Scale-adaptive compute-parallelism guard (guide §2.5, "input skew:
one huge unsplittable file").

The reference fixtures (and many real landing zones) deliver a table as
ONE parquet file with ONE row group — Spark plans exactly one scan
task, so any CPU-heavy per-row work fused into the scan (shingle
hashing, winnowing kernels, gram generation, PII regexes) runs on a
single core regardless of cluster width. ``ensure_compute_parallelism``
spreads such inputs with a round-robin repartition BEFORE the heavy
projection; on real multi-split inputs (scan partitions already within
2x of the cluster's parallelism) it is a NO-OP, so production-scale
plans gain no exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_compute_parallelism(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to ``defaultParallelism`` iff its physical
    plan yields at most ``defaultParallelism / 2`` partitions.

    Planning-only probe (no job): the scan's partition count comes from
    the already-listed file splits. Falls back to returning ``df``
    unchanged if the probe fails (e.g. streaming plans)."""
    try:
        sc = df.sparkSession.sparkContext
        dp = sc.defaultParallelism
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n * 2 <= dp:
        return df.repartition(dp)
    return df
