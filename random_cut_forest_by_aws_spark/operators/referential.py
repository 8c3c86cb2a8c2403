"""Referential constraint via broadcast anti-join (north_rule b).

The dimension side (valid key set) is always broadcast — at 10^12 fact
rows the anti-join then runs map-side with zero shuffle of the fact
table, and the parquet/Iceberg scan still benefits from column pruning
(only the FK columns are read). The hint holds whatever the dimension's
size: a dimension too large for driver and executor memory fails the
broadcast instead of falling back to a shuffled anti-join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def referential_violations(
    fact: DataFrame,
    dim: DataFrame,
    fact_keys: Sequence[str],
    dim_keys: Sequence[str] | None = None,
) -> DataFrame:
    """Distinct violating foreign-key values with their row counts.

    Aggregating the fact side to distinct keys *before* the join keeps the
    anti-join input small and skew-free regardless of fact-side key
    distribution (a hot FK collapses to one row pre-join).
    """
    # NOT spread (round-6 A/B, see uniqueness.py): the distinct-FK
    # partial aggregate is cheap per row — the exchange loses.
    dim_keys = list(dim_keys or fact_keys)
    fact_keys = list(fact_keys)
    not_null = F.lit(True)
    for k in fact_keys:  # SQL FK semantics: null FKs are ignored, not violations
        not_null = not_null & F.col(k).isNotNull()
    fk_counts = (
        fact.select(*fact_keys)
        .filter(not_null)
        .groupBy(*fact_keys)
        .agg(F.count(F.lit(1)).alias("fact_rows"))
    )
    dim_side = dim.select(*[F.col(d).alias(f) for d, f in zip(dim_keys, fact_keys)]).distinct()
    return fk_counts.join(F.broadcast(dim_side), on=fact_keys, how="left_anti")


def referential_verdict(
    fact: DataFrame,
    dim: DataFrame,
    fact_keys: Sequence[str],
    dim_keys: Sequence[str] | None = None,
) -> DataFrame:
    v = referential_violations(fact, dim, fact_keys, dim_keys)
    return v.agg(
        F.count(F.lit(1)).alias("violating_keys"),
        F.coalesce(F.sum("fact_rows"), F.lit(0)).alias("violating_rows"),
    ).withColumn("passed", F.col("violating_keys") == 0)
