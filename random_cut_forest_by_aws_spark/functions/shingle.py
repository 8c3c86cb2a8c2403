"""Shingling — the reference's ShingleBuilder as DataFrame transforms.

The reference concatenates the last ``shingle_size`` input vectors into
one point (``util/ShingleBuilder.java:27-48``; internal shingling
``RandomCutForest.java:133-138``). Two Spark idioms:

* ``shingle_column`` — explicit DataFrame shingling via a bounded
  ``Window.rowsBetween`` collect_list (shuffle on the partition key; use
  when the shingled stream feeds further SQL);
* in-UDF ``numpy.sliding_window_view`` (used by
  ``operators/rcf_batch.rcf_group_forecast``) — zero shuffle beyond the
  group-by, preferred inside the drift/forecast operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def shingle_column(
    df: DataFrame,
    value_col: str,
    order_col: str,
    group_cols: tuple[str, ...] = (),
    shingle_size: int = 4,
    out_col: str = "shingle",
    cyclic: bool = False,
) -> DataFrame:
    """Append ``out_col: array<double>`` = the last ``shingle_size``
    values of ``value_col``; rows before the window fills are dropped
    (the reference's isReady gate, ShingleBuilder.java:90).

    ``cyclic=False`` (default): sliding layout, oldest first
    (abcd → bcde). ``cyclic=True``: each new value overwrites the oldest
    slot in place (abcd → ebcd → efcd, ShingleBuilder.java:27-48) — the
    sliding array rotated by ``rowpos % shingle_size``."""
    w = (
        W.partitionBy(*group_cols).orderBy(order_col)
        if group_cols
        else W.orderBy(order_col)
    )
    win = w.rowsBetween(-(shingle_size - 1), 0)
    sl = F.collect_list(F.col(value_col).cast("double")).over(win)
    out = df.withColumn(out_col, sl)
    if cyclic:
        s = shingle_size
        # 0-based tick t = row_number − 1; shingleIndex r = (t+1) % s;
        # cyclic = sliding[s−r:] ++ sliding[:s−r]
        r = F.pmod(F.row_number().over(w), F.lit(s))
        out = out.withColumn(
            out_col,
            F.concat(
                F.slice(F.col(out_col), s - r + 1, r),
                F.slice(F.col(out_col), F.lit(1), s - r),
            ),
        )
    return out.filter(F.size(out_col) == shingle_size)


def flatten_vector_shingle(
    df: DataFrame,
    vec_col: str,
    order_col: str,
    group_cols: tuple[str, ...] = (),
    shingle_size: int = 2,
    out_col: str = "shingle",
) -> DataFrame:
    """Shingle an ``array`` column: concatenation of the last k vectors
    (dimensions = input_dim × shingle_size, as in the reference)."""
    w = (
        W.partitionBy(*group_cols).orderBy(order_col)
        if group_cols
        else W.orderBy(order_col)
    )
    win = w.rowsBetween(-(shingle_size - 1), 0)
    nested = F.collect_list(F.col(vec_col)).over(win)
    out = df.withColumn("_nested", nested).filter(
        F.size("_nested") == shingle_size
    )
    return out.withColumn(out_col, F.flatten("_nested")).drop("_nested")
