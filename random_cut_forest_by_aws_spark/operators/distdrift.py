"""Snapshot-to-snapshot distribution drift (PSI / JS / L-inf / TVD / chi2).

The RCF drift operator (``operators/drift.py``) answers "is this point
anomalous given the stream so far?" — the sketch the reference engine
exists for. Production validation pipelines ask a second, complementary
question: "did the *distribution* of a column move between two snapshots
of the table?" (yesterday's corpus vs today's crawl, train vs serve).
This operator is the classic statistical-drift toolbox over histogram
aggregates — the TFDV / deequ-style checks — expressed as pure
DataFrame aggregations so the whole computation is one map-side-combined
histogram aggregate plus arithmetic over the tiny pivoted histogram.

Metrics per group (all computed from smoothed bin probabilities
``p_i = (a_i + s) / (A + s·B)`` with ``s`` the Laplace smoothing constant
and ``B`` the number of distinct bins observed in the union — the
standard guard against ln(0) that keeps every metric finite and exactly
replayable in any engine):

* ``psi``  — Population Stability Index: sum (p−q)·ln(p/q). The industry
  drift score (>0.1 moderate, >0.25 major shift).
* ``js_div`` — Jensen–Shannon divergence (natural log): ½KL(p‖m)+½KL(q‖m),
  m = (p+q)/2. Bounded [0, ln 2], symmetric.
* ``linf`` — Chebyshev / L-infinity distance max|p−q| (TFDV's categorical
  drift statistic).
* ``tvd``  — total variation distance ½·sum|p−q|.
* ``chi2`` — two-sample chi-square with pooled expecteds
  E_a,i = (a_i+b_i)·A/(A+B) over raw (unsmoothed) counts.

Every comparator is a short front end over ONE pipeline: side-tagged
weighted entries ``(keys..., __side, __w)`` → ``_pivot_counts`` →
``_drift_metrics`` (``_centroid_metrics`` for embeddings). The front
ends only build the entries: ``_bin_entries`` (one column),
``_stacked_entries`` (many columns), ``_gram_entries`` (token n-grams)
or ``_embedding_entries``, tagged ``F.lit(0)``/``F.lit(1)`` per
snapshot or ``F.col("__side")`` after ``_split_side`` (both snapshots
in one table); a stored profile enters as rows weighted by its counts.

Scale shape (what Catalyst sees at 10^12 rows): the two snapshots are
tagged with a side bit and unioned, and ONE partial→final HashAggregate
on (group, bin) pivots the sides into (cnt_a, cnt_b) via conditional
sums — a single exchange bounded by cardinality(group)×n_bins total
(map-side combine, scan pruned to the grouped columns), no join stage.
Per-group totals are a second tiny aggregate broadcast back, and the
metric arithmetic runs over the joined histogram. Nothing row-scale
crosses an exchange after the first aggregate; no driver collect.

Binning is caller-controlled and integer-exact: ``bin_width`` maps a
numeric column to ``floor(value / bin_width)`` (deterministic, no
float bin-edge ambiguity); ``bin_width=None`` treats the column's
values as categorical bins directly. NULL values form their own bin
(distribution shift in null-rate is drift too).

Reference analogue: the engine's RCF drift detector consumes the same
tokenized-sequence features per group; this operator is the batch
two-snapshot complement (no reference counterpart — north-star
"validation engine" surface, cf. deequ's ``KLLDistance``/TFDV's
``jensen_shannon_divergence`` drift comparators).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _pivot_counts(tagged: DataFrame, keys: list[str], gkeys: list[str]) -> DataFrame:
    """Aggregate a side-tagged weighted entry relation (``keys...,
    __side, __w``) into the joined histogram ``(keys..., cnt_a, cnt_b,
    n_base, n_curr, n_bins)`` with ONE shuffle.

    Earlier shape was two per-side aggregates full-outer-joined on
    null-safe keys — two exchanges plus a join stage; tagging the sides
    and pivoting with conditional sums inside a single aggregate halves
    the stage count (measured ~2× wall at 2M rows) and makes NULL-bin
    handling trivial: a (group, bin) observed on either side gets a row
    with the other side's count 0, exactly the full-outer-with-coalesce
    semantics, and groupBy already treats NULL as a key. ``__w`` is 1
    for raw rows and the stored count for pre-aggregated baseline
    profile rows (snapshot_drift_vs_profile).
    """
    joined = tagged.groupBy(*keys).agg(
        F.sum(F.when(F.col("__side") == 0, F.col("__w")).otherwise(0))
        .cast("long").alias("cnt_a"),
        F.sum(F.when(F.col("__side") == 1, F.col("__w")).otherwise(0))
        .cast("long").alias("cnt_b"),
    )
    # Per-group totals + union-bin counts: aggregate of an aggregate —
    # tiny input, tiny output, broadcast back onto the histogram.
    totals = joined.groupBy(*gkeys).agg(
        F.sum("cnt_a").alias("n_base"),
        F.sum("cnt_b").alias("n_curr"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    if not gkeys:
        return joined.crossJoin(F.broadcast(totals))
    # null-safe keys, so a NULL group finds its own totals (an equi-join
    # on the group keys would drop it)
    renamed = [f"__g{i}" for i in range(len(gkeys))]
    totals = totals.toDF(*renamed, "n_base", "n_curr", "n_bins")
    on = [F.col(g).eqNullSafe(F.col(r)) for g, r in zip(gkeys, renamed)]
    return joined.join(F.broadcast(totals), on).drop(*renamed)


def _split_side(df: DataFrame, base_predicate) -> DataFrame:
    """``df`` with ``__side`` computed from a predicate (Column or SQL
    string): 0 where TRUE, 1 where FALSE; rows where it is NULL are
    dropped, since they cannot be attributed to either snapshot."""
    pred = F.expr(base_predicate) if isinstance(base_predicate, str) else base_predicate
    return df.withColumn(
        "__side", F.when(pred, F.lit(0)).when(~pred, F.lit(1))
    ).filter(F.col("__side").isNotNull())


def _bin_entries(
    df: DataFrame,
    value_col: str,
    group_by: list[str],
    bin_width: float | None,
    side: Column,
) -> DataFrame:
    """One ``(group..., bin, __side, __w)`` entry per row of ``df``."""
    v = F.col(value_col)
    b = (F.floor(v / F.lit(bin_width)).cast("long")
         if bin_width is not None else v.cast("string"))
    return df.select(*group_by, b.alias("bin"), side.alias("__side"),
                     F.lit(1).cast("long").alias("__w"))


def _smoothed(smoothing: float) -> tuple[Column, Column]:
    """Smoothed bin probabilities ``(p, q)`` of a pivoted histogram's
    base and current sides."""
    s = F.lit(float(smoothing))
    nb = F.col("n_bins").cast("double")
    p = (F.col("cnt_a").cast("double") + s) / (F.col("n_base").cast("double") + s * nb)
    q = (F.col("cnt_b").cast("double") + s) / (F.col("n_curr").cast("double") + s * nb)
    return p, q


def _drift_metrics(
    tagged: DataFrame,
    gkeys: list[str],
    bin_cols: list[str],
    lead_col: str | None,
    w1_width,
    smoothing: float,
    round_dp: int,
) -> DataFrame:
    """Shared metric block over a side-tagged entry relation: pivots it
    on ``gkeys + bin_cols`` and returns one output row per ``gkeys``
    with the full metric set. ``bin_cols`` also define the ECDF order
    for KS/W1 (NULL bins first, matching Spark's default asc order);
    ``lead_col`` is the numeric bin column used for W1 step weights;
    ``w1_width`` is a double Column (NULL ⇒ W1 undefined)."""
    hist = _pivot_counts(tagged, gkeys + bin_cols, gkeys)
    a = F.col("cnt_a").cast("double")
    b = F.col("cnt_b").cast("double")
    A = F.col("n_base").cast("double")
    B = F.col("n_curr").cast("double")
    p, q = _smoothed(smoothing)
    m = (p + q) / F.lit(2.0)

    psi_term = (p - q) * (F.log(p) - F.log(q))
    js_term = F.lit(0.5) * (p * (F.log(p) - F.log(m)) + q * (F.log(q) - F.log(m)))
    # chi2 over raw counts with pooled expecteds; bins empty on one side
    # contribute (count - E)^2 / E with E > 0 whenever a_i + b_i > 0,
    # which holds for every bin the full-outer join can produce.
    ea = (a + b) * A / (A + B)
    eb = (a + b) * B / (A + B)
    chi2_term = (a - ea) * (a - ea) / ea + (b - eb) * (b - eb) / eb

    # KS runs over the tiny joined histogram: an ordered running sum of
    # the per-bin ECDF gap. The window partitions on the group keys only
    # — aggregate-bounded input, so the per-partition sort is over
    # |bins| rows, never row-scale.
    order = [F.col(c).asc_nulls_first() for c in bin_cols]
    wks = (
        Window.partitionBy(*gkeys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ks_term = F.abs(F.sum(a / A - b / B).over(wks))
    # W1 over binned ECDFs: between observed bin i and the NEXT observed
    # bin the ECDF gap is constant, so each |cum gap| is weighted by the
    # integer bin distance to its successor (exact under interior holes;
    # the last bin's cum gap is the total-mass difference ≈ 0 and gets
    # step 0). A NULL bin sorts first and is assigned step 1 — transport
    # to/from "missing" has no metric meaning, one bin width is the
    # documented convention. ``lead_col=None`` ⇒ W1 undefined (string
    # bins: the step arithmetic must not even be planned — string
    # subtraction throws under ANSI); per-row NULL lead_col values or a
    # NULL w1_width also propagate to a NULL w1.
    if lead_col is not None:
        word = Window.partitionBy(*gkeys).orderBy(*order)
        nxt = F.lead(lead_col).over(word)
        step = (
            F.when(nxt.isNull(), F.lit(0.0))
            .when(F.col(lead_col).isNull(), F.lit(1.0))
            .otherwise((nxt - F.col(lead_col)).cast("double"))
        )
        w1_term = ks_term * step * w1_width
    else:
        w1_term = F.lit(None).cast("double")

    per_bin = hist.select(
        *gkeys,
        psi_term.alias("psi_t"),
        js_term.alias("js_t"),
        F.abs(p - q).alias("ad"),
        chi2_term.alias("chi2_t"),
        ks_term.alias("ks_t"),
        w1_term.alias("w1_t"),
        F.col("n_bins"),
        F.col("n_base"),
        F.col("n_curr"),
    )
    return per_bin.groupBy(*gkeys).agg(
        F.first("n_bins").alias("n_bins"),
        F.first("n_base").alias("n_base"),
        F.first("n_curr").alias("n_curr"),
        F.round(F.sum("psi_t"), round_dp).alias("psi"),
        F.round(F.sum("js_t"), round_dp).alias("js_div"),
        F.round(F.max("ad"), round_dp).alias("linf"),
        F.round(F.sum("ad") / F.lit(2.0), round_dp).alias("tvd"),
        F.round(F.sum("chi2_t"), round_dp).alias("chi2"),
        F.round(F.max("ks_t"), round_dp).alias("ks"),
        F.round(F.sum("w1_t"), round_dp).alias("w1"),
    )


def snapshot_drift(
    base: DataFrame,
    current: DataFrame,
    value_col: str,
    group_by: Sequence[str] = (),
    bin_width: float | None = None,
    smoothing: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """Distribution-drift metrics between two snapshots of one column.

    Returns one row per group with columns
    ``(group..., n_bins, n_base, n_curr, psi, js_div, linf, tvd, chi2,
    ks, w1)`` — every metric rounded to ``round_dp`` so results replay
    exactly across engines.

    ``ks`` is the two-sample Kolmogorov–Smirnov statistic over the
    binned empirical CDFs: max |F_base − F_curr| with cumulative counts
    taken in ascending-bin order (NULL bin first, matching Spark's
    default sort). Unlike the other metrics it uses the RAW (unsmoothed)
    counts — the textbook statistic — and for ``bin_width=None``
    (categorical) the CDF order is the deterministic binary string
    order, which makes it order-sensitive but still engine-exact.

    ``w1`` is the Wasserstein-1 / earth-mover distance over the binned
    ECDFs — ``sum |F_base − F_curr|`` per bin step, scaled by
    ``bin_width`` so it reads in the column's units (Evidently's
    numeric-drift statistic). Emitted only for numeric binning
    (``bin_width`` set); for categorical bins transport distance is
    undefined and the column is NULL.
    """
    group_by = list(group_by)
    tagged = (_bin_entries(base, value_col, group_by, bin_width, F.lit(0))
              .unionByName(_bin_entries(current, value_col, group_by, bin_width, F.lit(1))))
    if bin_width is not None:
        return _drift_metrics(tagged, group_by, ["bin"], "bin",
                              F.lit(float(bin_width)), smoothing, round_dp)
    return _drift_metrics(tagged, group_by, ["bin"], None, None,
                          smoothing, round_dp)


def snapshot_drift_multi(
    base: DataFrame,
    current: DataFrame,
    value_cols: dict[str, float | None],
    group_by: Sequence[str] = (),
    smoothing: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """Whole-table drift profile: ``snapshot_drift`` for MANY columns in
    ONE scan per snapshot.

    ``value_cols`` maps column name → ``bin_width`` (None = categorical).
    Output adds a ``column`` key ahead of the metric set — one row per
    (group..., column).

    Scale shape: instead of k separate jobs (k scans of a 100 TB table
    per snapshot), every row explodes into k (column, bin) entries
    INSIDE the scan stage, immediately collapsed by one map-side-combined
    HashAggregate on (group, column, bin) — a single exchange per
    snapshot bounded by |groups|·k·|bins|, and one FileScan per snapshot
    regardless of how many columns are profiled. Numeric bins land in a
    ``bin_num`` long column, categorical values in ``bin_cat`` (exactly
    one non-null unless the value itself was NULL ⇒ the column's NULL
    bin), so numeric ECDF order is preserved per column for KS/W1 while
    everything shares one stacked relation.
    """
    group_by = list(group_by)
    tagged = (_stacked_entries(base, value_cols, group_by, F.lit(0))
              .unionByName(_stacked_entries(current, value_cols, group_by, F.lit(1))))
    return _column_drift(tagged, value_cols, group_by, smoothing, round_dp)


def _stacked_entries(
    df: DataFrame,
    value_cols: dict[str, float | None],
    group_by: list[str],
    side: Column,
) -> DataFrame:
    """Explode each row into k (column, bin_num, bin_cat) entries with a
    side tag and unit weight — the input shape of _pivot_counts.
    ``side`` is ``F.lit(0)``/``F.lit(1)`` for a whole snapshot, or
    ``F.col("__side")`` after ``_split_side``."""
    if not value_cols:
        raise ValueError("value_cols must name at least one column")
    entries = []
    for c, bw in value_cols.items():
        v = F.col(c)
        if bw is not None:
            bn = F.floor(v / F.lit(float(bw))).cast("long")
            bc = F.lit(None).cast("string")
        else:
            bn = F.lit(None).cast("long")
            bc = v.cast("string")
        entries.append(F.struct(
            F.lit(c).alias("column"), bn.alias("bin_num"), bc.alias("bin_cat")
        ))
    ex = df.select(*group_by, side.alias("__side"),
                   F.explode(F.array(*entries)).alias("e"))
    return ex.select(*group_by, "e.column", "e.bin_num", "e.bin_cat", "__side",
                     F.lit(1).cast("long").alias("__w"))


def _column_drift(
    tagged: DataFrame,
    value_cols: dict[str, float | None],
    group_by: list[str],
    smoothing: float,
    round_dp: int,
) -> DataFrame:
    """Metric rows per (group..., column) of stacked entries; the W1
    step width is each column's bin width, NULL for categorical ones."""
    width = F.lit(None).cast("double")
    for c, bw in value_cols.items():
        if bw is not None:
            width = F.when(F.col("column") == c, F.lit(float(bw))).otherwise(width)
    gkeys = group_by + ["column"]
    return _drift_metrics(tagged, gkeys, ["bin_num", "bin_cat"], "bin_num",
                          width, smoothing, round_dp)


def snapshot_drift_split(
    df: DataFrame,
    base_predicate,
    value_cols: dict[str, float | None],
    group_by: Sequence[str] = (),
    smoothing: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """``snapshot_drift_multi`` where both snapshots live in ONE table
    split by a predicate (yesterday/today partitions, A/B cohorts,
    train/serve flags) — the most common comparison, and the one where
    two-DataFrame snapshots waste a scan: ``base.filter(p)`` and
    ``current.filter(!p)`` of the same table plan two FileScans.
    Here the side is computed as an expression inside ONE scan.

    ``base_predicate`` is a boolean Column or SQL string; rows where it
    is TRUE are the baseline, FALSE the current snapshot, NULL excluded
    (a row that cannot be attributed to a side must not silently load
    either histogram).
    """
    group_by = list(group_by)
    tagged = _stacked_entries(_split_side(df, base_predicate), value_cols,
                              group_by, F.col("__side"))
    return _column_drift(tagged, value_cols, group_by, smoothing, round_dp)


def histogram_profile(
    df: DataFrame,
    value_cols: dict[str, float | None],
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Persistable histogram snapshot of a corpus: per-(group, column,
    bin) counts — ``(group..., column, bin_num, bin_cat, cnt)`` — from
    ONE scan, sized |groups|·k·|bins| however large the corpus.

    This is the baseline-comparison workflow at 100 TB: store TODAY's
    tiny profile next to the data; tomorrow's drift check reads the
    stored profile and scans only tomorrow's corpus
    (``snapshot_drift_vs_profile``) — yesterday's 100 TB is never
    rescanned.
    """
    group_by = list(group_by)
    ex = _stacked_entries(df, value_cols, group_by, F.lit(0))
    return (
        ex.groupBy(*group_by, "column", "bin_num", "bin_cat")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def snapshot_drift_vs_profile(
    profile: DataFrame,
    current: DataFrame,
    value_cols: dict[str, float | None],
    group_by: Sequence[str] = (),
    smoothing: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """``snapshot_drift_multi`` of ``current`` against a STORED
    ``histogram_profile`` — identical output, but the baseline side
    enters the single pivot aggregate as pre-weighted profile rows
    (weight = stored count), so only ``current`` is scanned.
    ``value_cols`` must match the profile's binning exactly (same
    columns, same bin widths) — the bins are compared by value.
    """
    group_by = list(group_by)
    curr_tagged = _stacked_entries(current, value_cols, group_by, F.lit(1))
    tagged = profile.select(
        *group_by, "column", "bin_num", "bin_cat",
        F.lit(0).alias("__side"), F.col("cnt").cast("long").alias("__w"),
    ).unionByName(curr_tagged)
    return _column_drift(tagged, value_cols, group_by, smoothing, round_dp)


def embedding_drift(
    base: DataFrame,
    current: DataFrame,
    emb_col: str,
    group_by: Sequence[str] = (),
    round_dp: int = 6,
) -> DataFrame:
    """Centroid drift of an embedding column between two snapshots.

    Per group: ``(group..., dims, n_base, n_curr, centroid_cosine,
    centroid_l2, centroid_linf, norm_base, norm_curr)`` — cosine
    similarity between the two per-group mean vectors, the L2 / L-inf
    distance between them, and each centroid's norm. A corpus whose
    embedding distribution moved (new topic mix, encoder change) shows
    up as cosine < 1 long before per-document metrics do — the
    embedding-space analogue of ``snapshot_drift``.

    Scale shape: ``posexplode`` multiplies rows ×dims BEFORE a
    partial→final HashAggregate on (group, dim) — map-side combine
    collapses each task to at most |groups|×dims partial rows, so the
    exchange is aggregate-bounded, never row-scale. The metric
    arithmetic runs over |groups|×dims rows. Rows with NULL
    embeddings are dropped by posexplode (count them upstream with a
    completeness check if null-rate matters). float32 values are cast
    to double BEFORE summing (exact widening), so the oracle replays
    the arithmetic with the same precision.
    """
    group_by = list(group_by)
    tagged = (_embedding_entries(base, emb_col, group_by, F.lit(0))
              .unionByName(_embedding_entries(current, emb_col, group_by, F.lit(1))))
    return _centroid_metrics(tagged, group_by, round_dp)


def _embedding_entries(
    df: DataFrame, emb_col: str, group_by: list[str], side: Column
) -> DataFrame:
    """One ``(group..., dim, val, __side, __w)`` entry per embedding
    element, unit weight."""
    return df.select(
        *group_by,
        F.posexplode(F.col(emb_col)).alias("dim", "val"),
        side.alias("__side"),
        F.lit(1).cast("long").alias("__w"),
    )


def _centroid_metrics(tagged: DataFrame, group_by: list[str], round_dp: int) -> DataFrame:
    """Per-group cosine/L2/L-inf centroid arithmetic over side-tagged
    weighted ``(group..., dim, val, __side, __w)`` moment entries.

    ONE (group, dim) aggregate with conditional sums (the single-exchange
    shape of _pivot_counts) gives each side's sum and weight; a dim
    with no entries on one side has a NULL weight there, and ``c > 0``
    drops it (inner-join semantics between the two centroids)."""
    side_a = F.col("__side") == 0
    side_b = F.col("__side") == 1
    val = F.col("val").cast("double")
    cent = (
        tagged.groupBy(*group_by, "dim")
        .agg(
            F.sum(F.when(side_a, val)).alias("s_a"),
            F.sum(F.when(side_a, F.col("__w"))).alias("c_a"),
            F.sum(F.when(side_b, val)).alias("s_b"),
            F.sum(F.when(side_b, F.col("__w"))).alias("c_b"),
        )
        .filter((F.col("c_a") > 0) & (F.col("c_b") > 0))
    )
    j = cent.select(
        *group_by,
        "dim",
        (F.col("s_a") / F.col("c_a").cast("double")).alias("m_a"),
        (F.col("s_b") / F.col("c_b").cast("double")).alias("m_b"),
        "c_a",
        "c_b",
    )

    ma, mb = F.col("m_a"), F.col("m_b")
    agg = j.groupBy(*group_by).agg(
        F.count(F.lit(1)).cast("bigint").alias("dims"),
        F.first("c_a").cast("bigint").alias("n_base"),
        F.first("c_b").cast("bigint").alias("n_curr"),
        F.sum(ma * mb).alias("__dot"),
        F.sum(ma * ma).alias("__na2"),
        F.sum(mb * mb).alias("__nb2"),
        F.sum((ma - mb) * (ma - mb)).alias("__d2"),
        F.max(F.abs(ma - mb)).alias("__linf"),
    )
    cos = F.when(
        (F.col("__na2") > 0) & (F.col("__nb2") > 0),
        F.col("__dot") / (F.sqrt(F.col("__na2")) * F.sqrt(F.col("__nb2"))),
    )
    return agg.select(
        *group_by,
        "dims",
        "n_base",
        "n_curr",
        F.round(cos, round_dp).alias("centroid_cosine"),
        F.round(F.sqrt(F.col("__d2")), round_dp).alias("centroid_l2"),
        F.round(F.col("__linf"), round_dp).alias("centroid_linf"),
        F.round(F.sqrt(F.col("__na2")), round_dp).alias("norm_base"),
        F.round(F.sqrt(F.col("__nb2")), round_dp).alias("norm_curr"),
    )


def embedding_profile(
    df: DataFrame,
    emb_col: str,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Persistable centroid-moment snapshot of an embedding column:
    per-(group, dim) ``(s, c)`` sums/counts — |groups|·dims rows from
    one scan, the embedding-space analogue of ``histogram_profile``.
    Store it per corpus snapshot; ``embedding_drift_vs_profile``
    compares a later corpus against it without rescanning this one.
    """
    group_by = list(group_by)
    ex = df.select(*group_by, F.posexplode(F.col(emb_col)).alias("dim", "val"))
    return ex.groupBy(*group_by, "dim").agg(
        F.sum(F.col("val").cast("double")).alias("s"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )


def embedding_drift_vs_profile(
    profile: DataFrame,
    current: DataFrame,
    emb_col: str,
    group_by: Sequence[str] = (),
    round_dp: int = 6,
) -> DataFrame:
    """``embedding_drift`` of ``current`` against a STORED
    ``embedding_profile`` — the baseline side enters the single
    (group, dim) aggregate as pre-aggregated moment rows, so only
    ``current`` is scanned."""
    group_by = list(group_by)
    tagged = profile.select(
        *group_by, "dim",
        F.col("s").cast("double").alias("val"),
        F.lit(0).alias("__side"),
        F.col("c").cast("long").alias("__w"),
    ).unionByName(_embedding_entries(current, emb_col, group_by, F.lit(1)))
    return _centroid_metrics(tagged, group_by, round_dp)


def snapshot_drift_bins(
    base: DataFrame,
    current: DataFrame,
    value_col: str,
    group_by: Sequence[str] = (),
    bin_width: float | None = None,
    smoothing: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """Per-bin drift evidence: counts, smoothed probabilities and the
    per-bin PSI contribution — the detail rows behind ``snapshot_drift``
    (which bins moved, not just that the column moved)."""
    group_by = list(group_by)
    tagged = (_bin_entries(base, value_col, group_by, bin_width, F.lit(0))
              .unionByName(_bin_entries(current, value_col, group_by, bin_width, F.lit(1))))
    hist = _pivot_counts(tagged, group_by + ["bin"], group_by)
    p, q = _smoothed(smoothing)
    return hist.select(
        *group_by,
        "bin",
        "cnt_a",
        "cnt_b",
        F.round(p, round_dp).alias("p_base"),
        F.round(q, round_dp).alias("p_curr"),
        F.round((p - q) * (F.log(p) - F.log(q)), round_dp).alias("psi_contrib"),
    )


def _gram_entries(
    df: DataFrame,
    tokens_col: str,
    group_by: list[str],
    ngram: int,
    sep: str,
    side: Column,
) -> DataFrame:
    """One ``(group..., bin, __side, __w)`` entry per n-gram occurrence
    of a token-array column, the bin being the gram as a string.

    ``ngram=1`` bins the tokens themselves cast to string (works for
    ``array<int>`` token ids and ``array<string>`` word tokens alike).
    ``ngram>1`` bins the ``size−ngram+1`` adjacent grams joined with
    ``sep`` via ``concat_ws`` — which SKIPS NULL elements in both Spark
    and DuckDB, the documented (engine-portable) convention for NULL
    tokens inside a gram. The index ``sequence`` is guarded by an
    explicit ``when(size >= ngram)`` rather than NULL propagation:
    with ANSI off ``size(NULL) = -1`` and ``sequence(1, -1)`` THROWS
    (mixed-direction bounds) — the round-5 gotcha in CLAUDE.md.
    NULL / empty / shorter-than-ngram arrays yield an empty gram array,
    which ``explode`` drops (a document with no grams contributes no
    histogram mass).
    """
    if ngram < 1:
        raise ValueError("ngram must be >= 1")
    grams = sv = F.transform(F.col(tokens_col), lambda x: x.cast("string"))
    if ngram > 1:
        n = F.size(sv)
        idx = F.sequence(F.lit(1), n - F.lit(ngram - 1))
        grams = F.when(
            n >= F.lit(ngram),
            F.transform(idx, lambda i: F.concat_ws(
                sep, *[F.element_at(sv, i + F.lit(j)) for j in range(ngram)])),
        ).otherwise(F.array().cast("array<string>"))
    return df.select(*group_by, F.explode(grams).alias("bin"),
                     side.alias("__side"), F.lit(1).cast("long").alias("__w"))


def token_drift(
    base: DataFrame,
    current: DataFrame,
    tokens_col: str,
    group_by: Sequence[str] = (),
    ngram: int = 1,
    sep: str = " ",
    smoothing: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """Vocabulary-distribution drift between two snapshots of a
    token-array column — the tokens-axis validation check for the
    north-star table shape ``(doc_id, tokens:array<int32>, n_tok,
    source)``: did the unigram (or n-gram) token distribution of the
    new crawl move against the previous one?

    Each token OCCURRENCE (or adjacent n-gram occurrence) is one
    histogram observation; the bin is the token id / word cast to
    string (n-grams joined with ``sep``). Output is one row per group
    with the full ``snapshot_drift`` metric set (psi, js_div, linf,
    tvd, chi2, ks; w1 is NULL — transport distance over a categorical
    vocabulary is undefined). A tokenizer change, a new source's
    vocabulary, or a language shift shows up here before any scalar
    column moves.

    Scale shape at 10^12 sequences: the explode happens INSIDE the scan
    stage and is immediately collapsed by the ONE map-side-combined
    HashAggregate of ``_pivot_counts`` on (group, gram) — the exchange
    is bounded by |groups| × |observed gram vocabulary| (≈ 2^15..2^17
    for a BPE unigram vocab; bigrams by the OBSERVED pair set), never
    by token-occurrence row count. No join stage, no driver collect.

    Reference analogue: none in the RCF engine — north-star "detects
    distribution drift per partition" surface, the batch complement of
    the RCF stream detector (TFDV ``jensen_shannon_divergence`` /
    deequ histogram-distance style).
    """
    group_by = list(group_by)
    tagged = (
        _gram_entries(base, tokens_col, group_by, ngram, sep, F.lit(0))
        .unionByName(_gram_entries(current, tokens_col, group_by, ngram, sep, F.lit(1)))
    )
    return _drift_metrics(tagged, group_by, ["bin"], None, None,
                          smoothing, round_dp)


def token_drift_split(
    df: DataFrame,
    base_predicate,
    tokens_col: str,
    group_by: Sequence[str] = (),
    ngram: int = 1,
    sep: str = " ",
    smoothing: float = 0.5,
    round_dp: int = 6,
) -> DataFrame:
    """``token_drift`` where both snapshots live in ONE table split by a
    predicate (date partitions, crawl ids, A/B cohorts) — the side is
    computed inside ONE FileScan instead of planning two (same rationale
    and NULL-predicate exclusion rule as ``snapshot_drift_split``)."""
    group_by = list(group_by)
    tagged = _gram_entries(_split_side(df, base_predicate), tokens_col,
                           group_by, ngram, sep, F.col("__side"))
    return _drift_metrics(tagged, group_by, ["bin"], None, None,
                          smoothing, round_dp)
