"""Drift operator end-to-end: the planted drifted partition (source=code,
second half by seq — FIXTURES.md §3) must fail; stationary sources pass.
Plus checkpoint/resume equivalence and normalizer closed-form math."""

from __future__ import annotations

import uuid

import numpy as np
import pytest
from pyspark.sql import functions as F

from random_cut_forest_by_aws_spark.core.thresholder import Deviation
from random_cut_forest_by_aws_spark.functions import token_features
from random_cut_forest_by_aws_spark.operators.drift import (
    DriftConfig,
    _Normalizer,
    drift_anomalies,
    drift_scores,
    drift_verdicts,
)
from random_cut_forest_by_aws_spark.sources import sequences


def _cfg(**kw):
    base = dict(
        num_trees=20, sample_size=64, chunk_size=512, buckets=1, seed=42,
        window=64, min_baseline_windows=5,
    )
    base.update(kw)
    return DriftConfig(**base)


@pytest.fixture(scope="module")
def feat_df(spark):
    df = sequences(spark, 20_000, seed=42, violations=False, drift=True)
    return df.withColumn("features", token_features()).select(
        "source", "seq", "features"
    ).localCheckpoint(eager=True)


def test_normalizer_matches_sequential_deviation():
    rng = np.random.default_rng(0)
    X = rng.normal(3.0, 2.0, size=(500, 2))
    n = _Normalizer(2, discount=0.01, clip=100.0)
    d0, d1 = Deviation(0.01), Deviation(0.01)
    for lo, hi in [(0, 100), (100, 101), (101, 350), (350, 500)]:
        n.update(X[lo:hi])
    for x in X:
        d0.update(x[0])
        d1.update(x[1])
    assert n.weight == pytest.approx(d0.weight, rel=1e-9)
    assert n.sum[0] == pytest.approx(d0.sum, rel=1e-9)
    assert n.sumsq[1] == pytest.approx(d1.sum_squared, rel=1e-9)


def test_drift_verdicts_flag_planted_partition(feat_df):
    cfg = _cfg()
    raw = drift_scores(feat_df, cfg=cfg).localCheckpoint(eager=True)
    verdicts = drift_verdicts(raw, cfg=cfg).toPandas().set_index("source")
    assert not verdicts.loc["code", "passed"]
    assert verdicts.loc["code", "n_drifted_windows"] >= 1
    for src in ["web", "books", "wiki"]:
        assert verdicts.loc[src, "passed"], f"{src} should pass: {verdicts.loc[src]}"
    # drifted windows sit in the drifted half of the stream (seq ≥ 10k)
    wins = raw.filter("row_kind = 'window'").toPandas()
    assert (wins[wins["source"] == "code"]["seq"] >= 10_000).all()


def test_drift_bucketing_splits_hot_source(feat_df):
    cfg = _cfg(buckets=4, sample_size=32, num_trees=10, window=32, min_baseline_windows=3)
    raw = drift_scores(feat_df, cfg=cfg)
    s = raw.filter("row_kind = 'summary'").toPandas()
    web = s[s["source"] == "web"]
    assert len(web) == 4  # hot source split across 4 bounded tasks
    assert web["n_rows"].max() < 0.5 * web["n_rows"].sum()
    verdicts = drift_verdicts(raw, cfg=cfg).toPandas().set_index("source")
    assert not verdicts.loc["code", "passed"]


def test_drift_checkpoint_resume_equivalence(spark, feat_df, tmp_path):
    """Resume from checkpoint ⇒ scores bit-identical to uninterrupted run
    (reference state-mapper round-trip analogue)."""
    cfg_plain = _cfg()
    full = drift_scores(feat_df, cfg=cfg_plain).toPandas()

    ckpt = str(tmp_path / "ckpt")
    cfg_ck = _cfg(checkpoint_dir=ckpt)
    part1 = feat_df.filter("seq < 12000")
    drift_scores(part1, cfg=cfg_ck).collect()  # first run: materialize state
    resumed = drift_scores(feat_df, cfg=cfg_ck).toPandas()  # full input, resume

    f_an = full[(full.row_kind == "anomaly") & (full.seq >= 12000)]
    r_an = resumed[resumed.row_kind == "anomaly"]
    key = ["source", "bucket", "seq"]
    f_an = f_an.sort_values(key).reset_index(drop=True)
    r_an = r_an[r_an.seq >= 12000].sort_values(key).reset_index(drop=True)
    assert len(f_an) == len(r_an)
    assert (f_an["seq"].values == r_an["seq"].values).all()
    np.testing.assert_array_equal(f_an["score"].values, r_an["score"].values)
    np.testing.assert_array_equal(f_an["grade"].values, r_an["grade"].values)
    # cumulative totals match the uninterrupted run exactly
    f_sum = full[full.row_kind == "summary"].sort_values(["source", "bucket"])
    r_sum = resumed[resumed.row_kind == "summary"].sort_values(["source", "bucket"])
    np.testing.assert_array_equal(f_sum["n_scored"].values, r_sum["n_scored"].values)
    np.testing.assert_array_equal(
        f_sum["n_anomalous"].values, r_sum["n_anomalous"].values
    )


def test_drift_rerun_after_completion_is_noop(spark, feat_df, tmp_path):
    ckpt = str(tmp_path / "ckpt2")
    cfg = _cfg(checkpoint_dir=ckpt, buckets=1)
    first = drift_scores(feat_df, cfg=cfg).toPandas()
    second = drift_scores(feat_df, cfg=cfg).toPandas()  # all rows ≤ watermark
    s1 = first[first.row_kind == "summary"].sort_values(["source", "bucket"])
    s2 = second[second.row_kind == "summary"].sort_values(["source", "bucket"])
    np.testing.assert_array_equal(s1["n_rows"].values, s2["n_rows"].values)
    assert (second[second.row_kind == "anomaly"]).empty  # nothing new to flag
    assert (second[second.row_kind == "window"]).empty  # replayed tail windows too


def test_streaming_impute_range_blocked_matches_single_stream(spark):
    """STREAMING_IMPUTE scale path: contiguous order_col range blocks
    (rows_per_bucket grid slots each) instead of one task per group. The
    filled grid — including gaps that cross block boundaries, anchored at
    the previous block's last row — must match the single-stream run
    (same totals, full grid restored); a hot group runs as multiple
    tasks."""
    import pandas as pd

    n = 4000
    rng = np.random.default_rng(3)
    keep = np.ones(n, bool)
    keep[990:1010] = False    # gap crossing block boundary at 1000
    keep[1995:2005] = False   # gap crossing block boundary at 2000
    keep[500:505] = False     # interior gap
    vals = rng.normal(0.0, 1.0, (n, 2))
    pdf = pd.DataFrame(
        {"source": "s", "seq": np.arange(n)[keep], "a": vals[keep, 0], "b": vals[keep, 1]}
    )
    df = spark.createDataFrame(pdf).select("source", "seq", F.struct("a", "b").alias("features"))
    base = dict(
        num_trees=10, sample_size=32, chunk_size=256, window=64,
        min_baseline_windows=3, use_corrector=False,
        mode="streaming_impute", impute_method="linear",
    )
    out_s = drift_scores(
        df, "features", ("source",), "seq", DriftConfig(**base, buckets=1)
    ).toPandas()
    out_b = drift_scores(
        df, "features", ("source",), "seq",
        DriftConfig(**base, rows_per_bucket=1000),
    ).toPandas()
    ss = out_s[out_s.row_kind == "summary"]
    sb = out_b[out_b.row_kind == "summary"]
    assert len(ss) == 1 and len(sb) == 4  # 4 bounded range blocks
    n_gap = int((~keep).sum())
    assert int(ss.n_imputed.sum()) == n_gap
    assert int(sb.n_imputed.sum()) == n_gap  # boundary gaps still filled
    assert int(ss.n_rows.sum()) == n  # full grid restored
    assert int(sb.n_rows.sum()) == n
    # no anomaly ever emitted at an imputed grid position
    gap_seqs = set(np.arange(n)[~keep].tolist())
    for out in (out_s, out_b):
        emitted = set(out[out.row_kind == "anomaly"]["seq"].tolist())
        assert not (emitted & gap_seqs)


def test_time_augmented_range_blocked_cadence(spark):
    """TIME_AUGMENTED in range-blocked execution: dt at block boundaries
    comes from the previous block's last seq (anchor row), so a hot group
    splits into bounded tasks and a cadence shift is still flagged."""
    import pandas as pd

    n = 4000
    seqs = np.concatenate(
        [np.arange(0, 20000, 10), 20000 + np.arange(n - 2000)]
    )  # cadence 10 → 1 at midpoint
    pdf = pd.DataFrame({"source": "s", "seq": seqs, "a": 1.0, "b": 2.0})
    df = spark.createDataFrame(pdf).select("source", "seq", F.struct("a", "b").alias("features"))
    base = dict(
        num_trees=10, sample_size=64, chunk_size=256, window=64,
        min_baseline_windows=3, use_corrector=False, mode="time_augmented",
    )
    out = drift_scores(
        df, "features", ("source",), "seq",
        DriftConfig(**base, rows_per_bucket=3000),
    ).toPandas()
    sb = out[out.row_kind == "summary"]
    assert len(sb) > 1  # hot group split into multiple range blocks
    assert int(sb.n_rows.sum()) == n
    # the cadence shift registers as drift in the block containing it
    assert int(sb.n_drifted_windows.sum()) >= 1


def test_adaptive_bucketing_join_fallback_multi_group_cols(spark, seqs):
    """Multi-column group keys take the broadcast-join counts path (the
    literal-map inline only applies to single low-cardinality keys);
    verdicts must match the single-column run's totals, and the counts
    leave no entry registered with the CacheManager."""
    from pyspark.sql import functions as F

    from random_cut_forest_by_aws_spark.functions import token_features
    from random_cut_forest_by_aws_spark.operators.drift import (
        DriftConfig, drift_scores,
    )

    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache_manager.cachedData().size()  # an immutable snapshot
    feat = seqs.withColumn("features", token_features()).withColumn(
        "g2", F.lit("x")
    ).select("source", "g2", "seq", "features")
    cfg = DriftConfig(num_trees=5, sample_size=32, rows_per_bucket=2000)
    raw = drift_scores(feat, "features", ("source", "g2"), "seq", cfg)
    s = raw.filter(F.col("row_kind") == "summary")
    agg = s.agg(F.sum("n_rows").alias("n"), F.sum("n_scored").alias("ns")).first()
    assert agg["n"] == seqs.count()
    assert agg["ns"] > 0
    assert cache_manager.cachedData().size() == n_cached


@pytest.mark.parametrize("group_type", ["string", "decimal(10,2)"])
def test_drift_null_group_is_bucketed_like_any_other(spark, group_type):
    """A null group value is a group like any other: the literal-map
    bucket count (one group column) and the broadcast join (two) give
    the null group the same buckets, and a suite run gives it a
    distribution_drift verdict. The decimal column's values differ in
    precision (9.75 is decimal(3,2), 16.25 decimal(4,2)), so the map's
    key literals only share a type once cast to the column's."""
    from random_cut_forest_by_aws_spark.plans.suite import SuiteConfig, ValidationSuite

    group = {
        "string": F.col("source"),
        "decimal(10,2)": (F.length("source") * 3.25).cast("decimal(10,2)"),
    }[group_type]
    df = sequences(spark, 4000, seed=1).withColumn(
        "source", F.when(F.col("seq") % 3 == 0, F.lit(None)).otherwise(group)
    ).localCheckpoint(eager=True)
    assert df.schema["source"].dataType.simpleString() == group_type
    feat = df.select("source", F.lit("x").alias("g2"), "seq",
                     token_features().alias("features"))
    cfg = _cfg(buckets=None, rows_per_bucket=500, num_trees=10, sample_size=32)
    summaries = [
        sorted(
            (str(r["source"]), r["bucket"], r["n_rows"])
            for r in drift_scores(feat, "features", group_cols, "seq", cfg)
            .filter("row_kind = 'summary'").collect()
        )
        for group_cols in (("source",), ("source", "g2"))
    ]
    assert summaries[0] == summaries[1]
    # 1,334 null-group rows at 500 rows per bucket
    assert [b for s, b, _ in summaries[0] if s == "None"] == [0, 1, 2]
    res = ValidationSuite(spark, SuiteConfig(drift=cfg)).run(df)
    scopes = [r["scope"] for r in res.verdicts.filter("check = 'distribution_drift'").collect()]
    assert None in scopes


def test_drift_verdicts_null_mean_score_when_group_scores_nothing(spark):
    """A group whose buckets all score no rows (each bucket shorter than
    the warm-up) gets a null mean_score instead of DIVIDE_BY_ZERO under
    ANSI; groups that scored rows keep a number."""
    df = sequences(spark, 20_000, seed=42, drift=True)
    feat = df.withColumn("features", token_features("tokens", "n_tok")).select(
        "source", "seq", "features"
    )
    cfg = DriftConfig(num_trees=20, sample_size=64, chunk_size=512, buckets=2, shingle_size=3)
    raw = drift_scores(feat, "features", ("source",), "seq", cfg).localCheckpoint()
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        rows = drift_verdicts(raw, ("source",), cfg).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert any(r["n_scored"] == 0 for r in rows)
    for r in rows:
        assert (r["mean_score"] is None) == (r["n_scored"] == 0), r


def test_drift_lineage_bucket_grain_consistent_with_verdicts(feat_df):
    """Lineage keeps the (group, bucket) grain — one row per checkpoint
    unit — and its counters aggregate exactly to the verdict table."""
    from random_cut_forest_by_aws_spark.operators.drift import (
        drift_lineage, drift_scores, drift_verdicts,
    )

    cfg = _cfg(buckets=None, rows_per_bucket=2000)
    raw = drift_scores(feat_df, "features", ("source",), "seq", cfg).localCheckpoint(eager=True)
    lin = drift_lineage(raw, ("source",), cfg).toPandas()
    dv = drift_verdicts(raw, ("source",), cfg).toPandas().set_index("source")

    # grain: one row per (source, bucket), matching the summary rows
    assert not lin.duplicated(["source", "bucket"]).any()
    n_sum = raw.filter("row_kind = 'summary'").count()
    assert len(lin) == n_sum
    # hot-source split: at least one group spans multiple buckets
    assert lin.groupby("source")["bucket"].nunique().max() > 1

    g = lin.groupby("source")[
        ["n_rows", "n_scored", "n_anomalous", "n_windows", "n_drifted_windows"]
    ].sum()
    for src, row in g.iterrows():
        for c in g.columns:
            assert int(row[c]) == int(dv.loc[src][c]), (src, c)
    # config fingerprint is present and constant per run
    assert lin["config_digest"].nunique() == 1
    # and pinned: the digest hashes every DriftConfig field, so adding,
    # removing or renaming a hashed field changes it
    assert lin["config_digest"].iloc[0] == "ccf89a4926d1fe42"


def _jobs_run_by(spark, build) -> list[int]:
    """Spark jobs run by ``build()`` (plan building only: no action on the
    drift output)."""
    sc = spark.sparkContext
    group = f"drift-plan-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "drift_scores plan build")
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_drift_scores_plan_build_jobs(spark, seqs):
    """Building the drift plan sizes the adaptive buckets in ONE driver
    round trip over the per-group counts — at most 2 Spark jobs on the
    suite's shape (one small-cardinality group column); the feature
    width comes from the schema, not a probe job. With a fixed bucket
    count nothing needs sizing, so no job runs at all."""
    feat = seqs.withColumn("features", token_features()).select(
        "source", "seq", "features"
    )
    jobs = _jobs_run_by(spark, lambda: drift_scores(feat, cfg=DriftConfig(rows_per_bucket=2_000)))
    assert 0 < len(jobs) <= 2, jobs
    assert _jobs_run_by(spark, lambda: drift_scores(feat, cfg=DriftConfig(buckets=4))) == []


@pytest.mark.parametrize(
    "features, got",
    [
        ("array(CAST(seq AS DOUBLE))", "array<double>"),  # the old array form
        ("named_struct()", "struct<>"),
        ("named_struct('x', CAST(seq AS DOUBLE), 'tag', 'a')", "struct<x:double,tag:string>"),
    ],
)
def test_drift_scores_rejects_non_struct_features_at_plan_time(spark, features, got):
    """The feature column must be a non-empty struct of numeric fields;
    anything else raises TypeError from the schema, before any job — in
    the batch and the streaming operator alike."""
    from random_cut_forest_by_aws_spark.streaming import streaming_drift_scores

    df = spark.range(10).select(
        F.lit("s").alias("source"), F.col("id").alias("seq"),
        F.expr(features).alias("features"),
    )
    for op in (drift_scores, streaming_drift_scores):
        def build():
            with pytest.raises(TypeError, match=r"F\.struct") as err:
                op(df, cfg=_cfg())
            assert f"got {got}" in str(err.value)

        assert _jobs_run_by(spark, build) == []


_BAD_CONFIGS = [
    dict(transform="normalise"), dict(mode="bogus"), dict(scoring="bogus"),
    dict(impute_method="bogus"), dict(shingle_size=0),
]


@pytest.mark.parametrize(
    "op, bad",
    [(op, bad) for op in ("batch", "streaming") for bad in _BAD_CONFIGS]
    # valid for the batch operator, not implemented by the streaming one
    + [("streaming", dict(mode="time_augmented")), ("streaming", dict(scoring="distance"))],
    ids=lambda v: v if isinstance(v, str) else "-".join(f"{k}={x}" for k, x in v.items()),
)
def test_drift_rejects_bad_config_before_any_job(spark, op, bad):
    """Both drift operators check the DriftConfig the same way and raise
    ValueError before a job runs; the streaming operator also rejects the
    modes and scorings it does not implement instead of ignoring them."""
    from random_cut_forest_by_aws_spark.streaming import streaming_drift_scores

    fn = drift_scores if op == "batch" else streaming_drift_scores
    df = spark.range(10).select(
        F.lit("s").alias("source"), F.col("id").alias("seq"),
        F.struct(F.col("id").cast("double").alias("x")).alias("features"),
    )

    def build():
        with pytest.raises(ValueError):
            fn(df, cfg=_cfg(**bad))

    assert _jobs_run_by(spark, build) == []


def test_drift_scores_struct_field_order_matches_udf(spark):
    """drift_scores over a 2-field struct gives exactly the raw rows the
    grouped-map fn gives on the same pandas rows with the fields as
    columns in struct order: field order is feature order through the
    exchange and the Arrow boundary. The fields are not in name order and
    have different scales, so a reordering changes the scores."""
    import pandas as pd

    from random_cut_forest_by_aws_spark.operators.drift import _make_drift_fn

    n = 3000
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({
        "source": "s", "seq": np.arange(n, dtype=np.int64),
        "z": rng.normal(0.0, 1.0, n), "a": rng.normal(5.0, 20.0, n),
    })
    pdf.loc[2000:2010, "a"] += 200.0
    cfg = _cfg(buckets=1, num_trees=10, sample_size=32, chunk_size=256,
               transform="none")
    df = spark.createDataFrame(pdf).select(
        "source", "seq", F.struct("z", "a").alias("features")
    )
    got = drift_scores(df, cfg=cfg).toPandas()
    fn = _make_drift_fn(["source", "bucket"], "seq", ["z", "a"], cfg)
    want = fn(("s", 0), pdf.assign(bucket=0))
    key = ["row_kind", "seq"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert (got.row_kind == "anomaly").any()
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        np.testing.assert_array_equal(got[c].to_numpy(), want[c].to_numpy(), err_msg=c)
