"""Stats / uniqueness / referential / row-invariant operators, verified
against pandas oracles on the deterministic sequences fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from random_cut_forest_by_aws_spark.operators import (
    column_stats,
    numeric_profile,
    referential_verdict,
    referential_violations,
    token_equality_violations,
    uniqueness_verdict,
    uniqueness_violations,
)
from random_cut_forest_by_aws_spark.sources import sequences, sources_dim


def test_sequences_deterministic(spark):
    a = sequences(spark, 500, seed=7).toPandas().sort_values("seq").reset_index(drop=True)
    b = sequences(spark, 500, seed=7).toPandas().sort_values("seq").reset_index(drop=True)
    assert a.equals(b)
    assert list(a.columns) == ["doc_id", "tokens", "n_tok", "source", "seq"]


def test_sequences_skew_and_violations(seqs):
    pdf = seqs.toPandas()
    frac_web = (pdf["source"] == "web").mean()
    assert 0.75 < frac_web < 0.85
    assert pdf["doc_id"].isna().sum() > 0
    dup_mask = pdf["doc_id"].dropna().duplicated(keep=False)
    assert dup_mask.sum() > 1


def test_numeric_profile_oracle(seqs):
    got = numeric_profile(seqs, "n_tok", group_by=["source"]).toPandas().set_index("source")
    pdf = seqs.toPandas()
    for src, grp in pdf.groupby("source"):
        row = got.loc[src]
        assert row["n_rows"] == len(grp)
        assert row["min"] == grp["n_tok"].min()
        assert row["max"] == grp["n_tok"].max()
        assert abs(row["mean"] - grp["n_tok"].mean()) < 1e-9
        assert row["null_rate"] == 0.0


def test_column_stats_cardinality(seqs):
    got = column_stats(
        seqs, ["n_tok"], key_cols=["doc_id"], group_by=["source"], exact_distinct=True
    ).toPandas()
    pdf = seqs.toPandas()
    for _, row in got.iterrows():
        grp = pdf[pdf["source"] == row["source"]]
        assert row["doc_id_cardinality"] == grp["doc_id"].dropna().nunique()
        assert row["n_tok_sum"] == grp["n_tok"].sum()


def test_column_stats_key_nulls(seqs):
    """Key-column null counts must reflect planted NULL doc_ids (the
    doc_id_not_null verdict is based on these, not on n_tok_nulls)."""
    got = column_stats(
        seqs, ["n_tok"], key_cols=["doc_id"], group_by=["source"]
    ).toPandas()
    pdf = seqs.toPandas()
    assert got["doc_id_nulls"].sum() == pdf["doc_id"].isna().sum() > 0
    for _, row in got.iterrows():
        grp = pdf[pdf["source"] == row["source"]]
        assert row["doc_id_nulls"] == grp["doc_id"].isna().sum()


def test_suite_flags_planted_null_doc_ids(spark, seqs):
    """End-to-end: the suite's doc_id_not_null check must FAIL on the
    fixture's planted nulls (was a false negative: it tested n_tok)."""
    from random_cut_forest_by_aws_spark.operators.drift import DriftConfig
    from random_cut_forest_by_aws_spark.plans import SuiteConfig, ValidationSuite

    cfg = SuiteConfig(
        drift=DriftConfig(num_trees=5, sample_size=16, window=8,
                          min_baseline_windows=2, buckets=1, chunk_size=256)
    )
    verdicts = ValidationSuite(spark, cfg).run(seqs).verdicts.toPandas()
    nn = verdicts[verdicts["check"] == "doc_id_not_null"]
    assert len(nn) > 0
    assert not nn["passed"].all()
    assert nn["violation_count"].sum() > 0


def test_referential_ignores_null_fks(spark, seqs):
    """SQL FK semantics: a NULL FK is not a violation."""
    dim = sources_dim(spark, missing="__none__")
    with_nulls = seqs.withColumn(
        "source", F.when(F.col("seq") % 100 == 0, F.lit(None)).otherwise(F.col("source"))
    )
    viol = referential_violations(with_nulls, dim, ["source"]).toPandas()
    assert len(viol) == 0


def test_uniqueness_oracle(seqs):
    got = uniqueness_violations(seqs, ["doc_id"]).toPandas()
    pdf = seqs.toPandas()
    counts = pdf["doc_id"].dropna().value_counts()
    expected = counts[counts > 1]
    assert set(got["doc_id"]) == set(expected.index)
    got_map = dict(zip(got["doc_id"], got["dup_count"]))
    for k, v in expected.items():
        assert got_map[k] == v
    verdict = uniqueness_verdict(seqs, ["doc_id"]).toPandas().iloc[0]
    assert not verdict["passed"]
    assert verdict["violating_keys"] == len(expected)


def test_uniqueness_clean_key_passes(seqs):
    clean = seqs.withColumn("k", F.col("seq"))
    verdict = uniqueness_verdict(clean, ["k"]).toPandas().iloc[0]
    assert verdict["passed"]


def test_referential_oracle(spark, seqs):
    dim = sources_dim(spark, missing="forums")
    viol = referential_violations(seqs, dim, ["source"]).toPandas()
    assert list(viol["source"]) == ["forums"]
    pdf = seqs.toPandas()
    assert viol["fact_rows"].iloc[0] == (pdf["source"] == "forums").sum()
    verdict = referential_verdict(seqs, dim, ["source"]).toPandas().iloc[0]
    assert not verdict["passed"]
    full_dim = sources_dim(spark, missing="__none__")
    assert referential_verdict(seqs, full_dim, ["source"]).toPandas().iloc[0]["passed"]


def test_token_equality_invariant(seqs):
    viol = token_equality_violations(seqs).toPandas()
    pdf = seqs.toPandas()
    expected_bad = pdf[pdf["tokens"].map(len) != pdf["n_tok"]]
    assert len(viol) == len(expected_bad)
    assert set(viol["seq"]) == set(expected_bad["seq"])
    assert all("n_tok_matches_size" in list(f) for f in viol["failed_constraints"])


def test_column_stats_key_col_overlapping_numeric(seqs):
    """A column in both numeric_cols and key_cols must not produce a
    duplicate '{col}_nulls' alias (regression: AMBIGUOUS_REFERENCE)."""
    got = column_stats(
        seqs, ["n_tok"], key_cols=["n_tok"], group_by=["source"]
    )
    assert got.columns.count("n_tok_nulls") == 1
    pdf = got.select("source", F.col("n_tok_nulls")).toPandas()
    assert (pdf["n_tok_nulls"] == 0).all()


def test_column_stats_sketch_quantiles(spark):
    """column_stats optionally emits mergeable percentile_approx sketches
    (SURVEY §2.5 scale path) alongside exact min/max/sum."""
    import pandas as pd

    from random_cut_forest_by_aws_spark.operators.stats import column_stats

    df = spark.createDataFrame(
        pd.DataFrame({"g": ["a"] * 50 + ["b"] * 50, "v": list(range(100))})
    )
    out = column_stats(
        df, ["v"], group_by=["g"], quantiles=(0.5, 0.9)
    ).toPandas().set_index("g")
    assert "v_quantiles" in out.columns
    med_a = out.loc["a", "v_quantiles"][0]
    assert 20 <= med_a <= 29  # approx median of 0..49


def test_suite_concurrent_materialization_equivalent(spark, seqs):
    """SuiteConfig.concurrent=True (off by default; meant for a real
    multi-executor cluster, and set by bench.py's
    SPARK_GRAFT_SUITE_CONCURRENT=1) materializes the independent checks
    from driver threads; verdicts and violation evidence must be
    IDENTICAL to the sequential path (thread scheduling must not leak
    into results — every check is deterministic)."""
    from random_cut_forest_by_aws_spark.operators.drift import DriftConfig
    from random_cut_forest_by_aws_spark.plans import SuiteConfig, ValidationSuite

    drift = DriftConfig(num_trees=5, sample_size=16, window=8,
                        min_baseline_windows=2, buckets=1, chunk_size=256)

    def run(concurrent: bool):
        cfg = SuiteConfig(drift=drift, concurrent=concurrent)
        res = ValidationSuite(spark, cfg).run(seqs)
        v = res.verdicts.toPandas()
        v = v.sort_values(sorted(v.columns)).reset_index(drop=True)
        w = res.violations.toPandas()
        w = w.sort_values(sorted(w.columns)).reset_index(drop=True)
        return v, w

    v_seq, w_seq = run(False)
    v_con, w_con = run(True)
    assert v_seq.equals(v_con)
    assert w_seq.equals(w_con)


def test_suite_truncated_evidence_keeps_exact_counts(spark, seqs):
    """With the evidence capped at one row per check, the table-level
    violation counts stay exact (the suite counts a check's violations
    again only when the cap is passed) and each check keeps exactly one
    evidence row."""
    from random_cut_forest_by_aws_spark.operators.drift import DriftConfig
    from random_cut_forest_by_aws_spark.plans import SuiteConfig, ValidationSuite

    cfg = SuiteConfig(
        drift=DriftConfig(num_trees=5, sample_size=16, window=8,
                          min_baseline_windows=2, buckets=1, chunk_size=256),
        max_violation_rows=1,
    )
    res = ValidationSuite(spark, cfg).run(seqs, ref_dim=sources_dim(spark))
    counts = {
        r["check"]: r["violation_count"]
        for r in res.verdicts.filter(F.col("scope") == "<table>").collect()
    }
    assert counts == {"uniqueness": 2, "referential": 1, "token_array_equality": 2}
    evidence = res.violations.groupBy("check").count().collect()
    assert {r["check"]: r["count"] for r in evidence} == {
        "uniqueness": 1, "referential": 1, "token_array_equality": 1, "drift_anomaly": 1,
    }
