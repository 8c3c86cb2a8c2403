"""Snapshot-to-snapshot distribution drift (operators/distdrift.py).

Pins the metric arithmetic against a NumPy reference computation, the
zero-drift identity, NULL-bin accounting, categorical binning, and the
per-bin detail view's consistency with the rollup.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from random_cut_forest_by_aws_spark.operators.distdrift import (
    snapshot_drift,
    snapshot_drift_bins,
)


def _mk(spark, rows, with_group=False):
    if with_group:
        return spark.createDataFrame(rows, "g string, v double")
    return spark.createDataFrame(rows, "v double")


def _np_metrics(cnt_a, cnt_b, s=0.5):
    """Reference implementation of every metric over aligned bin counts."""
    a = np.asarray(cnt_a, dtype=np.float64)
    b = np.asarray(cnt_b, dtype=np.float64)
    A, B, nb = a.sum(), b.sum(), float(len(a))
    p = (a + s) / (A + s * nb)
    q = (b + s) / (B + s * nb)
    m = (p + q) / 2.0
    psi = float(np.sum((p - q) * (np.log(p) - np.log(q))))
    js = float(np.sum(0.5 * (p * (np.log(p) - np.log(m)) + q * (np.log(q) - np.log(m)))))
    linf = float(np.max(np.abs(p - q)))
    tvd = float(np.sum(np.abs(p - q)) / 2.0)
    ea = (a + b) * A / (A + B)
    eb = (a + b) * B / (A + B)
    chi2 = float(np.sum((a - ea) ** 2 / ea + (b - eb) ** 2 / eb))
    # KS over the RAW binned ECDFs, bins in ascending order (the order
    # the counts are passed in)
    cum = np.cumsum(a / A - b / B)
    ks = float(np.max(np.abs(cum)))
    # W1 for CONTIGUOUS unit-spaced bins: each cum gap spans one bin
    # (the last bin's cum is the ~0 total-mass difference, step 0)
    w1 = float(np.sum(np.abs(cum[:-1])))
    return dict(psi=psi, js_div=js, linf=linf, tvd=tvd, chi2=chi2, ks=ks, w1=w1)


def test_identical_snapshots_zero_drift(spark):
    rows = [(float(i % 7),) for i in range(200)]
    base = _mk(spark, rows)
    curr = _mk(spark, rows)
    out = snapshot_drift(base, curr, "v", bin_width=1.0).toPandas()
    assert len(out) == 1
    r = out.iloc[0]
    assert r["n_base"] == 200 and r["n_curr"] == 200 and r["n_bins"] == 7
    for m in ("psi", "js_div", "linf", "tvd", "chi2", "ks", "w1"):
        assert r[m] == 0.0, m


def test_metrics_match_numpy_reference(spark):
    # Two snapshots over bins {0,1,2} with a deliberate shift; bin 3 only
    # in current (exercises the full-outer zero-fill path).
    base_rows = [(0.0,)] * 50 + [(1.0,)] * 30 + [(2.0,)] * 20
    curr_rows = [(0.0,)] * 20 + [(1.0,)] * 30 + [(2.0,)] * 40 + [(3.0,)] * 10
    out = snapshot_drift(
        _mk(spark, base_rows), _mk(spark, curr_rows), "v",
        bin_width=1.0, round_dp=9,
    ).toPandas()
    exp = _np_metrics([50, 30, 20, 0], [20, 30, 40, 10])
    r = out.iloc[0]
    assert r["n_bins"] == 4 and r["n_base"] == 100 and r["n_curr"] == 100
    for k, v in exp.items():
        assert r[k] == pytest.approx(v, abs=1e-8), k
    # sanity bounds: JS <= ln 2, tvd in [0, 1]
    assert 0.0 < r["js_div"] <= math.log(2.0)
    assert 0.0 < r["tvd"] <= 1.0


def test_null_values_form_their_own_bin(spark):
    base = _mk(spark, [(1.0,)] * 90 + [(None,)] * 10)
    curr = _mk(spark, [(1.0,)] * 60 + [(None,)] * 40)
    out = snapshot_drift(base, curr, "v", bin_width=1.0, round_dp=9).toPandas()
    r = out.iloc[0]
    # two bins: value-1 and the NULL bin — null-rate shift IS drift
    assert r["n_bins"] == 2
    exp = _np_metrics([90, 10], [60, 40])
    assert r["psi"] == pytest.approx(exp["psi"], abs=1e-8)
    assert r["psi"] > 0.1  # a 10%->40% null-rate jump is a major shift


def test_categorical_bins_and_groups(spark):
    base = _mk(spark, [("g1", 1.0)] * 40 + [("g1", 2.0)] * 60 + [("g2", 1.0)] * 50,
               with_group=True)
    curr = _mk(spark, [("g1", 1.0)] * 60 + [("g1", 2.0)] * 40 + [("g2", 1.0)] * 50,
               with_group=True)
    out = snapshot_drift(base, curr, "v", group_by=["g"], bin_width=None,
                         round_dp=9).toPandas().set_index("g")
    assert set(out.index) == {"g1", "g2"}
    # g2 unchanged -> zero drift; g1 shifted -> matches reference
    for m in ("psi", "js_div", "linf", "tvd", "chi2", "ks"):
        assert out.loc["g2", m] == 0.0
    exp = _np_metrics([40, 60], [60, 40])
    assert out.loc["g1", "psi"] == pytest.approx(exp["psi"], abs=1e-8)
    # transport distance is undefined for categorical bins
    assert out["w1"].isna().all()


def test_bins_detail_consistent_with_rollup(spark):
    base_rows = [(0.0,)] * 50 + [(1.0,)] * 30 + [(2.0,)] * 20
    curr_rows = [(0.0,)] * 20 + [(1.0,)] * 30 + [(2.0,)] * 40 + [(3.0,)] * 10
    roll = snapshot_drift(
        _mk(spark, base_rows), _mk(spark, curr_rows), "v",
        bin_width=1.0, round_dp=9,
    ).toPandas().iloc[0]
    bins = snapshot_drift_bins(
        _mk(spark, base_rows), _mk(spark, curr_rows), "v",
        bin_width=1.0, round_dp=9,
    ).toPandas()
    assert len(bins) == roll["n_bins"]
    assert bins["cnt_a"].sum() == roll["n_base"]
    assert bins["cnt_b"].sum() == roll["n_curr"]
    assert bins["psi_contrib"].sum() == pytest.approx(roll["psi"], abs=1e-6)
    # probabilities are proper distributions (smoothed)
    assert bins["p_base"].sum() == pytest.approx(1.0, abs=1e-6)
    assert bins["p_curr"].sum() == pytest.approx(1.0, abs=1e-6)


def test_disjoint_supports_max_out_tvd(spark):
    base = _mk(spark, [(0.0,)] * 100)
    curr = _mk(spark, [(10.0,)] * 100)
    r = snapshot_drift(base, curr, "v", bin_width=1.0, round_dp=9).toPandas().iloc[0]
    # smoothing keeps it strictly under 1 but it should be close
    assert r["tvd"] > 0.98
    assert r["js_div"] > 0.65  # near ln 2 = 0.693
    # KS uses raw counts: disjoint supports give exactly 1
    assert r["ks"] == 1.0
    # W1: all mass moves 10 units (bins 0 and 10, interior hole — the
    # lead-step weighting makes the holey support exact)
    assert r["w1"] == 10.0


def _emb_df(spark, rows):
    return spark.createDataFrame(rows, "g string, embedding array<double>")


def test_embedding_drift_identical_snapshots(spark):
    from random_cut_forest_by_aws_spark.operators.distdrift import embedding_drift

    rows = [("a", [1.0, 2.0, 3.0]), ("a", [2.0, 1.0, 0.0]), ("a", [0.5, 0.5, 0.5])]
    out = embedding_drift(_emb_df(spark, rows), _emb_df(spark, rows),
                          "embedding", group_by=["g"]).toPandas().iloc[0]
    assert out["dims"] == 3 and out["n_base"] == 3 and out["n_curr"] == 3
    assert out["centroid_cosine"] == 1.0
    assert out["centroid_l2"] == 0.0 and out["centroid_linf"] == 0.0
    assert out["norm_base"] == out["norm_curr"]


def test_embedding_drift_matches_numpy(spark):
    from random_cut_forest_by_aws_spark.operators.distdrift import embedding_drift

    rng = np.random.default_rng(7)
    base = [("a", rng.normal(size=8).tolist()) for _ in range(20)]
    curr = [("a", (rng.normal(size=8) + np.array([1, 0, 0, 0, 0, 0, 0, 0])).tolist())
            for _ in range(30)]
    out = embedding_drift(_emb_df(spark, base), _emb_df(spark, curr),
                          "embedding", group_by=["g"], round_dp=9).toPandas().iloc[0]
    ma = np.mean([r[1] for r in base], axis=0)
    mb = np.mean([r[1] for r in curr], axis=0)
    cos = float(ma @ mb / (np.linalg.norm(ma) * np.linalg.norm(mb)))
    assert out["centroid_cosine"] == pytest.approx(cos, abs=1e-8)
    assert out["centroid_l2"] == pytest.approx(float(np.linalg.norm(ma - mb)), abs=1e-8)
    assert out["centroid_linf"] == pytest.approx(float(np.max(np.abs(ma - mb))), abs=1e-8)
    assert out["norm_base"] == pytest.approx(float(np.linalg.norm(ma)), abs=1e-8)
    assert out["centroid_cosine"] < 0.95  # the planted shift is visible


def test_embedding_drift_per_group_isolation(spark):
    from random_cut_forest_by_aws_spark.operators.distdrift import embedding_drift

    base = [("a", [1.0, 0.0]), ("b", [0.0, 1.0])]
    curr = [("a", [1.0, 0.0]), ("b", [1.0, 0.0])]  # only b moved
    out = embedding_drift(_emb_df(spark, base), _emb_df(spark, curr),
                          "embedding", group_by=["g"]).toPandas().set_index("g")
    assert out.loc["a", "centroid_cosine"] == 1.0
    assert out.loc["b", "centroid_cosine"] == 0.0  # orthogonal centroids
    assert out.loc["b", "centroid_l2"] == pytest.approx(np.sqrt(2.0), abs=1e-6)


def test_multi_column_matches_single_column(spark):
    """snapshot_drift_multi must equal per-column snapshot_drift runs
    (numeric AND categorical), modulo the added 'column' key."""
    from random_cut_forest_by_aws_spark.operators.distdrift import snapshot_drift_multi

    rows_a = [("g1", float(i % 5), "x" if i % 3 else "y") for i in range(120)]
    rows_b = [("g1", float((i + 1) % 7), "x" if i % 4 else "z") for i in range(90)]
    schema = "g string, v double, c string"
    base = spark.createDataFrame(rows_a, schema)
    curr = spark.createDataFrame(rows_b, schema)

    multi = snapshot_drift_multi(
        base, curr, {"v": 1.0, "c": None}, group_by=["g"], round_dp=9
    ).toPandas().set_index("column")
    single_v = snapshot_drift(base, curr, "v", group_by=["g"], bin_width=1.0,
                              round_dp=9).toPandas().iloc[0]
    single_c = snapshot_drift(base, curr, "c", group_by=["g"], bin_width=None,
                              round_dp=9).toPandas().iloc[0]
    for m in ("n_bins", "n_base", "n_curr", "psi", "js_div", "linf", "tvd",
              "chi2", "ks", "w1"):
        got_v, exp_v = multi.loc["v", m], single_v[m]
        assert got_v == exp_v or got_v == pytest.approx(exp_v, abs=1e-12), ("v", m)
        got_c, exp_c = multi.loc["c", m], single_c[m]
        if m == "w1":
            assert np.isnan(got_c) and np.isnan(exp_c)
        else:
            assert got_c == exp_c or got_c == pytest.approx(exp_c, abs=1e-12), ("c", m)


def test_multi_column_single_scan_per_snapshot(spark):
    """Profiling k columns must not cost k scans: exactly one FileScan
    per snapshot in the executed plan."""
    from random_cut_forest_by_aws_spark.operators.distdrift import snapshot_drift_multi
    from pyspark.sql import functions as SF

    e = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    out = snapshot_drift_multi(
        e.filter(SF.col("event_id") % 2 == 0),
        e.filter(SF.col("event_id") % 2 == 1),
        {"value": 25.0, "event_type": None, "user_id": 500.0},
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("FileScan parquet") == 2, plan


def test_randomized_histograms_match_numpy(spark):
    """Randomized parity sweep: 20 seeded random histogram pairs ride as
    20 groups through ONE Spark job; every group's full metric set must
    match the NumPy reference (fuzzes zero-count bins, one-sided bins,
    skew, and small/large totals in one shot)."""
    rng = np.random.default_rng(42)
    rows = []
    cases = {}
    for g in range(20):
        nb = int(rng.integers(2, 12))
        a = rng.integers(0, 40, size=nb)
        b = rng.integers(0, 40, size=nb)
        # guarantee nonzero totals and at least one observed bin per side
        a[int(rng.integers(nb))] += 1
        b[int(rng.integers(nb))] += 1
        # drop bins empty on BOTH sides: they never reach the joined
        # histogram, so the reference must not see them either
        keep = (a + b) > 0
        cases[f"g{g:02d}"] = (a[keep], b[keep])
        for i in range(nb):
            rows += [(f"g{g:02d}", 0, float(i))] * int(a[i])
            rows += [(f"g{g:02d}", 1, float(i))] * int(b[i])
    df = spark.createDataFrame(rows, "g string, side int, v double")
    base = df.filter("side = 0")
    curr = df.filter("side = 1")
    out = snapshot_drift(base, curr, "v", group_by=["g"], bin_width=1.0,
                         round_dp=9).toPandas().set_index("g")
    assert len(out) == 20
    for g, (a, b) in cases.items():
        exp = _np_metrics(a, b)
        # contiguity for the w1 reference: only compare when the kept
        # bins are consecutive (holes use lead-step weights instead)
        for m in ("psi", "js_div", "linf", "tvd", "chi2", "ks"):
            assert out.loc[g, m] == pytest.approx(exp[m], abs=1e-8), (g, m)
        assert out.loc[g, "n_bins"] == len(a)
        assert out.loc[g, "n_base"] == a.sum() and out.loc[g, "n_curr"] == b.sum()


def test_profile_roundtrip_equals_direct_multi(spark, tmp_path):
    """The baseline-profile workflow must be exact: histogram_profile
    written to parquet and compared via snapshot_drift_vs_profile gives
    the identical result as scanning both snapshots directly."""
    from random_cut_forest_by_aws_spark.operators.distdrift import (
        histogram_profile,
        snapshot_drift_multi,
        snapshot_drift_vs_profile,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    base = e.filter("event_id % 2 = 0")
    curr = e.filter("event_id % 2 = 1")
    cols = {"value": 25.0, "event_type": None}

    direct = snapshot_drift_multi(base, curr, cols,
                                  group_by=["event_type"]).toPandas()
    p = str(tmp_path / "profile")
    histogram_profile(base, cols, group_by=["event_type"]).write.parquet(p)
    via = snapshot_drift_vs_profile(
        spark.read.parquet(p), curr, cols, group_by=["event_type"]
    ).toPandas()

    key = ["event_type", "column"]
    direct = direct.sort_values(key).reset_index(drop=True)
    via = via.sort_values(key).reset_index(drop=True)
    assert list(direct.columns) == list(via.columns)
    for c in direct.columns:
        a, b = direct[c].to_numpy(), via[c].to_numpy()
        if a.dtype.kind == "f":
            assert bool(np.all((a == b) | (np.isnan(a) & np.isnan(b)))), c
        else:
            assert np.array_equal(a, b), c


def test_profile_is_tiny_and_complete(spark):
    from random_cut_forest_by_aws_spark.operators.distdrift import (
        histogram_profile,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    prof = histogram_profile(e, {"value": 25.0, "event_type": None},
                             group_by=["event_type"]).toPandas()
    n = e.count()
    # every row lands in exactly one bin per column
    assert prof.groupby("column")["cnt"].sum().eq(n).all()
    # and the profile is aggregate-sized, not row-sized
    assert len(prof) < 200


def test_split_predicate_equals_two_dataframe_path(spark):
    """snapshot_drift_split (one scan, side computed in the scan) must
    equal snapshot_drift_multi on the two filtered DataFrames; NULL
    predicates are excluded from both sides; the plan has ONE FileScan."""
    from random_cut_forest_by_aws_spark.operators.distdrift import (
        snapshot_drift_multi,
        snapshot_drift_split,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    cols = {"value": 25.0, "event_type": None}
    direct = snapshot_drift_multi(
        e.filter("event_id % 2 = 0"), e.filter("event_id % 2 = 1"), cols
    ).toPandas().sort_values("column").reset_index(drop=True)
    split = snapshot_drift_split(e, "event_id % 2 = 0", cols)
    got = split.toPandas().sort_values("column").reset_index(drop=True)
    assert list(got.columns) == list(direct.columns)
    for c in got.columns:
        a, b = got[c].to_numpy(), direct[c].to_numpy()
        if a.dtype.kind == "f":
            assert bool(np.all((a == b) | (np.isnan(a) & np.isnan(b)))), c
        else:
            assert np.array_equal(a, b), c

    split.collect()
    plan = split._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("FileScan parquet") == 1, plan

    # NULL predicate rows land on neither side
    df = spark.createDataFrame(
        [(None, 1.0)] * 10 + [(0, 1.0)] * 5 + [(1, 2.0)] * 7,
        "flag int, v double",
    )
    out = snapshot_drift_split(df, "flag = 0", {"v": 1.0}).toPandas().iloc[0]
    assert out["n_base"] == 5 and out["n_curr"] == 7


def test_embedding_profile_roundtrip_equals_direct(spark, tmp_path):
    """embedding_drift_vs_profile through a parquet round-trip equals
    the direct two-scan embedding_drift (float sums: addend sets are
    identical, order differs -> compare at 1e-9 on 6-dp metrics)."""
    from random_cut_forest_by_aws_spark.operators.distdrift import (
        embedding_drift,
        embedding_drift_vs_profile,
        embedding_profile,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    base = e.filter("vec_id % 2 = 0")
    curr = e.filter("vec_id % 2 = 1")
    direct = embedding_drift(base, curr, "embedding", group_by=["label"]
                             ).toPandas().sort_values("label").reset_index(drop=True)
    p = str(tmp_path / "emb_profile")
    embedding_profile(base, "embedding", group_by=["label"]).write.parquet(p)
    via = embedding_drift_vs_profile(
        spark.read.parquet(p), curr, "embedding", group_by=["label"]
    ).toPandas().sort_values("label").reset_index(drop=True)
    assert list(direct.columns) == list(via.columns)
    assert len(direct) == len(via) == 10
    for c in direct.columns:
        a, b = direct[c].to_numpy(), via[c].to_numpy()
        if a.dtype.kind == "f":
            assert np.allclose(a, b, rtol=0, atol=1e-9, equal_nan=True), c
        else:
            assert np.array_equal(a, b), c


# ---------------------------------------------------------------------------
# token_drift: vocabulary drift over token-array columns


def _tok_df(spark, rows):
    return spark.createDataFrame(rows, "src string, toks array<string>")


def test_token_drift_matches_numpy(spark):
    from random_cut_forest_by_aws_spark.operators.distdrift import token_drift

    # base: a×5, b×3, c×2   curr: a×2, b×3, c×4, d×1  (occurrences, spread
    # over unequal-length docs so per-doc layout can't matter)
    base = _tok_df(spark, [
        ("s", ["a", "a", "b"]), ("s", ["a", "c"]),
        ("s", ["a", "a", "b", "b", "c"]),
    ])
    curr = _tok_df(spark, [
        ("s", ["a", "b", "c", "c"]), ("s", ["b", "c"]),
        ("s", ["a", "b", "c", "d"]),
    ])
    r = token_drift(base, curr, "toks", round_dp=9).toPandas().iloc[0]
    exp = _np_metrics([5, 3, 2, 0], [2, 3, 4, 1])
    assert r["n_bins"] == 4 and r["n_base"] == 10 and r["n_curr"] == 10
    for k in ("psi", "js_div", "linf", "tvd", "chi2"):
        assert r[k] == pytest.approx(exp[k], abs=1e-8), k
    # categorical vocabulary: transport distance undefined
    assert np.isnan(r["w1"])


def test_token_drift_int_token_ids_and_zero_drift(spark):
    from random_cut_forest_by_aws_spark.operators.distdrift import token_drift

    rows = [(f"d{i}", [i % 5, (i * 3) % 5, 7]) for i in range(40)]
    df = spark.createDataFrame(rows, "doc string, toks array<int>")
    out = token_drift(df, df, "toks", round_dp=9).toPandas()
    r = out.iloc[0]
    assert r["n_base"] == 120 and r["n_curr"] == 120
    for m in ("psi", "js_div", "linf", "tvd", "chi2", "ks"):
        assert r[m] == 0.0, m


def test_token_drift_bigram_bins(spark):
    from random_cut_forest_by_aws_spark.operators.distdrift import token_drift

    # grams: doc1 -> "a b","b c"; doc2 -> "a b"; short/NULL/empty docs
    # contribute nothing
    base = _tok_df(spark, [
        ("s", ["a", "b", "c"]), ("s", ["a", "b"]),
        ("s", ["x"]), ("s", []), ("s", None),
    ])
    curr = _tok_df(spark, [("s", ["b", "c", "b", "c"])])
    r = token_drift(base, curr, "toks", ngram=2, round_dp=9).toPandas().iloc[0]
    # base: {"a b": 2, "b c": 1}; curr: {"b c": 2, "c b": 1}
    exp = _np_metrics([2, 1, 0], [0, 2, 1])
    assert r["n_bins"] == 3 and r["n_base"] == 3 and r["n_curr"] == 3
    for k in ("psi", "js_div", "linf", "tvd", "chi2"):
        assert r[k] == pytest.approx(exp[k], abs=1e-8), k


def test_token_drift_null_elements_and_groups(spark):
    from random_cut_forest_by_aws_spark.operators.distdrift import token_drift

    # unigram: a NULL element is its own bin (null-token drift); per-group
    # isolation: g2 identical on both sides stays zero; a NULL group key
    # is a group of its own
    base = _tok_df(spark, [("g1", ["a", None, "a"]), ("g2", ["z", "z"]),
                           (None, ["q", "q", "r"])])
    curr = _tok_df(spark, [("g1", ["a", None, None]), ("g2", ["z", "z"]),
                           (None, ["q", "r", "r"])])
    out = token_drift(base, curr, "toks", group_by=["src"],
                      round_dp=9).toPandas()
    assert len(out) == 3
    null_group = out[out["src"].isna()]
    out = out.set_index("src")
    exp = _np_metrics([2, 1], [1, 2])
    assert out.loc["g1", "psi"] == pytest.approx(exp["psi"], abs=1e-8)
    assert null_group["psi"].tolist() == [pytest.approx(exp["psi"], abs=1e-8)]
    assert null_group["n_base"].tolist() == [3]
    for m in ("psi", "js_div", "linf", "tvd", "chi2", "ks"):
        assert out.loc["g2", m] == 0.0, m


def test_token_drift_split_equals_two_dataframe_path(spark):
    from random_cut_forest_by_aws_spark.operators.distdrift import (
        token_drift,
        token_drift_split,
    )

    rows = [("g%d" % ((i // 3) % 2), i, ["t%d" % (i % 7), "t%d" % ((i * i) % 11)])
            for i in range(120)]
    df = spark.createDataFrame(rows, "g string, i long, toks array<string>")
    split = (
        token_drift_split(df, "i % 2 = 0", "toks", group_by=["g"], ngram=2)
        .toPandas().sort_values("g").reset_index(drop=True)
    )
    two = token_drift(
        df.filter("i % 2 = 0"), df.filter("i % 2 = 1"), "toks",
        group_by=["g"], ngram=2,
    ).toPandas().sort_values("g").reset_index(drop=True)
    import pandas as pd
    pd.testing.assert_frame_equal(split, two)
