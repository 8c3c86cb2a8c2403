"""Declarative constraint checks (operators/checks.py): every rule
family's pass/fail semantics, NULL quarantine, empty-input behavior,
violation accounting, and the single-scan compilation claim."""

from __future__ import annotations

import pytest

from random_cut_forest_by_aws_spark.operators.checks import Check


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "hello world", "en", 11),
        (2, "bonjour", "fr", 7),
        (3, None, "en", 0),
        (4, "hallo", "xx", 5),
        (5, "hey", None, 3),
        (5, "dup id", "en", 6),  # duplicate doc_id
    ]
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, n_chars bigint"
    )


def _run(check, df):
    out = check.run(df).toPandas().set_index("constraint")
    assert (out["check"] == check.name).all()
    return out


def test_completeness_and_violation_counts(spark, docs):
    out = _run(Check("c").is_complete("text").has_completeness("text", 0.8), docs)
    r = out.loc["complete(text)"]
    assert not r["passed"] and r["n_rows"] == 6 and r["n_violations"] == 1
    assert r["metric"] == pytest.approx(5 / 6, abs=1e-6)
    # 5/6 ≈ 0.833 >= 0.8 passes
    assert out.loc["completeness(text)"]["passed"]


def test_contained_in_nulls_fail(spark, docs):
    out = _run(Check("c").is_contained_in("lang", ["en", "fr"], 0.5), docs)
    r = out.loc["contained(lang)"]
    # 4 of 6 in {en, fr}; NULL lang fails the predicate (quarantine)
    assert r["metric"] == pytest.approx(4 / 6, abs=1e-6)
    assert r["passed"] and r["n_violations"] == 2


def test_pattern_and_satisfies(spark, docs):
    out = _run(
        Check("c")
        .has_pattern("text", "^h", min_fraction=0.5)
        .satisfies("n_chars >= 5", "min_chars", min_fraction=0.99),
        docs,
    )
    # 'hello world', 'hallo', 'hey' start with h; NULL text fails
    assert out.loc["pattern(text)"]["metric"] == pytest.approx(3 / 6, abs=1e-6)
    assert out.loc["pattern(text)"]["passed"]
    r = out.loc["min_chars"]
    assert r["n_violations"] == 2 and not r["passed"]  # 0 and 3 below 5


def test_aggregate_bounds(spark, docs):
    out = _run(
        Check("c")
        .has_min("n_chars", at_least=0)
        .has_max("n_chars", at_most=10)      # max is 11 -> fail
        .has_mean("n_chars", at_least=4.0, at_most=6.0)  # mean 32/6≈5.33
        .has_sum("n_chars", at_least=32, at_most=32)
        .has_size(at_least=6, at_most=6),
        docs,
    )
    assert out.loc["min(n_chars)>="]["passed"]
    assert not out.loc["max(n_chars)<="]["passed"]
    assert out.loc["max(n_chars)<="]["metric"] == 11.0
    assert out.loc["mean(n_chars)>="]["passed"]
    assert out.loc["mean(n_chars)<="]["passed"]
    assert out.loc["mean(n_chars)>="]["metric"] == pytest.approx(32 / 6, abs=1e-6)
    assert out.loc["sum(n_chars)>="]["passed"] and out.loc["sum(n_chars)<="]["passed"]
    assert out.loc["size(*)>="]["passed"] and out.loc["size(*)<="]["passed"]
    # aggregate rules have no per-row violation notion
    assert (out.loc[["min(n_chars)>=", "size(*)>="]]["n_violations"] == -1).all()


def test_uniqueness_via_distinctness(spark, docs):
    out = _run(Check("c").is_unique("doc_id").has_distinctness("lang", 0.4), docs)
    r = out.loc["distinctness(doc_id)>="]
    assert not r["passed"]  # 5 distinct over 6 rows
    assert r["metric"] == pytest.approx(5 / 6, abs=1e-6)
    # lang: 3 distinct non-null values over 6 rows = 0.5 >= 0.4
    assert out.loc["distinctness(lang)>="]["passed"]


def test_mean_ignores_nulls(spark):
    df = spark.createDataFrame([(1.0,), (3.0,), (None,)], "v double")
    out = _run(Check("c").has_mean("v", at_least=2.0, at_most=2.0), df)
    assert out.loc["mean(v)>="]["metric"] == 2.0  # (1+3)/2 non-null count
    assert out.loc["mean(v)>="]["passed"] and out.loc["mean(v)<="]["passed"]


def test_empty_input_fails_closed(spark):
    df = spark.createDataFrame([], "v double")
    out = _run(
        Check("c").is_complete("v").has_min("v", at_least=0).has_size(at_least=1),
        df,
    )
    # undefined metrics -> passed false (fail closed), n_rows 0
    assert (~out["passed"]).all()
    assert (out["n_rows"] == 0).all()
    assert out.loc["complete(v)"]["n_violations"] == 0


def test_builder_validation(spark, docs):
    with pytest.raises(ValueError, match="no constraints"):
        Check("c").run(docs)
    with pytest.raises(ValueError, match="duplicate"):
        Check("c").is_complete("text").is_complete("text").run(docs)
    with pytest.raises(ValueError, match="at_least"):
        Check("c").has_min("n_chars")


def test_single_scan_plan(spark):
    """The whole rule set — including count(distinct) — reads the
    parquet scan exactly once."""
    df = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    out = (
        Check("docs")
        .is_complete("text")
        .is_contained_in("lang", ["en", "de", "fr"], 0.5)
        .satisfies("n_chars >= 10", "min_chars", 0.9)
        .has_min("n_chars", at_least=0)
        .has_mean("n_chars", at_most=1e6)
        .is_unique("doc_id")
        .run(df)
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert plan.count("FileScan parquet") == 1, plan


def test_suite_integration_custom_checks(spark, seqs):
    """Declarative Check rules ride the ValidationSuite verdict table:
    one verdict row per constraint under check:<name>, violation counts
    carried, aggregate rules clamped to 0."""
    from random_cut_forest_by_aws_spark.operators.drift import DriftConfig
    from random_cut_forest_by_aws_spark.plans import SuiteConfig, ValidationSuite

    rules = (
        Check("seq_rules")
        .is_complete("doc_id")          # fixture plants NULL doc_ids -> fail
        .satisfies("n_tok >= 1", "n_tok_positive_rule", min_fraction=1.0)
        .has_size(at_least=1.0)         # passes
    )
    cfg = SuiteConfig(
        drift=DriftConfig(num_trees=5, sample_size=16, window=8,
                          min_baseline_windows=2, buckets=1, chunk_size=256),
        checks=(rules,),
    )
    res = ValidationSuite(spark, cfg).run(seqs)
    v = res.verdicts.toPandas()
    custom = v[v["check"] == "check:seq_rules"].set_index("scope")
    assert set(custom.index) == {"complete(doc_id)", "n_tok_positive_rule", "size(*)>="}
    assert not custom.loc["complete(doc_id)", "passed"]
    assert custom.loc["complete(doc_id)", "violation_count"] > 0
    assert custom.loc["size(*)>=", "passed"]
    assert custom.loc["size(*)>=", "violation_count"] == 0  # -1 clamped
    assert custom["detail"].str.startswith("metric ").all()
    # the check materialization is timed into the metrics/lineage table
    m = res.metrics.toPandas()
    assert (m["check"] == "check:seq_rules").any()


def test_check_from_spec_roundtrip(spark, docs):
    from random_cut_forest_by_aws_spark.operators.checks import check_from_spec

    spec = {"name": "spec_rules", "rules": [
        {"type": "is_complete", "column": "text"},
        {"type": "satisfies", "predicate": "n_chars >= 5",
         "name": "min_chars", "min_fraction": 0.5},
        {"type": "has_mean", "column": "n_chars", "at_least": 4.0},
        {"type": "is_contained_in", "column": "lang",
         "allowed": ["en", "fr"], "min_fraction": 0.5},
    ]}
    got = check_from_spec(spec).run(docs).toPandas().set_index("constraint")
    exp = (Check("spec_rules")
           .is_complete("text")
           .satisfies("n_chars >= 5", "min_chars", min_fraction=0.5)
           .has_mean("n_chars", at_least=4.0)
           .is_contained_in("lang", ["en", "fr"], 0.5)
           ).run(docs).toPandas().set_index("constraint")
    assert got.equals(exp)
    with pytest.raises(ValueError, match="unknown rule type"):
        check_from_spec({"name": "x", "rules": [{"type": "run"}]})
    with pytest.raises(ValueError, match="empty rules"):
        check_from_spec({"name": "x", "rules": []})


def test_job_cli_rules_json(spark, tmp_path):
    """--rules-json ships declarative rules as config through the
    spark-submit entry point; check verdicts land in the output."""
    import json

    import duckdb

    from random_cut_forest_by_aws_spark.plans.job import main
    from random_cut_forest_by_aws_spark.sources import sequences

    inp, out = str(tmp_path / "seqs"), str(tmp_path / "out")
    sequences(spark, 4_000, seed=11).write.parquet(inp)
    spec = {"name": "cli_rules", "rules": [
        {"type": "is_complete", "column": "doc_id"},
        {"type": "has_size", "at_least": 1},
    ]}
    rc = main([
        "--input", inp, "--output", out, "--cpus", "8",
        "--trees", "5", "--sample-size", "16",
        "--rules-json", json.dumps(spec),
    ])
    assert rc == 2  # planted violations (incl. null doc_ids) fail
    v = duckdb.sql(
        f"SELECT scope, passed FROM '{out}/verdicts/*.parquet' "
        "WHERE \"check\" = 'check:cli_rules' ORDER BY scope"
    ).fetchall()
    assert v == [("complete(doc_id)", False), ("size(*)>=", True)]


def test_correlation_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(3)
    x = rng.normal(size=200)
    y = 0.7 * x + 0.3 * rng.normal(size=200)
    rows = [(float(a), float(b)) for a, b in zip(x, y)]
    # plant pairwise-incomplete rows: must be excluded from the moments
    rows += [(1.0, None), (None, 5.0), (None, None)]
    df = spark.createDataFrame(rows, "x double, y double")
    exp = float(np.corrcoef(x, y)[0, 1])
    out = _run(
        Check("c")
        .has_correlation("x", "y", at_least=0.5, at_most=0.99)
        .has_correlation("x", "x", at_least=1.0),
        df,
    )
    r = out.loc["corr(x,y)>="]
    assert r["metric"] == pytest.approx(exp, abs=1e-6)
    assert r["passed"] and out.loc["corr(x,y)<="]["passed"]
    assert r["n_violations"] == -1
    # self-correlation is exactly 1 up to rounding
    assert out.loc["corr(x,x)>="]["metric"] == pytest.approx(1.0, abs=1e-6)


def test_correlation_zero_variance_fails_closed(spark):
    df = spark.createDataFrame([(1.0, 2.0), (1.0, 3.0)], "x double, y double")
    out = _run(Check("c").has_correlation("x", "y", at_least=0.0), df)
    r = out.loc["corr(x,y)>="]
    assert not r["passed"]  # x has zero variance -> metric NULL -> fail


def test_grouped_check_per_partition_verdicts(spark, docs):
    """group_by gives per-partition pass/fail: each lang judged on its
    own rows, equal to running the Check on each group's filter."""
    chk = (Check("by_lang")
           .is_complete("text")
           .satisfies("n_chars >= 5", "min_chars", min_fraction=1.0)
           .has_mean("n_chars", at_least=5.0)
           .is_unique("doc_id"))
    out = chk.run(docs, group_by=("lang",)).toPandas()
    assert set(out.columns) == {
        "lang", "check", "constraint", "column", "metric", "op",
        "threshold", "passed", "n_rows", "n_violations",
    }
    # NULL group key is a real group
    assert set(out["lang"].fillna("<null>")) == {"en", "fr", "xx", "<null>"}
    for lang in ["en", "fr", "xx", None]:
        sub = (out[out["lang"].isna()] if lang is None
               else out[out["lang"] == lang]).set_index("constraint")
        ref = chk.run(
            docs.filter("lang IS NULL" if lang is None else f"lang = '{lang}'")
        ).toPandas().set_index("constraint")
        for cname in ref.index:
            for col in ["metric", "passed", "n_rows", "n_violations"]:
                a, b = sub.loc[cname, col], ref.loc[cname, col]
                assert a == b or (a != a and b != b), (lang, cname, col)
    # the doc_id=5 duplicate straddles langs ('en' + NULL), so per-lang
    # uniqueness PASSES everywhere while the global check fails — the
    # grouped run answers a genuinely different question
    en = out[out["lang"] == "en"].set_index("constraint")
    assert en.loc["distinctness(doc_id)>=", "passed"]
    assert not chk.run(docs).toPandas().set_index("constraint").loc[
        "distinctness(doc_id)>=", "passed"]
    # the NULL text row is in 'en' -> completeness fails there only
    assert not en.loc["complete(text)", "passed"]
    fr = out[out["lang"] == "fr"].set_index("constraint")
    assert fr["passed"].all()


# -- frequency-based (grouping) analyzers + new scan-sharing moments ----


def test_entropy_uniqueness_uvr_hand_computed(spark):
    """lang values a,a,b,c,NULL → N=4, D=3, U=2: entropy
    ln4 − 2ln2/4, uniqueness 2/4, unique-value ratio 2/3."""
    import math

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",), ("c",), (None,)], "v string"
    )
    out = _run(
        Check("c")
        .has_entropy("v", at_least=0.0)
        .has_uniqueness("v", at_least=0.0)
        .has_unique_value_ratio("v", at_least=0.0),
        df,
    )
    h = math.log(4) - 2 * math.log(2) / 4
    assert out.loc["entropy(v)>="]["metric"] == pytest.approx(h, abs=1e-6)
    assert out.loc["uniqueness(v)>="]["metric"] == pytest.approx(0.5, abs=1e-6)
    assert out.loc["unique_value_ratio(v)>="]["metric"] == pytest.approx(
        2 / 3, abs=1e-6
    )


def test_mutual_information_hand_computed_and_self_identity(spark):
    """MI over pairwise-complete rows; MI(v,v) must equal entropy(v)
    (the defining identity I(X;X)=H(X))."""
    import math

    df = spark.createDataFrame(
        [("a", "x"), ("a", "x"), ("b", "y"), ("c", None), (None, "z")],
        "v string, w string",
    )
    out = _run(
        Check("c")
        .has_mutual_information("v", "w", at_least=0.0)
        .has_mutual_information("v", "v", at_least=0.0)
        .has_entropy("v", at_least=0.0),
        df,
    )
    # pairs: (a,x)×2, (b,y) → N=3, ca: a=2,b=1, cb: x=2,y=1
    mi = (2 / 3) * math.log(2 * 3 / 4) + (1 / 3) * math.log(3)
    assert out.loc["mi(v,w)>="]["metric"] == pytest.approx(mi, abs=1e-6)
    assert out.loc["mi(v,v)>="]["metric"] == pytest.approx(
        out.loc["entropy(v)>="]["metric"], abs=1e-6
    )


def test_mi_independent_columns_is_zero(spark):
    """A perfectly balanced independent joint ⇒ MI exactly 0."""
    rows = [(a, b) for a in ("p", "q") for b in ("x", "y") for _ in range(3)]
    df = spark.createDataFrame(rows, "v string, w string")
    out = _run(Check("c").has_mutual_information("v", "w", at_least=0.0), df)
    assert out.loc["mi(v,w)>="]["metric"] == pytest.approx(0.0, abs=1e-9)


def test_stddev_and_lengths(spark):
    import numpy as np

    df = spark.createDataFrame(
        [(1, "a"), (2, "bb"), (3, "ccc"), (4, None), (5, "eeeee")],
        "x bigint, s string",
    )
    out = _run(
        Check("c")
        .has_standard_deviation("x", at_least=0.0)
        .has_min_length("s", at_least=1.0)
        .has_max_length("s", at_most=5.0),
        df,
    )
    assert out.loc["stddev(x)>="]["metric"] == pytest.approx(
        float(np.std([1, 2, 3, 4, 5])), abs=1e-6
    )
    assert out.loc["min_length(s)>="]["metric"] == 1.0
    assert out.loc["max_length(s)<="]["metric"] == 5.0
    assert out["passed"].all()


def test_grouping_analyzers_grouped_fail_closed(spark):
    """Per-group verdicts: a group whose basis column is all-NULL has
    no frequency rows — metric NULL, passed False (quarantine)."""
    df = spark.createDataFrame(
        [("g1", "a"), ("g1", "a"), ("g1", "b"), ("g2", None)],
        "g string, v string",
    )
    out = (
        Check("c")
        .has_entropy("v", at_least=0.0)
        .has_uniqueness("v", at_least=0.0)
        .run(df, group_by=("g",))
        .toPandas()
        .set_index(["g", "constraint"])
    )
    assert out.loc[("g1", "entropy(v)>=")]["passed"]
    assert not out.loc[("g2", "entropy(v)>=")]["passed"]
    assert out.loc[("g2", "uniqueness(v)>=")]["metric"] != out.loc[
        ("g2", "uniqueness(v)>=")
    ]["metric"]  # NaN


def test_profile_rules_from_spec(spark, docs):
    from random_cut_forest_by_aws_spark.operators.checks import check_from_spec

    chk = check_from_spec({
        "name": "p",
        "rules": [
            {"type": "has_entropy", "column": "lang", "at_least": 0.1},
            {"type": "has_uniqueness", "column": "doc_id", "at_least": 0.5},
            {"type": "has_unique_value_ratio", "column": "lang",
             "at_least": 0.1},
            {"type": "has_mutual_information", "column_a": "lang",
             "column_b": "text", "at_least": 0.0},
            {"type": "has_standard_deviation", "column": "n_chars",
             "at_least": 0.0},
            {"type": "has_min_length", "column": "text", "at_least": 1.0},
            {"type": "has_max_length", "column": "text", "at_most": 100.0},
        ],
    })
    out = _run(chk, docs)
    assert len(out) == 7
    assert out["metric"].notna().all()


def test_primary_key_rule(spark, docs):
    # doc_id has a duplicate (5) -> 5 distinct / 6 rows
    out = _run(Check("c").is_primary_key("doc_id"), docs)
    r = out.loc["primary_key(doc_id)"]
    assert not r["passed"]
    assert r["metric"] == pytest.approx(5 / 6, abs=1e-6)
    # (doc_id, text) is unique and fully non-null except text NULL on 3
    out = _run(Check("c").is_primary_key(["doc_id", "text"]), docs)
    r = out.loc["primary_key(doc_id,text)"]
    assert not r["passed"]  # NULL text excludes that tuple: 5/6
    assert r["metric"] == pytest.approx(5 / 6, abs=1e-6)
    # (doc_id, lang) is unique where complete, but lang NULL on one row
    clean = docs.filter("text IS NOT NULL AND lang IS NOT NULL")
    out = _run(Check("c").is_primary_key(["doc_id", "lang"]), clean)
    assert out.loc["primary_key(doc_id,lang)"]["passed"]


def test_are_complete_rule(spark, docs):
    out = _run(Check("c").are_complete(["text", "lang"], 0.5), docs)
    r = out.loc["complete(text,lang)"]
    # rows 3 (text NULL) and 5 (lang NULL) fail -> 4/6
    assert r["metric"] == pytest.approx(4 / 6, abs=1e-6)
    assert r["passed"] and r["n_violations"] == 2


def test_approx_count_distinct_tolerance(spark):
    df = spark.range(0, 5000).selectExpr("id", "id % 137 AS v")
    out = _run(
        Check("c")
        .has_approx_count_distinct("v", at_least=110.0, at_most=170.0)
        .has_approx_count_distinct("id", at_least=4000.0),
        df,
    )
    m = out.loc["approx_count_distinct(v)>="]["metric"]
    assert abs(m - 137.0) / 137.0 < 0.15  # HLL within tolerance
    assert out.loc["approx_count_distinct(v)>="]["passed"]
    assert out.loc["approx_count_distinct(v)<="]["passed"]
    assert out.loc["approx_count_distinct(id)>="]["passed"]


def test_new_rules_from_spec(spark, docs):
    from random_cut_forest_by_aws_spark.operators.checks import check_from_spec

    chk = check_from_spec({"name": "s", "rules": [
        {"type": "are_complete", "columns": ["text", "lang"],
         "min_fraction": 0.5},
        {"type": "is_primary_key", "columns": ["doc_id", "text"]},
        {"type": "has_approx_count_distinct", "column": "doc_id",
         "at_least": 3.0},
    ]})
    out = _run(chk, docs)
    assert len(out) == 3
    assert out.loc["complete(text,lang)"]["passed"]
    assert not out.loc["primary_key(doc_id,text)"]["passed"]


def test_top_value_share_hand_computed(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "a"), (4, "b"), (5, None)],
        "id bigint, v string",
    )
    out = _run(
        Check("c")
        .has_top_value_share("v", at_most=0.8)
        .has_top_value_share("v", at_least=0.9),
        df,
    )
    # mode 'a' covers 3 of 4 non-null rows
    assert out.loc["top_value_share(v)<="]["metric"] == pytest.approx(0.75)
    assert out.loc["top_value_share(v)<="]["passed"]
    assert not out.loc["top_value_share(v)>="]["passed"]


def test_observe_matches_run(spark, docs):
    """Zero-extra-scan validation: the Observation-collected verdicts
    must equal run() field-for-field for every observable rule family,
    with the metrics riding the caller's own action. The one-row
    ``x = 5e-7`` case pins the rounding: Spark rounds the metric HALF_UP
    on its decimal form (1e-06), not half-to-even on the binary value."""
    chk = (Check("obs")
           .is_complete("text")
           .has_completeness("lang", 0.8)
           .satisfies("n_chars >= 3", "min3", 0.5)
           .has_min("n_chars", at_least=0.0)
           .has_max("n_chars", at_most=100.0)
           .has_mean("n_chars", at_least=1.0)
           .has_sum("n_chars", at_least=1.0)
           .has_size(at_least=1.0)
           .has_standard_deviation("n_chars", at_least=0.0)
           .has_min_length("text", at_least=0.0)
           .has_max_length("text", at_most=50.0)
           .has_correlation("doc_id", "n_chars", at_least=-1.0)
           .has_quantile("n_chars", 0.5, at_least=0.0)
           .has_approx_count_distinct("doc_id", at_least=1.0))
    half = (Check("half")
            .has_min("x", at_least=0.0)
            .has_max("x", at_most=1.0))
    tiny = spark.createDataFrame([(5e-7,)], "x double")
    for chk, df in ((chk, docs), (half, tiny)):
        inst, obs = chk.observe(df)
        assert inst.count() == df.count()  # the caller's own action
        got = chk.verdicts_from_metrics(obs.get)
        exp = [r.asDict() for r in chk.run(df).collect()]
        assert len(got) == len(exp)
        for g, e in zip(got, exp):
            assert g["constraint"] == e["constraint"]
            assert g["passed"] == e["passed"], g["constraint"]
            if e["metric"] is None:
                assert g["metric"] is None, g["constraint"]
            else:
                assert g["metric"] == pytest.approx(e["metric"], abs=1e-9), \
                    g["constraint"]
            assert g["n_rows"] == e["n_rows"]
            assert g["n_violations"] == e["n_violations"]


def test_observe_rejects_distinct_and_grouping_rules(spark, docs):
    for chk in (Check("c").is_unique("doc_id"),
                Check("c").is_primary_key("doc_id"),
                Check("c").has_entropy("lang", at_least=0.0),
                Check("c").has_top_value_share("lang", at_most=1.0)):
        with pytest.raises(ValueError, match="not observable"):
            chk.observe(docs)


def test_observe_rides_a_write(spark, docs, tmp_path):
    """The canonical 100TB shape: validate WHILE writing the output."""
    chk = Check("w").is_complete("doc_id").has_size(at_least=1.0)
    inst, obs = chk.observe(docs)
    inst.write.mode("overwrite").parquet(str(tmp_path / "out"))
    v = {r["constraint"]: r for r in chk.verdicts_from_metrics(obs.get)}
    assert v["complete(doc_id)"]["passed"]
    assert v["size(*)>="]["n_rows"] == docs.count()


def test_data_type_positive_and_pii_rules(spark):
    df = spark.createDataFrame(
        [("1", 5, "write to a@b.co now"),
         ("2.5", -1, "clean"),
         ("abc", 0, "see https://x.io/p"),
         (None, 3, None)],
        "s string, v bigint, t string",
    )
    out = _run(
        Check("c")
        .has_data_type("s", "numeric", 0.7)
        .has_data_type("s", "integral", 0.4)
        .is_positive("v", 0.5)
        .contains_email("t", max_fraction=0.3)
        .contains_url("t", max_fraction=0.0),
        df,
    )
    # 'abc' fails numeric parse; NULL passes -> 3/4
    r = out.loc["data_type(s,numeric)"]
    assert r["metric"] == pytest.approx(0.75) and r["passed"]
    assert out.loc["positive(v)"]["metric"] == pytest.approx(0.5)
    assert out.loc["positive(v)"]["passed"]
    # one email in 4 rows -> no_email fraction 0.75 >= 0.7 passes
    r = out.loc["no_email(t)"]
    assert r["metric"] == pytest.approx(0.75) and r["passed"]
    # one URL -> no_url 0.75 < 1.0 fails (NULL text counts as no-match)
    r = out.loc["no_url(t)"]
    assert r["metric"] == pytest.approx(0.75) and not r["passed"]

    with pytest.raises(ValueError, match="dtype"):
        Check("c").has_data_type("s", "uuid")
