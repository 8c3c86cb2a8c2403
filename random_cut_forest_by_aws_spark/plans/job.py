"""spark-submit entry point (north_rule packaging).

Usage (cluster):
    zip -r engine.zip random_cut_forest_by_aws_spark
    spark-submit --py-files engine.zip -m random_cut_forest_by_aws_spark.plans.job \
        --input <parquet-or-iceberg-table> --output /path/out \
        --checkpoint-dir /path/ckpt [--ref-dim <table>] [--cpus N]

Local sandbox:
    python -m random_cut_forest_by_aws_spark.plans.job --input ... --output ...

Reads the tokenized-sequence table, runs the full validation suite
(resumable via --checkpoint-dir), and writes verdicts / violations /
metrics / stats through the connector named by ``--format``: parquet by
default (all this sandbox ships), ``--format iceberg`` on a cluster
with the Iceberg runtime jars + a catalog routes every read and write
— input, ref-dim, baseline profile, metrics history, result tables —
through the same DataSourceV2 connector with no code change
(north-rule Iceberg surface).
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="RCF-Spark validation job")
    ap.add_argument("--input", required=True, help="sequences table path (parquet)")
    ap.add_argument("--output", required=True, help="output dir for result tables")
    ap.add_argument(
        "--format", default="parquet", dest="fmt",
        help="table format for every read and write: parquet (default, "
        "path-addressed), or any DataSourceV2 short name whose jars are "
        "on the cluster classpath — 'iceberg' / 'delta' read catalog "
        "table identifiers and write through the same connector "
        "(north-rule Iceberg surface; this sandbox ships only parquet)",
    )
    ap.add_argument("--ref-dim", default=None, help="sources dimension table path")
    ap.add_argument(
        "--checkpoint-dir", default=None,
        help="resume checkpoints; a resume is bit-exact only while appended rows change "
        "no group's adaptive drift bucket count",
    )
    ap.add_argument("--cpus", type=int, default=None, help="local[N] override")
    ap.add_argument("--trees", type=int, default=30)
    ap.add_argument("--sample-size", type=int, default=256)
    ap.add_argument("--rows-per-bucket", type=int, default=100_000)
    ap.add_argument(
        "--rules-json", default=None,
        help="declarative constraint rules: inline JSON or a file path; "
        "a spec object or list of spec objects (see operators/checks."
        "check_from_spec)",
    )
    ap.add_argument(
        "--baseline-profile", default=None,
        help="path of a previous run's {output}/profile — adds "
        "check=baseline_drift verdicts (PSI vs the stored histogram; "
        "only the current input is scanned)",
    )
    ap.add_argument(
        "--psi-threshold", type=float, default=0.25,
        help="baseline_drift passes while PSI <= this (0.25 = the "
        "industry 'major shift' line)",
    )
    ap.add_argument(
        "--metrics-history", default=None,
        help="parquet dir accumulating (check, run_ts, value) across "
        "runs — enables deequ addAnomalyCheck-style verdicts: this "
        "run's per-check output_rows judged against the metric's own "
        "history (operators/metrics_anomaly); the run appends itself "
        "after the verdicts are written",
    )
    ap.add_argument(
        "--anomaly-method", default="zscore",
        choices=["zscore", "online", "rel_change", "abs_change"],
    )
    ap.add_argument("--anomaly-z", type=float, default=3.0)
    ap.add_argument("--anomaly-min-history", type=int, default=5)
    ap.add_argument(
        "--anomaly-lower", type=float, default=0.5,
        help="rel/abs_change lower bound (anomaly when change < this)",
    )
    ap.add_argument(
        "--anomaly-upper", type=float, default=2.0,
        help="rel/abs_change upper bound (anomaly when change > this)",
    )
    ap.add_argument(
        "--stats-state", default=None,
        help="dir accumulating per-run mergeable stats states "
        "(operators/states): each run appends the state of ITS input "
        "slice (counts/sums/min-max/HLL, one aggregate over the data it "
        "already scans) and writes the merged full-corpus statistics to "
        "{output}/cumulative_stats — prior runs' data is never rescanned",
    )
    ap.add_argument(
        "--reconcile-against", default=None,
        help="a prior snapshot of the input table — adds row-level "
        "reconciliation verdicts (check=reconciliation: churn fraction "
        "and duplicate-key count via operators/diff) and writes the "
        "per-status summary to {output}/reconciliation; the diff "
        "shuffles only keys + per-column hashes, never payloads",
    )
    ap.add_argument(
        "--reconcile-keys", default="doc_id",
        help="comma-separated key columns for --reconcile-against",
    )
    ap.add_argument(
        "--max-churn", type=float, default=0.5,
        help="reconciliation churn verdict passes while (keys not "
        "unchanged) / (all keys) <= this",
    )
    ap.add_argument(
        "--expect-schema-json", default=None,
        help="structural schema contract: inline JSON or a file path; "
        '{"columns": {name: ddl_type, ...}, "non_nullable": [...], '
        '"allow_extra": true} — verified from table metadata before any '
        "data is scanned",
    )
    args = ap.parse_args(argv)

    def _load_json(raw: str):
        import json
        import os

        if os.path.exists(raw):
            with open(raw) as fh:
                raw = fh.read()
        return json.loads(raw)

    from random_cut_forest_by_aws_spark import get_spark, local_frame
    from random_cut_forest_by_aws_spark.operators.checks import check_from_spec
    from random_cut_forest_by_aws_spark.operators.drift import DriftConfig
    from random_cut_forest_by_aws_spark.plans import SuiteConfig, ValidationSuite
    from random_cut_forest_by_aws_spark.plans.suite import VERDICT_SCHEMA

    checks = ()
    if args.rules_json:
        specs = _load_json(args.rules_json)
        if isinstance(specs, dict):
            specs = [specs]
        checks = tuple(check_from_spec(s) for s in specs)

    expected_schema, schema_nn, schema_extra = None, (), True
    if args.expect_schema_json:
        sc_spec = _load_json(args.expect_schema_json)
        expected_schema = sc_spec["columns"]
        schema_nn = tuple(sc_spec.get("non_nullable") or ())
        schema_extra = bool(sc_spec.get("allow_extra", True))

    master = f"local[{args.cpus}]" if args.cpus else None
    spark = get_spark(app_name="rcf-validate", master=master)
    t0 = time.time()

    def _read(path):
        # .format(fmt).load(path) covers path-addressed parquet and
        # DataSourceV2 identifiers (iceberg/delta) with the same call.
        return spark.read.format(args.fmt).load(path)

    def _write(sdf, path, mode="overwrite"):
        sdf.write.mode(mode).format(args.fmt).save(path)

    df = _read(args.input)
    ref_dim = _read(args.ref_dim) if args.ref_dim else None
    cfg = SuiteConfig(
        drift=DriftConfig(
            num_trees=args.trees,
            sample_size=args.sample_size,
            rows_per_bucket=args.rows_per_bucket,
            checkpoint_dir=args.checkpoint_dir,
        ),
        checks=checks,
        expected_schema=expected_schema,
        schema_non_nullable=schema_nn,
        schema_allow_extra=schema_extra,
        # every run emits a histogram profile of its input; the next
        # run's --baseline-profile points at it for a drift check that
        # never rescans this run's data
        profile_cols={"n_tok": 16.0, "source": None},
        baseline_profile=(
            _read(args.baseline_profile) if args.baseline_profile else None
        ),
        psi_threshold=args.psi_threshold,
    )
    res = ValidationSuite(spark, cfg).run(df, ref_dim=ref_dim)

    verdicts = res.verdicts
    hist_cur = None
    if args.metrics_history:
        from pyspark.sql import functions as F
        from pyspark.errors import AnalysisException

        from random_cut_forest_by_aws_spark.operators.metrics_anomaly import (
            metric_anomalies,
        )

        run_ts = float(time.time())
        hist_cur = res.metrics.select(
            "check",
            F.lit(run_ts).alias("run_ts"),
            F.col("output_rows").cast("double").alias("value"),
        )
        try:
            prior = _read(args.metrics_history).select(
                "check", "run_ts", "value"
            )
            combined = prior.unionByName(hist_cur)
        except AnalysisException:  # first run: no history yet
            combined = hist_cur
        kw = {}
        if args.anomaly_method in ("rel_change", "abs_change"):
            kw = {"lower": args.anomaly_lower, "upper": args.anomaly_upper}
        flags = metric_anomalies(
            combined, ("check",), "run_ts", "value",
            method=args.anomaly_method, z=args.anomaly_z,
            min_history=args.anomaly_min_history, **kw,
        ).filter(F.col("run_ts") == run_ts)
        verdicts = verdicts.unionByName(flags.select(
            F.lit(f"metrics_anomaly_{args.anomaly_method}").alias("check"),
            F.col("check").alias("scope"),
            (~F.coalesce(F.col("is_anomaly"), F.lit(False))).alias("passed"),
            F.when(F.col("is_anomaly"), F.lit(1)).otherwise(F.lit(0))
            .cast("long").alias("violation_count"),
            F.concat_ws(
                " ", F.lit("output_rows"), F.col("value").cast("string"),
                F.lit(f"method={args.anomaly_method}"),
            ).alias("detail"),
        ))

    if args.stats_state:
        from pyspark.sql import functions as F

        from random_cut_forest_by_aws_spark.operators.states import (
            merge_stats_states,
            stats_from_state,
            stats_state,
        )

        num_cols, key_cols = ["n_tok"], ["doc_id", "source"]
        st = stats_state(df, num_cols, key_cols).withColumn(
            "run_ts", F.lit(float(time.time())))
        _write(st, args.stats_state, mode="append")
        cum = stats_from_state(
            merge_stats_states(
                _read(args.stats_state).drop("run_ts"), num_cols, key_cols
            ),
            num_cols, key_cols,
        )
        _write(cum, f"{args.output}/cumulative_stats")

    if args.reconcile_against:
        from random_cut_forest_by_aws_spark.operators.diff import (
            snapshot_diff_summary,
        )

        rkeys = [k.strip() for k in args.reconcile_keys.split(",") if k.strip()]
        summary = snapshot_diff_summary(
            _read(args.reconcile_against), df, rkeys
        )
        # the summary is <= 5 rows: collect ONCE and write the collected
        # rows, so the full-table diff computes exactly one time
        srows = summary.collect()
        _write(local_frame(spark, srows, summary.schema),
               f"{args.output}/reconciliation")
        by = {r["status"]: r["n_keys"] for r in srows}
        total = sum(by.values())
        churn_keys = total - by.get("unchanged", 0)
        churn = churn_keys / total if total else 1.0
        dups = by.get("duplicate_key", 0)
        rec = local_frame(
            spark,
            [
                ("reconciliation", "churn", bool(churn <= args.max_churn),
                 int(churn_keys),
                 f"churn={churn:.6f} max={args.max_churn} keys={total}"),
                ("reconciliation", "duplicate_keys", bool(dups == 0),
                 int(dups), f"duplicate_key_groups={dups}"),
            ],
            VERDICT_SCHEMA,
        )
        verdicts = verdicts.unionByName(rec)

    _write(verdicts, f"{args.output}/verdicts")
    _write(res.violations, f"{args.output}/violations")
    _write(res.metrics, f"{args.output}/metrics")
    _write(res.stats, f"{args.output}/stats")
    _write(res.lineage, f"{args.output}/lineage")
    if res.profile is not None:
        _write(res.profile, f"{args.output}/profile")
    # count from the WRITTEN verdicts, not the lazy plan: the plan
    # embeds a read of the metrics-history path, and re-executing it
    # after the append below would see this run's own row as "prior"
    n_fail = (
        _read(f"{args.output}/verdicts").filter("passed = false").count()
    )
    if hist_cur is not None:
        _write(hist_cur, args.metrics_history, mode="append")
    print(f"validation finished in {time.time()-t0:.1f}s; failing checks: {n_fail}")
    return 0 if n_fail == 0 else 2


if __name__ == "__main__":
    sys.exit(main())
