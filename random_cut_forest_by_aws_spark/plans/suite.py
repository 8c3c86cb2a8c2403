"""ValidationSuite — the engine's top-level plan (north_rule end-to-end).

Composes the operators into one validation run over a tokenized-sequence
table and emits three result tables (the engine's analogue of the
reference's ``AnomalyDescriptor`` stream, re-shaped for batch validation):

* ``verdicts``  — one row per (check, scope): passed / violation counts;
* ``violations`` — bounded per-row evidence (duplicate keys, broken refs,
  invariant failures, drift anomalies / drifted windows);
* ``metrics``   — per-scope lineage: rows, tokens, per-check durations.

Plan shape (what Catalyst sees): the stats/uniqueness/invariant checks are
independent aggregations over the scan (column-pruned per check);
referential reuses the stats result (anti-join over #distinct-keys rows,
never the fact table); drift is a single groupBy→applyInPandas whose raw
output is a ``localCheckpoint``. ``run`` runs each check's plan once and
holds its result on the driver: column stats, drift verdicts, custom
``Check`` and baseline-drift rows in full (one row per group, constraint
or column), violation evidence as at most ``max_violation_rows`` rows per
check. Every result table is then a union of local relations
(``local_frame``), so reading ``verdicts``, ``violations`` or ``stats``
scans no input and nothing is ``cache()``d. ``lineage`` and ``profile``
stay lazy. The checks run one after another by default
(``SuiteConfig.concurrent=False``: in local mode every stage contends for
the same cores); ``concurrent=True`` submits them from driver threads, so
on a real cluster per-job scheduling latency overlaps and the JVM-bound
scans share the cluster with the Python-bound drift stage.

Truncation trade-off: a check's evidence is ``limit(cap + 1).collect()``,
whose length is the exact violation count while it stays within the cap.
Past the cap the count takes a second job over the same plan: for
uniqueness that runs the aggregate again, where the cached result used to
be re-counted; the scan-only invariant check stops reading once it has
the cap, so its count is the only full scan.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.features import token_features
from ..operators.constraints import token_equality_violations
from ..operators.drift import (
    DriftConfig,
    drift_anomalies,
    drift_lineage,
    drift_scores,
    drift_verdicts,
)
from ..operators.stats import column_stats
from ..operators.uniqueness import uniqueness_violations
from ..session import local_frame


@dataclass
class SuiteConfig:
    key_cols: tuple[str, ...] = ("doc_id",)
    group_col: str = "source"
    order_col: str = "seq"
    tokens_col: str = "tokens"
    n_tok_col: str = "n_tok"
    # evidence cap per check; the violation count stays exact, and one
    # extra job (a count over the check's plan) runs only for a check
    # whose evidence was truncated
    max_violation_rows: int = 1000
    drift: DriftConfig = field(default_factory=DriftConfig)
    vocab: int = 50_000
    # Materialize independent checks from concurrent driver threads. On a
    # real multi-executor cluster this overlaps scheduling latency and
    # lets JVM-bound scans share the cluster with the Python-bound drift
    # stage. In local[N] (single machine) every stage contends for the
    # same cores, so sequential is faster — hence default False.
    concurrent: bool = False
    # Declarative table-specific rules (operators/checks.Check): each
    # Check compiles to ONE conditional aggregate over ONE scan of df
    # and contributes one verdict row per constraint (scope = the
    # constraint name). Aggregate-only — no per-row violation evidence.
    checks: tuple = ()
    # Structural contract (operators/schema.validate_schema): expected
    # column -> DDL type. Pure metadata — verified from the table schema
    # before any data is scanned; one verdict row per column under
    # check="schema". Key columns are additionally required to be
    # DECLARED non-nullable.
    expected_schema: dict | None = None
    schema_non_nullable: tuple[str, ...] = ()
    schema_allow_extra: bool = True
    # Histogram-profile workflow (operators/distdrift.py): when
    # profile_cols is set (column -> bin_width, None = categorical) the
    # run emits a persistable |cols|·|bins| histogram of the input as
    # ValidationResult.profile (write it next to the verdicts); when
    # baseline_profile (a STORED profile DataFrame from a previous run)
    # is also given, the run adds check="baseline_drift" verdicts —
    # PSI vs the stored histogram, scanning only the current input.
    profile_cols: dict | None = None
    baseline_profile: DataFrame | None = None
    psi_threshold: float = 0.25


@dataclass
class ValidationResult:
    verdicts: DataFrame
    violations: DataFrame
    metrics: DataFrame
    stats: DataFrame
    #: per-(group, bucket) drift lineage — the audit grain of the resume
    #: checkpoints (north-star "per-partition lineage and metrics")
    lineage: DataFrame = None
    #: persistable histogram profile of THIS run's input (when
    #: SuiteConfig.profile_cols is set) — store it and pass it to the
    #: next run as baseline_profile
    profile: DataFrame = None


VERDICT_SCHEMA = "check string, scope string, passed boolean, violation_count long, detail string"
VIOLATION_SCHEMA = "check string, scope string, key string, detail string"
METRICS_SCHEMA = "check string, duration_sec double, output_rows long, wall_sec double"


class ValidationSuite:
    """Run schema/constraint/drift validation over a sequences DataFrame."""

    def __init__(self, spark: SparkSession, cfg: SuiteConfig | None = None):
        self.spark = spark
        self.cfg = cfg or SuiteConfig()

    def run(self, df: DataFrame, ref_dim: DataFrame | None = None) -> ValidationResult:
        cfg = self.cfg
        spark = self.spark
        cap = cfg.max_violation_rows
        t0 = time.time()
        timings: dict[str, tuple[float, int]] = {}

        def timed(name: str, fn, *args):
            t = time.time()
            out, n = fn(*args)
            timings[name] = (time.time() - t, int(n))
            return out, n

        def local(rows, plan: DataFrame) -> DataFrame:
            return local_frame(spark, rows, plan.schema)

        def held(plan: DataFrame, failed=lambda r: r["passed"] is False):
            # the whole result (one row per group, constraint or column);
            # n (the metrics table's output_rows) counts the rows `failed` flags
            rows = plan.collect()
            return local(rows, plan), sum(map(failed, rows))

        def evidence(plan: DataFrame):
            # at most `cap` rows; their number is the exact count unless
            # the cap is passed, and only then does a count job run
            rows = plan.limit(cap + 1).collect()
            return local(rows[:cap], plan), len(rows) if len(rows) <= cap else plan.count()

        def violation(check: str, scope, key, detail) -> list:
            return [F.lit(check).alias("check"), scope.alias("scope"), key.alias("key"),
                    detail.alias("detail")]

        def verdict(check, scope, passed, count, detail) -> list:
            # check: a name or a column; count: cast to long
            return [F.lit(check).alias("check"), scope.alias("scope"), passed.alias("passed"),
                    F.lit(count).cast("long").alias("violation_count"), detail.alias("detail")]

        group = F.col(cfg.group_col).cast("string")
        table = F.lit("<table>")

        # ---- lazy plans --------------------------------------------------
        stats_plan = column_stats(
            df,
            numeric_cols=[cfg.n_tok_col],
            key_cols=list(cfg.key_cols),
            group_by=[cfg.group_col],
        )
        dup = uniqueness_violations(df, list(cfg.key_cols)).select(*violation(
            "uniqueness", table,
            F.concat_ws("|", *[F.col(k).cast("string") for k in cfg.key_cols]),
            F.concat_ws("=", F.lit("dup_count"), F.col("dup_count").cast("string")),
        ))
        inv = token_equality_violations(
            df,
            tokens_col=cfg.tokens_col,
            n_tok_col=cfg.n_tok_col,
            id_cols=(list(cfg.key_cols) + [cfg.group_col, cfg.order_col]),
        ).select(*violation(
            "token_array_equality", group, F.col(cfg.order_col).cast("string"),
            F.concat_ws(",", "failed_constraints"),
        ))
        feat = df.withColumn(
            "features", token_features(cfg.tokens_col, cfg.n_tok_col, cfg.vocab)
        ).select(cfg.group_col, cfg.order_col, "features")

        def run_drift():
            # localCheckpoint, not cache(): raw's anomaly rows are not
            # bounded by the number of groups, so they stay on the
            # executors, and a cache() would register raw's plan (the
            # suite's biggest) with the CacheManager, which re-canonicalizes
            # every registered plan on every later action in the session.
            # Checkpointing truncates raw to a leaf; verdicts, evidence and
            # lineage all read it without re-running the grouped map.
            raw = drift_scores(
                feat, "features", (cfg.group_col,), cfg.order_col, cfg.drift
            ).localCheckpoint(eager=True)
            anomalies = drift_anomalies(raw).select(*violation(
                "drift_anomaly", group, F.col(cfg.order_col).cast("string"),
                F.concat_ws(
                    " ",
                    F.lit("score"),
                    F.round("score", 4).cast("string"),
                    F.lit("grade"),
                    F.round("grade", 4).cast("string"),
                ),
            ))
            dv, n = held(drift_verdicts(raw, (cfg.group_col,), cfg.drift))
            return (raw, local(anomalies.limit(cap).collect(), anomalies), dv), n

        custom = [(chk, chk.run(df)) for chk in cfg.checks]

        profile = None
        baseline_drift = None
        if cfg.profile_cols:
            from ..operators.distdrift import (
                histogram_profile,
                snapshot_drift_vs_profile,
            )

            profile = histogram_profile(df, cfg.profile_cols)
            if cfg.baseline_profile is not None:
                baseline_drift = snapshot_drift_vs_profile(
                    cfg.baseline_profile, df, cfg.profile_cols
                )

        # ---- run every check once (concurrently on clusters) --------------
        workers = (5 + len(custom)) if cfg.concurrent else 1
        with ThreadPoolExecutor(max_workers=workers) as ex:
            f_drift = ex.submit(timed, "drift", run_drift)
            f_stats = ex.submit(timed, "column_stats", held, stats_plan, lambda r: True)
            f_dup = ex.submit(timed, "uniqueness", evidence, dup)
            f_inv = ex.submit(timed, "token_invariants", evidence, inv)
            f_custom = [ex.submit(timed, f"check:{chk.name}", held, cdf) for chk, cdf in custom]
            f_bd = None
            if baseline_drift is not None:
                psi_over = lambda r: r["psi"] is not None and r["psi"] > cfg.psi_threshold  # noqa: E731
                f_bd = ex.submit(timed, "baseline_drift", held, baseline_drift, psi_over)
            stats, _ = f_stats.result()
            f_ref = None
            if ref_dim is not None:
                # plan reuse: the FK is the grouping key, so the stats table
                # already holds the distinct FK values + row counts — anti-
                # join those few rows instead of rescanning the fact table.
                refv = stats.join(
                    F.broadcast(ref_dim.select(cfg.group_col).distinct()),
                    on=cfg.group_col,
                    how="left_anti",
                ).select(*violation(
                    "referential", table, group,
                    F.concat_ws("=", F.lit("fact_rows"), F.col("n_rows").cast("string")),
                ))
                f_ref = ex.submit(timed, "referential", evidence, refv)
            dup, n_dup = f_dup.result()
            inv, n_inv = f_inv.result()
            (raw, anomalies, dv), _ = f_drift.result()
            custom = [f.result()[0] for f in f_custom]
            if f_bd is not None:
                baseline_drift, _ = f_bd.result()
            if f_ref is not None:
                refv, n_ref = f_ref.result()

        # ---- verdict + violation tables -----------------------------------
        verdict_dfs: list[DataFrame] = []
        violation_dfs: list[DataFrame] = []

        verdict_dfs.append(stats.select(*verdict(
            "n_tok_positive", group, F.col(f"{cfg.n_tok_col}_min") > 0, 0,
            F.concat_ws("=", F.lit("n_tok_min"), F.col(f"{cfg.n_tok_col}_min").cast("string")),
        )))
        # key-column not-null: based on the key columns' own null counts
        # (n_tok_nulls tests a different column and was a false negative)
        key_nulls = sum(
            (F.col(f"{k}_nulls") for k in cfg.key_cols), F.lit(0)
        ).cast("long")
        verdict_dfs.append(stats.select(*verdict(
            "doc_id_not_null", group, key_nulls == 0, key_nulls,
            F.lit(f"null count over keys {list(cfg.key_cols)}"),
        )))
        n_tok_nulls = F.col(f"{cfg.n_tok_col}_nulls")
        verdict_dfs.append(stats.select(*verdict(
            "n_tok_not_null", group, n_tok_nulls == 0, n_tok_nulls, F.lit("n_tok null count"),
        )))

        # the table-level counts are already on the driver: one local
        # relation for all of them (no Python-worker tasks on read)
        known = [("uniqueness", "<table>", n_dup == 0, n_dup, f"keys={list(cfg.key_cols)}")]
        if f_ref is not None:
            known.append(("referential", "<table>", n_ref == 0, n_ref, f"fk={cfg.group_col}"))
        known.append((
            "token_array_equality",
            "<table>",
            n_inv == 0,
            n_inv,
            "n_tok==size(tokens), tokens non-null & in range",
        ))
        verdict_dfs.append(local_frame(spark, known, VERDICT_SCHEMA))

        violation_dfs.append(dup)
        if f_ref is not None:
            violation_dfs.append(refv)
        violation_dfs.append(inv)

        verdict_dfs.append(dv.select(*verdict(
            "distribution_drift", group, F.coalesce(F.col("passed"), F.lit(True)),
            F.col("n_drifted_windows"),
            F.concat_ws(
                " ",
                F.lit("windows"),
                F.col("n_windows").cast("string"),
                F.lit("mean_score"),
                F.round("mean_score", 4).cast("string"),
            ),
        )))
        violation_dfs.append(anomalies)

        # ---- structural schema contract (metadata-only, zero scan) -------
        if cfg.expected_schema:
            from ..operators.schema import validate_schema

            sv = validate_schema(
                df, cfg.expected_schema,
                non_nullable=cfg.schema_non_nullable,
                allow_extra=cfg.schema_allow_extra,
            )
            verdict_dfs.append(sv.select(*verdict(
                "schema", F.col("column"), F.col("passed"), 0,
                F.concat_ws(
                    " ",
                    F.col("status"),
                    F.lit("expected"),
                    F.coalesce(F.col("expected_type"), F.lit("-")),
                    F.lit("actual"),
                    F.coalesce(F.col("actual_type"), F.lit("-")),
                ),
            )))

        # ---- baseline-profile drift (vs a previous run's histogram) ------
        if baseline_drift is not None:
            verdict_dfs.append(baseline_drift.select(*verdict(
                "baseline_drift", F.col("column"), F.col("psi") <= F.lit(cfg.psi_threshold), 0,
                F.concat_ws(
                    " ",
                    F.lit("psi"), F.col("psi").cast("string"),
                    F.lit("js"), F.col("js_div").cast("string"),
                    F.lit("ks"), F.col("ks").cast("string"),
                    F.lit("n_base"), F.col("n_base").cast("string"),
                    F.lit("n_curr"), F.col("n_curr").cast("string"),
                ),
            )))

        # ---- declarative per-table rules (operators/checks.Check) --------
        for cdf in custom:
            verdict_dfs.append(cdf.select(*verdict(
                F.concat(F.lit("check:"), F.col("check")), F.col("constraint"), F.col("passed"),
                F.greatest(F.col("n_violations"), F.lit(0)),
                F.concat_ws(
                    " ",
                    F.lit("metric"),
                    F.col("metric").cast("string"),
                    F.col("op"),
                    F.col("threshold").cast("string"),
                ),
            )))

        verdicts = verdict_dfs[0]
        for v in verdict_dfs[1:]:
            verdicts = verdicts.unionByName(v)
        violations = violation_dfs[0]
        for v in violation_dfs[1:]:
            violations = violations.unionByName(v)

        # ---- lineage / metrics table --------------------------------------
        wall = time.time() - t0
        metrics_rows = [
            (check, float(dur), int(n), float(wall))
            for check, (dur, n) in sorted(timings.items())
        ]
        metrics = local_frame(spark, metrics_rows, METRICS_SCHEMA)
        lineage = drift_lineage(raw, (cfg.group_col,), cfg.drift)
        return ValidationResult(verdicts, violations, metrics, stats, lineage,
                                profile)
