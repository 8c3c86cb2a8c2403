#!/usr/bin/env python
"""Benchmark harness — headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32).

Prints ONE JSON line:
  {"metric": "validated_sequences_per_sec", "value": N, "unit": "rows/sec",
   "queries": {name: sec, ...}, "sf": 0.1, ...}

The headline metric is the full validation-suite throughput (stats +
uniqueness + referential + token invariants + RCF drift) over the
deterministic tokenized-sequence table (BASELINE.json input_hint shape).
This is the legacy one-line contract; the benchmark with bounds and
per-layer metrics is perfbench/run.py (see BENCHMARK.json).
"""

from __future__ import annotations

import json
import os
import sys
import time

# single-threaded numpy in every python worker: the engine parallelizes
# across partitions, never inside one (avoid 32 workers x N BLAS threads)
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

BENCH_ROWS = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "2000000"))
SEED = 42


def _bench_table_path(n_rows: int) -> str:
    return f"/tmp/rcf_bench/sequences_n{n_rows}_s{SEED}.parquet"


def _ensure_bench_table(spark, n_rows: int) -> str:
    """Materialize the deterministic token table once (generation is not
    part of the measured pipeline — production reads Iceberg/parquet)."""
    path = _bench_table_path(n_rows)
    marker = path + "/_SUCCESS"
    if not os.path.exists(marker):
        from random_cut_forest_by_aws_spark.sources import sequences

        df = sequences(spark, n_rows, seed=SEED, violations=True, drift=True,
                       partitions=64)
        df.write.mode("overwrite").parquet(path)
    return path


_CAL_SRC = (
    "import multiprocessing as mp, time\n"
    "def b(q):\n"
    "    t0=time.time(); n=0\n"
    "    while time.time()-t0<1.5:\n"
    "        for _ in range(100000): n+=1\n"
    "    q.put(n)\n"
    "if __name__=='__main__':\n"
    "    q=mp.Queue(); ps=[mp.Process(target=b,args=(q,)) for _ in range(32)]\n"
    "    [p.start() for p in ps]; print(sum(q.get() for _ in ps)/1.5/1e6)\n"
    "    [p.join() for p in ps]\n"
)


def _calibrate_host() -> float:
    """Pure-Python ops/s at full width in a CLEAN subprocess (forking the
    post-suite driver measured ~3x low — session memory state depresses
    forked busy loops)."""
    import subprocess as sp

    try:
        return float(
            sp.run([sys.executable, "-c", _CAL_SRC], capture_output=True,
                   text=True, timeout=120).stdout.strip()
        )
    except Exception:
        return -1.0


def main() -> None:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0

    # calibrate BEFORE anything heavy: round-3 showed a single post-run
    # calibration cannot bracket the window the suite actually ran in
    # (the host can swing 2x between suite time and calibration time,
    # which made identical code read 82.7s in one session and 132.3s in
    # another at "comparable" calibration). pre+post brackets the window.
    cal_pre = _calibrate_host()

    from pyspark.sql import functions as F

    from random_cut_forest_by_aws_spark import get_spark
    from random_cut_forest_by_aws_spark.functions import token_features
    from random_cut_forest_by_aws_spark.operators import (
        column_stats,
        referential_violations,
        token_equality_violations,
        uniqueness_violations,
    )
    from random_cut_forest_by_aws_spark.operators.drift import (
        DriftConfig,
        drift_scores,
        drift_verdicts,
    )
    from random_cut_forest_by_aws_spark.operators.similarity import cosine_topk
    from random_cut_forest_by_aws_spark.plans import SuiteConfig, ValidationSuite
    from random_cut_forest_by_aws_spark.sources import sources_dim

    spark = get_spark(app_name="rcf-bench", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))

    seq_path = _ensure_bench_table(spark, BENCH_ROWS)
    seqs = spark.read.parquet(seq_path)
    n_rows = seqs.count()
    n_tokens = seqs.agg(F.sum("n_tok")).collect()[0][0]
    dim = sources_dim(spark)

    # rows_per_bucket is intentionally independent of cpus: runs at
    # different parallelism levels must run the IDENTICAL job. ~160
    # groups at 2M rows ⇒ tasks ≫ cores at both levels (no wave
    # quantization).
    drift_cfg = DriftConfig(num_trees=30, sample_size=256, rows_per_bucket=12_500)

    # warm the Python worker pool + JIT before timing anything
    spark.range(100_000).repartition(cpus).groupBy(
        (F.col("id") % cpus).alias("g")
    ).applyInPandas(lambda k, p: p[["id"]].head(1), "id long").count()
    # warm the page cache for the widest column (we measure compute, not
    # first-touch disk: a cold tokens-column scan measured 48s vs 2.7s warm)
    seqs.select(F.sum(F.size("tokens"))).collect()

    suite_only = os.environ.get("SPARK_GRAFT_SUITE_ONLY", "0") == "1"

    timings: dict[str, float] = {}

    def timed(name, fn):
        print(f"[bench] {name} ...", file=sys.stderr, flush=True)
        t0 = time.time()
        out = fn()
        timings[name] = round(time.time() - t0, 3)
        print(f"[bench] {name}: {timings[name]}s", file=sys.stderr, flush=True)
        return out

    # --- full validation suite (headline) --------------------------------
    # The suite runs FIRST: any heavy work earlier in the session leaves
    # 32 dirty Python workers + a full JVM old-gen behind, measured as a
    # 2x slowdown on a later identical suite run (run1 133s → run2 249s in
    # one session). Between sessions the dominant variable is host
    # capacity — suite time tracks host_cal_mops almost exactly (63.9s at
    # 827 Mops vs 133.8s at 397 Mops) — so the JSON carries the
    # calibration for cross-run normalization.
    # SPARK_GRAFT_SUITE_CONCURRENT=1 materializes independent checks from
    # concurrent driver threads (SuiteConfig.concurrent — the real-cluster
    # default): overlaps the fixed-cost JVM scan phases with the Python
    # drift stage, which matters at high parallelism where those fixed
    # seconds are the Amdahl term in the scaling measurement.
    suite_cfg = SuiteConfig(
        drift=drift_cfg,
        concurrent=os.environ.get("SPARK_GRAFT_SUITE_CONCURRENT", "0") == "1",
    )
    suite_attempts = []
    suite_windows: list[list[float]] = []  # [epoch_start, epoch_end] per run,
    # so an external capacity tracer can window its samples to exactly
    # the measured suite interval
    phase_rows_per_run: list[list] = []
    # default 2 back-to-back runs: run2/run1 bounds in-session variance
    # (contamination + window drift) inside ONE committed artifact
    for attempt in range(int(os.environ.get("SPARK_GRAFT_SUITE_RUNS", "2"))):
        t0 = time.time()
        res = ValidationSuite(spark, suite_cfg).run(seqs, ref_dim=dim)
        res.verdicts.collect()
        res.violations.count()
        suite_attempts.append(round(time.time() - t0, 3))
        suite_windows.append([round(t0, 3), round(time.time(), 3)])
        phase_rows_per_run.append(
            res.metrics.select("check", "duration_sec").collect()
        )
        spark.catalog.clearCache()  # suite-internal caches: same work next run
    suite_sec = min(suite_attempts)
    timings["suite_total"] = suite_sec
    for i, t in enumerate(suite_attempts):
        timings[f"suite_run{i + 1}"] = t
        for r in phase_rows_per_run[i]:
            timings[f"suite_run{i + 1}_phase_{r['check']}"] = round(
                float(r["duration_sec"]), 3
            )
    # headline suite_phase_*: durations of the MIN run (the run suite_total
    # quotes). Round-4 lesson: run1 can be a 2x cold outlier, so logging
    # phases only from run1 misattributed the split that feeds the scaling
    # ceiling weights and the README narrative; every run's phases are
    # still recorded above as suite_run{N}_phase_*.
    for r in phase_rows_per_run[suite_attempts.index(suite_sec)]:
        # phase split feeds the scaling ceiling math: drift = Python/NumPy
        # compute, the other checks = JVM columnar scan/aggregation
        timings[f"suite_phase_{r['check']}"] = round(float(r["duration_sec"]), 3)

    # --- individual operators over the token table ----------------------
    if not suite_only:
        timed("column_stats", lambda: column_stats(
            seqs, ["n_tok"], key_cols=["doc_id", "source"], group_by=["source"]
        ).collect())
        timed("uniqueness", lambda: uniqueness_violations(seqs, ["doc_id"]).count())
        timed("referential",
              lambda: referential_violations(seqs, dim, ["source"]).count())
        timed("token_invariants", lambda: token_equality_violations(seqs).count())

        def run_drift():
            feat = seqs.withColumn("features", token_features()).select(
                "source", "seq", "features"
            )
            raw = drift_scores(feat, cfg=drift_cfg)
            return drift_verdicts(raw, cfg=drift_cfg).collect()

        timed("drift", run_drift)

    # --- reference-table queries at sf_dir --------------------------------
    if not suite_only:
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

        timed("pricing_summary", lambda: li.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum("l_quantity"), F.sum("l_extendedprice"), F.count(F.lit(1))
        ).collect())
        timed("uniqueness_lineitem",
              lambda: uniqueness_violations(li, ["l_orderkey"]).count())

        def run_ann():
            q = emb.filter(F.col("vec_id") < 8).select(
                F.col("vec_id").alias("query_id"), "embedding"
            )
            return cosine_topk(emb, q, k=10).count()

        timed("ann_cosine_topk", run_ann)

        def run_minhash():
            from random_cut_forest_by_aws_spark.operators.dedup import minhash_candidates

            return minhash_candidates(docs).count()

        timed("minhash_dedup", run_minhash)

        def run_pipeline_qc():
            # repetition + decontamination + mixture construction in one
            # pass shape over documents (the pretraining-filter chain)
            from random_cut_forest_by_aws_spark.operators.contamination import (
                ngram_contamination,
            )
            from random_cut_forest_by_aws_spark.operators.mixing import (
                mixture_resample,
            )
            from random_cut_forest_by_aws_spark.operators.textqc import (
                repetition_profile,
            )

            n = repetition_profile(docs).count()
            evals = docs.filter(F.col("doc_id") % 97 == 0)
            corpus = docs.filter(F.col("doc_id") % 97 != 0)
            n += ngram_contamination(corpus, evals, n=3).count()
            n += mixture_resample(
                docs, {"src0": 2.0, "src1": 0.5}, default_weight=0.3
            ).count()
            return n

        timed("pipeline_qc", run_pipeline_qc)

        def run_pipeline_scrub_pack():
            # scrub + pack + quota-sample (the corpus-shaping chain).
            # .count() would prune the computed columns, so each step is
            # forced through an aggregate that references its outputs.
            from random_cut_forest_by_aws_spark.operators.packing import (
                pack_sequences,
            )
            from random_cut_forest_by_aws_spark.operators.sampling import (
                quota_sample,
            )
            from random_cut_forest_by_aws_spark.operators.scrub import (
                pii_profile,
            )
            from random_cut_forest_by_aws_spark.operators.textqc import (
                BPE_ISH_PATTERN,
            )

            prof = pii_profile(docs)
            forced = (
                F.sum("n_email") + F.sum("n_phone") + F.sum("n_ipv4")
                + F.sum("n_url") + F.sum("n_digit_run")
                + F.sum(F.length("redacted_text"))
            )
            n = int(prof.agg(forced.alias("x")).collect()[0]["x"])
            toks = docs.select(
                "source", "doc_id",
                F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
                .cast("bigint").alias("n_tok"),
            )
            packed = pack_sequences(toks, 2048, "n_tok")
            n += int(
                packed.agg(F.sum("tok_end").alias("x")).collect()[0]["x"]
            )
            n += quota_sample(docs.select("source", "doc_id"), 100).count()
            return n

        timed("pipeline_scrub_pack", run_pipeline_scrub_pack)

        def run_lm_quality():
            from random_cut_forest_by_aws_spark.operators.lm_quality import (
                unigram_logprob,
            )

            return unigram_logprob(docs, min_count=5).agg(
                F.sum("n_oov").alias("a"), F.sum("logprob").alias("b")
            ).collect()

        timed("lm_quality", run_lm_quality)

        def run_validation_rules():
            # the declarative-rules + snapshot-drift family over the 2M-row
            # token table: all JVM conditional/histogram aggregates.
            # .count() would prune the metric expressions, so force them
            # through aggregates that reference the outputs.
            from random_cut_forest_by_aws_spark.operators.checks import Check
            from random_cut_forest_by_aws_spark.operators.distdrift import (
                snapshot_drift_multi,
            )

            base = seqs.filter(F.col("seq") % 2 == 0)
            curr = seqs.filter(F.col("seq") % 2 == 1)
            prof = snapshot_drift_multi(
                base, curr, {"n_tok": 8.0, "source": None}
            )
            row = prof.agg(
                F.sum("psi").alias("a"), F.sum("ks").alias("b")
            ).collect()[0]
            n = int(row["a"] is not None) + int(row["b"] is not None)
            chk = (
                Check("bench_rules")
                .is_complete("doc_id")
                .satisfies("n_tok >= 1", "ntok_pos", min_fraction=1.0)
                .has_mean("n_tok", at_least=0.0)
                .has_correlation("n_tok", "seq", at_least=-1.0)
                .is_unique("doc_id")
                .run(seqs)
            )
            n += int(chk.agg(
                F.sum(F.col("metric")).alias("x")
            ).collect()[0]["x"] is not None)
            return n

        timed("validation_rules", run_validation_rules)

        def run_pipeline_curate():
            # the full curation composition (plans/pipeline.py): funnel →
            # minhash/Jaccard keep-one dedup → cluster-keyed splits →
            # packing, forced through one aggregate over the packed train
            # output (this tracks the composition overhead at the
            # driver's sf)
            from random_cut_forest_by_aws_spark.plans import (
                CurationConfig, curate_corpus,
            )

            res = curate_corpus(
                docs,
                CurationConfig(qc_stages=[("min_len", "n_chars >= 60")],
                               pack_budget=2048),
            )
            return res.packed.agg(
                F.sum("tok_end").alias("x"), F.count(F.lit(1)).alias("n")
            ).collect()

        timed("pipeline_curate", run_pipeline_curate)

        def run_reconcile():
            # row-level snapshot reconciliation over the 2M-row token
            # table: a synthetic prior crawl (10% of keys dropped, n_tok
            # perturbed on ~1/7) diffed against the full table — the
            # exchange carries doc_id + per-column hashes (the tokens
            # array is hashed, never shuffled). Summary is <= 5 rows;
            # collecting it consumes the whole diff.
            from random_cut_forest_by_aws_spark.operators.diff import (
                snapshot_diff_summary,
            )

            base = seqs.filter(F.xxhash64("doc_id") % 10 != 0).withColumn(
                "n_tok",
                F.when(F.xxhash64("doc_id") % 7 == 0, F.col("n_tok") + 1)
                .otherwise(F.col("n_tok")),
            )
            return snapshot_diff_summary(base, seqs, "doc_id").collect()

        timed("reconcile", run_reconcile)

    # bracketing calibration: the window the suite ran in is bounded by
    # (cal_pre, cal_post); host_cal_mops stays the post value for
    # continuity with earlier rounds' JSONs.
    cal = _calibrate_host()

    rows_per_sec = n_rows / suite_sec
    result = {
        "metric": "validated_sequences_per_sec",
        "value": round(rows_per_sec, 1),
        "unit": "rows/sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "bench_rows": n_rows,
        "bench_tokens": int(n_tokens),
        "tokens_per_sec": round(n_tokens / suite_sec, 1),
        "suite_sec": round(suite_sec, 3),
        "host_cal_mops": round(cal, 1),
        "host_cal_pre_mops": round(cal_pre, 1),
        "suite_windows": suite_windows,
        "suite_min_window": suite_windows[suite_attempts.index(suite_sec)],
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
