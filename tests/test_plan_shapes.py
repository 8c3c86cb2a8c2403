"""Executed-plan regression canaries for the claims in PLANS.md.

Exchange-reuse (one physical scan feeding both prefix-sum branches)
rests on canonical plan equality, which silently breaks if a branch
picks up an extra inferred filter or loses its window (both happened
during development — see the packing/lm_quality docstrings). These
tests execute the real queries at sf0.01 and assert the scan counts in
the FINAL adaptive plan. NOTE: plans must be read from the DataFrame
that was itself collected — a derived aggregate leaves the parent's
queryExecution unexecuted and its printed plan is fiction.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _final_plan(df) -> str:
    df.collect()
    full = df._jdf.queryExecution().executedPlan().toString()
    return full.split("== Initial Plan ==")[0]


def test_pack_sequences_single_scan(spark):
    import __spark_entry__ as em

    plan = _final_plan(em.queries()["pack_sequences_docs"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Reused" in plan, plan


def test_token_budget_two_scans_with_reuse(spark):
    """Narrow prefix path (ReusedExchange across the window/aggregate
    branches) + one payload join-back scan — the dataflow floor. If the
    reuse breaks (inferred-filter or pruning drift de-canonicalizes the
    branches) this climbs to 3 scans with the weight expression
    evaluated twice."""
    import __spark_entry__ as em

    plan = _final_plan(em.queries()["token_budget_docs"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 2, plan
    assert "Reused" in plan, plan


def test_lm_quality_two_scans(spark):
    """Model pass + scoring pass — the dataflow floor. The three model
    consumers (vocab, N, V) must share one exchange, or this climbs
    back to 4 scans."""
    import __spark_entry__ as em

    plan = _final_plan(em.queries()["lm_logprob_docs"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 2, plan
    assert plan.count("Reused") >= 1, plan


def test_pii_profile_spreads_single_file_scan_only(spark):
    """Scrub is scan-fused, with ONE exception (round 6): a low-split
    input (single-file/single-row-group table ⇒ one scan task) gets a
    round-robin spread so the 10 regex passes parallelize. On an input
    that already has enough partitions the plan must stay exchange-free
    — the production (many-split) shape."""
    from random_cut_forest_by_aws_spark.operators.scrub import pii_profile

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _final_plan(pii_profile(docs))
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange") == 1, plan  # the single-file spread

    wide = docs.repartition(spark.sparkContext.defaultParallelism)
    plan_wide = _final_plan(pii_profile(wide))
    # exactly the caller's own exchange — pii_profile added none
    assert plan_wide.count("Exchange") == 1, plan_wide


def test_pack_scan_prunes_and_evaluates_ntok_once(spark):
    """The token-count expression must not leak into the scan's
    DataFilters (the n_tok > 0 pushdown re-evaluation — 2x the scan)."""
    from random_cut_forest_by_aws_spark.operators.packing import pack_sequences
    from random_cut_forest_by_aws_spark.operators.textqc import BPE_ISH_PATTERN

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    toks = docs.select(
        "source", "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
        .cast("bigint").alias("n_tok"),
    )
    plan = _final_plan(pack_sequences(toks, 512, "n_tok", bucket_width=64))
    scan_lines = [
        ln for ln in plan.splitlines() if "FileScan parquet" in ln
    ]
    assert scan_lines, plan
    for ln in scan_lines:
        assert "regexp_extract_all" not in ln.split("ReadSchema")[0].split(
            "DataFilters: ["
        )[-1].split("]")[0], ln


def test_chunk_documents_zero_exchanges(spark):
    """Chunking is pure scan-fused expression work: one FileScan, NO
    Exchange of any kind — the zero-shuffle claim in PLANS.md. An
    Exchange appearing here means a repartition/aggregate crept into
    what must stay a narrow map stage."""
    import __spark_entry__ as em

    plan = _final_plan(em.queries()["chunk_docs"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1, plan
    assert "Exchange" not in plan, plan


def test_tfidf_single_scan_floor(spark):
    """tf-idf reads the corpus once: (doc,term) counts → vocab-sized df
    aggregate derived FROM that aggregate → join back → per-doc window.
    A second FileScan means the df-frequency branch re-scanned the
    corpus instead of deriving from the tf aggregate."""
    import __spark_entry__ as em

    plan = _final_plan(em.queries()["tfidf_keywords_docs"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1, plan


def test_rollup_single_expand_aggregate(spark):
    """ROLLUP reporting is one scan + one Expand feeding one partial/
    final HashAggregate pair — not one job per granularity level."""
    import __spark_entry__ as em

    plan = _final_plan(em.queries()["rollup_report_docs"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Expand") == 1, plan


def test_constraint_profile_scan_budget_and_broadcast_joins(spark):
    """Grouping analyzers (entropy/uniqueness/uvr on 3 bases + one MI
    pair basis) each cost exactly one extra scan — deequ's own
    grouping-vs-scan-sharing split — so the profile Check plans
    1 (scan-sharing) + 3 + 1 = 5 FileScans, every metric row attached
    by a BROADCAST join (a SortMergeJoin here means the one-row attach
    started shuffling the verdict side)."""
    from random_cut_forest_by_aws_spark.operators.checks import Check

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = (
        Check("p")
        .has_mean("n_chars", at_least=0.0)
        .has_entropy("lang", at_least=0.0)
        .has_uniqueness("doc_id", at_least=0.0)
        .has_unique_value_ratio("source", at_least=0.0)
        .has_mutual_information("lang", "source", at_least=0.0)
        .run(d)
    )
    plan = _final_plan(out)
    assert plan.count("FileScan parquet") == 5, plan
    # the constant attach key folds away: Catalyst plans the one-row
    # metric attach as BroadcastNestedLoopJoin BuildRight (build side =
    # the single aggregated metric row — never the verdict side)
    assert plan.count("BroadcastNestedLoopJoin BuildRight") == 4, plan
    assert "SortMergeJoin" not in plan, plan
    # each basis scan prunes to its own columns and pushes the
    # not-null filter into the parquet reader
    assert plan.count("PushedFilters: [IsNotNull(") == 4, plan


def test_uniqueness_single_exchange(spark):
    """Uniqueness is ONE count aggregate: partial per scan task, a single
    exchange of (key, count) partials, final aggregate + dup filter. The
    round-5 salted two-phase shape shuffled the near-unique partials a
    second time (measured 1.6-1.7x end-to-end, round-6 A/B); if a salt
    (or any second shuffle) sneaks back in, this climbs to 2 Exchanges."""
    import __spark_entry__ as em

    plan = _final_plan(em.queries()["uniqueness_lineitem_orderkey"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange") == 1, plan


def _suite_run(spark, seqs, **kw):
    from random_cut_forest_by_aws_spark.operators.drift import DriftConfig
    from random_cut_forest_by_aws_spark.plans import SuiteConfig, ValidationSuite
    from random_cut_forest_by_aws_spark.sources import sources_dim

    cfg = SuiteConfig(
        drift=DriftConfig(num_trees=5, sample_size=16, window=8,
                          min_baseline_windows=2, buckets=1, chunk_size=256),
        **kw,
    )
    return ValidationSuite(spark, cfg).run(seqs, ref_dim=sources_dim(spark))


def _leaf_names(df) -> list[str]:
    """Node names of the leaves of the final physical plan of ``df``,
    which must have been collected already."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    leaves = plan.collectLeaves()
    return [leaves.apply(i).nodeName() for i in range(leaves.size())]


def test_suite_verdicts_read_no_python_rdd(spark, seqs):
    """The suite holds every check result on the driver as a local
    relation, so reading ``verdicts`` and ``violations`` scans no input,
    shuffles nothing and runs no Python-worker tasks: every leaf of both
    read plans is a ``LocalTableScan``. While the checks were cached, the
    verdicts read re-scanned them (``InMemoryTableScan``); before that,
    the driver-known rows were ``Scan ExistingRDD`` over a parallelized
    Python RDD. The reference dimension is a local relation too."""
    from random_cut_forest_by_aws_spark.sources import sources_dim

    assert "LocalTableScan" in _final_plan(sources_dim(spark))
    res = _suite_run(spark, seqs)
    for table in (res.verdicts, res.violations):
        plan = _final_plan(table)
        for node in ("InMemoryTableScan", "FileScan", "Exchange", "Scan ExistingRDD"):
            assert node not in plan, plan
        leaves = _leaf_names(table)
        assert leaves and set(leaves) == {"LocalTableScan"}, plan


def _settled_jobs(spark) -> set[int]:
    """Ids of the jobs run so far outside any job group, once the listener
    bus has caught up (job events reach the status tracker
    asynchronously). Compare id sets, not counts: past
    ``spark.ui.retainedJobs`` (1,000) the tracker evicts the oldest 100
    jobs, so a count can shrink while jobs run."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup(None))


def test_suite_run_leaves_no_cache_and_bounded_jobs(spark, seqs):
    """A suite run registers nothing with the CacheManager (cached check
    results were never released, five per run, so a second run read the
    first run's results), and running it plus reading both tables takes
    at most 21 Spark jobs on this fixture (26 when each check was cached,
    counted, then re-read). Counted over all group-less jobs: a job
    group set here would not reach the suite's pool thread."""
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    n_cached = cache_manager.cachedData().size()  # an immutable snapshot
    j0 = _settled_jobs(spark)
    res = _suite_run(spark, seqs)
    res.verdicts.collect()
    res.violations.collect()
    jobs = len(_settled_jobs(spark) - j0)
    assert cache_manager.cachedData().size() == n_cached
    assert 0 < jobs <= 21, jobs
