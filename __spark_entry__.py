"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship validation suite; ``queries`` exposes each
implemented operator from SURVEY.md §2 / the engine's operator set;
``oracle_sql`` provides DuckDB-equivalent SQL for everything
SQL-expressible (RCF drift / MinHash / SimHash / LSH are sketch-based and
get rows-only checks).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------- #
# flagship
# --------------------------------------------------------------------- #
def entry(spark: SparkSession) -> DataFrame:
    """Full validation suite (stats + uniqueness + referential + token
    invariants + RCF drift) over the tokenized sf0.001 documents table."""
    from random_cut_forest_by_aws_spark.operators.drift import DriftConfig
    from random_cut_forest_by_aws_spark.plans import SuiteConfig, ValidationSuite
    from random_cut_forest_by_aws_spark.sources import tokenized_documents

    docs = _docs(spark, "/root/testdata/sf0.001")
    seqs = tokenized_documents(docs)
    dim = docs.select("source").distinct()
    cfg = SuiteConfig(
        drift=DriftConfig(num_trees=10, sample_size=16, window=8,
                          min_baseline_windows=2, buckets=1, chunk_size=256)
    )
    return ValidationSuite(spark, cfg).run(seqs, ref_dim=dim).verdicts


# --------------------------------------------------------------------- #
# queries
# --------------------------------------------------------------------- #
def _q_stats_ntok(spark, sf_dir):
    from random_cut_forest_by_aws_spark.operators import column_stats
    from random_cut_forest_by_aws_spark.sources import tokenized_documents

    seqs = tokenized_documents(_docs(spark, sf_dir))
    out = column_stats(
        seqs, ["n_tok"], key_cols=["doc_id"], group_by=["source"], exact_distinct=True
    )
    return out.select(
        "source",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_tok_min").cast("bigint").alias("n_tok_min"),
        F.col("n_tok_max").cast("bigint").alias("n_tok_max"),
        F.col("n_tok_nulls").cast("bigint").alias("n_tok_nulls"),
        F.col("n_tok_sum").cast("bigint").alias("n_tok_sum"),
        F.col("doc_id_cardinality").cast("bigint").alias("doc_id_cardinality"),
    )


def _q_ntok_quantiles(spark, sf_dir):
    from random_cut_forest_by_aws_spark.sources import tokenized_documents

    seqs = tokenized_documents(_docs(spark, sf_dir))
    q = seqs.groupBy("source").agg(
        F.expr("percentile(n_tok, array(0.25, 0.5, 0.75))").alias("_q")
    )
    return q.select(
        "source",
        F.round(F.col("_q")[0], 6).alias("p25"),
        F.round(F.col("_q")[1], 6).alias("p50"),
        F.round(F.col("_q")[2], 6).alias("p75"),
    )


def _q_uniq_lineitem(spark, sf_dir):
    from random_cut_forest_by_aws_spark.operators import uniqueness_violations

    v = uniqueness_violations(_t(spark, sf_dir, "lineitem"), ["l_orderkey"])
    return v.select("l_orderkey", F.col("dup_count").cast("bigint").alias("dup_count"))


def _q_uniq_composite(spark, sf_dir):
    from random_cut_forest_by_aws_spark.operators import uniqueness_violations

    v = uniqueness_violations(_t(spark, sf_dir, "lineitem"), ["l_orderkey", "l_linenumber"])
    return v.select(
        "l_orderkey",
        F.col("l_linenumber").cast("bigint").alias("l_linenumber"),
        F.col("dup_count").cast("bigint").alias("dup_count"),
    )


def _q_ref_orders_customer(spark, sf_dir):
    from random_cut_forest_by_aws_spark.operators import referential_violations

    v = referential_violations(
        _t(spark, sf_dir, "orders"), _t(spark, sf_dir, "customer"), ["o_custkey"], ["c_custkey"]
    )
    return v.select("o_custkey", F.col("fact_rows").cast("bigint").alias("fact_rows"))


def _q_ref_events_customer(spark, sf_dir):
    from random_cut_forest_by_aws_spark.operators import referential_violations

    v = referential_violations(
        _t(spark, sf_dir, "events"), _t(spark, sf_dir, "customer"), ["user_id"], ["c_custkey"]
    )
    return v.select("user_id", F.col("fact_rows").cast("bigint").alias("fact_rows"))


def _q_token_positive(spark, sf_dir):
    from random_cut_forest_by_aws_spark.operators import row_invariant_violations
    from random_cut_forest_by_aws_spark.sources import tokenized_documents

    seqs = tokenized_documents(_docs(spark, sf_dir))
    v = row_invariant_violations(
        seqs,
        {"n_tok_positive": F.col("n_tok") > 0,
         "n_tok_matches_size": F.size("tokens") == F.col("n_tok")},
        ["seq"],
    )
    return v.select(F.col("seq").cast("bigint").alias("seq"))


def _q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def _q_top_orders(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


def _q_revenue_by_nation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def _q_events_by_type(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


def _q_exact_dup_docs(spark, sf_dir):
    from random_cut_forest_by_aws_spark.operators.dedup import exact_duplicates

    return exact_duplicates(_docs(spark, sf_dir), ["text"]).select(
        "text", F.col("dup_count").cast("bigint").alias("dup_count")
    )


def _q_boilerplate_lines_docs(spark, sf_dir):
    """Line-level boilerplate discovery: distinct-doc frequency of every
    normalized line, thresholded to the boilerplate set. The synthetic
    corpus is word-granular (no newlines), so the gate splits on the
    word separator — same operator semantics at line granularity."""
    from random_cut_forest_by_aws_spark.operators.lines import line_frequencies

    return line_frequencies(_docs(spark, sf_dir), sep=" ").filter(
        F.col("n_docs") >= 300
    )


def _q_line_dedup_docs(spark, sf_dir):
    """RefinedWeb-style line dedup: strip lines repeating in >= 300 docs,
    rebuild each doc in original order. Runs the production hashed-key
    path (xxhash64(normalized line), broadcast boilerplate set); the
    oracle replays the whole computation on line STRINGS in DuckDB —
    equality certifies the hashed join collision-free here."""
    from random_cut_forest_by_aws_spark.operators.lines import dedup_lines

    return dedup_lines(_docs(spark, sf_dir), max_doc_freq=300, sep=" ")


def _q_text_profile(spark, sf_dir):
    from random_cut_forest_by_aws_spark.operators.textqc import stopword_frac, word_stats

    d = _docs(spark, sf_dir)
    n_words, n_chars, avg_word_len = word_stats("text")
    return d.select(
        "doc_id",
        n_words,
        n_chars,
        F.round(avg_word_len, 6).alias("avg_word_len"),
        F.round(stopword_frac("text"), 6).alias("stopword_frac"),
    )


def _q_token_counts(spark, sf_dir):
    from random_cut_forest_by_aws_spark.operators.textqc import token_counts

    return _docs(spark, sf_dir).select("doc_id", *token_counts("text"))


def _q_ann_cosine(spark, sf_dir):
    from random_cut_forest_by_aws_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, queries, k=10)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 5).alias("cosine"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def _q_minhash_candidates(spark, sf_dir):
    """MinHash LSH candidates verified with exact n-gram Jaccard. Emitting
    the (id_a, id_b, jaccard ≥ 0.7) pairs makes the sketch oracle-checkable:
    DuckDB computes ALL pairs with jaccard ≥ 0.7, so a hash-match proves the
    banded candidate generation achieved full recall at that similarity.
    The gate runs banding at 16 bands of 2 rows (vs the production
    default 8×4): P(candidate) = 1-(1-s²)^16 ≥ 0.99998 at j = 0.7, so
    the claim is fixture-robust with two caveats: (a) the bound is
    probabilistic — a ~2e-5 per-pair miss at the 0.7 boundary remains
    possible by design (vs ~11% at 8×4); (b) minhash_candidates drops
    mega-buckets above 64 colliding ids (dedup.py bucket guard), so a
    fixture with a > 64-way near-identical duplicate group would lose
    those pairs while the exact oracle keeps them — the sf0.01 documents
    table has no such group. Pairs below 0.7 are deliberately excluded
    from the claim."""
    from random_cut_forest_by_aws_spark.operators.dedup import (
        minhash_candidates, ngram_jaccard,
    )

    docs = _docs(spark, sf_dir)
    cand = minhash_candidates(docs, num_hashes=32, bands=16).select("id_a", "id_b")
    j = ngram_jaccard(docs, cand, shingle_k=3)
    return j.filter(F.col("jaccard") >= 0.7).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def _q_dup_cluster_docs(spark, sf_dir):
    """Near-duplicate CLUSTER resolution: the verified candidate pairs
    (jaccard ≥ 0.7 — the same pair set the minhash gate proves equal to
    DuckDB's exhaustive computation) resolve into connected components
    via min-label propagation; each doc gets its component's minimum id
    as cluster_id plus the keep-one canonical flag. Oracle: DuckDB
    recursive-CTE transitive closure over the same pairs."""
    from random_cut_forest_by_aws_spark.operators.dedup import (
        duplicate_clusters, minhash_candidates, ngram_jaccard,
    )

    docs = _docs(spark, sf_dir)
    cand = minhash_candidates(docs, num_hashes=32, bands=16).select("id_a", "id_b")
    pairs = ngram_jaccard(docs, cand, shingle_k=3).filter(
        F.col("jaccard") >= 0.7
    ).select("id_a", "id_b")
    return duplicate_clusters(pairs)


# ---- sketch-based ops: rows-only checks (no SQL equivalent) ----------- #
def _q_simhash(spark, sf_dir):
    from random_cut_forest_by_aws_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def _q_ivf_cosine_full(spark, sf_dir):
    """IVF ANN with full probing == exact brute force (oracle-checkable)."""
    from random_cut_forest_by_aws_spark.operators.similarity import ivf_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_cosine_topk(emb, queries, k=10, n_lists=8, n_probe=8)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 5).alias("cosine"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def _q_lsh_cosine(spark, sf_dir):
    """Multi-probe LSH ANN (rows-only: the retrieved set depends on the
    hyperplane hashes, not SQL-reproducible). Recall is asserted in
    tests/test_similarity.py on clustered fixtures; this fixture's
    embeddings are isotropic, where bucketing cannot retain recall."""
    from random_cut_forest_by_aws_spark.operators.similarity import lsh_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_cosine_topk(emb, queries, dim=64, k=10, bits=8)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 5).alias("cosine"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def _q_cosine_near_dups(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (the embedding-space dedup
    family member). The gate fixture's embeddings are isotropic (top
    pairwise cosine ≈ 0.37), so the gate runs the exact path at a 0.30
    threshold to produce a non-trivial, oracle-checkable pair set; real
    corpora use ≥ 0.95 with the LSH-bucketed scale path (bits > 0)."""
    from random_cut_forest_by_aws_spark.operators.similarity import (
        cosine_near_duplicates,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = cosine_near_duplicates(emb, threshold=0.30)
    return out.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        # 4 dp: the two engines fold the float32 dot product in different
        # association orders (~1e-9 differences; 5 dp straddles a boundary
        # on this fixture)
        F.round("cosine", 4).alias("cosine"),
    )


def _q_lsh_cosine_full(spark, sf_dir):
    """LSH ANN with FULL probing (all 2^bits buckets): the candidate set
    is the whole corpus, so the bucket-join + re-score pipeline must equal
    exact brute-force top-k — oracle-checkable (the IVF full-probe trick
    applied to the hyperplane-LSH path)."""
    from random_cut_forest_by_aws_spark.operators.similarity import lsh_cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_cosine_topk(emb, queries, dim=64, k=10, bits=4, full_probe=True)
    return out.select(
        "query_id", "vec_id", F.round("cosine", 5).alias("cosine"),
        F.col("rank").cast("bigint").alias("rank"),
    )


def _q_lang_quality(spark, sf_dir):
    """Quality score + language ID from the full text_profile operator.
    The fingerprint column is hash-chained (not SQL-expressible in DuckDB)
    so the gate projects the SQL-checkable columns; fingerprint itself is
    pytest-covered (ANSI-safe xxhash64 chain)."""
    from random_cut_forest_by_aws_spark.operators.textqc import text_profile

    p = text_profile(_docs(spark, sf_dir))
    return p.select(
        "doc_id",
        "n_words",
        F.round("quality", 6).alias("quality"),
        "lang_guess",
    )


def _q_rcf_scores_embeddings(spark, sf_dir):
    from random_cut_forest_by_aws_spark.operators.rcf_batch import rcf_group_scores

    emb = _t(spark, sf_dir, "embeddings")
    return rcf_group_scores(
        emb, "embedding", ("label",), "vec_id", with_density=True
    )


def _q_glad_scores_embeddings(spark, sf_dir):
    """GLAD (clustering-based) per-label streaming anomaly scores over the
    embeddings table. Rows-only (reservoir + clustering sketch)."""
    from random_cut_forest_by_aws_spark.operators.rcf_batch import glad_group_scores

    emb = _t(spark, sf_dir, "embeddings")
    # recluster_within sized for ~50-row groups at sf0.01 (the default,
    # capacity/2, would never trigger a clustering on small cohorts)
    out = glad_group_scores(
        emb, "embedding", ("label",), "vec_id", order_col="vec_id",
        capacity=64, max_clusters=6, recluster_within=16,
    )
    return out.select(
        "label", "vec_id", F.round("score", 4).alias("score"),
        F.round("grade", 4).alias("grade"),
    )


def _q_rcf_attribution_embeddings(spark, sf_dir):
    """Per-label anomaly attribution DiVectors over the embeddings table
    (getAnomalyAttribution / getApproximateAnomalyAttribution,
    RandomCutForest.java:891-936): score plus directional per-dimension
    high/low arrays whose sum reproduces the score. Rows-only (RCF
    sketch output — no SQL equivalent)."""
    from random_cut_forest_by_aws_spark.operators.rcf_batch import (
        rcf_group_attributions,
    )

    emb = _t(spark, sf_dir, "embeddings")
    out = rcf_group_attributions(
        emb, "embedding", ("label",), "vec_id", approximate=0.1
    )
    # DiVector arrays flattened to comma-joined strings: the driver's
    # canonicalizer sorts every column with pandas (factorize), which
    # crashes on list values — this was the only complex-typed output
    # of all gate entries (round-5 hard failure).
    return out.select(
        "label", "vec_id", F.round("score", 6).alias("score"),
        F.concat_ws(
            ",", F.transform("high", lambda v: F.round(v, 6).cast("string"))
        ).alias("high"),
        F.concat_ws(
            ",", F.transform("low", lambda v: F.round(v, 6).cast("string"))
        ).alias("low"),
    )


def _q_rcf_forecast_events(spark, sf_dir):
    """Per-series forecast with TimedRangeVector parity: each horizon step
    carries (ts, ts_upper, ts_lower) epoch-millis timestamps derived from
    the stream's discounted time-gap statistics
    (returntypes/TimedRangeVector.java:35-43,
    Preprocessor.invertForecastRange:596-640). Rows-only (RCF sketch)."""
    from random_cut_forest_by_aws_spark.operators.rcf_batch import rcf_group_forecast

    ev = _t(spark, sf_dir, "events")
    return rcf_group_forecast(ev, "value", ("event_type",), "ts")


def _q_sessionize_events(spark, sf_dir):
    """Window/lag sessionization: new session when a user's gap > 30 min."""
    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    ms = F.unix_millis(F.col("ts").cast("timestamp"))  # ts is TIMESTAMP_NTZ; session TZ=UTC
    gap = ms - F.lag(ms).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800_000), F.lit(1)).otherwise(F.lit(0))
    return (
        e.withColumn("_n", new_sess)
        .withColumn("session_id", F.sum("_n").over(
            w.rowsBetween(W.unboundedPreceding, 0)).cast("bigint"))
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("session_value"))
    )


def _q_tumbling_window_events(spark, sf_dir):
    """Tumbling-window aggregation (SURVEY §2.6 window semantics; the
    batch analogue of the streaming windowed aggregates): 1-hour
    epoch-aligned windows per event_type via Spark's native window()
    grouping — Catalyst turns this into a single hash aggregate over a
    projected bucket column, no shuffle beyond the groupBy exchange."""
    e = _t(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 hour")
    return (
        e.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"),
             F.round(F.avg("value"), 4).alias("avg_value"))
        .select(
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("ws"),
            "event_type", "n_events", "sum_value", "avg_value",
        )
    )


def _q_hopping_window_events(spark, sf_dir):
    """Hopping (sliding) window aggregation: 1-hour windows sliding every
    15 minutes — each event lands in exactly 4 windows. Spark's window()
    expands rows JVM-side before one hash aggregate; the DuckDB oracle
    replays the expansion with an UNNEST of the 4 hop offsets."""
    e = _t(spark, sf_dir, "events")
    w = F.window(F.col("ts"), "1 hour", "15 minutes")
    return (
        e.groupBy(w.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_millis(F.col("w.start").cast("timestamp")).alias("ws"),
            "event_type", "n_events", "sum_value",
        )
    )


def _pii_oracle_sql() -> str:
    """DuckDB recomputation of pii_profile: counts via regexp_extract_all
    on the original text, redaction via the same ordered global
    regexp_replace chain. Built from the SAME pattern constants — the
    patterns are the spec; the engines' regex implementations are the
    independent variables under test."""
    from random_cut_forest_by_aws_spark.operators.scrub import (
        PII_PATTERNS,
        REDACT_ORDER,
    )

    counts = ",\n                   ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS n_{name}"
        for name, p in PII_PATTERNS.items()
    )
    redacted = "text"
    for name in REDACT_ORDER:
        redacted = (
            f"regexp_replace({redacted}, '{PII_PATTERNS[name]}', "
            f"'<{name.upper()}>', 'g')"
        )
    return f"""
            SELECT doc_id,
                   {counts},
                   {redacted} AS redacted_text
            FROM documents
        """


def _q_pii_profile_docs(spark, sf_dir):
    """PII / structural-pattern scrub over documents: per-pattern hit
    counts on the original text plus the fully redacted text, all
    JVM-side regex fused into the scan (operators/scrub.py). Patterns
    are written in the Java-regex ∩ RE2 dialect subset so DuckDB
    recomputes counts (regexp_extract_all) and redaction
    (regexp_replace 'g') byte-for-byte."""
    from random_cut_forest_by_aws_spark.operators.scrub import pii_profile

    return pii_profile(_t(spark, sf_dir, "documents"))


def _q_pack_sequences_docs(spark, sf_dir):
    """Concat-and-chunk sequence packing: per-source documents laid
    end-to-end in doc_id order and split into 512-token training packs
    (operators/packing.py — hierarchical bucketed prefix sum, no
    whole-key window partition). n_tok is the BPE-ish regex token count
    shared with token_counts_docs. bucket_width=64 so the gate actually
    exercises the multi-bucket offset path (~8 buckets per source)."""
    from random_cut_forest_by_aws_spark.operators.packing import pack_sequences
    from random_cut_forest_by_aws_spark.operators.textqc import BPE_ISH_PATTERN

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
        .cast("bigint")
        .alias("n_tok"),
    )
    return pack_sequences(
        docs, 512, "n_tok", key_col="source", order_col="doc_id",
        bucket_width=64,
    )


def _q_lm_logprob_docs(spark, sf_dir):
    """Corpus-LM quality scoring (perplexity proxy): per-document mean
    add-one-smoothed unigram log-probability under the corpus's own
    word-frequency model (operators/lm_quality.py — two-pass: Zipf-
    bounded frequency aggregate, broadcast scoring join). The oracle
    replays the identical model in DuckDB from the same raw space-split
    tokens."""
    from random_cut_forest_by_aws_spark.operators.lm_quality import (
        unigram_logprob,
    )

    return unigram_logprob(_t(spark, sf_dir, "documents"), min_count=5)


def _q_quota_sample_docs(spark, sf_dir):
    """Exact-quota deterministic sampling: exactly min(7, n) documents
    per source under the engine-portable (hash(id), id) order
    (operators/sampling.py — two-phase salted top-K, no whole-key window
    partition; salt_buckets=8 so the gate exercises the bucketed path).
    The oracle replays the fold-multiply hash arithmetic and the rank in
    DuckDB."""
    from random_cut_forest_by_aws_spark.operators.sampling import quota_sample

    docs = _t(spark, sf_dir, "documents").select("source", "doc_id")
    return quota_sample(docs, 7, salt_buckets=8).withColumn(
        "sample_rank", F.col("sample_rank").cast("bigint")
    )


def _q_token_budget_docs(spark, sf_dir):
    """Token-budget mixture: per source, the greedy prefix of documents
    in the deterministic (hash(id), id) order until 700 BPE-ish tokens —
    the token-weighted mixture contract (training mixes are specified in
    tokens, not doc counts; operators/sampling.token_budget_sample —
    hierarchical range-bucket prefix sum, no whole-key window).
    n_buckets=8 exercises the multi-bucket offset path. The oracle
    replays the fold-multiply hash order and the cumulative window in
    DuckDB."""
    from random_cut_forest_by_aws_spark.operators.sampling import (
        token_budget_sample,
    )
    from random_cut_forest_by_aws_spark.operators.textqc import BPE_ISH_PATTERN

    docs = _t(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(BPE_ISH_PATTERN))
        .cast("bigint")
        .alias("n_tok"),
    )
    return token_budget_sample(docs, 700, "n_tok", n_buckets=8).withColumn(
        "tokens_before", F.col("tokens_before").cast("bigint")
    )


def _q_incremental_minhash_docs(spark, sf_dir):
    """Incremental dedup of a new crawl against an existing corpus:
    MinHash band-bucket join of the even-id half (the 'new batch')
    against the odd-id half (the 'corpus'), verified with exact n-gram
    Jaccard (operators/dedup.minhash_candidates_incremental — only
    (band, bucket) keys shuffle; the corpus is never self-joined).
    Emitting the jaccard ≥ 0.7 pairs makes the sketch oracle-checkable:
    DuckDB computes ALL cross-side pairs ≥ 0.7 exhaustively, so a hash
    match proves full recall at that similarity under the 16×2 banding
    (same probabilistic caveat as minhash_candidates_docs: per-pair miss
    ~2e-5 at the boundary by design)."""
    from random_cut_forest_by_aws_spark.operators.dedup import (
        minhash_candidates_incremental, ngram_jaccard,
    )

    docs = _docs(spark, sf_dir)
    new = docs.filter(F.pmod("doc_id", F.lit(2)) == 0)
    corpus = docs.filter(F.pmod("doc_id", F.lit(2)) == 1)
    cand = minhash_candidates_incremental(
        new, corpus, num_hashes=32, bands=16
    ).select(F.col("new_id").alias("id_a"), F.col("corpus_id").alias("id_b"))
    j = ngram_jaccard(docs, cand, shingle_k=3)
    return j.filter(F.col("jaccard") >= 0.7).select(
        F.col("id_a").alias("new_id"),
        F.col("id_b").alias("corpus_id"),
        F.round("jaccard", 6).alias("jaccard"),
    )


def _q_winnow_fingerprints_docs(spark, sf_dir):
    """Winnowing document fingerprints (SIGMOD 2003) — the
    substring-level dedup primitive: minimum positional-polynomial
    k-gram hash per sliding window, so any two docs sharing a
    substring of ≥ window+k-1 chars share a fingerprint VALUE. The
    hash is exact closed-form integer arithmetic (sum(cp·257^j) mod
    2^31-1), so DuckDB replays the fingerprints themselves verbatim —
    the sketch content is oracle-checked, not just downstream counts."""
    from random_cut_forest_by_aws_spark.operators.dedup import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir)).select(
        "doc_id", F.col("fp").cast("bigint").alias("fp")
    )


def _q_winnow_candidates_docs(spark, sf_dir):
    """Shared-substring candidate pairs from winnowing fingerprints:
    every pair sharing a ≥ 12-char substring appears (the winnowing
    guarantee — deterministic, unlike MinHash banding's probabilistic
    recall), joined only through (fp, id) rows with the mega-bucket
    guard. Deterministic fingerprints make the WHOLE candidate
    generation exactly replayable in SQL (bucket sizes, guard, pair
    counts), a stronger oracle than the jaccard-verified minhash gate."""
    from random_cut_forest_by_aws_spark.operators.dedup import winnow_candidates

    return winnow_candidates(_docs(spark, sf_dir)).select(
        "id_a", "id_b", F.col("n_shared_fps").cast("bigint").alias("n_shared_fps")
    )


def _q_tfidf_keywords_docs(spark, sf_dir):
    """Top-5 tf-idf keywords per document. The ranking key is the
    raw-idf ratio tf/df — exact-rounded IEEE division of integers,
    identical in every engine — so keyword selection, rank order and
    tie-breaks replay exactly; the classic log-idf score is the
    displayed (rounded) weight."""
    from random_cut_forest_by_aws_spark.operators.textqc import tfidf_keywords

    out = tfidf_keywords(_docs(spark, sf_dir), top_k=5)
    return out.select(
        "doc_id",
        "term",
        F.col("tf").cast("bigint").alias("tf"),
        F.col("df_count").cast("bigint").alias("df_count"),
        "rank",
        "score",
    )


def _q_chunk_docs(spark, sf_dir):
    """Fixed-size token chunking with stride-16 overlap (context-window
    preprocessing for long documents: chunk first, pack after). Pure
    scan-fused expression work, zero shuffles — the oracle replays the
    tokenize → stride starts → slice construction verbatim."""
    from random_cut_forest_by_aws_spark.operators.packing import chunk_documents

    return chunk_documents(
        _docs(spark, sf_dir), chunk_tokens=32, stride=16
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        "chunk_text",
        F.col("n_tok").cast("bigint").alias("n_tok"),
    )


def _q_rollup_report_docs(spark, sf_dir):
    """Corpus reporting at every granularity in ONE aggregate: native
    ROLLUP grouping sets over (source, token-length band) — per-band
    subtotals, per-source subtotals, and the grand total from a single
    Expand + HashAggregate pair (one scan, one exchange) instead of
    three separate jobs. grouping_lvl disambiguates rollup subtotal
    NULLs from real NULL dimension values (SQL-standard GROUPING id)."""
    from random_cut_forest_by_aws_spark.operators.stats import rollup_stats

    docs = _docs(spark, sf_dir).select(
        "source",
        F.size(
            F.filter(
                F.split(F.coalesce(F.col("text"), F.lit("")), " "),
                lambda t: t != F.lit(""),
            )
        ).cast("bigint").alias("n_tok"),
    ).withColumn("len_band", (F.col("n_tok") / F.lit(16)).cast("bigint"))
    out = rollup_stats(docs, ["source", "len_band"], "n_tok")
    return out.select(
        "source",
        "len_band",
        "n_rows",
        F.col("val_sum").cast("bigint").alias("val_sum"),
        F.col("val_min").cast("bigint").alias("val_min"),
        F.col("val_max").cast("bigint").alias("val_max"),
        "grouping_lvl",
    )


def _q_winnow_containment_docs(spark, sf_dir):
    """Quoted-passage / boilerplate-inclusion detection: per candidate
    pair, the shared-winnowing-fingerprint fraction of the smaller doc
    (containment) plus both fingerprint counts — the asymmetric signal
    symmetric Jaccard dilutes. Deterministic fingerprints keep the
    whole computation (pairs, counts, ratio) exactly SQL-replayable."""
    from random_cut_forest_by_aws_spark.operators.dedup import winnow_containment

    out = winnow_containment(_docs(spark, sf_dir))
    return out.select(
        "id_a",
        "id_b",
        F.col("n_shared_fps").cast("bigint").alias("n_shared_fps"),
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.round("containment", 6).alias("containment"),
    )


def _q_semantic_dedup_embeddings(spark, sf_dir):
    """SemDeDup-style semantic keep-one dedup: cosine-near-duplicate
    pairs (exact path — same arithmetic the green cosine_near_dup_pairs
    gate proves) resolve into connected components, and the survivor
    per component is the row with the HIGHEST quality (here a
    deterministic integer proxy derived from the id so the policy is
    exactly replayable), ties to the smallest id. Every corpus row
    comes back; singletons are their own canonical cluster. Oracle:
    recursive-CTE transitive closure + window argmax in DuckDB."""
    from random_cut_forest_by_aws_spark.operators.similarity import semantic_dedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.withColumn(
        "q", (F.col("vec_id") * F.lit(1000003)) % F.lit(2147483647)
    )
    return semantic_dedup(corpus, threshold=0.30, keep_col="q").select(
        "vec_id",
        F.col("cluster_id").cast("bigint").alias("cluster_id"),
        "is_canonical",
    )


def _q_simhash_portable_docs(spark, sf_dir):
    """SimHash with engine-portable token hashes (two seeded rolling
    polynomial streams packed to 62 bits) instead of xxhash64: the
    fingerprint VALUES themselves replay exactly in DuckDB, converting
    the SimHash family from rows-only to oracle-checked — the sign-sum
    semantics shared with the default xxhash64 variant are certified
    by value equality, not just row counts."""
    from random_cut_forest_by_aws_spark.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir), portable=True).select(
        "doc_id", F.col("simhash").cast("bigint").alias("simhash")
    )


def _q_session_window_events(spark, sf_dir):
    """Gap-based sessionization through Spark's NATIVE session_window
    grouping (the dynamic-window member of the §2.6 family, and the
    shape Structured Streaming uses for stateful session aggregation —
    unlike the lag/cumsum formulation in sessionize_events this needs no
    ordered window pass). Boundary semantics pinned empirically: an
    exactly-gap-sized silence still MERGES (new session only when
    gap > 30 min strictly); session end = last event + gap. The oracle
    rebuilds the same islands with lag + running sum."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("session_window.start").cast("timestamp")).alias("ws"),
            F.unix_millis(F.col("session_window.end").cast("timestamp")).alias("we"),
            "n_events", "session_value",
        )
    )


def _q_asof_events_orders(spark, sf_dir):
    """Point-in-time alignment (as-of join): attach each event's most
    recent at-or-before order per customer — the feature-as-of-event
    shape every training pipeline needs. Spark has no native as-of join;
    operators/joins.asof_join uses the union + keyed-window
    carry-forward (one exchange on the key, no row blow-up). The oracle
    is DuckDB's native ASOF LEFT JOIN, so the gate certifies the
    distributed rewrite against a reference implementation."""
    from random_cut_forest_by_aws_spark.operators.joins import asof_join

    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("last_orderkey"),
             F.round(F.sum("o_totalprice"), 2).alias("last_order_total"))
    )
    j = asof_join(e, o, "user_id", "o_custkey", "ts", "o_orderdate",
                  ["last_orderkey", "last_order_total"])
    return j.select("event_id", "user_id", "last_orderkey", "last_order_total")


def _q_media_features(spark, sf_dir):
    """Media decode plumbing over the documents table (payload = utf-8
    bytes of text): posexploded scalar features, DuckDB-oracle-checkable
    since the stub decode is deterministic byte math. Restricted to
    non-empty pure-ASCII documents so the byte math (Spark) and the
    codepoint math (DuckDB ascii()) provably coincide on ANY fixture —
    a multi-byte character or empty text would silently diverge."""
    from random_cut_forest_by_aws_spark.operators.multimodal import (
        decode_features, docs_as_media,
    )

    docs = _docs(spark, sf_dir).filter(
        (F.length("text") > 0)
        & (F.length("text") == F.octet_length(F.encode("text", "utf-8")))
    )
    feats = decode_features(docs_as_media(docs), precise=True)
    return feats.select(
        "doc_id", "mime", F.posexplode("features").alias("pos", "val")
    ).select(
        "doc_id",
        "mime",
        F.col("pos").cast("bigint").alias("pos"),
        F.round("val", 6).alias("val"),
    )


def _q_media_resize_plan(spark, sf_dir):
    """Metadata-only aspect-preserving resize planning over the media
    adapter (pure JVM, no decode); dims derive deterministically from the
    text length so DuckDB reproduces the full plan."""
    from random_cut_forest_by_aws_spark.operators.multimodal import (
        docs_as_media, resize_plan,
    )

    out = resize_plan(docs_as_media(_docs(spark, sf_dir)))
    return out.select(
        "doc_id",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("target_width").cast("bigint").alias("target_width"),
        F.col("target_height").cast("bigint").alias("target_height"),
    )


def _q_media_metadata_check(spark, sf_dir):
    """Typed-metadata invariants over the docs-as-media adapter with
    deterministically planted dim violations (image docs whose payload
    byte length ≡ 5 mod 17 get height = −1). All metadata is length
    arithmetic over the documents table, so the violation set is
    DuckDB-reproducible — a green oracle instead of a rows-only check."""
    from random_cut_forest_by_aws_spark.operators.multimodal import (
        docs_as_media, media_metadata_violations,
    )

    m = docs_as_media(_docs(spark, sf_dir))
    planted = (F.col("mime") == "image/png") & (
        F.pmod(F.length("payload"), F.lit(17)) == 5
    )
    m = m.withColumn("height", F.when(planted, F.lit(-1)).otherwise(F.col("height")))
    v = media_metadata_violations(m)
    return v.select(
        "doc_id", "mime", F.concat_ws(",", "failed_constraints").alias("failed")
    )


def _q_drift_sequences(spark, sf_dir):
    from random_cut_forest_by_aws_spark.functions import token_features
    from random_cut_forest_by_aws_spark.operators.drift import (
        DriftConfig, drift_scores, drift_verdicts,
    )
    from random_cut_forest_by_aws_spark.sources import sequences

    df = sequences(spark, 20_000, seed=42, violations=False, drift=True)
    feat = df.withColumn("features", token_features()).select("source", "seq", "features")
    cfg = DriftConfig(num_trees=20, sample_size=64, chunk_size=512, buckets=1,
                      window=64, min_baseline_windows=5)
    return drift_verdicts(drift_scores(feat, cfg=cfg), cfg=cfg)


def _q_drift_shingled_events(spark, sf_dir):
    """Shingled drift (shingle_size=4) over the per-type event value
    stream: the forest scores windows of 4 consecutive transformed values
    and the slot-aware PredictorCorrector de-duplicates anomalies sliding
    through overlapping shingles (PredictorCorrector.java:795-905).
    Rows-only (RCF-sketch output)."""
    from random_cut_forest_by_aws_spark.operators.drift import (
        DriftConfig, drift_scores,
    )

    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    seqd = e.withColumn("seq", F.row_number().over(w).cast("long")).select(
        "event_type", "seq",
        F.struct(F.col("value").cast("double").alias("value")).alias("features"),
    )
    cfg = DriftConfig(num_trees=10, sample_size=64, chunk_size=512,
                      window=64, min_baseline_windows=3, buckets=1,
                      shingle_size=4)
    raw = drift_scores(seqd, "features", ("event_type",), "seq", cfg)
    return raw.filter(F.col("row_kind") == "summary").select(
        "event_type",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_scored").cast("bigint").alias("n_scored"),
        F.col("n_anomalous").cast("bigint").alias("n_anomalous"),
        F.round("mean_score", 4).alias("mean_score"),
    )


def _q_drift_multimode_events(spark, sf_dir):
    """MULTI_MODE scoring over the per-type event value stream: the
    distance thresholder (getSimpleDensity distances, primary mean+z·dev
    grading) vetoes inverse-depth alerts it grades 0
    (PredictorCorrector.java:595-609,785-792). Rows-only (sketch)."""
    from random_cut_forest_by_aws_spark.operators.drift import (
        DriftConfig, drift_scores,
    )

    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    seqd = e.withColumn("seq", F.row_number().over(w).cast("long")).select(
        "event_type", "seq",
        F.struct(F.col("value").cast("double").alias("value")).alias("features"),
    )
    cfg = DriftConfig(num_trees=10, sample_size=64, chunk_size=512,
                      window=64, min_baseline_windows=3, buckets=1,
                      scoring="multi_mode")
    raw = drift_scores(seqd, "features", ("event_type",), "seq", cfg)
    return raw.filter(F.col("row_kind") == "summary").select(
        "event_type",
        F.col("n_scored").cast("bigint").alias("n_scored"),
        F.col("n_anomalous").cast("bigint").alias("n_anomalous"),
        F.round("mean_score", 4).alias("mean_score"),
    )


def _q_drift_multimode_recall_events(spark, sf_dir):
    """MULTI_MODE_RECALL scoring (ScoringStrategy.java:55-60;
    PredictorCorrector.java:809-820): no distance veto; primary-grade-0
    points are re-elevated by the warm distance thresholder when the gap
    since the last significant anomaly >= shingle_size. Rows-only
    (sketch); the re-elevation differential is pytest-asserted
    (tests/test_drift_modes.py::test_multi_mode_recall_re_elevates)."""
    from random_cut_forest_by_aws_spark.operators.drift import (
        DriftConfig, drift_scores,
    )

    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    seqd = e.withColumn("seq", F.row_number().over(w).cast("long")).select(
        "event_type", "seq",
        F.struct(F.col("value").cast("double").alias("value")).alias("features"),
    )
    cfg = DriftConfig(num_trees=10, sample_size=64, chunk_size=512,
                      window=64, min_baseline_windows=3, buckets=1,
                      scoring="multi_mode_recall")
    raw = drift_scores(seqd, "features", ("event_type",), "seq", cfg)
    return raw.filter(F.col("row_kind") == "summary").select(
        "event_type",
        F.col("n_scored").cast("bigint").alias("n_scored"),
        F.col("n_anomalous").cast("bigint").alias("n_anomalous"),
        F.round("mean_score", 4).alias("mean_score"),
    )


def _q_drift_autoadjust_events(spark, sf_dir):
    """autoAdjust drift (PredictorCorrector.java:905-962): per-dimension
    discounted deviations over the candidate stream suppress sustained
    in-band runs as DATA_DRIFT instead of re-alerting. Rows-only
    (RCF-sketch output); the band semantics are pytest-differential
    (tests/test_drift_modes.py, tests/test_corrector_caster.py)."""
    from random_cut_forest_by_aws_spark.operators.drift import (
        DriftConfig, drift_scores,
    )

    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    seqd = e.withColumn("seq", F.row_number().over(w).cast("long")).select(
        "event_type", "seq",
        F.struct(F.col("value").cast("double").alias("value")).alias("features"),
    )
    cfg = DriftConfig(num_trees=10, sample_size=64, chunk_size=512,
                      window=64, min_baseline_windows=3, buckets=1,
                      auto_adjust=True, run_length_suppression=False)
    raw = drift_scores(seqd, "features", ("event_type",), "seq", cfg)
    return raw.filter(F.col("row_kind") == "summary").select(
        "event_type",
        F.col("n_scored").cast("bigint").alias("n_scored"),
        F.col("n_anomalous").cast("bigint").alias("n_anomalous"),
        F.round("mean_score", 4).alias("mean_score"),
    )


def _q_drift_impute_events(spark, sf_dir):
    """STREAMING_IMPUTE mode over a gapped per-type event stream: every
    third event dropped, gaps grid-filled (linear) before the forest
    update; imputed rows maintain state but never emit anomalies.
    Rows-only (RCF-sketch output)."""
    from random_cut_forest_by_aws_spark.operators.drift import (
        DriftConfig, drift_scores,
    )

    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    seqd = e.withColumn("seq", F.row_number().over(w).cast("long"))
    gapped = seqd.filter(F.pmod(F.col("seq"), F.lit(3)) != 0).select(
        "event_type", "seq",
        F.struct(F.col("value").cast("double").alias("value")).alias("features"),
    )
    cfg = DriftConfig(num_trees=10, sample_size=64, chunk_size=512,
                      window=64, min_baseline_windows=3,
                      mode="streaming_impute", impute_method="linear")
    raw = drift_scores(gapped, "features", ("event_type",), "seq", cfg)
    return raw.filter(F.col("row_kind") == "summary").select(
        "event_type",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_scored").cast("bigint").alias("n_scored"),
        F.col("n_imputed").cast("bigint").alias("n_imputed"),
        F.round("mean_score", 4).alias("mean_score"),
    )


def _q_repetition_docs(spark, sf_dir):
    """Gopher-style repetition quality signals: duplicate word / 2-gram /
    3-gram fractions per document (Rae et al. 2021 §A1.1 filters). Pure
    JVM expressions fused into the scan; oracle = the same arithmetic in
    DuckDB list functions."""
    from random_cut_forest_by_aws_spark.operators.textqc import repetition_profile

    d = _t(spark, sf_dir, "documents")
    r = repetition_profile(d)
    return r.select(
        "doc_id",
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
        F.round("dup_2gram_frac", 6).alias("dup_2gram_frac"),
        F.round("dup_3gram_frac", 6).alias("dup_3gram_frac"),
    )


def _q_contamination_docs(spark, sf_dir):
    """Benchmark decontamination: corpus docs sharing word 3-grams with
    the held-out eval slice (doc_id % 97 == 0). Runs the production
    hashed-n-gram path (broadcast eval grams, map-side-combined per-doc
    counts); the oracle recomputes the overlap on gram STRINGS in DuckDB
    — equality also certifies the xxhash64 join is collision-free
    here."""
    from random_cut_forest_by_aws_spark.operators.contamination import (
        ngram_contamination,
    )

    d = _t(spark, sf_dir, "documents")
    evals = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    out = ngram_contamination(corpus, evals, n=3)
    return out.select(
        "doc_id",
        F.col("n_overlap").cast("bigint").alias("n_overlap"),
        F.col("n_ngrams").cast("bigint").alias("n_ngrams"),
        F.round("overlap_frac", 6).alias("overlap_frac"),
    )


def _q_mixture_sample_docs(spark, sf_dir):
    """Deterministic domain-mixture sampling: per-source keep fractions
    decided by an engine-portable multiplicative hash of doc_id — the
    oracle replays the identical integer arithmetic, so the sampled row
    set must match exactly (reproducible across engines and reruns,
    which is what makes mixture backfills consistent)."""
    from random_cut_forest_by_aws_spark.operators.mixing import mixture_sample

    d = _t(spark, sf_dir, "documents")
    w = {"src0": 0.9, "src1": 0.5, "src2": 0.2, "src3": 0.0}
    return mixture_sample(
        d, w, seed=42, default_weight=0.25
    ).select("doc_id", "source")


def _q_mixture_resample_docs(spark, sf_dir):
    """Mixture construction WITH upsampling (epoch factors > 1,
    LLaMA-style): floor(w) guaranteed replicas per row plus one
    hash-decided extra, emitted with a replica index. Deterministic and
    engine-portable — the oracle replays the arithmetic and UNNESTs the
    same replica ranges, so the full (doc, replica) multiset must match
    exactly."""
    from random_cut_forest_by_aws_spark.operators.mixing import mixture_resample

    d = _t(spark, sf_dir, "documents")
    w = {"src0": 2.5, "src1": 1.0, "src2": 0.4}
    return mixture_resample(d, w, seed=42).select(
        "doc_id", "source", F.col("replica").cast("bigint").alias("replica")
    )


def _q_drift_lineage_events(spark, sf_dir):
    """Per-partition lineage table over the range-blocked event stream:
    one audit row per (group, bucket) checkpoint unit (the north-star
    "per-partition lineage and metrics" surface, drift_lineage()). The
    bucket is a deterministic order-range block (floor(seq/span)), so
    the row accounting — which physical slice was processed and how many
    rows it contributed — is exactly SQL-reproducible: the oracle checks
    the engine's per-checkpoint-unit bookkeeping against a plain
    GROUP BY. Sketch metrics (mean_score etc.) stay on the operator's
    full output, covered by the job e2e test."""
    from random_cut_forest_by_aws_spark.operators.drift import (
        DriftConfig, drift_lineage, drift_scores,
    )

    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    seqd = e.withColumn("seq", F.row_number().over(w).cast("long")).select(
        "event_type", "seq",
        F.struct(F.col("value").cast("double").alias("value")).alias("features"),
    )
    cfg = DriftConfig(num_trees=10, sample_size=64, chunk_size=512,
                      window=64, min_baseline_windows=3,
                      mode="time_augmented", rows_per_bucket=1000)
    raw = drift_scores(seqd, "features", ("event_type",), "seq", cfg)
    lin = drift_lineage(raw, ("event_type",), cfg=cfg)
    return lin.select(
        "event_type",
        F.col("bucket").cast("bigint").alias("bucket"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
    )


def _q_split_assign_docs(spark, sf_dir):
    """Deterministic train/val/test assignment: the split is a pure
    function of doc_id (multiplicative hash vs cumulative fraction
    thresholds), so eval sets stay frozen under corpus growth and the
    oracle replays the identical integer arithmetic. Dyadic fractions
    (0.75/0.125/0.125) keep the cumulative thresholds float-exact on
    both engines."""
    from random_cut_forest_by_aws_spark.operators.splits import assign_splits

    d = _t(spark, sf_dir, "documents")
    return assign_splits(
        d, {"train": 0.75, "val": 0.125, "test": 0.125}, seed=42
    ).select("doc_id", "source", "split")


def _q_filter_funnel_docs(spark, sf_dir):
    """Single-scan quality-filter funnel: every document charged to its
    FIRST failing stage, per-stage dropped/remaining counts from one
    partial-aggregated pass (no per-filter re-scans). The oracle replays
    the same CASE chain + running total in DuckDB."""
    from random_cut_forest_by_aws_spark.operators.funnel import filter_funnel

    d = _t(spark, sf_dir, "documents")
    stages = [
        ("min_len", "n_chars >= 100"),
        ("lang_known", "lang IN ('en','de','fr')"),
        ("max_len", "n_chars <= 450"),
    ]
    _, report = filter_funnel(d, stages)
    return report.select(
        F.col("stage_idx").cast("bigint").alias("stage_idx"),
        "stage", "dropped", "remaining",
    )


def _split_event_snapshots(spark, sf_dir):
    """Two deterministic snapshots of the events table (even / odd
    event_id) standing in for yesterday-vs-today corpus crawls."""
    e = _t(spark, sf_dir, "events")
    return (e.filter(F.col("event_id") % 2 == 0),
            e.filter(F.col("event_id") % 2 == 1))


def _q_snapshot_drift_events(spark, sf_dir):
    """Snapshot-to-snapshot distribution drift (PSI / JS / L-inf / TVD /
    chi2) per event_type between two deterministic halves of the events
    table. The whole computation is two map-side-combined histogram
    aggregates plus arithmetic over the tiny joined histogram — the
    TFDV/deequ-style batch complement to the streaming RCF drift
    operator. Every metric is closed-form over smoothed bin
    probabilities, so the oracle replays the identical expression shapes
    in DuckDB."""
    from random_cut_forest_by_aws_spark.operators.distdrift import snapshot_drift

    base, curr = _split_event_snapshots(spark, sf_dir)
    return snapshot_drift(base, curr, "value", group_by=["event_type"],
                          bin_width=25.0)


def _q_snapshot_drift_bins_events(spark, sf_dir):
    """Per-bin drift evidence behind snapshot_drift_events: which bins
    moved (counts, smoothed probabilities, per-bin PSI contribution)."""
    from random_cut_forest_by_aws_spark.operators.distdrift import (
        snapshot_drift_bins,
    )

    base, curr = _split_event_snapshots(spark, sf_dir)
    return snapshot_drift_bins(base, curr, "value", group_by=["event_type"],
                               bin_width=25.0)


def _q_snapshot_drift_multi_events(spark, sf_dir):
    """Whole-table drift profile: numeric (binned) + categorical columns
    in ONE stacked histogram aggregate per snapshot — one FileScan per
    snapshot however many columns are profiled (plan-shape pinned in
    tests/test_distdrift.py). The oracle computes each column's metric
    set independently (identical per-column arithmetic) and unions."""
    from random_cut_forest_by_aws_spark.operators.distdrift import (
        snapshot_drift_multi,
    )

    base, curr = _split_event_snapshots(spark, sf_dir)
    return snapshot_drift_multi(base, curr,
                                {"value": 25.0, "event_type": None})


def _q_embedding_drift_labels(spark, sf_dir):
    """Centroid drift of the embedding column per label between two
    deterministic halves of the embeddings table (even/odd vec_id):
    cosine similarity + L2/L-inf distance between per-group mean
    vectors. posexplode → map-side-combined (group, dim) aggregate, so
    the exchange is bounded by |groups|×dims at any corpus size. The
    oracle replays the mean/dot/norm arithmetic over DuckDB's zipped
    unnest + generate_subscripts."""
    from random_cut_forest_by_aws_spark.operators.distdrift import embedding_drift

    e = _t(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") % 2 == 0)
    curr = e.filter(F.col("vec_id") % 2 == 1)
    return embedding_drift(base, curr, "embedding", group_by=["label"])


def _q_token_drift_docs(spark, sf_dir):
    """Vocabulary drift of the token-array column between two halves of
    the corpus (operators/distdrift.token_drift_split): every token
    occurrence is one histogram observation, ONE FileScan feeds both
    sides, one map-side-combined (source, token) aggregate bounds the
    exchange by the observed vocabulary — never by token count. The
    oracle replays the unnest + pivot + metric arithmetic in DuckDB
    (w1 is NULL: transport over a categorical vocabulary is undefined).
    Word tokens (split on space) rather than hashed ids so the oracle
    replay is engine-portable."""
    from random_cut_forest_by_aws_spark.operators.distdrift import token_drift_split

    docs = _docs(spark, sf_dir).select(
        "source", "doc_id", F.split("text", " ").alias("toks"))
    return token_drift_split(docs, "doc_id % 3 = 0", "toks",
                             group_by=["source"])


def _q_token_bigram_drift_docs(spark, sf_dir):
    """token_drift over adjacent bigrams (ngram=2) via the two-DataFrame
    API path: catches word-order / template shifts that unigram counts
    miss. The gram array is built JVM-side (sequence + transform +
    concat_ws) and exploded inside the scan stage."""
    from random_cut_forest_by_aws_spark.operators.distdrift import token_drift

    docs = _docs(spark, sf_dir).select(
        "source", "doc_id", F.split("text", " ").alias("toks"))
    base = docs.filter(F.col("doc_id") % 3 == 0)
    curr = docs.filter(F.col("doc_id") % 3 != 0)
    return token_drift(base, curr, "toks", group_by=["source"], ngram=2)


def _q_constraint_check_docs(spark, sf_dir):
    """Declarative deequ-style constraint set compiled to ONE conditional
    aggregate over ONE scan (operators/checks.py): row-predicate rules
    (completeness / containment / pattern / custom SQL) as conditional
    sums, aggregate rules (min/max/mean/size/exact distinctness) in the
    same pass, verdict rows inlined from the single aggregated row. The
    oracle replays every rule's arithmetic verbatim."""
    from random_cut_forest_by_aws_spark.operators.checks import Check

    d = _t(spark, sf_dir, "documents")
    return (
        Check("docs_rules")
        .is_complete("text")
        .has_completeness("lang", 0.95)
        .is_contained_in("lang", ["en", "de", "fr"], 0.9)
        .has_pattern("text", "^[A-Za-z]", 0.5)
        .satisfies("n_chars >= 10", "min_chars", 0.99)
        .has_min("n_chars", at_least=0.0)
        .has_max("n_chars", at_most=100000.0)
        .has_mean("n_chars", at_least=1.0, at_most=10000.0)
        .has_size(at_least=1.0)
        .is_unique("doc_id")
        .are_complete(["text", "lang"], 0.9)
        .is_primary_key(["doc_id", "source"])
        .has_data_type("text", "numeric", 0.0)
        .contains_email("text", 0.5)
        .has_correlation("doc_id", "n_chars", at_least=-1.0)
        .run(d)
    )


def _q_constraint_check_by_source(spark, sf_dir):
    """Per-partition pass/fail: the same declarative rule set judged
    independently per source (north-rule per-partition verdicts). Still
    ONE aggregate over ONE scan — grouping only changes the aggregate
    keys, so the exchange carries |groups| aggregate rows."""
    from random_cut_forest_by_aws_spark.operators.checks import Check

    d = _t(spark, sf_dir, "documents")
    return (
        Check("docs_by_source")
        .is_complete("text")
        .satisfies("n_chars >= 10", "min_chars", min_fraction=0.99)
        .has_mean("n_chars", at_least=1.0)
        .is_unique("doc_id")
        .run(d, group_by=("source",))
    )


def _q_constraint_profile_docs(spark, sf_dir):
    """deequ's remaining analyzer families as Check rules
    (operators/checks.py): scan-sharing population stddev and
    min/max length in the single conditional aggregate, plus the
    frequency-based grouping analyzers — Shannon entropy (order-stable
    ln(N) − Σc·ln(c)/N form), uniqueness (exactly-once fraction),
    unique-value ratio, and pairwise mutual information (marginals via
    window sums over the distinct-pair table, never a second scan of
    the input). The oracle replays every closed form verbatim."""
    from random_cut_forest_by_aws_spark.operators.checks import Check

    d = _t(spark, sf_dir, "documents")
    return (
        Check("docs_profile")
        .has_standard_deviation("n_chars", at_least=1.0)
        .has_min_length("text", at_least=0.0)
        .has_max_length("text", at_most=100000.0)
        .has_entropy("lang", at_least=0.1)
        .has_uniqueness("doc_id", at_least=0.999)
        .has_unique_value_ratio("source", at_least=0.0)
        .has_top_value_share("lang", at_most=0.9)
        .has_mutual_information("lang", "source", at_least=0.0)
        .has_quantile("n_chars", 0.9, at_least=1.0)
        .run(d)
    )


def _q_suggest_rules_docs(spark, sf_dir):
    """Constraint suggestion (operators/suggest.py — deequ's
    ConstraintSuggestionRunner analogue): ONE conditional aggregate
    profiles every column (completeness, exact distinctness, numeric
    bounds), one more stacked scan gathers the observed value sets of
    qualifying categorical columns, and the proposed rule set comes out
    as rows a human can review or `check_from_suggestions` can enforce.
    The oracle replays the whole decision tree — conditional rule
    emission included — from the same aggregates."""
    from random_cut_forest_by_aws_spark.operators.suggest import suggest_rules

    return suggest_rules(
        _t(spark, sf_dir, "documents"), max_categories=32, exact=True
    )


def _metric_history(spark, sf_dir):
    """Daily event counts per type — a realistic metrics table (runs ×
    checks) for the metric-anomaly detectors. Integer-valued doubles ⇒
    window sums are exact and summation order cannot matter. ``day`` is
    an ISO-8601 STRING (not DATE): it sorts identically, and the
    driver's canonicalizer str()s non-numeric columns, where Spark's
    datetime.date and DuckDB's datetime64 render differently."""
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        "event_type",
        F.date_format(F.to_date("ts"), "yyyy-MM-dd").alias("day"),
    ).agg(F.count(F.lit(1)).cast("double").alias("cnt"))


def _q_metric_anomaly_events(spark, sf_dir):
    """Anomaly detection over metric history (operators/
    metrics_anomaly.py — deequ's addAnomalyCheck over a
    MetricsRepository): each day's count is judged against the PRIOR
    days only via expanding-window mean/sample-variance (plain ANSI
    window SQL — the oracle replays the identical expression shapes)."""
    from random_cut_forest_by_aws_spark.operators.metrics_anomaly import (
        metric_anomalies,
    )

    return metric_anomalies(
        _metric_history(spark, sf_dir), ("event_type",), "day", "cnt",
        method="zscore", z=3.0, min_history=5,
    )


def _q_metric_anomaly_online_events(spark, sf_dir):
    """Discounted online-normal variant (core Deviation sketch —
    deequ's OnlineNormalStrategy): the band tracks slow drift in the
    metric itself. Sequential state per key ⇒ no SQL oracle
    (rows-only gate; scalar-replay parity pinned in
    tests/test_metrics_anomaly.py)."""
    from random_cut_forest_by_aws_spark.operators.metrics_anomaly import (
        metric_anomalies,
    )

    return metric_anomalies(
        _metric_history(spark, sf_dir), ("event_type",), "day", "cnt",
        method="online", z=3.0, min_history=5, discount=0.05,
    )


def _q_metric_anomaly_change_events(spark, sf_dir):
    """Rate-of-change variant (deequ RelativeRateOfChangeStrategy):
    each day's count vs the previous day's, flagged outside
    [0.5, 2.0]. Pure lag arithmetic — the oracle replays the identical
    ratio + bounds expressions (IEEE double division both engines)."""
    from random_cut_forest_by_aws_spark.operators.metrics_anomaly import (
        metric_anomalies,
    )

    return metric_anomalies(
        _metric_history(spark, sf_dir), ("event_type",), "day", "cnt",
        method="rel_change", lower=0.5, upper=2.0,
    )


def _q_suite_verdicts(spark, sf_dir):
    """Full ValidationSuite verdict surface, exercising every check
    family in one run: stats/uniqueness/referential/invariants/RCF
    drift plus the round-5 additions — structural schema contract,
    declarative Check rules, and run-over-run baseline drift (the
    baseline here is the same corpus's own profile ⇒ zero drift by
    construction, pinning the PSI plumbing end-to-end)."""
    from random_cut_forest_by_aws_spark.operators.checks import Check
    from random_cut_forest_by_aws_spark.operators.distdrift import (
        histogram_profile,
    )
    from random_cut_forest_by_aws_spark.operators.drift import DriftConfig
    from random_cut_forest_by_aws_spark.plans import SuiteConfig, ValidationSuite
    from random_cut_forest_by_aws_spark.sources import tokenized_documents

    docs = _docs(spark, sf_dir)
    seqs = tokenized_documents(docs)
    profile_cols = {"n_tok": 16.0, "source": None}
    cfg = SuiteConfig(
        drift=DriftConfig(num_trees=10, sample_size=16, window=8,
                          min_baseline_windows=2, buckets=1, chunk_size=256),
        expected_schema={"doc_id": "string", "tokens": "array<int>",
                         "n_tok": "int", "source": "string"},
        checks=(
            Check("seq_rules")
            .is_complete("doc_id")
            .satisfies("n_tok >= 1", "n_tok_positive_rule")
            .has_mean("n_tok", at_least=1.0)
            .is_unique("doc_id"),
        ),
        profile_cols=profile_cols,
        baseline_profile=histogram_profile(seqs, profile_cols),
    )
    return ValidationSuite(spark, cfg).run(seqs, ref_dim=docs.select("source").distinct()).verdicts


def _diff_doc_snapshots(spark, sf_dir):
    """Two deterministic snapshots of the documents table standing in
    for yesterday-vs-today crawls of the same corpus: the base keeps
    doc_id % 10 < 8, the current keeps doc_id % 10 >= 1 (so % 10 == 0
    rows are removed and % 10 in {8, 9} rows are added) with a
    deterministic overlay of value changes — lang rewritten for
    doc_id % 7 == 0, n_chars bumped for doc_id % 11 == 0 — that the
    oracle replays verbatim."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 10 < 8)
    curr = docs.filter(F.col("doc_id") % 10 >= 1).select(
        "doc_id",
        "text",
        F.when(F.col("doc_id") % 7 == 0, F.lit("xx"))
        .otherwise(F.col("lang")).alias("lang"),
        "source",
        F.when(F.col("doc_id") % 11 == 0, F.col("n_chars") + 1)
        .otherwise(F.col("n_chars")).alias("n_chars"),
    )
    return base, curr


def _q_stats_state_merge_docs(spark, sf_dir):
    """Mergeable metric states (operators/states.py — deequ algebraic
    states): per-slice stats states over the even/odd doc_id halves are
    merged and the verdict statistics derived WITHOUT rescanning either
    slice. The oracle computes the same statistics directly on the full
    table — equality certifies merge associativity end-to-end. Only the
    exact algebraic fields are projected (n_chars is integer-valued, so
    every double sum is exact in any merge order); the HLL cardinality
    estimate has no cross-engine replay and is pinned by tolerance in
    tests/test_states.py instead."""
    from random_cut_forest_by_aws_spark.operators.states import (
        merge_stats_states,
        stats_from_state,
        stats_state,
    )

    d = _t(spark, sf_dir, "documents")
    halves = [d.filter(F.col("doc_id") % 2 == i) for i in (0, 1)]
    states = stats_state(halves[0], ["n_chars"]).unionByName(
        stats_state(halves[1], ["n_chars"]))
    out = stats_from_state(merge_stats_states(states, ["n_chars"]),
                           ["n_chars"])
    return out.select(
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("n_chars_cnt").cast("bigint").alias("n_chars_cnt"),
        F.col("n_chars_nulls").cast("bigint").alias("n_chars_nulls"),
        F.round("n_chars_null_rate", 6).alias("n_chars_null_rate"),
        F.col("n_chars_sum").alias("n_chars_sum"),
        F.col("n_chars_min").alias("n_chars_min"),
        F.col("n_chars_max").alias("n_chars_max"),
        F.round("n_chars_mean", 6).alias("n_chars_mean"),
        F.round("n_chars_stddev_pop", 6).alias("n_chars_stddev_pop"),
    )


def _q_snapshot_diff_docs(spark, sf_dir):
    """Row-level snapshot reconciliation: added / removed / changed /
    duplicate-key verdicts per doc_id between two deterministic
    snapshots of the documents table, with the differing columns named.
    One side-tagged union + ONE hash aggregate pivoting per-side counts
    and per-column xxhash64 fingerprints — the exchange carries 8 bytes
    per compared column instead of the text payload, no join stage
    (plan pinned in tests/test_diff.py). The oracle replays the same
    semantics by comparing the actual values in a DuckDB full outer
    join; equality also certifies the hash comparison collision-free."""
    from random_cut_forest_by_aws_spark.operators.diff import snapshot_diff

    base, curr = _diff_doc_snapshots(spark, sf_dir)
    return snapshot_diff(base, curr, "doc_id").select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "status", "changed_cols", "cnt_base", "cnt_curr",
    )


def _q_snapshot_diff_summary_docs(spark, sf_dir):
    """Reconciliation scorecard over the same snapshot pair: key and
    row counts per diff status — the aggregate a churn-threshold
    validation verdict reads."""
    from random_cut_forest_by_aws_spark.operators.diff import (
        snapshot_diff_summary,
    )

    base, curr = _diff_doc_snapshots(spark, sf_dir)
    return snapshot_diff_summary(base, curr, "doc_id")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Dict ORDER is deliberate (round 6): the round-5 driver evaluated
    # only the first 50 entries, so every entry with no driver-side
    # correctness signal yet — the round-5 validation/drift family
    # (previous positions 51-81) plus the repaired
    # rcf_attribution_embeddings — is rotated to the front. Long-green
    # TPC-style / dedup entries follow. The SET of entries and each
    # query's semantics are unchanged.
    return {
        # --- never driver-verified (round-5 tail) + repaired entry ----
        "rcf_attribution_embeddings": _q_rcf_attribution_embeddings,
        "media_metadata_check": _q_media_metadata_check,
        "drift_verdicts_sequences": _q_drift_sequences,
        "drift_shingled_events": _q_drift_shingled_events,
        "drift_multimode_events": _q_drift_multimode_events,
        "drift_multimode_recall_events": _q_drift_multimode_recall_events,
        "drift_autoadjust_events": _q_drift_autoadjust_events,
        "repetition_docs": _q_repetition_docs,
        "contamination_docs": _q_contamination_docs,
        "mixture_sample_docs": _q_mixture_sample_docs,
        "mixture_resample_docs": _q_mixture_resample_docs,
        "split_assign_docs": _q_split_assign_docs,
        "filter_funnel_docs": _q_filter_funnel_docs,
        "drift_impute_events": _q_drift_impute_events,
        "drift_lineage_events": _q_drift_lineage_events,
        "snapshot_drift_events": _q_snapshot_drift_events,
        "snapshot_drift_bins_events": _q_snapshot_drift_bins_events,
        "constraint_check_docs": _q_constraint_check_docs,
        "constraint_check_by_source": _q_constraint_check_by_source,
        "suggest_rules_docs": _q_suggest_rules_docs,
        "constraint_profile_docs": _q_constraint_profile_docs,
        "metric_anomaly_events": _q_metric_anomaly_events,
        "metric_anomaly_online_events": _q_metric_anomaly_online_events,
        "metric_anomaly_change_events": _q_metric_anomaly_change_events,
        "embedding_drift_labels": _q_embedding_drift_labels,
        "token_drift_docs": _q_token_drift_docs,
        "token_bigram_drift_docs": _q_token_bigram_drift_docs,
        "snapshot_drift_multi_events": _q_snapshot_drift_multi_events,
        "stats_state_merge_docs": _q_stats_state_merge_docs,
        "snapshot_diff_docs": _q_snapshot_diff_docs,
        "snapshot_diff_summary_docs": _q_snapshot_diff_summary_docs,
        "validation_suite_verdicts": _q_suite_verdicts,
        # --- driver-green in round 5 (rotated behind the new surface) -
        "stats_ntok_by_source": _q_stats_ntok,
        "ntok_quantiles_by_source": _q_ntok_quantiles,
        "uniqueness_lineitem_orderkey": _q_uniq_lineitem,
        "uniqueness_lineitem_composite": _q_uniq_composite,
        "referential_orders_customer": _q_ref_orders_customer,
        "referential_events_customer": _q_ref_events_customer,
        "token_invariant_violations": _q_token_positive,
        "pricing_summary": _q_pricing_summary,
        "top_orders_per_customer": _q_top_orders,
        "revenue_by_nation": _q_revenue_by_nation,
        "events_by_type": _q_events_by_type,
        "exact_dup_docs": _q_exact_dup_docs,
        "boilerplate_lines_docs": _q_boilerplate_lines_docs,
        "line_dedup_docs": _q_line_dedup_docs,
        "text_profile_docs": _q_text_profile,
        "token_counts_docs": _q_token_counts,
        "ann_cosine_topk": _q_ann_cosine,
        "cosine_near_dup_pairs": _q_cosine_near_dups,
        "minhash_candidates_docs": _q_minhash_candidates,
        "dup_cluster_docs": _q_dup_cluster_docs,
        "simhash_docs": _q_simhash,
        "lsh_cosine_topk": _q_lsh_cosine,
        "lsh_cosine_full_probe": _q_lsh_cosine_full,
        "ivf_cosine_full_probe": _q_ivf_cosine_full,
        "lang_quality_docs": _q_lang_quality,
        "rcf_scores_embeddings": _q_rcf_scores_embeddings,
        "glad_scores_embeddings": _q_glad_scores_embeddings,
        "rcf_forecast_events": _q_rcf_forecast_events,
        "sessionize_events": _q_sessionize_events,
        "tumbling_window_events": _q_tumbling_window_events,
        "hopping_window_events": _q_hopping_window_events,
        "session_window_events": _q_session_window_events,
        "asof_events_orders": _q_asof_events_orders,
        "pii_profile_docs": _q_pii_profile_docs,
        "pack_sequences_docs": _q_pack_sequences_docs,
        "quota_sample_docs": _q_quota_sample_docs,
        "token_budget_docs": _q_token_budget_docs,
        "incremental_minhash_docs": _q_incremental_minhash_docs,
        "winnow_fingerprints_docs": _q_winnow_fingerprints_docs,
        "winnow_candidates_docs": _q_winnow_candidates_docs,
        "simhash_portable_docs": _q_simhash_portable_docs,
        "semantic_dedup_embeddings": _q_semantic_dedup_embeddings,
        "chunk_docs": _q_chunk_docs,
        "tfidf_keywords_docs": _q_tfidf_keywords_docs,
        "rollup_report_docs": _q_rollup_report_docs,
        "winnow_containment_docs": _q_winnow_containment_docs,
        "lm_logprob_docs": _q_lm_logprob_docs,
        "media_decode_features": _q_media_features,
        "media_resize_plan": _q_media_resize_plan,
    }


def _token_drift_oracle(grams_expr: str) -> str:
    """DuckDB replay of token_drift over word tokens split on space:
    unnest the gram array per side, pivot with conditional sums, then
    the exact metric expression shapes of operators/distdrift.py
    (same IEEE op order => bit-identical doubles before rounding).
    ``grams_expr`` maps the token list ``t`` to the gram list."""
    return f"""
        WITH tk AS (
            SELECT source,
                   CASE WHEN doc_id % 3 = 0 THEN 0 ELSE 1 END AS side,
                   string_split(text, ' ') AS t
            FROM documents WHERE doc_id IS NOT NULL
        ), obs AS (
            SELECT source, side, unnest({grams_expr}) AS bin FROM tk
        ), joined AS (
            SELECT source, bin,
                   CAST(sum(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS BIGINT)
                       AS cnt_a,
                   CAST(sum(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS cnt_b
            FROM obs GROUP BY source, bin
        ), tot AS (
            SELECT source,
                   CAST(sum(cnt_a) AS BIGINT) AS n_base,
                   CAST(sum(cnt_b) AS BIGINT) AS n_curr,
                   count(*) AS n_bins
            FROM joined GROUP BY source
        ), terms AS (
            SELECT j.source, j.bin, t.n_base, t.n_curr, t.n_bins,
                   CAST(j.cnt_a AS DOUBLE) AS a,
                   CAST(j.cnt_b AS DOUBLE) AS b,
                   CAST(t.n_base AS DOUBLE) AS ta,
                   CAST(t.n_curr AS DOUBLE) AS tb,
                   (CAST(j.cnt_a AS DOUBLE) + 0.5)
                     / (CAST(t.n_base AS DOUBLE)
                        + 0.5 * CAST(t.n_bins AS DOUBLE)) AS p,
                   (CAST(j.cnt_b AS DOUBLE) + 0.5)
                     / (CAST(t.n_curr AS DOUBLE)
                        + 0.5 * CAST(t.n_bins AS DOUBLE)) AS q
            FROM joined j JOIN tot t USING (source)
        ), terms2 AS (
            SELECT *,
                   abs(SUM(a / ta - b / tb) OVER (
                       PARTITION BY source
                       ORDER BY bin ASC NULLS FIRST
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)) AS ks_t
            FROM terms
        )
        SELECT source,
               CAST(MAX(n_bins) AS BIGINT) AS n_bins,
               MAX(n_base) AS n_base,
               MAX(n_curr) AS n_curr,
               round(SUM((p - q) * (ln(p) - ln(q))), 6) AS psi,
               round(SUM(0.5 * (p * (ln(p) - ln((p + q) / 2.0))
                              + q * (ln(q) - ln((p + q) / 2.0)))), 6)
                   AS js_div,
               round(MAX(abs(p - q)), 6) AS linf,
               round(SUM(abs(p - q)) / 2.0, 6) AS tvd,
               round(SUM((a - (a + b) * ta / (ta + tb))
                         * (a - (a + b) * ta / (ta + tb))
                         / ((a + b) * ta / (ta + tb))
                       + (b - (a + b) * tb / (ta + tb))
                         * (b - (a + b) * tb / (ta + tb))
                         / ((a + b) * tb / (ta + tb))), 6) AS chi2,
               round(MAX(ks_t), 6) AS ks,
               CAST(NULL AS DOUBLE) AS w1
        FROM terms2 GROUP BY source
    """


_STOP_EN = "['the','a','and','of','to','in','is','it','that','for']"
_STOP_DE = "['der','die','das','und','ist','von','zu','mit','den','nicht']"
_STOP_FR = "['le','la','et','de','un','une','est','que','pour','dans']"


def _snapshot_diff_oracle(tail: str) -> str:
    """DuckDB replay of snapshot_diff over the deterministic documents
    snapshot pair: per-side key aggregates full-outer-joined on the key,
    actual VALUES compared with IS DISTINCT FROM (the engine compares
    xxhash64 fingerprints — gate equality certifies them collision-free),
    changed column names concat_ws'd in the engine's compare order."""
    return f"""
        WITH base AS (
            SELECT doc_id, text, lang, source, n_chars
            FROM documents WHERE doc_id % 10 < 8
        ), curr AS (
            SELECT doc_id, text,
                   CASE WHEN doc_id % 7 = 0 THEN 'xx' ELSE lang END AS lang,
                   source,
                   CASE WHEN doc_id % 11 = 0 THEN n_chars + 1
                        ELSE n_chars END AS n_chars
            FROM documents WHERE doc_id % 10 >= 1
        ), ba AS (
            SELECT doc_id, count(*) AS rb,
                   max(text) AS text, max(lang) AS lang,
                   max(source) AS source, max(n_chars) AS n_chars
            FROM base GROUP BY doc_id
        ), cu AS (
            SELECT doc_id, count(*) AS rc,
                   max(text) AS text, max(lang) AS lang,
                   max(source) AS source, max(n_chars) AS n_chars
            FROM curr GROUP BY doc_id
        ), j AS (
            SELECT COALESCE(ba.doc_id, cu.doc_id) AS doc_id,
                   ba.rb AS rb, cu.rc AS rc,
                   CASE WHEN ba.rb = 1 AND cu.rc = 1 THEN concat_ws(',',
                        CASE WHEN ba.text IS DISTINCT FROM cu.text
                             THEN 'text' END,
                        CASE WHEN ba.lang IS DISTINCT FROM cu.lang
                             THEN 'lang' END,
                        CASE WHEN ba.source IS DISTINCT FROM cu.source
                             THEN 'source' END,
                        CASE WHEN ba.n_chars IS DISTINCT FROM cu.n_chars
                             THEN 'n_chars' END)
                   ELSE '' END AS changed_cols
            FROM ba FULL OUTER JOIN cu
              ON ba.doc_id IS NOT DISTINCT FROM cu.doc_id
        ), v AS (
            SELECT doc_id,
                   CASE WHEN rb IS NULL THEN 'added'
                        WHEN rc IS NULL THEN 'removed'
                        WHEN rb > 1 OR rc > 1 THEN 'duplicate_key'
                        WHEN changed_cols <> '' THEN 'changed'
                        ELSE 'unchanged' END AS status,
                   changed_cols,
                   CAST(COALESCE(rb, 0) AS BIGINT) AS cnt_base,
                   CAST(COALESCE(rc, 0) AS BIGINT) AS cnt_curr
            FROM j
        )
        {tail}
    """


def oracle_sql() -> dict[str, str]:
    return {
        "stats_ntok_by_source": """
            SELECT source,
                   count(*) AS n_rows,
                   CAST(min(len(string_split(text, ' '))) AS BIGINT) AS n_tok_min,
                   CAST(max(len(string_split(text, ' '))) AS BIGINT) AS n_tok_max,
                   CAST(0 AS BIGINT) AS n_tok_nulls,
                   CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tok_sum,
                   count(DISTINCT CAST(doc_id AS VARCHAR)) AS doc_id_cardinality
            FROM documents GROUP BY source
        """,
        "ntok_quantiles_by_source": """
            SELECT source,
                   round(quantile_cont(CAST(len(string_split(text,' ')) AS DOUBLE), 0.25), 6) AS p25,
                   round(quantile_cont(CAST(len(string_split(text,' ')) AS DOUBLE), 0.5), 6) AS p50,
                   round(quantile_cont(CAST(len(string_split(text,' ')) AS DOUBLE), 0.75), 6) AS p75
            FROM documents GROUP BY source
        """,
        "uniqueness_lineitem_orderkey": """
            SELECT l_orderkey, count(*) AS dup_count
            FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
        """,
        "uniqueness_lineitem_composite": """
            SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                   count(*) AS dup_count
            FROM lineitem GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1
        """,
        "referential_orders_customer": """
            SELECT o_custkey, count(*) AS fact_rows FROM orders o
            WHERE o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
            GROUP BY o_custkey
        """,
        "referential_events_customer": """
            SELECT user_id, count(*) AS fact_rows FROM events e
            WHERE user_id IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
            GROUP BY user_id
        """,
        "token_invariant_violations": """
            SELECT CAST(doc_id AS BIGINT) AS seq FROM documents
            WHERE len(string_split(text, ' ')) <= 0
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   count(*) AS count_order
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "top_orders_per_customer": """
            SELECT o_custkey, o_orderkey, rn FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                                        ORDER BY o_totalprice DESC, o_orderkey) AS rn
              FROM orders) WHERE rn <= 3
        """,
        "revenue_by_nation": """
            SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "events_by_type": """
            SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY event_type
        """,
        "exact_dup_docs": """
            SELECT text, count(*) AS dup_count FROM documents
            GROUP BY text HAVING count(*) > 1
        """,
        "boilerplate_lines_docs": """
            WITH l AS (
                SELECT doc_id,
                       lower(trim(unnest(string_split(text, ' ')))) AS line
                FROM documents WHERE text IS NOT NULL
            )
            SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
            FROM l WHERE length(line) >= 1
            GROUP BY line HAVING count(DISTINCT doc_id) >= 300
        """,
        "line_dedup_docs": """
            WITH l AS (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS line,
                       generate_subscripts(string_split(text, ' '), 1) AS pos
                FROM documents WHERE text IS NOT NULL
            ),
            n AS (SELECT doc_id, pos, line, lower(trim(line)) AS norm FROM l),
            freq AS (
                SELECT norm FROM (
                    SELECT norm, count(DISTINCT doc_id) AS nd FROM n
                    WHERE length(norm) >= 1 GROUP BY norm
                ) WHERE nd >= 300
            )
            SELECT n.doc_id,
                   coalesce(string_agg(CASE WHEN f.norm IS NULL THEN n.line END,
                                       ' ' ORDER BY n.pos), '') AS text_clean,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   CAST(sum(CASE WHEN f.norm IS NOT NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_removed
            FROM n LEFT JOIN freq f ON n.norm = f.norm
            GROUP BY n.doc_id
        """,
        "text_profile_docs": f"""
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                   CAST(length(text) AS BIGINT) AS n_chars_eng,
                   round((length(text) - (len(string_split(text,' ')) - 1))
                         / greatest(len(string_split(text,' ')), 1), 6) AS avg_word_len,
                   round(len(list_filter(string_split(text, ' '),
                                         w -> list_contains({_STOP_EN}, lower(w))))
                         / greatest(len(string_split(text, ' ')), 1), 6) AS stopword_frac
            FROM documents
        """,
        "token_counts_docs": """
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
                   CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))
                        AS BIGINT) AS n_bpe_tokens
            FROM documents
        """,
        "sessionize_events": """
            SELECT user_id, session_id, count(*) AS n_events,
                   round(sum(value), 2) AS session_value
            FROM (
              SELECT user_id, value,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) AS session_id
              FROM (
                SELECT user_id, ts, event_id, value,
                       CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                              PARTITION BY user_id ORDER BY ts, event_id
                            ) IS NULL THEN 1
                            WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER (
                              PARTITION BY user_id ORDER BY ts, event_id
                            ) > 1800000 THEN 1 ELSE 0 END AS new_sess
                FROM events))
            GROUP BY user_id, session_id
        """,
        "session_window_events": """
            -- gap islands: new session when the user's silence EXCEEDS
            -- 30 min (an exactly-30-min gap merges, matching Spark's
            -- session_window); end = last event + gap
            WITH g AS (
              SELECT user_id, ts, value,
                     CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id
                                                  ORDER BY ts)
                               > INTERVAL '30 minutes'
                          OR LAG(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts) IS NULL
                          THEN 1 ELSE 0 END AS new_sess
              FROM events),
            s AS (
              SELECT user_id, ts, value,
                     SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS sid
              FROM g)
            SELECT user_id,
                   epoch_ms(min(ts)) AS ws,
                   epoch_ms(max(ts) + INTERVAL '30 minutes') AS we,
                   count(*) AS n_events,
                   round(sum(value), 2) AS session_value
            FROM s GROUP BY user_id, sid
        """,
        "tumbling_window_events": """
            SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS ws,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value,
                   round(avg(value), 4) AS avg_value
            FROM events
            GROUP BY 1, 2
        """,
        "hopping_window_events": """
            SELECT epoch_ms(time_bucket(INTERVAL '15 minutes', ts)
                            - k * INTERVAL '15 minutes') AS ws,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 2) AS sum_value
            FROM events, (SELECT unnest([0, 1, 2, 3]) AS k) hops
            GROUP BY 1, 2
        """,
        "asof_events_orders": """
            SELECT e.event_id, e.user_id, o.last_orderkey, o.last_order_total
            FROM events e
            ASOF LEFT JOIN (
                SELECT o_custkey, o_orderdate,
                       max(o_orderkey) AS last_orderkey,
                       round(sum(o_totalprice), 2) AS last_order_total
                FROM orders GROUP BY 1, 2) o
            ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        """,
        "pii_profile_docs": _pii_oracle_sql(),
        "pack_sequences_docs": """
            WITH toks AS (
              SELECT source, doc_id,
                     CAST(len(regexp_extract_all(text,
                          '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_tok
              FROM documents),
            cum AS (
              SELECT source, doc_id, n_tok,
                     CAST(COALESCE(SUM(n_tok) OVER (
                       PARTITION BY source ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS cum_before
              FROM toks WHERE n_tok > 0),
            packs AS (
              SELECT source, doc_id, n_tok, cum_before,
                     unnest(range(CAST(cum_before // 512 AS BIGINT),
                                  CAST((cum_before + n_tok - 1) // 512 + 1
                                       AS BIGINT))) AS pack_id
              FROM cum)
            SELECT source, doc_id, n_tok, CAST(pack_id AS BIGINT) AS pack_id,
                   CAST(GREATEST(0, cum_before - pack_id * 512) AS BIGINT)
                     AS tok_begin,
                   CAST(LEAST(512, cum_before + n_tok - pack_id * 512)
                        AS BIGINT) AS tok_end
            FROM packs
        """,
        "lsh_cosine_full_probe": """
            SELECT query_id, vec_id, round(cosine, 5) AS cosine, rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     list_dot_product(q.embedding, c.embedding)
                       / greatest(sqrt(list_dot_product(q.embedding, q.embedding))
                                  * sqrt(list_dot_product(c.embedding, c.embedding)),
                                  1e-12) AS cosine,
                     row_number() OVER (
                        PARTITION BY q.vec_id
                        ORDER BY list_dot_product(q.embedding, c.embedding)
                                   / greatest(sqrt(list_dot_product(q.embedding, q.embedding))
                                              * sqrt(list_dot_product(c.embedding, c.embedding)),
                                              1e-12) DESC, c.vec_id) AS rank
              FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
            ) WHERE rank <= 10
        """,
        "ivf_cosine_full_probe": """
            SELECT query_id, vec_id, round(cosine, 5) AS cosine, rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     list_dot_product(q.embedding, c.embedding)
                       / greatest(sqrt(list_dot_product(q.embedding, q.embedding))
                                  * sqrt(list_dot_product(c.embedding, c.embedding)),
                                  1e-12) AS cosine,
                     row_number() OVER (
                        PARTITION BY q.vec_id
                        ORDER BY list_dot_product(q.embedding, c.embedding)
                                   / greatest(sqrt(list_dot_product(q.embedding, q.embedding))
                                              * sqrt(list_dot_product(c.embedding, c.embedding)),
                                              1e-12) DESC, c.vec_id) AS rank
              FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
            ) WHERE rank <= 10
        """,
        "ann_cosine_topk": """
            SELECT query_id, vec_id, round(cosine, 5) AS cosine, rank FROM (
              SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                     list_dot_product(q.embedding, c.embedding)
                       / greatest(sqrt(list_dot_product(q.embedding, q.embedding))
                                  * sqrt(list_dot_product(c.embedding, c.embedding)),
                                  1e-12) AS cosine,
                     row_number() OVER (
                        PARTITION BY q.vec_id
                        ORDER BY list_dot_product(q.embedding, c.embedding)
                                   / greatest(sqrt(list_dot_product(q.embedding, q.embedding))
                                              * sqrt(list_dot_product(c.embedding, c.embedding)),
                                              1e-12) DESC, c.vec_id) AS rank
              FROM embeddings c CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 5) q
            ) WHERE rank <= 10
        """,
        "minhash_candidates_docs": """
            WITH s AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(string_split(text, ' ')) < 3
                            THEN [text]
                            ELSE [array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                  FOR i IN range(1, len(string_split(text, ' ')) - 1)]
                       END) AS sh
              FROM documents)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.sh, b.sh))
                         / greatest(len(list_distinct(a.sh || b.sh)), 1), 6) AS jaccard
            FROM s a JOIN s b ON a.doc_id < b.doc_id
            WHERE len(list_intersect(a.sh, b.sh))
                  / greatest(len(list_distinct(a.sh || b.sh)), 1) >= 0.7
        """,
        "cosine_near_dup_pairs": """
            WITH e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            )
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round(list_dot_product(a.v, b.v)
                         / greatest(sqrt(list_dot_product(a.v, a.v))
                                    * sqrt(list_dot_product(b.v, b.v)),
                                    1e-12), 4) AS cosine
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE list_dot_product(a.v, b.v)
                  / greatest(sqrt(list_dot_product(a.v, a.v))
                             * sqrt(list_dot_product(b.v, b.v)), 1e-12) >= 0.30
        """,
        "dup_cluster_docs": """
            WITH RECURSIVE s AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(string_split(text, ' ')) < 3
                            THEN [text]
                            ELSE [array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                  FOR i IN range(1, len(string_split(text, ' ')) - 1)]
                       END) AS sh
              FROM documents),
            p AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b
              FROM s a JOIN s b ON a.doc_id < b.doc_id
              WHERE len(list_intersect(a.sh, b.sh))
                    / greatest(len(list_distinct(a.sh || b.sh)), 1) >= 0.7),
            e AS (
              SELECT id_a AS src, id_b AS dst FROM p
              UNION
              SELECT id_b, id_a FROM p),
            reach(src, dst) AS (
              SELECT src, dst FROM e
              UNION
              SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src)
            SELECT src AS doc_id,
                   least(src, min(dst)) AS cluster_id,
                   src = least(src, min(dst)) AS is_canonical
            FROM reach GROUP BY src
        """,
        "lang_quality_docs": f"""
            WITH t AS (
              SELECT doc_id,
                     len(string_split(text, ' ')) AS nw,
                     length(text) AS nc,
                     len(list_filter(string_split(text, ' '),
                                     w -> list_contains({_STOP_EN}, lower(w))))
                       / greatest(len(string_split(text, ' ')), 1) AS s_en,
                     len(list_filter(string_split(text, ' '),
                                     w -> list_contains({_STOP_DE}, lower(w))))
                       / greatest(len(string_split(text, ' ')), 1) AS s_de,
                     len(list_filter(string_split(text, ' '),
                                     w -> list_contains({_STOP_FR}, lower(w))))
                       / greatest(len(string_split(text, ' ')), 1) AS s_fr
              FROM documents)
            SELECT doc_id,
                   CAST(nw AS BIGINT) AS n_words,
                   round(((CASE WHEN nw >= 5 AND nw <= 5000 THEN 1.0 ELSE 0.0 END)
                        + (CASE WHEN (nc - (nw - 1)) / greatest(nw, 1) >= 2.0
                                 AND (nc - (nw - 1)) / greatest(nw, 1) <= 12.0
                                THEN 1.0 ELSE 0.0 END)
                        + (CASE WHEN s_en >= 0.02 THEN 1.0 ELSE 0.0 END)) / 3.0,
                         6) AS quality,
                   CASE WHEN s_fr > greatest(s_en, s_de, 0.0) THEN 'fr'
                        WHEN s_de > greatest(s_en, 0.0) THEN 'de'
                        WHEN s_en > 0.0 THEN 'en'
                        ELSE 'und' END AS lang_guess
            FROM t
        """,
        "media_metadata_check": """
            WITH m AS (
              SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                     ['image/png','audio/wav','video/mp4'][(length(text) % 3) + 1] AS mime,
                     length(text) AS n,
                     octet_length(encode(text)) AS blen
              FROM documents
            ), mm AS (
              SELECT doc_id, mime, blen,
                     CASE WHEN mime = 'image/png' THEN (n % 64) + 32 END AS width,
                     CASE WHEN mime = 'image/png' THEN
                       CASE WHEN blen % 17 = 5 THEN -1 ELSE ((n * 7) % 64) + 32 END
                     END AS height,
                     CASE WHEN mime <> 'image/png' THEN n * 100 END AS duration_ms
              FROM m
            ), v AS (
              SELECT doc_id, mime,
                     list_filter([
                       CASE WHEN NOT coalesce(blen IS NOT NULL, FALSE)
                            THEN 'payload_not_null' END,
                       CASE WHEN NOT coalesce(blen > 0, FALSE)
                            THEN 'payload_not_empty' END,
                       CASE WHEN NOT coalesce(mime <> 'image/png'
                                              OR (width > 0 AND height > 0), FALSE)
                            THEN 'image_dims_positive' END,
                       CASE WHEN NOT coalesce(mime NOT IN ('audio/wav','video/mp4')
                                              OR duration_ms > 0, FALSE)
                            THEN 'av_duration_positive' END
                     ], x -> x IS NOT NULL) AS failed_list
              FROM mm
            )
            SELECT doc_id, mime, array_to_string(failed_list, ',') AS failed
            FROM v WHERE len(failed_list) > 0
        """,
        "media_resize_plan": """
            SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                   CAST(w AS BIGINT) AS width,
                   CAST(h AS BIGINT) AS height,
                   CAST(round(w * (224.0 / least(w, h))) AS BIGINT) AS target_width,
                   CAST(round(h * (224.0 / least(w, h))) AS BIGINT) AS target_height
            FROM (
              SELECT doc_id,
                     length(text) % 64 + 32 AS w,
                     (length(text) * 7) % 64 + 32 AS h
              FROM documents WHERE length(text) % 3 = 0)
        """,
        "media_decode_features": """
            SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
                   CASE length(d.text) % 3 WHEN 0 THEN 'image/png'
                                           WHEN 1 THEN 'audio/wav'
                                           ELSE 'video/mp4' END AS mime,
                   j.pos AS pos,
                   round(len(list_filter(range(1, length(d.text) + 1),
                                         i -> ascii(substr(d.text, CAST(i AS INT), 1))
                                              % 16 = j.pos))
                         / length(d.text), 6) AS val
            FROM documents d
            CROSS JOIN (SELECT unnest(range(16)) AS pos) j
            WHERE length(d.text) > 0
              AND length(d.text) = octet_length(encode(d.text))
        """,
        "repetition_docs": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ),
            g AS (
                SELECT doc_id, ws,
                       CASE WHEN len(ws) >= 2 THEN list_transform(
                           range(1, len(ws)),
                           i -> ws[i] || ' ' || ws[i+1]
                       ) ELSE CAST([] AS VARCHAR[]) END AS g2,
                       CASE WHEN len(ws) >= 3 THEN list_transform(
                           range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                       ) ELSE CAST([] AS VARCHAR[]) END AS g3
                FROM w
            )
            SELECT doc_id,
                   round(CASE WHEN len(ws) > 0 THEN
                       (len(ws) - len(list_distinct(ws)))::DOUBLE / len(ws)
                       ELSE 0 END, 6) AS dup_word_frac,
                   round(CASE WHEN len(g2) > 0 THEN
                       (len(g2) - len(list_distinct(g2)))::DOUBLE / len(g2)
                       ELSE 0 END, 6) AS dup_2gram_frac,
                   round(CASE WHEN len(g3) > 0 THEN
                       (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3)
                       ELSE 0 END, 6) AS dup_3gram_frac
            FROM g
        """,
        "contamination_docs": """
            WITH w AS (
                SELECT doc_id, string_split(text, ' ') AS ws FROM documents
            ),
            g AS (
                SELECT doc_id,
                       unnest(list_transform(
                           range(1, len(ws) - 1),
                           i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                       )) AS gram
                FROM w WHERE len(ws) >= 3
            ),
            ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
            hits AS (
                SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
                FROM g JOIN ev USING (gram)
                WHERE g.doc_id % 97 != 0
                GROUP BY 1
            )
            SELECT w.doc_id,
                   hits.n_overlap,
                   CAST(greatest(len(w.ws) - 2, 0) AS BIGINT) AS n_ngrams,
                   round(hits.n_overlap::DOUBLE /
                         greatest(greatest(len(w.ws) - 2, 0), 1), 6) AS overlap_frac
            FROM hits JOIN w ON hits.doc_id = w.doc_id
        """,
        "lm_logprob_docs": """
            WITH tok AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents),
            freq AS (
              SELECT word, COUNT(*) AS cnt FROM tok
              GROUP BY word HAVING COUNT(*) >= 5),
            stats AS (
              SELECT (SELECT COUNT(*) FROM tok) AS n_total,
                     (SELECT COUNT(*) FROM freq) AS v),
            scored AS (
              SELECT t.doc_id, COALESCE(f.cnt, 0) AS cnt
              FROM tok t LEFT JOIN freq f USING (word))
            SELECT doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tok,
                   CAST(SUM(CASE WHEN cnt = 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_oov,
                   ROUND(AVG(LN((cnt + 1.0) / (n_total + v + 1.0))), 4)
                     AS logprob
            FROM scored, stats
            GROUP BY doc_id
        """,
        "quota_sample_docs": """
            -- same double-fold hash arithmetic as mixture_sample_docs,
            -- kept as the integer rank key (exact comparisons)
            WITH h AS (
              SELECT source, doc_id,
                     (((((doc_id % 2147483648) + 2147483648) % 2147483648)
                       * 2654435761 + 42) % 2147483648) AS qh
              FROM documents),
            r AS (
              SELECT source, doc_id,
                     ROW_NUMBER() OVER (PARTITION BY source
                                        ORDER BY qh, doc_id) AS sample_rank
              FROM h)
            SELECT source, doc_id, CAST(sample_rank AS BIGINT) AS sample_rank
            FROM r WHERE sample_rank <= 7
        """,
        "token_budget_docs": """
            -- greedy token prefix per source under the same hash order
            -- quota_sample_docs replays; the cut lands on the cumulative
            -- BPE-ish token count
            WITH h AS (
              SELECT source, doc_id,
                     (((((doc_id % 2147483648) + 2147483648) % 2147483648)
                       * 2654435761 + 42) % 2147483648) AS qh,
                     CAST(len(regexp_extract_all(text,
                          '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]')) AS BIGINT) AS n_tok
              FROM documents
              -- the operator drops NULL key/id rows (no position in the
              -- per-key hash order) — pin the same semantics here
              WHERE source IS NOT NULL AND doc_id IS NOT NULL),
            c AS (
              SELECT source, doc_id, n_tok,
                     CAST(COALESCE(SUM(n_tok) OVER (
                       PARTITION BY source ORDER BY qh, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS tokens_before
              FROM h)
            SELECT source, doc_id, n_tok, tokens_before
            FROM c WHERE tokens_before < 700
        """,
        "incremental_minhash_docs": """
            -- exhaustive cross-side jaccard: every (even-id, odd-id)
            -- pair >= 0.7 — the full-recall claim for the incremental
            -- band-bucket join
            WITH s AS (
              SELECT doc_id,
                     list_distinct(
                       CASE WHEN len(string_split(text, ' ')) < 3
                            THEN [text]
                            ELSE [array_to_string(string_split(text, ' ')[i:i+2], ' ')
                                  FOR i IN range(1, len(string_split(text, ' ')) - 1)]
                       END) AS sh
              FROM documents)
            SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
                   round(len(list_intersect(a.sh, b.sh))
                         / greatest(len(list_distinct(a.sh || b.sh)), 1), 6) AS jaccard
            FROM s a JOIN s b ON a.doc_id % 2 = 0 AND b.doc_id % 2 = 1
            WHERE len(list_intersect(a.sh, b.sh))
                  / greatest(len(list_distinct(a.sh || b.sh)), 1) >= 0.7
        """,
        "winnow_fingerprints_docs": """
            -- exact replay of the winnowing sketch: positional
            -- polynomial k-gram hash (base 257, mod 2^31-1, k=5) over
            -- code points, then min-of-each-8-window, distinct per doc
            WITH d AS (
              SELECT doc_id, coalesce(text, '') AS t FROM documents
            ), c AS (
              SELECT doc_id,
                     [unicode(t[i])::BIGINT FOR i IN range(1, length(t)+1)] AS cps
              FROM d
            ), kh AS (
              SELECT doc_id,
                     [(cps[i]*4362470401 + cps[i+1]*16974593
                       + cps[i+2]*66049 + cps[i+3]*257 + cps[i+4])
                      % 2147483647
                      FOR i IN range(1, greatest(len(cps)-4, 0)+1)] AS kh
              FROM c
            ), f AS (
              SELECT doc_id,
                     list_distinct(
                       [list_min(kh[i:i+7])
                        FOR i IN range(1, greatest(len(kh)-7, 0)+1)]) AS fps
              FROM kh
            )
            SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp FROM f
        """,
        "winnow_candidates_docs": """
            -- deterministic fingerprints => the whole candidate join is
            -- SQL-replayable: same-fp pairs, mega-bucket guard at 64
            WITH d AS (
              SELECT doc_id, coalesce(text, '') AS t FROM documents
            ), c AS (
              SELECT doc_id,
                     [unicode(t[i])::BIGINT FOR i IN range(1, length(t)+1)] AS cps
              FROM d
            ), kh AS (
              SELECT doc_id,
                     [(cps[i]*4362470401 + cps[i+1]*16974593
                       + cps[i+2]*66049 + cps[i+3]*257 + cps[i+4])
                      % 2147483647
                      FOR i IN range(1, greatest(len(cps)-4, 0)+1)] AS kh
              FROM c
            ), f AS (
              SELECT doc_id,
                     CAST(unnest(list_distinct(
                       [list_min(kh[i:i+7])
                        FOR i IN range(1, greatest(len(kh)-7, 0)+1)])) AS BIGINT)
                       AS fp
              FROM kh
            ), g AS (
              SELECT fp FROM f GROUP BY fp
              HAVING count(*) > 1 AND count(*) <= 64
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS n_shared_fps
            FROM f a
            JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
            JOIN g ON g.fp = a.fp
            GROUP BY a.doc_id, b.doc_id
        """,
        "tfidf_keywords_docs": """
            -- replay of tfidf_keywords(top_k=5): per-(doc,term) counts,
            -- doc frequencies, rank by the engine-exact tf/df ratio
            -- (term asc ties), classic log-idf score rounded 6dp
            WITH p AS (
              SELECT doc_id, unnest(list_filter(
                       string_split(coalesce(text, ''), ' '),
                       t -> t != '')) AS term
              FROM documents
            ), tf AS (
              SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
              FROM p GROUP BY doc_id, term
            ), dfreq AS (
              SELECT term, CAST(count(*) AS BIGINT) AS df_count
              FROM tf GROUP BY term
            ), n AS (
              SELECT count(*) AS n_docs FROM documents
            ), ranked AS (
              SELECT tf.doc_id, tf.term, tf.tf, dfreq.df_count,
                     CAST(row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY CAST(tf.tf AS DOUBLE) / dfreq.df_count DESC,
                                tf.term ASC) AS BIGINT) AS rank
              FROM tf JOIN dfreq USING (term)
            )
            SELECT doc_id, term, tf, df_count, rank,
                   round(tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE)
                                 / df_count), 6) AS score
            FROM ranked WHERE rank <= 5
        """,
        "chunk_docs": """
            -- replay of chunk_documents(chunk_tokens=32, stride=16):
            -- whitespace tokens, starts 1, 17, 33, ... <= n, inclusive
            -- 1-based list slice of 32 tokens per start
            WITH d AS (
              SELECT doc_id,
                     list_filter(string_split(coalesce(text, ''), ' '),
                                 t -> t != '') AS toks
              FROM documents
            ), c AS (
              SELECT doc_id, toks,
                     unnest(range(1, len(toks) + 1, 16)) AS s
              FROM d WHERE len(toks) >= 1
            )
            SELECT doc_id,
                   CAST((s - 1) // 16 AS BIGINT) AS chunk_idx,
                   array_to_string(toks[s:s+31], ' ') AS chunk_text,
                   CAST(least(len(toks) - s + 1, 32) AS BIGINT) AS n_tok
            FROM c
        """,
        "rollup_report_docs": """
            -- native ROLLUP over (source, len_band) with the
            -- SQL-standard GROUPING id disambiguating subtotal NULLs
            WITH d AS (
              SELECT source,
                     CAST(len(list_filter(string_split(coalesce(text, ''), ' '),
                                          t -> t != '')) AS BIGINT) AS n_tok
              FROM documents
            ), b AS (
              SELECT source, n_tok, n_tok // 16 AS len_band FROM d
            )
            SELECT source, len_band,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(n_tok) AS BIGINT) AS val_sum,
                   CAST(min(n_tok) AS BIGINT) AS val_min,
                   CAST(max(n_tok) AS BIGINT) AS val_max,
                   CAST(grouping(source, len_band) AS BIGINT) AS grouping_lvl
            FROM b GROUP BY ROLLUP (source, len_band)
        """,
        "winnow_containment_docs": """
            -- candidate pairs + per-doc fingerprint counts + the
            -- containment ratio of the smaller doc, all on the exact
            -- winnowing arithmetic (k=5, window=8, bucket guard 64)
            WITH d AS (
              SELECT doc_id, coalesce(text, '') AS t FROM documents
            ), c AS (
              SELECT doc_id,
                     [unicode(t[i])::BIGINT FOR i IN range(1, length(t)+1)] AS cps
              FROM d
            ), kh AS (
              SELECT doc_id,
                     [(cps[i]*4362470401 + cps[i+1]*16974593
                       + cps[i+2]*66049 + cps[i+3]*257 + cps[i+4])
                      % 2147483647
                      FOR i IN range(1, greatest(len(cps)-4, 0)+1)] AS kh
              FROM c
            ), f AS (
              SELECT doc_id,
                     CAST(unnest(list_distinct(
                       [list_min(kh[i:i+7])
                        FOR i IN range(1, greatest(len(kh)-7, 0)+1)])) AS BIGINT)
                       AS fp
              FROM kh
            ), g AS (
              SELECT fp FROM f GROUP BY fp
              HAVING count(*) > 1 AND count(*) <= 64
            ), sh AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     CAST(count(*) AS BIGINT) AS n_shared_fps
              FROM f a
              JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
              JOIN g ON g.fp = a.fp
              GROUP BY a.doc_id, b.doc_id
            ), n AS (
              SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp
              FROM f GROUP BY doc_id
            )
            SELECT sh.id_a, sh.id_b, sh.n_shared_fps,
                   na.n_fp AS n_a, nb.n_fp AS n_b,
                   round(sh.n_shared_fps / least(na.n_fp, nb.n_fp), 6)
                     AS containment
            FROM sh
            JOIN n na ON na.doc_id = sh.id_a
            JOIN n nb ON nb.doc_id = sh.id_b
        """,
        "semantic_dedup_embeddings": """
            -- exact cosine pairs at 0.30 (the green cosine oracle's
            -- arithmetic) -> recursive-CTE connected components ->
            -- keep-one = argmax of the deterministic quality proxy
            -- (vec_id*1000003 % 2147483647), ties to the smallest id;
            -- singletons are their own canonical cluster
            WITH RECURSIVE e AS (
              SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
            ), p AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE list_dot_product(a.v, b.v)
                    / greatest(sqrt(list_dot_product(a.v, a.v))
                               * sqrt(list_dot_product(b.v, b.v)), 1e-12)
                    >= 0.30
            ), ed AS (
              SELECT id_a AS src, id_b AS dst FROM p
              UNION
              SELECT id_b, id_a FROM p
            ), reach(src, dst) AS (
              SELECT src, dst FROM ed
              UNION
              SELECT r.src, ed.dst FROM reach r JOIN ed ON r.dst = ed.src
            ), lab AS (
              SELECT src AS vec_id, least(src, min(dst)) AS cluster_id
              FROM reach GROUP BY src
            ), allv AS (
              SELECT e.vec_id,
                     coalesce(lab.cluster_id, e.vec_id) AS cluster_id,
                     lab.vec_id IS NULL AS singleton,
                     (e.vec_id * 1000003) % 2147483647 AS qv
              FROM e LEFT JOIN lab ON e.vec_id = lab.vec_id
            )
            SELECT vec_id, CAST(cluster_id AS BIGINT) AS cluster_id,
                   (singleton OR row_number() OVER (
                      PARTITION BY cluster_id
                      ORDER BY qv DESC, vec_id ASC) = 1) AS is_canonical
            FROM allv
        """,
        "simhash_portable_docs": """
            -- exact replay of the portable SimHash: per-token 62-bit
            -- hash = two seeded rolling polynomial folds over code
            -- points (h1 mod 2^31-1, h2 mod 2^31-19; bases in
            -- operators/dedup.py) packed h1*2^31 + h2; fingerprint bit
            -- b set iff ones-votes >= half the tokens (2*ones >= n)
            WITH d AS (
              SELECT doc_id, coalesce(text, '') AS t FROM documents
            ), tok AS (
              SELECT doc_id, string_split(t, ' ') AS toks FROM d
            ), th AS (
              SELECT doc_id,
                [ list_reduce(
                    [42::BIGINT] ||
                    [unicode(tk[i])::BIGINT FOR i IN range(1, length(tk)+1)],
                    (a, x) -> (a*257 + x) % 2147483647) * 2147483648
                + list_reduce(
                    [43::BIGINT] ||
                    [unicode(tk[i])::BIGINT FOR i IN range(1, length(tk)+1)],
                    (a, x) -> (a*263 + x) % 2147483629)
                  FOR tk IN toks ] AS hs
              FROM tok
            )
            SELECT doc_id,
                   CAST(list_sum(
                     [ CASE WHEN 2*list_sum([ (h >> b) & 1 FOR h IN hs ])
                            >= len(hs)
                       THEN (1::BIGINT << b) ELSE 0 END
                       FOR b IN range(0, 62) ]) AS BIGINT) AS simhash
            FROM th
        """,
        "mixture_sample_docs": """
            -- ((x % M) + M) % M: Spark pmod is non-negative, DuckDB %
            -- follows the dividend's sign — fold twice so negative ids
            -- (if ever present) replay identically
            SELECT doc_id, source FROM documents
            WHERE (((((doc_id % 2147483648) + 2147483648) % 2147483648)
                    * 2654435761 + 42) % 2147483648)
                  / 2147483648.0 <
                  CASE source WHEN 'src0' THEN 0.9
                              WHEN 'src1' THEN 0.5
                              WHEN 'src2' THEN 0.2
                              WHEN 'src3' THEN 0.0
                              ELSE 0.25 END
        """,
        "mixture_resample_docs": """
            WITH w AS (
                SELECT doc_id, source,
                       CASE source WHEN 'src0' THEN 2.5
                                   WHEN 'src1' THEN 1.0
                                   WHEN 'src2' THEN 0.4
                                   ELSE 0.0 END AS wt,
                       -- double fold: pmod-compatible for negative ids
                       ((((((doc_id % 2147483648) + 2147483648)
                           % 2147483648) * 2654435761 + 42)
                        % 2147483648)) / 2147483648.0 AS u
                FROM documents
            ),
            c AS (
                SELECT doc_id, source,
                       CAST(FLOOR(wt) +
                            CASE WHEN u < wt - FLOOR(wt) THEN 1 ELSE 0 END
                            AS BIGINT) AS copies
                FROM w
            )
            SELECT doc_id, source,
                   CAST(unnest(range(1, copies + 1)) AS BIGINT) AS replica
            FROM c
            WHERE copies > 0
        """,
        "split_assign_docs": """
            -- same double-fold hash as the mixture oracles; cumulative
            -- thresholds 0.75 / 0.875 are dyadic => float-exact on both
            -- engines (hash/2^31 is exact: division by a power of two)
            SELECT doc_id, source,
                   CASE WHEN (((((doc_id % 2147483648) + 2147483648)
                               % 2147483648) * 2654435761 + 42)
                              % 2147483648) / 2147483648.0 < 0.75
                             THEN 'train'
                        WHEN (((((doc_id % 2147483648) + 2147483648)
                               % 2147483648) * 2654435761 + 42)
                              % 2147483648) / 2147483648.0 < 0.875
                             THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "filter_funnel_docs": """
            WITH ff AS (
              SELECT CASE
                       WHEN NOT COALESCE(n_chars >= 100, FALSE) THEN 1
                       WHEN NOT COALESCE(lang IN ('en','de','fr'), FALSE)
                            THEN 2
                       WHEN NOT COALESCE(n_chars <= 450, FALSE) THEN 3
                       ELSE 0 END AS first_fail
              FROM documents),
            c AS (SELECT first_fail, count(*) AS n FROM ff
                  GROUP BY first_fail),
            t AS (SELECT sum(n) AS total FROM c),
            m AS (SELECT * FROM (VALUES (1, 'min_len'), (2, 'lang_known'),
                                        (3, 'max_len')) v(stage_idx, stage))
            SELECT CAST(m.stage_idx AS BIGINT) AS stage_idx,
                   m.stage,
                   CAST(COALESCE(c.n, 0) AS BIGINT) AS dropped,
                   CAST(t.total - SUM(COALESCE(c.n, 0))
                          OVER (ORDER BY m.stage_idx) AS BIGINT) AS remaining
            FROM m LEFT JOIN c ON m.stage_idx = c.first_fail CROSS JOIN t
        """,
        "drift_lineage_events": """
            WITH seqd AS (
                SELECT event_type,
                       ROW_NUMBER() OVER (
                           PARTITION BY event_type ORDER BY ts, event_id
                       ) AS seq
                FROM events
            )
            SELECT event_type,
                   CAST(FLOOR(seq / 1000.0) AS BIGINT) AS bucket,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM seqd
            GROUP BY 1, 2
        """,
        # snapshot drift: histogram full-outer join on null-safe keys,
        # then the exact expression shapes of operators/distdrift.py
        # (same IEEE op order => bit-identical doubles before rounding).
        "snapshot_drift_events": """
            WITH ha AS (
                SELECT event_type,
                       CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
                       count(*) AS cnt_a
                FROM events WHERE event_id % 2 = 0
                GROUP BY event_type, bin
            ), hb AS (
                SELECT event_type,
                       CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
                       count(*) AS cnt_b
                FROM events WHERE event_id % 2 = 1
                GROUP BY event_type, bin
            ), joined AS (
                SELECT COALESCE(ha.event_type, hb.event_type) AS event_type,
                       COALESCE(ha.bin, hb.bin) AS bin,
                       COALESCE(ha.cnt_a, 0) AS cnt_a,
                       COALESCE(hb.cnt_b, 0) AS cnt_b
                FROM ha FULL OUTER JOIN hb
                  ON ha.event_type IS NOT DISTINCT FROM hb.event_type
                 AND ha.bin IS NOT DISTINCT FROM hb.bin
            ), tot AS (
                SELECT event_type,
                       CAST(sum(cnt_a) AS BIGINT) AS n_base,
                       CAST(sum(cnt_b) AS BIGINT) AS n_curr,
                       count(*) AS n_bins
                FROM joined GROUP BY event_type
            ), hist AS (
                SELECT j.event_type, j.bin,
                       CAST(j.cnt_a AS DOUBLE) AS a,
                       CAST(j.cnt_b AS DOUBLE) AS b,
                       CAST(t.n_base AS DOUBLE) AS ta,
                       CAST(t.n_curr AS DOUBLE) AS tb,
                       CAST(t.n_bins AS DOUBLE) AS nb,
                       t.n_base, t.n_curr, t.n_bins
                FROM joined j JOIN tot t USING (event_type)
            ), terms AS (
                SELECT event_type, bin, n_base, n_curr, n_bins,
                       a, b, ta, tb,
                       (a + 0.5) / (ta + 0.5 * nb) AS p,
                       (b + 0.5) / (tb + 0.5 * nb) AS q
                FROM hist
            ), terms2 AS (
                SELECT *,
                       abs(SUM(a / ta - b / tb) OVER (
                           PARTITION BY event_type
                           ORDER BY bin ASC NULLS FIRST
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)) AS ks_t,
                       lead(bin) OVER (
                           PARTITION BY event_type
                           ORDER BY bin ASC NULLS FIRST) AS nxt
                FROM terms
            ), terms3 AS (
                SELECT *,
                       ks_t * (CASE WHEN nxt IS NULL THEN 0.0
                                    WHEN bin IS NULL THEN 1.0
                                    ELSE CAST(nxt - bin AS DOUBLE) END)
                            * 25.0 AS w1_t
                FROM terms2
            )
            SELECT event_type,
                   CAST(MAX(n_bins) AS BIGINT) AS n_bins,
                   MAX(n_base) AS n_base,
                   MAX(n_curr) AS n_curr,
                   round(SUM((p - q) * (ln(p) - ln(q))), 6) AS psi,
                   round(SUM(0.5 * (p * (ln(p) - ln((p + q) / 2.0))
                                  + q * (ln(q) - ln((p + q) / 2.0)))), 6)
                       AS js_div,
                   round(MAX(abs(p - q)), 6) AS linf,
                   round(SUM(abs(p - q)) / 2.0, 6) AS tvd,
                   round(SUM((a - (a + b) * ta / (ta + tb))
                             * (a - (a + b) * ta / (ta + tb))
                             / ((a + b) * ta / (ta + tb))
                           + (b - (a + b) * tb / (ta + tb))
                             * (b - (a + b) * tb / (ta + tb))
                             / ((a + b) * tb / (ta + tb))), 6) AS chi2,
                   round(MAX(ks_t), 6) AS ks,
                   round(SUM(w1_t), 6) AS w1
            FROM terms3 GROUP BY event_type
        """,
        "snapshot_drift_bins_events": """
            WITH ha AS (
                SELECT event_type,
                       CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
                       count(*) AS cnt_a
                FROM events WHERE event_id % 2 = 0
                GROUP BY event_type, bin
            ), hb AS (
                SELECT event_type,
                       CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
                       count(*) AS cnt_b
                FROM events WHERE event_id % 2 = 1
                GROUP BY event_type, bin
            ), joined AS (
                SELECT COALESCE(ha.event_type, hb.event_type) AS event_type,
                       COALESCE(ha.bin, hb.bin) AS bin,
                       CAST(COALESCE(ha.cnt_a, 0) AS BIGINT) AS cnt_a,
                       CAST(COALESCE(hb.cnt_b, 0) AS BIGINT) AS cnt_b
                FROM ha FULL OUTER JOIN hb
                  ON ha.event_type IS NOT DISTINCT FROM hb.event_type
                 AND ha.bin IS NOT DISTINCT FROM hb.bin
            ), tot AS (
                SELECT event_type,
                       CAST(sum(cnt_a) AS DOUBLE) AS ta,
                       CAST(sum(cnt_b) AS DOUBLE) AS tb,
                       CAST(count(*) AS DOUBLE) AS nb
                FROM joined GROUP BY event_type
            ), terms AS (
                SELECT j.event_type, j.bin, j.cnt_a, j.cnt_b,
                       (CAST(j.cnt_a AS DOUBLE) + 0.5) / (t.ta + 0.5 * t.nb) AS p,
                       (CAST(j.cnt_b AS DOUBLE) + 0.5) / (t.tb + 0.5 * t.nb) AS q
                FROM joined j JOIN tot t USING (event_type)
            )
            SELECT event_type, bin, cnt_a, cnt_b,
                   round(p, 6) AS p_base,
                   round(q, 6) AS p_curr,
                   round((p - q) * (ln(p) - ln(q)), 6) AS psi_contrib
            FROM terms
        """,
        # declarative constraint check: one aggregate row, one verdict
        # row per rule — identical conditional-sum arithmetic. All
        # integer-valued doubles, so every metric is engine-exact.
        "constraint_check_docs": """
            WITH a AS (
                SELECT count(*) AS n,
                       sum(CASE WHEN COALESCE(text IS NOT NULL, FALSE)
                                THEN 1 ELSE 0 END) AS s_ct,
                       sum(CASE WHEN COALESCE(lang IS NOT NULL, FALSE)
                                THEN 1 ELSE 0 END) AS s_cl,
                       sum(CASE WHEN COALESCE(lang IN ('en','de','fr'), FALSE)
                                THEN 1 ELSE 0 END) AS s_in,
                       sum(CASE WHEN COALESCE(regexp_matches(text, '^[A-Za-z]'),
                                              FALSE)
                                THEN 1 ELSE 0 END) AS s_pat,
                       sum(CASE WHEN COALESCE(n_chars >= 10, FALSE)
                                THEN 1 ELSE 0 END) AS s_mc,
                       min(CAST(n_chars AS DOUBLE)) AS v_min,
                       max(CAST(n_chars AS DOUBLE)) AS v_max,
                       sum(CAST(n_chars AS DOUBLE)) AS v_sum,
                       count(n_chars) AS c_mean,
                       count(DISTINCT doc_id) AS s_dst,
                       sum(CASE WHEN COALESCE(text IS NOT NULL
                                              AND lang IS NOT NULL, FALSE)
                                THEN 1 ELSE 0 END) AS s_ac,
                       count(DISTINCT CASE WHEN doc_id IS NOT NULL
                                            AND source IS NOT NULL
                                           THEN ROW(doc_id, source) END)
                           AS s_pk,
                       sum(CASE WHEN COALESCE((text IS NULL) OR
                                    (TRY_CAST(text AS DOUBLE) IS NOT NULL),
                                    FALSE)
                                THEN 1 ELSE 0 END) AS s_dt,
                       sum(CASE WHEN COALESCE(NOT COALESCE(
                                    regexp_matches(text,
                                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+'),
                                    FALSE), FALSE)
                                THEN 1 ELSE 0 END) AS s_ne,
                       -- pairwise-complete Pearson moments (integer-valued
                       -- doubles < 2^53: exact in both engines)
                       CAST(count(CASE WHEN doc_id IS NOT NULL
                                        AND n_chars IS NOT NULL
                                       THEN 1 END) AS DOUBLE) AS r_n,
                       sum(CASE WHEN doc_id IS NOT NULL AND n_chars IS NOT NULL
                                THEN CAST(doc_id AS DOUBLE) END) AS r_x,
                       sum(CASE WHEN doc_id IS NOT NULL AND n_chars IS NOT NULL
                                THEN CAST(n_chars AS DOUBLE) END) AS r_y,
                       sum(CASE WHEN doc_id IS NOT NULL AND n_chars IS NOT NULL
                                THEN CAST(doc_id AS DOUBLE)
                                     * CAST(doc_id AS DOUBLE) END) AS r_xx,
                       sum(CASE WHEN doc_id IS NOT NULL AND n_chars IS NOT NULL
                                THEN CAST(n_chars AS DOUBLE)
                                     * CAST(n_chars AS DOUBLE) END) AS r_yy,
                       sum(CASE WHEN doc_id IS NOT NULL AND n_chars IS NOT NULL
                                THEN CAST(doc_id AS DOUBLE)
                                     * CAST(n_chars AS DOUBLE) END) AS r_xy
                FROM documents
            ), v AS (
                SELECT * FROM (
                  SELECT 'complete(text)' AS con, 'text' AS col, '>=' AS op,
                         CAST(1.0 AS DOUBLE) AS th,
                         CAST(s_ct AS DOUBLE) / CAST(n AS DOUBLE) AS m,
                         CAST(n - s_ct AS BIGINT) AS nv, n FROM a
                  UNION ALL
                  SELECT 'completeness(lang)', 'lang', '>=', 0.95,
                         CAST(s_cl AS DOUBLE) / CAST(n AS DOUBLE),
                         CAST(n - s_cl AS BIGINT), n FROM a
                  UNION ALL
                  SELECT 'contained(lang)', 'lang', '>=', 0.9,
                         CAST(s_in AS DOUBLE) / CAST(n AS DOUBLE),
                         CAST(n - s_in AS BIGINT), n FROM a
                  UNION ALL
                  SELECT 'pattern(text)', 'text', '>=', 0.5,
                         CAST(s_pat AS DOUBLE) / CAST(n AS DOUBLE),
                         CAST(n - s_pat AS BIGINT), n FROM a
                  UNION ALL
                  SELECT 'min_chars', '', '>=', 0.99,
                         CAST(s_mc AS DOUBLE) / CAST(n AS DOUBLE),
                         CAST(n - s_mc AS BIGINT), n FROM a
                  UNION ALL
                  SELECT 'min(n_chars)>=', 'n_chars', '>=', 0.0,
                         v_min, CAST(-1 AS BIGINT), n FROM a
                  UNION ALL
                  SELECT 'max(n_chars)<=', 'n_chars', '<=', 100000.0,
                         v_max, CAST(-1 AS BIGINT), n FROM a
                  UNION ALL
                  SELECT 'mean(n_chars)>=', 'n_chars', '>=', 1.0,
                         v_sum / CAST(c_mean AS DOUBLE),
                         CAST(-1 AS BIGINT), n FROM a
                  UNION ALL
                  SELECT 'mean(n_chars)<=', 'n_chars', '<=', 10000.0,
                         v_sum / CAST(c_mean AS DOUBLE),
                         CAST(-1 AS BIGINT), n FROM a
                  UNION ALL
                  SELECT 'size(*)>=', '*', '>=', 1.0,
                         CAST(n AS DOUBLE), CAST(-1 AS BIGINT), n FROM a
                  UNION ALL
                  SELECT 'distinctness(doc_id)>=', 'doc_id', '>=', 1.0,
                         CAST(s_dst AS DOUBLE) / CAST(n AS DOUBLE),
                         CAST(-1 AS BIGINT), n FROM a
                  UNION ALL
                  SELECT 'complete(text,lang)', 'text', '>=', 0.9,
                         CAST(s_ac AS DOUBLE) / CAST(n AS DOUBLE),
                         CAST(n - s_ac AS BIGINT), n FROM a
                  UNION ALL
                  SELECT 'primary_key(doc_id,source)', 'doc_id,source',
                         '>=', 1.0,
                         CAST(s_pk AS DOUBLE) / CAST(n AS DOUBLE),
                         CAST(-1 AS BIGINT), n FROM a
                  UNION ALL
                  SELECT 'data_type(text,numeric)', 'text', '>=', 0.0,
                         CAST(s_dt AS DOUBLE) / CAST(n AS DOUBLE),
                         CAST(n - s_dt AS BIGINT), n FROM a
                  UNION ALL
                  SELECT 'no_email(text)', 'text', '>=', 0.5,
                         CAST(s_ne AS DOUBLE) / CAST(n AS DOUBLE),
                         CAST(n - s_ne AS BIGINT), n FROM a
                  UNION ALL
                  SELECT 'corr(doc_id,n_chars)>=', 'doc_id', '>=', -1.0,
                         CASE WHEN (r_n * r_xx - r_x * r_x) > 0
                               AND (r_n * r_yy - r_y * r_y) > 0
                              THEN (r_n * r_xy - r_x * r_y)
                                   / (sqrt(r_n * r_xx - r_x * r_x)
                                      * sqrt(r_n * r_yy - r_y * r_y)) END,
                         CAST(-1 AS BIGINT), n FROM a
                )
            )
            SELECT 'docs_rules' AS "check",
                   con AS "constraint",
                   col AS "column",
                   round(m, 6) AS metric,
                   op,
                   CAST(th AS DOUBLE) AS threshold,
                   COALESCE(CASE WHEN op = '>=' THEN m >= th
                                 ELSE m <= th END, FALSE) AS passed,
                   CAST(n AS BIGINT) AS n_rows,
                   nv AS n_violations
            FROM v
        """,
        # multi-column drift profile: per-column metric arithmetic is
        # identical to the single-column oracle (whole-table, no group),
        # unioned — numeric 'value' (bw 25.0) + categorical 'event_type'
        # (w1 undefined).
        "token_drift_docs": _token_drift_oracle("t"),
        "token_bigram_drift_docs": _token_drift_oracle(
            "list_transform(generate_series(1, len(t) - 1),"
            " i -> t[i] || ' ' || t[i + 1])"
        ),
        "snapshot_drift_multi_events": """
            WITH ha_v AS (
                SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
                       count(*) AS cnt_a
                FROM events WHERE event_id % 2 = 0 GROUP BY bin
            ), hb_v AS (
                SELECT CAST(FLOOR(value / 25.0) AS BIGINT) AS bin,
                       count(*) AS cnt_b
                FROM events WHERE event_id % 2 = 1 GROUP BY bin
            ), j_v AS (
                SELECT COALESCE(ha_v.bin, hb_v.bin) AS bin,
                       COALESCE(cnt_a, 0) AS cnt_a,
                       COALESCE(cnt_b, 0) AS cnt_b
                FROM ha_v FULL OUTER JOIN hb_v
                  ON ha_v.bin IS NOT DISTINCT FROM hb_v.bin
            ), t_v AS (
                SELECT CAST(sum(cnt_a) AS BIGINT) AS n_base,
                       CAST(sum(cnt_b) AS BIGINT) AS n_curr,
                       count(*) AS n_bins
                FROM j_v
            ), h_v AS (
                SELECT j.bin, CAST(j.cnt_a AS DOUBLE) AS a,
                       CAST(j.cnt_b AS DOUBLE) AS b,
                       CAST(t.n_base AS DOUBLE) AS ta,
                       CAST(t.n_curr AS DOUBLE) AS tb,
                       CAST(t.n_bins AS DOUBLE) AS nb,
                       t.n_base, t.n_curr, t.n_bins
                FROM j_v j CROSS JOIN t_v t
            ), tm_v AS (
                SELECT *, (a + 0.5) / (ta + 0.5 * nb) AS p,
                       (b + 0.5) / (tb + 0.5 * nb) AS q
                FROM h_v
            ), tm2_v AS (
                SELECT *,
                       abs(SUM(a / ta - b / tb) OVER (
                           ORDER BY bin ASC NULLS FIRST
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)) AS ks_t,
                       lead(bin) OVER (ORDER BY bin ASC NULLS FIRST) AS nxt
                FROM tm_v
            ), tm3_v AS (
                SELECT *,
                       ks_t * (CASE WHEN nxt IS NULL THEN 0.0
                                    WHEN bin IS NULL THEN 1.0
                                    ELSE CAST(nxt - bin AS DOUBLE) END)
                            * 25.0 AS w1_t
                FROM tm2_v
            ), out_v AS (
                SELECT 'value' AS "column",
                       CAST(MAX(n_bins) AS BIGINT) AS n_bins,
                       MAX(n_base) AS n_base, MAX(n_curr) AS n_curr,
                       round(SUM((p - q) * (ln(p) - ln(q))), 6) AS psi,
                       round(SUM(0.5 * (p * (ln(p) - ln((p + q) / 2.0))
                                      + q * (ln(q) - ln((p + q) / 2.0)))), 6)
                           AS js_div,
                       round(MAX(abs(p - q)), 6) AS linf,
                       round(SUM(abs(p - q)) / 2.0, 6) AS tvd,
                       round(SUM((a - (a + b) * ta / (ta + tb))
                                 * (a - (a + b) * ta / (ta + tb))
                                 / ((a + b) * ta / (ta + tb))
                               + (b - (a + b) * tb / (ta + tb))
                                 * (b - (a + b) * tb / (ta + tb))
                                 / ((a + b) * tb / (ta + tb))), 6) AS chi2,
                       round(MAX(ks_t), 6) AS ks,
                       round(SUM(w1_t), 6) AS w1
                FROM tm3_v
            ), ha_c AS (
                SELECT CAST(event_type AS VARCHAR) AS bin, count(*) AS cnt_a
                FROM events WHERE event_id % 2 = 0 GROUP BY bin
            ), hb_c AS (
                SELECT CAST(event_type AS VARCHAR) AS bin, count(*) AS cnt_b
                FROM events WHERE event_id % 2 = 1 GROUP BY bin
            ), j_c AS (
                SELECT COALESCE(ha_c.bin, hb_c.bin) AS bin,
                       COALESCE(cnt_a, 0) AS cnt_a,
                       COALESCE(cnt_b, 0) AS cnt_b
                FROM ha_c FULL OUTER JOIN hb_c
                  ON ha_c.bin IS NOT DISTINCT FROM hb_c.bin
            ), t_c AS (
                SELECT CAST(sum(cnt_a) AS BIGINT) AS n_base,
                       CAST(sum(cnt_b) AS BIGINT) AS n_curr,
                       count(*) AS n_bins
                FROM j_c
            ), h_c AS (
                SELECT j.bin, CAST(j.cnt_a AS DOUBLE) AS a,
                       CAST(j.cnt_b AS DOUBLE) AS b,
                       CAST(t.n_base AS DOUBLE) AS ta,
                       CAST(t.n_curr AS DOUBLE) AS tb,
                       CAST(t.n_bins AS DOUBLE) AS nb,
                       t.n_base, t.n_curr, t.n_bins
                FROM j_c j CROSS JOIN t_c t
            ), tm_c AS (
                SELECT *, (a + 0.5) / (ta + 0.5 * nb) AS p,
                       (b + 0.5) / (tb + 0.5 * nb) AS q
                FROM h_c
            ), tm2_c AS (
                SELECT *,
                       abs(SUM(a / ta - b / tb) OVER (
                           ORDER BY bin ASC NULLS FIRST
                           ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW)) AS ks_t
                FROM tm_c
            ), out_c AS (
                SELECT 'event_type' AS "column",
                       CAST(MAX(n_bins) AS BIGINT) AS n_bins,
                       MAX(n_base) AS n_base, MAX(n_curr) AS n_curr,
                       round(SUM((p - q) * (ln(p) - ln(q))), 6) AS psi,
                       round(SUM(0.5 * (p * (ln(p) - ln((p + q) / 2.0))
                                      + q * (ln(q) - ln((p + q) / 2.0)))), 6)
                           AS js_div,
                       round(MAX(abs(p - q)), 6) AS linf,
                       round(SUM(abs(p - q)) / 2.0, 6) AS tvd,
                       round(SUM((a - (a + b) * ta / (ta + tb))
                                 * (a - (a + b) * ta / (ta + tb))
                                 / ((a + b) * ta / (ta + tb))
                               + (b - (a + b) * tb / (ta + tb))
                                 * (b - (a + b) * tb / (ta + tb))
                                 / ((a + b) * tb / (ta + tb))), 6) AS chi2,
                       round(MAX(ks_t), 6) AS ks,
                       CAST(NULL AS DOUBLE) AS w1
                FROM tm2_c
            )
            SELECT * FROM out_v UNION ALL SELECT * FROM out_c
        """,
        "stats_state_merge_docs": """
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(n_chars) AS BIGINT) AS n_chars_cnt,
                   CAST(count(*) - count(n_chars) AS BIGINT)
                       AS n_chars_nulls,
                   round(CAST(count(*) - count(n_chars) AS DOUBLE)
                         / CAST(count(*) AS DOUBLE), 6)
                       AS n_chars_null_rate,
                   sum(CAST(n_chars AS DOUBLE)) AS n_chars_sum,
                   min(CAST(n_chars AS DOUBLE)) AS n_chars_min,
                   max(CAST(n_chars AS DOUBLE)) AS n_chars_max,
                   round(sum(CAST(n_chars AS DOUBLE))
                         / CAST(count(n_chars) AS DOUBLE), 6)
                       AS n_chars_mean,
                   round(sqrt(greatest(
                       sum(CAST(n_chars AS DOUBLE)
                           * CAST(n_chars AS DOUBLE))
                           / CAST(count(n_chars) AS DOUBLE)
                       - (sum(CAST(n_chars AS DOUBLE))
                          / CAST(count(n_chars) AS DOUBLE))
                         * (sum(CAST(n_chars AS DOUBLE))
                            / CAST(count(n_chars) AS DOUBLE)), 0.0)), 6)
                       AS n_chars_stddev_pop
            FROM documents
        """,
        "snapshot_diff_docs": _snapshot_diff_oracle(
            "SELECT doc_id, status, changed_cols, cnt_base, cnt_curr "
            "FROM v WHERE status <> 'unchanged'"
        ),
        "snapshot_diff_summary_docs": _snapshot_diff_oracle(
            "SELECT status, CAST(count(*) AS BIGINT) AS n_keys, "
            "CAST(sum(cnt_base) AS BIGINT) AS rows_base, "
            "CAST(sum(cnt_curr) AS BIGINT) AS rows_curr "
            "FROM v GROUP BY status"
        ),
        # grouped declarative check: same arithmetic per source group
        "constraint_check_by_source": """
            WITH a AS (
                SELECT source,
                       count(*) AS n,
                       sum(CASE WHEN COALESCE(text IS NOT NULL, FALSE)
                                THEN 1 ELSE 0 END) AS s_ct,
                       sum(CASE WHEN COALESCE(n_chars >= 10, FALSE)
                                THEN 1 ELSE 0 END) AS s_mc,
                       sum(CAST(n_chars AS DOUBLE)) AS v_sum,
                       count(n_chars) AS c_mean,
                       count(DISTINCT doc_id) AS s_dst
                FROM documents GROUP BY source
            ), v AS (
                SELECT * FROM (
                  SELECT source, 'complete(text)' AS con, 'text' AS col,
                         '>=' AS op, CAST(1.0 AS DOUBLE) AS th,
                         CAST(s_ct AS DOUBLE) / CAST(n AS DOUBLE) AS m,
                         CAST(n - s_ct AS BIGINT) AS nv, n FROM a
                  UNION ALL
                  SELECT source, 'min_chars', '', '>=', 0.99,
                         CAST(s_mc AS DOUBLE) / CAST(n AS DOUBLE),
                         CAST(n - s_mc AS BIGINT), n FROM a
                  UNION ALL
                  SELECT source, 'mean(n_chars)>=', 'n_chars', '>=', 1.0,
                         v_sum / CAST(c_mean AS DOUBLE),
                         CAST(-1 AS BIGINT), n FROM a
                  UNION ALL
                  SELECT source, 'distinctness(doc_id)>=', 'doc_id', '>=', 1.0,
                         CAST(s_dst AS DOUBLE) / CAST(n AS DOUBLE),
                         CAST(-1 AS BIGINT), n FROM a
                )
            )
            SELECT source,
                   'docs_by_source' AS "check",
                   con AS "constraint",
                   col AS "column",
                   round(m, 6) AS metric,
                   op,
                   CAST(th AS DOUBLE) AS threshold,
                   COALESCE(CASE WHEN op = '>=' THEN m >= th
                                 ELSE m <= th END, FALSE) AS passed,
                   CAST(n AS BIGINT) AS n_rows,
                   nv AS n_violations
            FROM v
        """,
        # deequ analyzer-profile rules: scan-sharing moments (population
        # stddev, min/max length) + frequency-based grouping analyzers
        # (entropy in the order-stable ln(N)−Σc·ln(c)/N form,
        # exactly-once uniqueness, unique-value ratio, pairwise MI via
        # window-sum marginals over the distinct-pair table) — every
        # closed form replayed verbatim; round(·,6) absorbs summation
        # order.
        "constraint_profile_docs": """
            WITH a AS (
                SELECT count(*) AS n,
                       sum(CAST(n_chars AS DOUBLE)) AS sd_x,
                       sum(CAST(n_chars AS DOUBLE)
                           * CAST(n_chars AS DOUBLE)) AS sd_xx,
                       CAST(count(n_chars) AS DOUBLE) AS sd_c,
                       CAST(min(length(text)) AS DOUBLE) AS len_min,
                       CAST(max(length(text)) AS DOUBLE) AS len_max
                FROM documents
            ), fl AS (
                SELECT CAST(count(*) AS DOUBLE) AS c
                FROM documents WHERE lang IS NOT NULL GROUP BY lang
            ), el AS (
                SELECT sum(c) AS nn, sum(c * ln(c)) AS s FROM fl
            ), fd AS (
                SELECT CAST(count(*) AS DOUBLE) AS c
                FROM documents WHERE doc_id IS NOT NULL GROUP BY doc_id
            ), ud AS (
                SELECT sum(c) AS nn,
                       sum(CASE WHEN c = 1.0 THEN 1.0 ELSE 0.0 END) AS u
                FROM fd
            ), fs AS (
                SELECT CAST(count(*) AS DOUBLE) AS c
                FROM documents WHERE source IS NOT NULL GROUP BY source
            ), us AS (
                SELECT CAST(count(*) AS DOUBLE) AS d,
                       sum(CASE WHEN c = 1.0 THEN 1.0 ELSE 0.0 END) AS u
                FROM fs
            ), jt AS (
                SELECT lang, source, CAST(count(*) AS DOUBLE) AS c
                FROM documents
                WHERE lang IS NOT NULL AND source IS NOT NULL
                GROUP BY lang, source
            ), jw AS (
                SELECT c,
                       sum(c) OVER (PARTITION BY lang) AS ca,
                       sum(c) OVER (PARTITION BY source) AS cb,
                       sum(c) OVER () AS nn
                FROM jt
            ), mi AS (
                SELECT sum((c / nn) * ln(c * nn / (ca * cb))) AS m
                FROM jw
            ), v AS (
                SELECT 'stddev(n_chars)>=' AS con, 'n_chars' AS col,
                       '>=' AS op, 1.0 AS th,
                       CASE WHEN sd_c > 0 THEN
                           sqrt(greatest(sd_xx / sd_c
                                         - (sd_x / sd_c) * (sd_x / sd_c),
                                         0.0)) END AS m,
                       n FROM a
                UNION ALL
                SELECT 'min_length(text)>=', 'text', '>=', 0.0,
                       len_min, n FROM a
                UNION ALL
                SELECT 'max_length(text)<=', 'text', '<=', 100000.0,
                       len_max, n FROM a
                UNION ALL
                SELECT 'entropy(lang)>=', 'lang', '>=', 0.1,
                       (SELECT CASE WHEN nn > 0 THEN ln(nn) - s / nn END
                        FROM el), n FROM a
                UNION ALL
                SELECT 'uniqueness(doc_id)>=', 'doc_id', '>=', 0.999,
                       (SELECT CASE WHEN nn > 0 THEN u / nn END FROM ud),
                       n FROM a
                UNION ALL
                SELECT 'unique_value_ratio(source)>=', 'source', '>=', 0.0,
                       (SELECT CASE WHEN d > 0 THEN u / d END FROM us),
                       n FROM a
                UNION ALL
                SELECT 'top_value_share(lang)<=', 'lang', '<=', 0.9,
                       (SELECT CASE WHEN sum(c) > 0
                                    THEN max(c) / sum(c) END FROM fl),
                       n FROM a
                UNION ALL
                SELECT 'mi(lang,source)>=', 'lang', '>=', 0.0,
                       (SELECT m FROM mi), n FROM a
                UNION ALL
                SELECT 'quantile(n_chars,0.9)>=', 'n_chars', '>=', 1.0,
                       (SELECT quantile_cont(CAST(n_chars AS DOUBLE), 0.9)
                        FROM documents), n FROM a
            )
            SELECT 'docs_profile' AS "check", con AS "constraint",
                   col AS "column", round(m, 6) AS metric, op,
                   CAST(th AS DOUBLE) AS threshold,
                   COALESCE(CASE WHEN op = '>=' THEN m >= th
                                 ELSE m <= th END, FALSE) AS passed,
                   CAST(n AS BIGINT) AS n_rows,
                   CAST(-1 AS BIGINT) AS n_violations
            FROM v
        """,
        # metric-history anomaly (zscore): expanding prior-only window
        # frames; integer-valued doubles make every sum exact, so the
        # guards + variance arithmetic replay bit-for-bit.
        "metric_anomaly_events": """
            WITH h AS (
                SELECT event_type,
                       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                       CAST(count(*) AS DOUBLE) AS v
                FROM events GROUP BY event_type, CAST(ts AS DATE)
            ), w AS (
                SELECT event_type, day, v,
                       count(v) OVER f AS n,
                       sum(v) OVER f AS s1,
                       sum(v * v) OVER f AS s2
                FROM h
                WINDOW f AS (PARTITION BY event_type ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING)
            )
            SELECT event_type, day, v AS value,
                   CAST(COALESCE(n, 0) AS BIGINT) AS n_prior,
                   CASE WHEN n > 0
                        THEN round(s1 / CAST(n AS DOUBLE), 6) END
                       AS mean_prior,
                   CASE WHEN n >= 2 AND greatest(
                            (s2 - s1 * s1 / CAST(n AS DOUBLE))
                            / (CAST(n AS DOUBLE) - 1.0), 0.0) > 0
                        THEN round(
                            (v - s1 / CAST(n AS DOUBLE))
                            / sqrt(greatest(
                                (s2 - s1 * s1 / CAST(n AS DOUBLE))
                                / (CAST(n AS DOUBLE) - 1.0), 0.0)), 6)
                   END AS z_score,
                   (n >= 5 AND COALESCE(
                       CASE WHEN (CASE WHEN n >= 2 THEN greatest(
                                      (s2 - s1 * s1 / CAST(n AS DOUBLE))
                                      / (CAST(n AS DOUBLE) - 1.0), 0.0)
                                  END) > 0
                            THEN abs((v - s1 / CAST(n AS DOUBLE))
                                     / sqrt(greatest(
                                         (s2 - s1 * s1 / CAST(n AS DOUBLE))
                                         / (CAST(n AS DOUBLE) - 1.0), 0.0)))
                                 > 3.0
                            ELSE v <> s1 / CAST(n AS DOUBLE) END,
                       FALSE)) AS is_anomaly
            FROM w
        """,
        # metric-history anomaly (rel_change): lag ratio + bounds —
        # IEEE double division replays identically in both engines;
        # NULL/zero previous value ⇒ NULL change, never a flag.
        "metric_anomaly_change_events": """
            WITH h AS (
                SELECT event_type,
                       strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                       CAST(count(*) AS DOUBLE) AS v
                FROM events GROUP BY event_type, CAST(ts AS DATE)
            ), c AS (
                SELECT event_type, day, v,
                       lag(v) OVER (PARTITION BY event_type
                                    ORDER BY day) AS prev
                FROM h
            )
            SELECT event_type, day, v AS value,
                   round(CASE WHEN prev <> 0 THEN v / prev END, 6)
                       AS change,
                   COALESCE(
                       (CASE WHEN prev <> 0 THEN v / prev END) < 0.5
                       OR (CASE WHEN prev <> 0 THEN v / prev END) > 2.0,
                       FALSE) AS is_anomaly
            FROM c
        """,
        # constraint suggestion: replay the WHOLE decision tree — which
        # rules get proposed is itself data-dependent (conditional
        # UNION ALL branches gated on the same profile aggregates the
        # operator computes), so a drifted emission rule mismatches on
        # row count, not just values. floor(x*1e4)/1e4 is the identical
        # IEEE sequence as the operator's _floor4.
        "suggest_rules_docs": """
            WITH a AS (
                SELECT count(*) AS n,
                       count(doc_id) AS nn_doc,
                       count(DISTINCT doc_id) AS d_doc,
                       min(CAST(doc_id AS DOUBLE)) AS mn_doc,
                       max(CAST(doc_id AS DOUBLE)) AS mx_doc,
                       count(text) AS nn_text,
                       count(DISTINCT text) AS d_text,
                       count(lang) AS nn_lang,
                       count(DISTINCT lang) AS d_lang,
                       count(source) AS nn_src,
                       count(DISTINCT source) AS d_src,
                       count(n_chars) AS nn_nc,
                       count(DISTINCT n_chars) AS d_nc,
                       min(CAST(n_chars AS DOUBLE)) AS mn_nc,
                       max(CAST(n_chars AS DOUBLE)) AS mx_nc
                FROM documents
            ), vl AS (
                SELECT string_agg(DISTINCT lang, chr(31) ORDER BY lang) AS v
                FROM documents WHERE lang IS NOT NULL
            ), vs AS (
                SELECT string_agg(DISTINCT source, chr(31) ORDER BY source) AS v
                FROM documents WHERE source IS NOT NULL
            )
            SELECT 'doc_id' AS "column", 'is_complete' AS rule,
                   CAST(1.0 AS DOUBLE) AS threshold,
                   CAST(NULL AS VARCHAR) AS allowed,
                   CAST(nn_doc AS DOUBLE) / CAST(n AS DOUBLE) AS metric,
                   CAST(n AS BIGINT) AS n_rows
            FROM a WHERE n > 0 AND nn_doc = n
            UNION ALL
            SELECT 'doc_id', 'has_completeness',
                   floor(CAST(nn_doc AS DOUBLE)/CAST(n AS DOUBLE)*10000)/10000,
                   NULL, CAST(nn_doc AS DOUBLE)/CAST(n AS DOUBLE), n
            FROM a WHERE n > 0 AND nn_doc > 0 AND nn_doc < n
            UNION ALL
            SELECT 'doc_id', 'has_min', mn_doc, NULL, mn_doc, n
            FROM a WHERE nn_doc > 0
            UNION ALL
            SELECT 'doc_id', 'has_max', mx_doc, NULL, mx_doc, n
            FROM a WHERE nn_doc > 0
            UNION ALL
            SELECT 'doc_id', 'is_non_negative', 1.0, NULL, mn_doc, n
            FROM a WHERE nn_doc > 0 AND mn_doc >= 0
            UNION ALL
            SELECT 'doc_id', 'is_unique', 1.0, NULL,
                   CAST(d_doc AS DOUBLE)/CAST(n AS DOUBLE), n
            FROM a WHERE n > 1 AND nn_doc = n AND d_doc = n
            UNION ALL
            SELECT 'text', 'is_complete', 1.0, NULL,
                   CAST(nn_text AS DOUBLE)/CAST(n AS DOUBLE), n
            FROM a WHERE n > 0 AND nn_text = n
            UNION ALL
            SELECT 'text', 'has_completeness',
                   floor(CAST(nn_text AS DOUBLE)/CAST(n AS DOUBLE)*10000)/10000,
                   NULL, CAST(nn_text AS DOUBLE)/CAST(n AS DOUBLE), n
            FROM a WHERE n > 0 AND nn_text > 0 AND nn_text < n
            UNION ALL
            SELECT 'text', 'is_unique', 1.0, NULL,
                   CAST(d_text AS DOUBLE)/CAST(n AS DOUBLE), n
            FROM a WHERE n > 1 AND nn_text = n AND d_text = n
            UNION ALL
            SELECT 'text', 'is_contained_in', 1.0,
                   (SELECT string_agg(DISTINCT text, chr(31) ORDER BY text)
                    FROM documents WHERE text IS NOT NULL),
                   CAST(d_text AS DOUBLE), n
            FROM a WHERE d_text > 0 AND d_text <= 32
                    AND NOT (d_text = nn_text AND nn_text = n AND n > 1)
            UNION ALL
            SELECT 'lang', 'is_complete', 1.0, NULL,
                   CAST(nn_lang AS DOUBLE)/CAST(n AS DOUBLE), n
            FROM a WHERE n > 0 AND nn_lang = n
            UNION ALL
            SELECT 'lang', 'has_completeness',
                   floor(CAST(nn_lang AS DOUBLE)/CAST(n AS DOUBLE)*10000)/10000,
                   NULL, CAST(nn_lang AS DOUBLE)/CAST(n AS DOUBLE), n
            FROM a WHERE n > 0 AND nn_lang > 0 AND nn_lang < n
            UNION ALL
            SELECT 'lang', 'is_unique', 1.0, NULL,
                   CAST(d_lang AS DOUBLE)/CAST(n AS DOUBLE), n
            FROM a WHERE n > 1 AND nn_lang = n AND d_lang = n
            UNION ALL
            SELECT 'lang', 'is_contained_in', 1.0, (SELECT v FROM vl),
                   CAST(d_lang AS DOUBLE), n
            FROM a WHERE d_lang > 0 AND d_lang <= 32
                    AND NOT (d_lang = nn_lang AND nn_lang = n AND n > 1)
            UNION ALL
            SELECT 'source', 'is_complete', 1.0, NULL,
                   CAST(nn_src AS DOUBLE)/CAST(n AS DOUBLE), n
            FROM a WHERE n > 0 AND nn_src = n
            UNION ALL
            SELECT 'source', 'has_completeness',
                   floor(CAST(nn_src AS DOUBLE)/CAST(n AS DOUBLE)*10000)/10000,
                   NULL, CAST(nn_src AS DOUBLE)/CAST(n AS DOUBLE), n
            FROM a WHERE n > 0 AND nn_src > 0 AND nn_src < n
            UNION ALL
            SELECT 'source', 'is_unique', 1.0, NULL,
                   CAST(d_src AS DOUBLE)/CAST(n AS DOUBLE), n
            FROM a WHERE n > 1 AND nn_src = n AND d_src = n
            UNION ALL
            SELECT 'source', 'is_contained_in', 1.0, (SELECT v FROM vs),
                   CAST(d_src AS DOUBLE), n
            FROM a WHERE d_src > 0 AND d_src <= 32
                    AND NOT (d_src = nn_src AND nn_src = n AND n > 1)
            UNION ALL
            SELECT 'n_chars', 'is_complete', 1.0, NULL,
                   CAST(nn_nc AS DOUBLE)/CAST(n AS DOUBLE), n
            FROM a WHERE n > 0 AND nn_nc = n
            UNION ALL
            SELECT 'n_chars', 'has_completeness',
                   floor(CAST(nn_nc AS DOUBLE)/CAST(n AS DOUBLE)*10000)/10000,
                   NULL, CAST(nn_nc AS DOUBLE)/CAST(n AS DOUBLE), n
            FROM a WHERE n > 0 AND nn_nc > 0 AND nn_nc < n
            UNION ALL
            SELECT 'n_chars', 'has_min', mn_nc, NULL, mn_nc, n
            FROM a WHERE nn_nc > 0
            UNION ALL
            SELECT 'n_chars', 'has_max', mx_nc, NULL, mx_nc, n
            FROM a WHERE nn_nc > 0
            UNION ALL
            SELECT 'n_chars', 'is_non_negative', 1.0, NULL, mn_nc, n
            FROM a WHERE nn_nc > 0 AND mn_nc >= 0
            UNION ALL
            SELECT 'n_chars', 'is_unique', 1.0, NULL,
                   CAST(d_nc AS DOUBLE)/CAST(n AS DOUBLE), n
            FROM a WHERE n > 1 AND nn_nc = n AND d_nc = n
        """,
        # embedding centroid drift: zipped unnest + generate_subscripts
        # replicate posexplode; mean = sum(double)/count, then dot/norm
        # arithmetic over the |groups|x|dims| centroid join.
        "embedding_drift_labels": """
            WITH ex_a AS (
                SELECT label,
                       generate_subscripts(embedding, 1) - 1 AS dim,
                       unnest(embedding) AS val
                FROM embeddings WHERE vec_id % 2 = 0
            ), ex_b AS (
                SELECT label,
                       generate_subscripts(embedding, 1) - 1 AS dim,
                       unnest(embedding) AS val
                FROM embeddings WHERE vec_id % 2 = 1
            ), ca AS (
                SELECT label, dim,
                       sum(CAST(val AS DOUBLE)) / CAST(count(*) AS DOUBLE) AS m_a,
                       count(*) AS c_a
                FROM ex_a GROUP BY label, dim
            ), cb AS (
                SELECT label, dim,
                       sum(CAST(val AS DOUBLE)) / CAST(count(*) AS DOUBLE) AS m_b,
                       count(*) AS c_b
                FROM ex_b GROUP BY label, dim
            ), j AS (
                SELECT ca.label, ca.dim, m_a, m_b, c_a, c_b
                FROM ca JOIN cb ON ca.label IS NOT DISTINCT FROM cb.label
                              AND ca.dim = cb.dim
            ), agg AS (
                SELECT label,
                       CAST(count(*) AS BIGINT) AS dims,
                       CAST(max(c_a) AS BIGINT) AS n_base,
                       CAST(max(c_b) AS BIGINT) AS n_curr,
                       sum(m_a * m_b) AS dot,
                       sum(m_a * m_a) AS na2,
                       sum(m_b * m_b) AS nb2,
                       sum((m_a - m_b) * (m_a - m_b)) AS d2,
                       max(abs(m_a - m_b)) AS linf
                FROM j GROUP BY label
            )
            SELECT label, dims, n_base, n_curr,
                   round(CASE WHEN na2 > 0 AND nb2 > 0
                              THEN dot / (sqrt(na2) * sqrt(nb2)) END, 6)
                       AS centroid_cosine,
                   round(sqrt(d2), 6) AS centroid_l2,
                   round(linf, 6) AS centroid_linf,
                   round(sqrt(na2), 6) AS norm_base,
                   round(sqrt(nb2), 6) AS norm_curr
            FROM agg
        """,
    }
