"""Training-data pipeline operators: Gopher-style repetition signals,
benchmark decontamination (n-gram overlap), deterministic mixture
sampling."""

from __future__ import annotations

import pytest


def test_repetition_profile_planted(spark):
    from random_cut_forest_by_aws_spark.operators.textqc import repetition_profile

    df = spark.createDataFrame(
        [
            (1, "a a a a"),                  # heavy repetition
            (2, "w x y z"),                  # all distinct
            (3, "solo"),                     # < n words → no n-grams
            (4, "p q p q p q"),              # repeated bigram pattern
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in repetition_profile(df).collect()}
    assert rows[1].dup_word_frac == pytest.approx(0.75)
    assert rows[1].dup_2gram_frac == pytest.approx(2 / 3)   # 3 grams, 1 distinct
    assert rows[1].dup_3gram_frac == pytest.approx(0.5)     # 2 grams, 1 distinct
    assert rows[2].dup_word_frac == 0.0
    assert rows[2].dup_2gram_frac == 0.0
    assert rows[3].dup_2gram_frac == 0.0 and rows[3].dup_3gram_frac == 0.0
    # "p q p q p q": words 6→2 distinct = 4/6; bigrams [pq qp pq qp pq]
    # → 5 with 2 distinct = 3/5; trigrams [pqp qpq pqp qpq] → 4/2 = 0.5
    assert rows[4].dup_word_frac == pytest.approx(4 / 6)
    assert rows[4].dup_2gram_frac == pytest.approx(3 / 5)
    assert rows[4].dup_3gram_frac == pytest.approx(0.5)


def test_ngram_contamination_planted(spark):
    from random_cut_forest_by_aws_spark.operators.contamination import (
        ngram_contamination,
    )

    shared = "one two three four five six seven eight"          # the 8-gram
    corpus = spark.createDataFrame(
        [
            (1, f"prefix {shared} suffix"),   # contains it at 2 positions? no — once
            (2, "totally different words with no overlap at all here"),
            (3, f"{shared} {shared}"),        # twice + bridging grams
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [(100, f"intro {shared} outro")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in ngram_contamination(corpus, evals, n=8).collect()}
    assert 2 not in out                       # clean doc never emitted
    assert out[1].n_overlap >= 1
    assert out[1].n_ngrams == 10 - 7          # 10 words → 3 grams
    assert out[3].n_overlap >= 2
    # parity oracle: the exact-string gram join must agree with the
    # hashed join the operator ships
    from pyspark.sql import functions as F
    from random_cut_forest_by_aws_spark.operators.textqc import _word_ngrams

    gram = F.explode(_word_ngrams(F.split(F.col("text"), " "), 8)).alias("gram")
    exact = {
        r.doc_id: r["count"]
        for r in corpus.select("doc_id", gram)
        .join(evals.select(gram).distinct(), "gram", "left_semi")
        .groupBy("doc_id").count().collect()
    }
    assert exact == {k: v.n_overlap for k, v in out.items()}


def test_mixture_sample_deterministic_and_proportional(spark):
    from random_cut_forest_by_aws_spark.operators.mixing import (
        mixture_sample, sample_hash,
    )
    from pyspark.sql import functions as F

    n = 30_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "web")
        .when(F.col("id") % 3 == 1, "code")
        .otherwise("books")
        .alias("source"),
    )
    w = {"web": 0.25, "code": 0.9}           # books falls to default 0.0
    s1 = mixture_sample(df, w).groupBy("source").count().collect()
    s2 = mixture_sample(df, w).groupBy("source").count().collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))   # deterministic
    got = {r["source"]: r["count"] for r in s1}
    assert "books" not in got
    assert got["web"] / (n / 3) == pytest.approx(0.25, abs=0.02)
    assert got["code"] / (n / 3) == pytest.approx(0.9, abs=0.02)
    # engine-portable arithmetic: replay the hash in plain Python
    ids = [r.doc_id for r in mixture_sample(df, w, seed=7).select("doc_id").collect()]
    M, K = 2_147_483_648, 2_654_435_761
    def keep(i, frac):
        return ((i % M) * K + 7) % M / M < frac
    expect = [
        i for i in range(n)
        if keep(i, {0: 0.25, 1: 0.9, 2: 0.0}[i % 3])
    ]
    assert sorted(ids) == expect


def test_mixture_resample_upsampling(spark):
    from random_cut_forest_by_aws_spark.operators.mixing import mixture_resample
    from pyspark.sql import functions as F

    n = 9_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 3 == 0, "books")
        .when(F.col("id") % 3 == 1, "web")
        .otherwise("junk")
        .alias("source"),
    )
    w = {"books": 2.5, "web": 0.4}          # junk → default 0 → dropped
    out = mixture_resample(df, w, seed=7)
    pdf = out.groupBy("source").count().collect()
    got = {r["source"]: r["count"] for r in pdf}
    assert "junk" not in got
    assert got["books"] / (n / 3) == pytest.approx(2.5, abs=0.06)
    assert got["web"] / (n / 3) == pytest.approx(0.4, abs=0.04)
    # replica indexes are 1..copies per doc, and deterministic on rerun
    per_doc = (
        out.groupBy("doc_id")
        .agg(F.count("*").alias("c"), F.max("replica").alias("mx"),
             F.min("replica").alias("mn"))
        .collect()
    )
    assert all(r.mn == 1 and r.mx == r.c for r in per_doc)
    again = sorted(map(tuple, out.select("doc_id", "replica").collect()))
    assert again == sorted(map(tuple, out.select("doc_id", "replica").collect()))
    # exact integer weight → exactly w copies, no hash dependence
    exact = mixture_resample(df, {"books": 2.0}, seed=99)
    cnt = exact.groupBy("doc_id").count().collect()
    assert all(r["count"] == 2 for r in cnt)


def test_mixture_sample_large_ids_ansi_safe(spark):
    """ids near 2^62 must not overflow under ANSI mode (the fold-first
    arithmetic is the point)."""
    from random_cut_forest_by_aws_spark.operators.mixing import mixture_sample
    big = 4_611_686_018_427_387_000
    df = spark.createDataFrame(
        [(big + i, "web") for i in range(50)], "doc_id long, source string"
    )
    out = mixture_sample(df, {"web": 0.5}).count()
    assert 0 <= out <= 50
