"""Benchmark decontamination: flag corpus documents sharing word n-grams
with an evaluation set (the standard 8-to-13-gram overlap check run
before every pretraining job; cf. GPT-3 appendix C / PaLM §7 style
decontamination).

Spark shape, designed for a ~10^12-document corpus vs a ~10^5..10^7
n-gram eval set:

* the EVAL side is reduced to a distinct-n-gram table and broadcast —
  eval suites are small by construction, so the fact table never
  shuffles for the join;
* the CORPUS side is a narrow generator (split → n-gram transform →
  explode) fused into the scan, followed by a broadcast LEFT SEMI match
  and a per-doc count whose partial aggregation happens map-side (the
  only exchange carries one row per contaminated doc, not per n-gram);
* the join key is ``xxhash64`` of each gram's word tuple, a long instead
  of the gram string — 8× narrower shuffle rows at equal semantics
  (collision odds ~1e-9 at 10^7 eval grams). The exact-string gram join
  is the parity oracle in ``tests/test_pipeline_ops.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ngram_contamination(
    corpus: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-corpus-document overlap with the eval set's n-grams.

    Returns one row per corpus document that shares at least one word
    n-gram with ``eval_docs``: ``(id_col, n_overlap, n_ngrams,
    overlap_frac)`` where ``n_overlap`` counts contaminated n-gram
    POSITIONS (not distinct grams) — the conservative quantity used to
    decide whether to drop the document.
    """
    from ._parallel import ensure_compute_parallelism

    # gram generation is fused into the corpus scan; a single-file
    # input would run it on one core (no-op on multi-split inputs)
    corpus = ensure_compute_parallelism(corpus)
    words = F.split(F.col(text_col), " ")
    # Hash the word TUPLE directly (xxhash64 chains its arguments)
    # instead of building the space-joined gram string and hashing
    # that: same join semantics — split(text, ' ') words never
    # contain the joiner, so tuple <-> string is a bijection and
    # the hash key is 1:1 with the gram — without allocating ~n
    # words of string per position. The driver-gate oracle
    # recomputes overlaps on gram STRINGS, certifying this hashed
    # join collision-free on the fixture.
    size = F.size(words)
    hashed = F.transform(
        F.sequence(F.lit(1), size - F.lit(n - 1)),
        lambda i: F.xxhash64(
            *[F.element_at(words, i + F.lit(j)) for j in range(n)]
        ),
    )
    gram_arr = F.when(size >= F.lit(n), hashed).otherwise(
        F.array().cast("array<bigint>")
    )
    gram_col = F.explode(gram_arr).alias("gram")
    eval_grams = eval_docs.select(gram_col).distinct()
    corpus_grams = corpus.select(F.col(id_col), gram_col)

    totals = corpus.select(
        F.col(id_col),
        F.greatest(
            F.size(words) - F.lit(n - 1), F.lit(0)
        ).cast("bigint").alias("n_ngrams"),
    )

    hits = (
        corpus_grams.join(F.broadcast(eval_grams), "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_overlap"))
    )
    # hits is one row per CONTAMINATED doc — a small fraction of the
    # corpus in any sane pipeline — so it broadcasts against the per-doc
    # totals scan instead of shuffling the corpus
    return (
        totals.join(F.broadcast(hits), id_col)
        .select(
            id_col,
            "n_overlap",
            "n_ngrams",
            (
                F.col("n_overlap").cast("double")
                / F.greatest(F.col("n_ngrams"), F.lit(1)).cast("double")
            ).alias("overlap_frac"),
        )
    )
