"""Similarity search over embedding columns.

* ``cosine_topk`` — exact brute-force top-k: broadcast the (small) query
  set against the corpus; dot products via JVM higher-order functions
  (zip_with + aggregate), ranked with a window. One scan, no shuffle of
  the corpus beyond the top-k aggregation.
* ``lsh_cosine_topk`` — the scale path: random-hyperplane LSH buckets
  (sign sketch) prune the corpus before exact re-scoring; candidates per
  query drop from N to N/2^bits per table. This mirrors the RCF
  near-neighbor idea (leaf lookup within a partition of space —
  ``RandomCutForest.java:1264-1297``) re-expressed relationally.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .dedup import _bucket_pairs


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Exact top-k per query without a single-partition-per-query window.

    Phase 1 (narrow map, zero shuffle): per Arrow batch, keep each query's
    top-k by the total order (cosine desc, vec_id asc) — the top-k of a
    union is the top-k of per-batch top-ks, so this is lossless.
    Phase 2: rank the surviving ≤ k·batches·queries rows with the window.
    At 100× scale the window input stays bounded instead of pulling every
    scored corpus row for a query into one task."""
    import pandas as pd  # noqa: F401  (executor-side)

    cols = scored.columns

    def partial(batches):
        for pdf in batches:
            if len(pdf):
                pdf = pdf.sort_values(
                    ["query_id", "cosine", "vec_id"],
                    ascending=[True, False, True],
                    kind="mergesort",
                )
                pdf = pdf.groupby("query_id", sort=False).head(k)
            yield pdf[cols]

    pruned = scored.mapInPandas(partial, scored.schema)
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("vec_id").asc())
    return pruned.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, cosine, rank) — exact top-k per query."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"))
    scored = c.crossJoin(q).select(
        "query_id",
        "vec_id",
        (
            _dot(F.col("_qv"), F.col("_cv"))
            / F.greatest(_norm(F.col("_qv")) * _norm(F.col("_cv")), F.lit(1e-12))
        ).alias("cosine"),
    )
    return _rank_topk(scored, k)


def hyperplane_sketch(vec_col: str, dim: int, bits: int = 16, seed: int = 42) -> Column:
    """Sign sketch: bit i = (v · h_i ≥ 0) for a fixed random hyperplane set
    (deterministic from seed; computed JVM-side as a literal matrix)."""
    rng = np.random.default_rng(seed)
    H = rng.standard_normal((bits, dim))
    bit_exprs = []
    for i in range(bits):
        row = F.array(*[F.lit(float(v)) for v in H[i]])
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), row, lambda x, h: x.cast("double") * h),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bit_exprs.append(F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0)))
    out = bit_exprs[0]
    for e in bit_exprs[1:]:
        out = out + e
    return out.cast("long")


def _kmeans_centroids(
    sample: np.ndarray, k: int, iters: int = 8, seed: int = 42
) -> np.ndarray:
    """Spherical k-means on a driver-side sample (deterministic)."""
    rng = np.random.default_rng(seed)
    X = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    C = X[rng.choice(len(X), size=min(k, len(X)), replace=False)]
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(1)
        for ci in range(len(C)):
            sel = X[assign == ci]
            if len(sel):
                m = sel.mean(0)
                C[ci] = m / max(np.linalg.norm(m), 1e-12)
    return C


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_lists: int = 16,
    n_probe: int = 4,
    sample_size: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
) -> DataFrame:
    """IVF approximate top-k: train centroids on a corpus sample
    (driver-side spherical k-means, deterministic), assign corpus rows to
    their nearest list via a vectorized Arrow stage, probe the top
    ``n_probe`` lists per query, exact-rescore inside probed lists.

    Scale shape: corpus assignment is a narrow map (one matmul per Arrow
    batch); the probe join touches ~n_probe/n_lists of the corpus.
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    sample = np.stack(
        [np.asarray(r[0], np.float64) for r in corpus.select(vec_col).limit(sample_size).collect()]
    )
    C = _kmeans_centroids(sample, n_lists, seed=seed)
    bC = corpus.sparkSession.sparkContext.broadcast(C)

    def _assign_impl(vecs):
        M = np.stack(vecs.to_numpy()).astype(np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series((M @ bC.value.T).argmax(1).astype(np.int32))

    assign_udf = pandas_udf(_assign_impl, "int")
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"),
        assign_udf(F.col(vec_col)).alias("_list"),
    )

    def _probe_impl(vecs):
        M = np.stack(vecs.to_numpy()).astype(np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(M @ bC.value.T), axis=1)[:, :n_probe]
        return pd.Series(list(order.astype(np.int32)))

    probe_udf = pandas_udf(_probe_impl, "array<int>")
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        F.explode(probe_udf(F.col(vec_col))).alias("_list"),
    )
    joined = c.join(F.broadcast(q), "_list")
    scored = joined.select(
        "query_id",
        "vec_id",
        (
            _dot(F.col("_qv"), F.col("_cv"))
            / F.greatest(_norm(F.col("_qv")) * _norm(F.col("_cv")), F.lit(1e-12))
        ).alias("cosine"),
    )
    return _rank_topk(scored, k)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    bits: int = 8,
    probes: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    full_probe: bool = False,
) -> DataFrame:
    """Approximate top-k: join on hyperplane-sketch bucket, exact re-score
    inside buckets. ``probes`` > 1 additionally probes buckets at Hamming
    distance 1 from the query's bucket (multi-probe LSH); the default
    (``bits + 1``, i.e. the bucket plus every Hamming-1 neighbor) measures
    recall@10 ≈ 0.9 on clustered data (tests/test_similarity.py) while
    scanning ~(bits+1)/2^bits of the corpus per query.

    ``full_probe`` probes every one of the 2^bits buckets: the candidate
    set becomes the whole corpus, so the result must equal the exact
    ``cosine_topk`` — the oracle-checkable equivalence that proves the
    bucket-join machinery is lossless given full coverage (keep ``bits``
    small; cost is 2^bits broadcast rows per query).

    Sign-sketch LSH presumes near neighbors are *angularly* close: on
    isotropic vectors (no cluster structure) no bucketing scheme can prune
    and keep recall — use ``ivf_cosine_topk`` or the exact path there."""
    if probes is None:
        probes = bits + 1
    sk = hyperplane_sketch(vec_col, dim, bits, seed)
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"), sk.alias("_b"))
    qsk = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv"), sk.alias("_qb")
    )
    if full_probe:
        qsk = qsk.select(
            "query_id",
            "_qv",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.lit((1 << bits) - 1).cast("long"))
            ).alias("_qb"),
        )
    elif probes > 1:
        flips = F.array(F.lit(0), *[F.lit(1 << i) for i in range(bits)])
        qsk = qsk.select(
            "query_id",
            "_qv",
            F.explode(
                F.slice(F.transform(flips, lambda fl: F.col("_qb").bitwiseXOR(fl)), 1, probes)
            ).alias("_qb"),
        )
    joined = c.join(F.broadcast(qsk), c["_b"] == qsk["_qb"])
    scored = joined.select(
        "query_id",
        "vec_id",
        (
            _dot(F.col("_qv"), F.col("_cv"))
            / F.greatest(_norm(F.col("_qv")) * _norm(F.col("_cv")), F.lit(1e-12))
        ).alias("cosine"),
    )  # probed buckets are distinct, so each (query, vec) joins at most once
    return _rank_topk(scored, k)


def cosine_lsh_candidates(
    corpus: DataFrame,
    dim: int,
    bits: int = 10,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_bucket: int = 4096,
) -> DataFrame:
    """OR-amplified candidate pairs (id_a, id_b, n_shared_bands) from
    ``bands`` independent random-hyperplane sign sketches of ``bits``
    planes each — the angular analogue of ``minhash_candidates``'s
    banding (operators/dedup.py).

    A pair at angle θ collides in one band with p = (1 − θ/π)^bits and
    is a candidate with P = 1 − (1 − p)^bands: AND within a band prunes
    (uniform corpus pays ~bands/2^bits of all pairs), OR across bands
    restores recall — at bits=10, bands=8 a cosine-0.95 pair (θ ≤ 18°)
    survives with P ≈ 0.97 while background near-orthogonal pairs
    collide at ~8/1024. Single-band LSH cannot do both: its recall
    decays as 0.9^bits, so pruning harder at 100 TB collapses recall
    exponentially (the round-4 defect this replaces).

    Scale shape: bucket ids are JVM-side column expressions; pairs are
    enumerated per (band, bucket) group and deduped on (id_a, id_b)
    BEFORE any vector is shuffled — only integer ids move until the
    caller re-scores. ``max_bucket`` guards degenerate mega-buckets
    (an all-identical shard would otherwise enumerate n² pairs)."""
    rng = np.random.default_rng(seed)
    H = rng.standard_normal((bands * bits, dim))

    def _proj_bit(plane_idx: int, weight: int) -> Column:
        row = F.array(*[F.lit(float(v)) for v in H[plane_idx]])
        proj = F.aggregate(
            F.zip_with(F.col(vec_col), row, lambda x, h: x.cast("double") * h),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        return F.when(proj >= 0, F.lit(weight)).otherwise(F.lit(0))

    band_structs = []
    for b in range(bands):
        bucket = _proj_bit(b * bits, 1)
        for i in range(1, bits):
            bucket = bucket + _proj_bit(b * bits + i, 1 << i)
        band_structs.append(
            F.struct(F.lit(b).alias("band"), bucket.cast("long").alias("bucket"))
        )
    banded = corpus.select(
        F.col(id_col).alias("_id"), F.explode(F.array(*band_structs)).alias("bb")
    )
    pairs = _bucket_pairs(banded, "_id", ["bb.band", "bb.bucket"], max_bucket)
    return pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_shared_bands"))


def cosine_near_duplicates(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    bits: int = 0,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS: (id_a, id_b, cosine) with
    cosine ≥ threshold and id_a < id_b — the embedding-space member of
    the dedup family (exact / MinHash / SimHash / n-gram Jaccard /
    embedding-cosine).

    ``bits`` > 0 is the scale path: ``cosine_lsh_candidates`` (bands ×
    bits OR-amplified hyperplane LSH) prunes the self-join to candidate
    id pairs, then vectors are joined back for exact re-scoring — only
    candidate ids shuffle, and each surviving pair is scored once.
    ``bits=0`` scores all pairs (exact — the oracle path; N² inherent,
    use only for verification or small cohorts)."""
    c = corpus.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    d = corpus.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    if bits > 0:
        assert dim is not None, "dim required for the bucketed path"
        cand = cosine_lsh_candidates(
            corpus, dim, bits=bits, bands=bands,
            id_col=id_col, vec_col=vec_col, seed=seed,
        )
        joined = cand.join(c, "id_a").join(d, "id_b")
    else:
        joined = c.crossJoin(d).filter(F.col("id_a") < F.col("id_b"))
    cos = _dot(F.col("_va"), F.col("_vb")) / F.greatest(
        F.sqrt(_dot(F.col("_va"), F.col("_va")))
        * F.sqrt(_dot(F.col("_vb"), F.col("_vb"))),
        F.lit(1e-12),
    )
    return joined.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.95,
    dim: int | None = None,
    bits: int = 0,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_col: str | None = None,
    seed: int = 42,
) -> DataFrame:
    """SemDeDup-style semantic keep-one dedup over an embedding column
    (Abbas et al. 2023): resolve cosine-near-duplicate pairs into
    connected components and flag ONE survivor per component. Returns
    every corpus row as ``(id, cluster_id, is_canonical)`` — singletons
    are their own canonical cluster.

    The survivor policy is ``keep_col``: highest value wins (ties break
    to the smallest id; values must be non-null) — "keep the
    best-quality document of each semantic duplicate group", the policy
    real curation pipelines want instead of keep-min-id. ``keep_col=None``
    keeps the minimum id (``duplicate_clusters``' convention).

    Composition of already-verified pieces: ``cosine_near_duplicates``
    (``bits=0`` exact — the oracle path; ``bits>0`` OR-banded hyperplane
    LSH — the 100 TB path, only candidate ids shuffle) feeds
    ``duplicate_clusters`` (edges-only min-label propagation), then the
    keep selection runs ONLY on the clustered subset (docs appearing in
    ≥1 pair): one ``max_by`` aggregate per cluster + a join back, both
    exchanges on ``cluster_id`` (reusable), never a corpus-wide sort.
    The corpus itself is touched by exactly one left join at the end.
    """
    from .dedup import duplicate_clusters

    pairs = cosine_near_duplicates(
        corpus, threshold, dim, bits, bands, id_col, vec_col, seed
    ).select("id_a", "id_b")
    clustered = duplicate_clusters(pairs).select(
        F.col("doc_id").alias(id_col), "cluster_id"
    )
    if keep_col is not None:
        withq = clustered.join(
            corpus.select(F.col(id_col), F.col(keep_col).alias("_q")), id_col
        )
        # max keep value, ties to the smallest id — two tiny aggregates
        # on the clustered subset instead of max_by(struct(q, -id)),
        # which would restrict ids to negatable numerics (string/hash
        # ids are the common case) and overflow on Long.MIN_VALUE
        qmax = withq.groupBy("cluster_id").agg(F.max("_q").alias("_qmax"))
        best = (
            withq.join(qmax, "cluster_id")
            .filter(F.col("_q") == F.col("_qmax"))
            .groupBy("cluster_id")
            .agg(F.min(id_col).alias("_keep_id"))
        )
        flagged = withq.join(best, "cluster_id").select(
            F.col(id_col),
            "cluster_id",
            (F.col(id_col) == F.col("_keep_id")).alias("is_canonical"),
        )
    else:
        flagged = clustered.select(
            F.col(id_col),
            "cluster_id",
            (F.col(id_col) == F.col("cluster_id")).alias("is_canonical"),
        )
    return (
        corpus.select(F.col(id_col))
        .join(flagged, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("cluster_id", F.col(id_col)).alias("cluster_id"),
            F.coalesce("is_canonical", F.lit(True)).alias("is_canonical"),
        )
    )
