"""Deduplication operators for large-scale training-data pipelines.

* exact duplicates — hash group-by (map-side combine, one shuffle);
* MinHash + LSH — shingle → per-permutation min-hash → band → bucket
  join; candidate generation never compares all pairs (the shuffle key is
  the band hash, so cost is O(rows·bands) not O(rows²));
* SimHash — 64-bit sign-sum fingerprint via a vectorized Arrow UDF
  (bit-parallel NumPy; the only Python stage here, batch-columnar).

All hashing is xxhash64 (JVM-side, seeded) — deterministic across runs
and cluster sizes.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def exact_duplicates(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Groups of rows identical on ``cols``: (cols…, dup_count). Same
    single count aggregate as uniqueness (map-side partials absorb
    hot keys; one exchange)."""
    from .uniqueness import uniqueness_violations

    return uniqueness_violations(df, list(cols))


def word_shingles(text_col: str = "text", k: int = 3) -> Column:
    """k-word shingles of a whitespace-tokenized text column (JVM-side)."""
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    return F.when(n < k, F.array(F.concat_ws(" ", words))).otherwise(
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: F.concat_ws(" ", F.slice(words, i, k)),
        )
    )


_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5


def _xxh_fmix_np(h):
    u = np.uint64
    h = h ^ (h >> u(33))
    h = h * u(_XXH_P2)
    h = h ^ (h >> u(29))
    h = h * u(_XXH_P3)
    h = h ^ (h >> u(32))
    return h


def _xxh_hash_long_np(vals, seed: int):
    """Vectorized transcription of catalyst ``XXH64.hashLong(input,
    seed)`` (init → one 8-byte round → avalanche). uint64 arithmetic
    wraps exactly like Java longs; bit-parity vs the JVM is pinned in
    tests/test_dedup.py."""
    u = np.uint64
    x = vals.astype(np.uint64)
    h = u((seed + _XXH_P5 + 8) & 0xFFFFFFFFFFFFFFFF)
    k1 = x * u(_XXH_P2)
    k1 = (k1 << u(31)) | (k1 >> u(33))
    k1 = k1 * u(_XXH_P1)
    h = h ^ k1
    h = ((h << u(27)) | (h >> u(37))) * u(_XXH_P1) + u(_XXH_P4)
    return _xxh_fmix_np(h)


def _xxh_hash_int_scalar_over_seeds_np(i: int, seeds):
    """Vectorized ``XXH64.hashInt(i, seed)`` for ONE 4-byte value over a
    VECTOR of seeds — the shape of Spark's multi-argument ``xxhash64``
    chain, where the previous argument's hash becomes the seed."""
    u = np.uint64
    h = seeds + u((_XXH_P5 + 4) & 0xFFFFFFFFFFFFFFFF)
    h = h ^ u(((i & 0xFFFFFFFF) * _XXH_P1) & 0xFFFFFFFFFFFFFFFF)
    h = ((h << u(23)) | (h >> u(41))) * u(_XXH_P2) + u(_XXH_P3)
    return _xxh_fmix_np(h)


def _xxh_hash_long_scalar_over_seeds_np(l: int, seeds):
    """Vectorized ``XXH64.hashLong(l, seed)`` for ONE long value over a
    VECTOR of seeds (used when a permutation literal overflows int32
    and Spark plans it as a long literal)."""
    u = np.uint64
    h = seeds + u((_XXH_P5 + 8) & 0xFFFFFFFFFFFFFFFF)
    k1 = ((l & 0xFFFFFFFFFFFFFFFF) * _XXH_P2) & 0xFFFFFFFFFFFFFFFF
    k1 = ((k1 << 31) | (k1 >> 33)) & 0xFFFFFFFFFFFFFFFF
    k1 = (k1 * _XXH_P1) & 0xFFFFFFFFFFFFFFFF
    h = h ^ u(k1)
    h = ((h << u(27)) | (h >> u(37))) * u(_XXH_P1) + u(_XXH_P4)
    return _xxh_fmix_np(h)


def _xxh_lit_link_np(lit: int, base):
    """The literal's link of Spark's ``xxhash64(col, lit(lit))`` chain,
    seeded by the column's hashes ``base``: an int-range literal takes
    the 4-byte path, a long literal the 8-byte path."""
    if -(2**31) <= lit < 2**31:
        return _xxh_hash_int_scalar_over_seeds_np(lit, base).view(np.int64)
    return _xxh_hash_long_scalar_over_seeds_np(lit, base).view(np.int64)


def _xxhash64_long_lit_np(vals, lit: int):
    """Spark ``F.xxhash64(col_bigint, F.lit(lit))`` exactly: the literal
    is a SECOND HASHED ARGUMENT (the function's seed is fixed at 42),
    chained as ``hash_lit(lit, hashLong(val, 42))``."""
    return _xxh_lit_link_np(lit, _xxh_hash_long_np(vals, 42))


_MINHASH_UDFS: dict[tuple[int, int], object] = {}


def _minhash_arrow_udf(num_hashes: int, seed: int):
    """Arrow kernel for the banded-MinHash signature: all ``num_hashes``
    permutation streams + per-row minima in one vectorized pass instead
    of ``num_hashes`` interpreted per-element ``transform`` lambdas
    (the dominant cost of candidate generation at bench scale)."""
    key = (num_hashes, seed)
    if key in _MINHASH_UDFS:
        return _MINHASH_UDFS[key]

    def _sig(hs: pd.Series) -> pd.Series:
        arrs = hs.to_numpy()
        n = len(arrs)
        lens = np.fromiter(
            (len(a) if a is not None else 0 for a in arrs), np.int64, n
        )
        nonempty = [a for a in arrs if a is not None and len(a)]
        vals = (
            np.concatenate(nonempty).astype(np.int64, copy=False)
            if nonempty
            else np.zeros(0, np.int64)
        )
        ends = np.cumsum(lens)
        starts = ends - lens
        ne = lens > 0
        ne_starts = starts[ne]
        mins = np.empty((num_hashes, int(ne.sum())), np.int64)
        # the chain's first link hashLong(h, 42) is permutation-
        # independent: compute it once, then one 4-byte link per
        # permutation (vs num_hashes full interpreted passes in the
        # expression form)
        base = _xxh_hash_long_np(vals, 42)
        for j in range(num_hashes):
            hj = _xxh_lit_link_np(seed + j, base)
            if len(ne_starts):
                mins[j] = np.minimum.reduceat(hj, ne_starts)
        out = np.empty(n, object)
        k = 0
        none_sig = [None] * num_hashes
        for i in range(n):
            if ne[i]:
                out[i] = mins[:, k].tolist()
                k += 1
            else:
                # array_min(transform(NULL/empty)) per permutation is
                # NULL — an array of num_hashes NULLs, not a NULL array
                out[i] = none_sig
        return pd.Series(out)

    udf = pandas_udf(_sig, "array<bigint>")
    _MINHASH_UDFS[key] = udf
    return udf


def minhash_signature(
    shingle_hashes: Column,
    num_hashes: int = 32,
    seed: int = 42,
) -> Column:
    """array<bigint> of per-permutation min-hashes over pre-hashed shingles
    (one xxhash64 stream per permutation index — the standard 'k
    independent hash functions'). Takes int64 shingle hashes, not strings:
    hash the (expensive) shingle strings exactly once, then derive every
    permutation by re-hashing the cheap integers.

    Permutation ``j`` is ``array_min(transform(h, x -> xxhash64(x,
    seed + j)))``, computed for all permutations in one vectorized NumPy
    pass of an Arrow pandas UDF: the ``num_hashes`` interpreted
    ``transform`` lambdas of that expression form measured ~2-5 s of the
    bench minhash query at 5k docs. The expression form is the parity
    oracle in ``tests/test_dedup.py``."""
    return _minhash_arrow_udf(num_hashes, seed)(shingle_hashes)


# mega-bucket guard shared by every band-bucket candidate generator:
# buckets larger than this are degenerate (boilerplate shingles) and
# dropped rather than exploded quadratically
DEFAULT_MAX_BUCKET = 64


def _bucket_pairs(
    keyed: DataFrame,
    id_col: str,
    key_cols: Sequence[str],
    max_bucket: int,
    collect=F.collect_list,
) -> DataFrame:
    """``(id_a, id_b)``, id_a < id_b, once per bucket the two ids share —
    the core of every self-join candidate generator. ``keyed`` holds
    one row per (id, bucket key); ``collect`` gathers each key's ids
    (winnowing passes ``F.collect_set``), and buckets of one id or of
    more than ``max_bucket`` ids are dropped before the JVM-side pair
    explosion."""
    buckets = (
        keyed.groupBy(*key_cols)
        .agg(F.sort_array(collect(id_col)).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    ids = F.col("ids")
    pairs = F.filter(
        F.flatten(
            F.transform(
                ids,
                lambda a: F.transform(
                    ids,
                    lambda b: F.when(a < b, F.struct(a.alias("id_a"), b.alias("id_b"))),
                ),
            )
        ),
        lambda s: s.isNotNull(),
    )
    return buckets.select(F.explode(pairs).alias("p")).select("p.id_a", "p.id_b")


def _band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int,
    num_hashes: int,
    bands: int,
    seed: int,
) -> DataFrame:
    """(_id, bb struct<band, bucket>) — one row per (doc, band): the
    banded MinHash bucket keys that both the self-join and the
    incremental (new-vs-corpus) candidate generators join on."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    from ._parallel import ensure_compute_parallelism

    # single-file inputs plan ONE scan task; shingle construction +
    # string hashing are the pipeline's heaviest per-row work, so
    # spread low-split inputs across the cluster first (no-op on real
    # multi-split tables)
    df = ensure_compute_parallelism(df)
    hashed = df.select(
        F.col(id_col).alias("_id"),
        F.transform(word_shingles(text_col, shingle_k), lambda s: F.xxhash64(s)).alias(
            "_h"
        ),
    )
    sig = minhash_signature(F.col("_h"), num_hashes, seed)
    return hashed.select(F.col("_id"), sig.alias("_sig")).select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.element_at(F.col("_sig"), b * rows + r + 1) for r in range(rows)]
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    )


def minhash_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate candidate pairs (id_a < id_b, n_shared_bands).

    rows = num_hashes/bands per band; two docs collide in a band iff all
    row min-hashes agree ⇒ P(collide) = s^rows for Jaccard s. With 32/8
    the S-curve centers near s ≈ 0.56.
    """
    banded = _band_buckets(df, id_col, text_col, shingle_k, num_hashes, bands, seed)
    pairs = _bucket_pairs(banded, "_id", ["bb.band", "bb.bucket"], DEFAULT_MAX_BUCKET)
    return pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_shared_bands"))


def minhash_candidates_incremental(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    seed: int = 42,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate candidates of NEW documents against an EXISTING
    corpus: (new_id, corpus_id, n_shared_bands) — the incremental-dedup
    shape every recurring ingestion runs ("is today's crawl already in
    the 100 TB corpus?"). The self-join operator re-banding the full
    corpus per crawl would re-shuffle the whole corpus; here the corpus
    side's band buckets are computed once (persist/write them in a real
    deployment — the function body is the plan either way) and only
    (band, bucket) keys shuffle, so cost per crawl is
    O(new·bands + matching buckets), never O(corpus²).

    new×new pairs are NOT emitted (run ``minhash_candidates`` on the new
    batch for those); if the same id appears on both sides it pairs with
    itself, which is the correct "already present" verdict. Buckets with
    more than ``max_bucket`` ids on either side are dropped (degenerate
    boilerplate buckets — same guard as the self-join path). Banding
    math is identical to ``minhash_candidates`` (same seed ⇒ identical
    bucket keys), so a stored corpus bucket table is reusable across
    crawls."""
    nb = _band_buckets(new_df, id_col, text_col, shingle_k, num_hashes, bands, seed)
    cb = _band_buckets(corpus_df, id_col, text_col, shingle_k, num_hashes, bands, seed)
    ng = (
        nb.groupBy("bb.band", "bb.bucket")
        .agg(F.sort_array(F.collect_list("_id")).alias("new_ids"))
        .filter(F.size("new_ids") <= max_bucket)
    )
    cg = (
        cb.groupBy("bb.band", "bb.bucket")
        .agg(F.sort_array(F.collect_list("_id")).alias("corpus_ids"))
        .filter(F.size("corpus_ids") <= max_bucket)
    )
    pairs = ng.join(cg, ["band", "bucket"]).select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("new_ids"),
                    lambda a: F.transform(
                        F.col("corpus_ids"),
                        lambda b: F.struct(a.alias("new_id"), b.alias("corpus_id")),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.groupBy(
        F.col("p.new_id").alias("new_id"), F.col("p.corpus_id").alias("corpus_id")
    ).agg(F.count(F.lit(1)).alias("n_shared_bands"))


# winnowing parameters: B/M are the polynomial-hash base/modulus —
# engine-portable integer arithmetic (M = 2^31 - 1 is prime; with
# code points < 2^21 and k <= 5 the unreduced sum stays < 2^56, so a
# single closed-form expression computes the hash identically in Spark
# and DuckDB with no intermediate mod)
_WINNOW_B = 257
_WINNOW_M = 2147483647


def _winnow_arrow_udf(k: int, window: int):
    """Vectorized winnowing kernel (the closed-form arithmetic DuckDB
    replays, parity-tested against a scalar reference): UTF-32-LE
    encode → codepoint array, one shifted-add polynomial pass, sliding
    window minima, distinct. int64 audit: cp ≤ 0x10FFFF (< 2^21),
    max power B⁴ ≈ 2^32 ⇒ per-term < 2^53, 5-term sum < 2^56."""
    powers = np.array([_WINNOW_B ** (k - 1 - j) for j in range(k)], dtype=np.int64)
    min_len = k + window - 1

    def _one(t: str) -> np.ndarray:
        cp = np.frombuffer(t.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
        if len(cp) < min_len:
            return np.empty(0, np.int64)
        nk = len(cp) - k + 1
        kh = np.zeros(nk, np.int64)
        for j in range(k):
            kh += cp[j : j + nk] * powers[j]
        kh %= _WINNOW_M
        return np.unique(
            np.lib.stride_tricks.sliding_window_view(kh, window).min(1)
        )

    @pandas_udf("array<long>")
    def _fps(texts: pd.Series) -> pd.Series:
        return texts.map(_one)

    return _fps


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 8,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken:
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003): hash every character ``k``-gram with a positional polynomial
    over code points, then keep the MINIMUM hash of each ``window`` of
    consecutive k-gram hashes. Output: one row per distinct selected
    fingerprint, ``(id, fp)``.

    The winnowing guarantee makes this the substring-level dedup
    primitive (boilerplate, quoted passages, licence blocks): any two
    documents sharing a substring of at least ``window + k - 1``
    characters share at least one fingerprint VALUE, while only
    ~2/(window+1) of all k-grams are retained. Set-similarity sketches
    (MinHash over word shingles) cannot make that per-substring promise.

    Engine-portable by construction: the k-gram hash is the closed-form
    polynomial sum((cp_i * B^(k-1-i))) mod M over code points — exact
    integer arithmetic DuckDB replays verbatim (gate query
    ``winnow_fingerprints_docs`` oracle-checks the fingerprints
    themselves, not just downstream counts). Documents shorter than
    ``k`` characters yield no fingerprints (NULL text = empty).

    Computed by an Arrow-batched pandas UDF: UTF-32 code points via
    ``numpy.frombuffer``, one vectorized polynomial pass and
    ``sliding_window_view(...).min(1)`` window minima (parity-tested
    against a scalar reference). Measured ~10M chars/s/core vs ~0.23M
    for the same arithmetic as nested higher-order expressions, which
    pay Catalyst per-element evaluation costs (~44× per core; the A/B is
    in PLANS.md).
    """
    if k <= 0 or window <= 0:
        raise ValueError(f"k and window must be positive, got {k}, {window}")
    if k > 5:
        # cp < 2^21 and B^5 > 2^40: six unreduced terms still fit int64,
        # but larger k needs an intermediate mod — keep the closed form
        raise ValueError("k > 5 would overflow the closed-form hash")
    from ._parallel import ensure_compute_parallelism

    # per-char hashing is the heaviest per-row kernel in the engine —
    # don't let a single-file input serialize it onto one core
    df = ensure_compute_parallelism(df)
    fps_udf = _winnow_arrow_udf(k, window)
    return df.select(
        F.col(id_col),
        F.explode(fps_udf(F.coalesce(F.col(text_col), F.lit("")))).alias("fp"),
    )


def winnow_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 8,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Shared-substring candidate pairs (id_a < id_b, n_shared_fps):
    documents sharing any winnowing fingerprint. By the winnowing
    guarantee, every pair sharing a substring of ≥ window + k - 1
    characters appears here; the join shuffles only (fp, id) rows
    (~2n/window per doc), with the standard mega-bucket guard dropping
    degenerate fingerprints (boilerplate shared by > max_bucket docs)."""
    fps = winnow_fingerprints(df, id_col, text_col, k, window)
    return _shared_fp_pairs(fps, id_col, max_bucket)


def _shared_fp_pairs(fps: DataFrame, id_col: str, max_bucket: int) -> DataFrame:
    """(id_a, id_b, n_shared_fps) from an exploded (id, fp) table:
    same-fp pairs via the bucket-guarded group-and-explode."""
    pairs = _bucket_pairs(fps, id_col, ["fp"], max_bucket, F.collect_set)
    return pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_shared_fps"))


def winnow_containment(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    window: int = 8,
    max_bucket: int = DEFAULT_MAX_BUCKET,
) -> DataFrame:
    """Containment scoring over winnowing fingerprints: for every
    candidate pair, the shared-fingerprint fraction of the SMALLER
    document — ``containment = n_shared_fps / least(n_a, n_b)`` —
    plus both per-doc fingerprint counts. High containment with very
    different sizes is the quoted-passage / boilerplate-inclusion
    signal that symmetric similarity (Jaccard, cosine) dilutes away:
    a licence block pasted into a long document scores near 1.0 here
    and near 0 on whole-document Jaccard.

    Same scale shape as ``winnow_candidates`` (bucket-guarded pair
    explode — the pair set, not the corpus, is what shuffles) plus one
    per-doc count aggregate joined back onto the pair ends. The
    fingerprint table is materialized once (``localCheckpoint``): the
    pairs branch and the counts branch would otherwise each re-run the
    per-doc hashing scan — the dominant cost — from their forked
    un-materialized plans. n_shared counts DISTINCT fingerprints
    (winnow_fingerprints dedups per doc), so containment ≤ 1 exactly."""
    fps = winnow_fingerprints(df, id_col, text_col, k, window).localCheckpoint(
        eager=True
    )
    shared = _shared_fp_pairs(fps, id_col, max_bucket)
    counts = fps.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_fp"))
    return (
        shared.join(
            counts.select(F.col(id_col).alias("id_a"), F.col("n_fp").alias("n_a")),
            "id_a",
        )
        .join(
            counts.select(F.col(id_col).alias("id_b"), F.col("n_fp").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "n_shared_fps",
            "n_a",
            "n_b",
            (F.col("n_shared_fps") / F.least("n_a", "n_b")).alias("containment"),
        )
    )


def _simhash_from_hashes(harrs: pd.Series) -> pd.Series:
    """Bit-parallel sign-sum over pre-hashed tokens (array<long> per doc).

    Token hashing happens JVM-side (xxhash64) — the only Python work here
    is the segment-summed bit matrix: O(total_tokens) vectorized NumPy,
    no per-token Python. Memory is bounded by slicing the batch so each
    slice holds ≤ 4M token hashes (256 MB of unpacked bit matrix)."""
    n = len(harrs)
    if n == 0:
        return pd.Series(np.zeros(0, np.int64))
    arrs = [np.asarray(a, np.int64) for a in harrs]
    lens = np.fromiter((len(a) for a in arrs), np.int64, n)
    offs = np.concatenate([[0], np.cumsum(lens)])
    # One unpack of the whole batch: unpackbits(bitorder='little') over the
    # little-endian byte view maps matrix column k to bit k of the 64-bit
    # hash, so column sums are exactly the SimHash ones-votes. Per-doc
    # reduction runs as a view-slice .sum(0) — numpy's uniform-axis fast
    # path (~50 ns/token measured; np.add.reduceat is ~25× slower here).
    ones = np.empty((n, 64), np.int64)
    MAX_TOKENS = 1 << 22  # unpack ≤ 4M tokens (256 MB bit matrix) at a time
    lo = 0
    while lo < n:
        hi = lo + 1
        while hi < n and offs[hi + 1] - offs[lo] <= MAX_TOKENS:
            hi += 1
        allh = np.ascontiguousarray(np.concatenate(arrs[lo:hi])).view(np.uint8)
        bits = np.unpackbits(allh.reshape(-1, 8), axis=1, bitorder="little")
        base = offs[lo]
        for i in range(lo, hi):
            ones[i] = bits[offs[i] - base : offs[i + 1] - base].sum(0, dtype=np.int64)
        lo = hi
    votes = 2 * ones - lens[:, None]  # signed bit votes per doc
    bitsel = (votes >= 0).astype(np.uint64)
    shifts = np.arange(64, dtype=np.uint64)
    out = (bitsel << shifts[None, :]).sum(1, dtype=np.uint64)
    out[lens == 0] = 0
    return pd.Series(out.astype(np.int64))


# independent rolling-hash streams for the portable SimHash variant:
# (base, prime modulus) pairs; acc < M < 2^31 keeps acc*B + cp < 2^40,
# so the per-character fold is exact int64 arithmetic in any engine
_SIMHASH_P1 = (257, 2147483647)
_SIMHASH_P2 = (263, 2147483629)


def portable_token_hashes(text_col: str = "text", seed: int = 42) -> Column:
    """Engine-portable 62-bit token hashes (array<bigint>): two
    independent rolling polynomial hashes over each token's code points
    (``acc = (acc·B + cp) mod M``, seeded fold) packed as
    ``h1 · 2³¹ + h2``. Exact integer arithmetic any SQL engine replays
    verbatim (DuckDB: ``list_reduce`` over ``unicode()`` code points) —
    unlike xxhash64, whose avalanche mixing exists only in Spark.

    All JVM-side expression work (nested higher-order functions); the
    fold modular-reduces every step so any token length fits int64.
    Tokens are whitespace-split; BMP code points only (Spark's
    ``split('')``/``ascii`` and DuckDB's ``unicode`` agree there)."""
    (b1, m1), (b2, m2) = _SIMHASH_P1, _SIMHASH_P2

    def _roll(tok: Column, base: int, mod: int, init: int) -> Column:
        cps = F.transform(
            F.filter(F.split(tok, ""), lambda c: c != F.lit("")),
            lambda c: F.ascii(c).cast("bigint"),
        )
        return F.aggregate(
            cps,
            F.lit(init).cast("bigint"),
            lambda acc, x: (acc * F.lit(base) + x) % F.lit(mod),
        )

    toks = F.split(F.coalesce(F.col(text_col), F.lit("")), " ")
    return F.transform(
        toks,
        lambda t: _roll(t, b1, m1, seed) * F.lit(1 << 31) + _roll(t, b2, m2, seed + 1),
    )


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """(id, simhash long). Near-dups = fingerprints within small Hamming
    distance; pair search via banding the 64 bits (4×16-bit keys).

    Tokens are hashed JVM-side (``transform(split(text), xxhash64)``) so
    the Arrow boundary carries int64 arrays, not strings, and the UDF does
    only the bit-parallel sign-sum.

    ``portable=True`` swaps xxhash64 for :func:`portable_token_hashes`
    (62 effective bits, top two bits always 0 — votes there are all
    negative): the whole sketch then replays exactly in DuckDB, so the
    gate query ``simhash_portable_docs`` oracle-checks the fingerprint
    VALUES, certifying the sign-sum semantics that the (faster,
    better-mixed) default xxhash64 variant shares."""
    if portable:
        tok_hashes = portable_token_hashes(text_col, seed)
    else:
        tok_hashes = F.transform(
            F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
            lambda t: F.xxhash64(t, F.lit(seed)),
        )
    udf = pandas_udf(_simhash_from_hashes, "long")  # built lazily: needs a session
    return df.select(F.col(id_col), udf(tok_hashes).alias("simhash"))


def simhash_candidates(sims: DataFrame, id_col: str = "doc_id", bands: int = 4) -> DataFrame:
    """Hamming-near candidates: docs sharing any 16-bit slice of simhash."""
    width = 64 // bands
    mask = (1 << width) - 1
    exploded = sims.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    )
    return _bucket_pairs(exploded, "_id", ["bb.band", "bb.bucket"], DEFAULT_MAX_BUCKET).distinct()


def ngram_jaccard(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
) -> DataFrame:
    """Exact Jaccard verification of candidate pairs (broadcast-friendly:
    only candidates are joined back to their shingle sets).

    Scale shape: the candidate id set is semi-joined onto the corpus
    FIRST, so shingle sets are computed only for documents that appear
    in at least one pair — not for the whole corpus twice. The join is
    left unhinted: at typical near-dup rates AQE converts it to a
    broadcast at runtime, while duplicate-heavy corpora (where the
    candidate set approaches the corpus) keep the shuffle path instead
    of dying on the broadcast cap. Callers reusing ``pairs`` several
    times should persist or localCheckpoint it first (curate_corpus
    does)."""
    from ._parallel import ensure_compute_parallelism

    # shingle sets for the candidate docs are computed map-side off the
    # corpus scan; spread single-file inputs first (no-op otherwise)
    df = ensure_compute_parallelism(df)
    cand_ids = (
        pairs.select(F.col("id_a").alias("_id"))
        .unionByName(pairs.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    # no forced broadcast hint: on duplicate-heavy corpora the candidate
    # id set is NOT small, and a hint bypasses the broadcast size caps;
    # AQE converts the semi-join to broadcast at runtime when it fits
    cand = df.join(cand_ids, df[id_col] == cand_ids["_id"], "left_semi")
    sh = cand.select(
        F.col(id_col).alias("_id"),
        F.array_distinct(word_shingles(text_col, shingle_k)).alias("_sh"),
    )
    a = sh.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"))
    b = sh.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size(F.array_union("sh_a", "sh_b")).cast("double")
    return joined.select(
        "id_a", "id_b", (inter / F.greatest(union, F.lit(1.0))).alias("jaccard")
    )


def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iters: int = 50,
) -> DataFrame:
    """Resolve near-duplicate candidate PAIRS into clusters: every doc in
    the similarity graph gets ``cluster_id`` = the minimum doc id of its
    connected component, plus ``is_canonical`` (the survivor a keep-one
    dedup policy retains). The "choose one representative per duplicate
    group" step the reference-scale pipelines run after candidate
    generation (composes with ``minhash_candidates`` → ``ngram_jaccard``).

    Implementation: iterative min-label propagation over the (tiny,
    candidates-only) edge set — label'(v) = min(label(v), min over
    neighbors) — followed by a POINTER JUMP each round (label''(v) =
    label'(label'(v)); every label is itself a node id, and labels only
    decrease, so the jump is a self-join on the label table that
    shortcuts label chains). Propagation alone needs diameter rounds —
    a drifting-boilerplate chain at web scale can be arbitrarily long —
    while propagate+jump converges in O(log diameter) rounds (a
    100-node path converges in ≤ 12 rounds, pinned in tests). A
    distributed convergence test ends the loop. Near-dup components
    are usually near-cliques (2-3 rounds); every round shuffles only
    the EDGE set and the node-label table, never a corpus table.
    Deterministic: labels are ids, no randomness.

    Lineage and block hygiene: each round's plan embeds the previous
    round's plan (labels ⋈ neigh-of-labels, then the jump self-join),
    so without truncation the logical plan grows multiplicatively and
    driver-side analysis/canonicalization goes exponential — measured
    1.4 s → 127 s per round by round 6 on a 483-node diameter-7
    component (near-clique inputs converge in 2-3 rounds and never
    showed it). Each round is therefore materialized: ordinary rounds
    ``persist()`` + eager count and are explicitly ``unpersist()``-ed
    once superseded (deterministic block release), and every 4th round
    plus the edge table, the initial labels, and the returned result
    are ``localCheckpoint(eager=True)`` leaves — bounding plan depth at
    ≤ 4 round-joins while leaving only O(rounds/4) small blocks to the
    ContextCleaner instead of one per round. The edge table must be a
    leaf specifically because a registered cache carrying the caller's
    (possibly huge minhash-chain) pairs plan would tax every later
    query in the session (CacheManager re-canonicalization; CLAUDE.md
    Catalyst gotcha 4).

    Raises ``RuntimeError`` if labels haven't converged after
    ``max_iters`` rounds (rounds needed ≈ component diameter): a
    silently-unconverged result would split one duplicate group into
    several clusters — wrong keep-one output, invisible downstream."""
    e = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        e.select(F.col("src").alias("id"), F.col("src").alias("cluster_id"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    persisted: list[DataFrame] = []
    converged = False
    for it in range(max_iters):
        # min over own label and every neighbor's label
        neigh = (
            e.join(labels.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.min("cluster_id").alias("n_min"))
        )
        propagated = labels.join(
            neigh.withColumnRenamed("src", "id"), "id", "left"
        ).select(
            "id",
            F.least(
                F.col("cluster_id"), F.coalesce(F.col("n_min"), F.col("cluster_id"))
            ).alias("cluster_id"),
        )
        # pointer jump: label''(v) = label'(label'(v)) — labels are node
        # ids and only decrease, so chasing one hop per round shortcuts
        # label chains and convergence is O(log diameter), not O(diameter)
        new_labels = (
            propagated.alias("a")
            .join(
                propagated.select(
                    F.col("id").alias("_t"), F.col("cluster_id").alias("_tl")
                ),
                F.col("a.cluster_id") == F.col("_t"),
                "left",
            )
            .select(
                "a.id",
                F.least(
                    F.col("a.cluster_id"), F.coalesce(F.col("_tl"), F.col("a.cluster_id"))
                ).alias("cluster_id"),
            )
        )
        if (it + 1) % 4 == 0:
            new_labels = new_labels.localCheckpoint(eager=True)
        else:
            new_labels = new_labels.persist()
            persisted.append(new_labels)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.cluster_id") != F.col("o.cluster_id"))
            .limit(1)
            .count()  # also materializes new_labels' persist eagerly
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    out = (
        labels.withColumn("is_canonical", F.col("id") == F.col("cluster_id"))
        .select(F.col("id").alias("doc_id"), "cluster_id", "is_canonical")
        # leaf result: callers compose this into further joins; keep
        # their plans small and let every loop block below be released
        .localCheckpoint(eager=True)
        if converged
        else None
    )
    for df_ in persisted:
        df_.unpersist()
    if not converged:
        raise RuntimeError(
            f"duplicate_clusters: labels not converged after {max_iters} "
            "rounds (rounds needed ~ log2(component diameter) with the "
            "pointer jump); raise max_iters"
        )
    return out
