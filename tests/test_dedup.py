"""Dedup operators: exact, MinHash+LSH candidates, SimHash, Jaccard.

The near-dup fixture plants perturbed copies of base documents so both
sketches have ground truth: planted pairs must surface as candidates /
small Hamming distances, random pairs must not.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from random_cut_forest_by_aws_spark.operators.dedup import (
    exact_duplicates,
    minhash_candidates,
    minhash_candidates_incremental,
    ngram_jaccard,
    simhash,
    simhash_candidates,
    word_shingles,
)

# 500-word vocabulary: random docs share little vocabulary (so their
# SimHash sign-sums decorrelate) while planted pairs stay near-identical
WORDS = [f"w{i:03d}" for i in range(500)]


@pytest.fixture(scope="module")
def neardup_docs(spark):
    """200 random docs + 10 planted near-dup pairs (one word swapped in a
    40-word doc → Jaccard ≈ 0.93) + 2 exact dup pairs."""
    rng = np.random.default_rng(7)
    rows = []
    for i in range(200):
        n = rng.integers(20, 60)
        rows.append((i, " ".join(rng.choice(WORDS, n))))
    base_id = 1000
    for p in range(10):  # near-dups: ids 1000+2p ~ 1000+2p+1
        words = list(rng.choice(WORDS, 40))
        rows.append((base_id + 2 * p, " ".join(words)))
        mutated = list(words)
        mutated[rng.integers(40)] = "zulu"
        rows.append((base_id + 2 * p + 1, " ".join(mutated)))
    rows.append((2000, rows[0][1]))  # exact dups of doc 0 and doc 1
    rows.append((2001, rows[1][1]))
    return spark.createDataFrame(rows, "doc_id bigint, text string").localCheckpoint(eager=True)


PLANTED = {(1000 + 2 * p, 1000 + 2 * p + 1) for p in range(10)}


def test_exact_duplicates(neardup_docs):
    got = exact_duplicates(neardup_docs, ["text"]).toPandas()
    assert len(got) == 2
    assert (got["dup_count"] == 2).all()


def test_minhash_finds_planted_neardups(neardup_docs):
    cand = minhash_candidates(neardup_docs).toPandas()
    pairs = {(int(a), int(b)) for a, b in zip(cand["id_a"], cand["id_b"])}
    assert PLANTED <= pairs  # full recall on planted pairs (jaccard ≈ .93)
    # exact dups collide in every band
    assert (0, 2000) in pairs and (1, 2001) in pairs


def test_minhash_incremental_cross_corpus(neardup_docs):
    """New-vs-corpus candidates: every planted pair straddles the
    even/odd id split (pairs are (2k, 2k+1)), so incremental dedup of the
    even half against the odd half must surface all 10 — and must NOT
    emit same-side pairs (the exact-dup pairs (0,2000)/(1,2001) are both
    even / both odd)."""
    new = neardup_docs.filter(F.pmod("doc_id", F.lit(2)) == 0)
    corpus = neardup_docs.filter(F.pmod("doc_id", F.lit(2)) == 1)
    cand = minhash_candidates_incremental(new, corpus).toPandas()
    pairs = {(int(a), int(b)) for a, b in zip(cand["new_id"], cand["corpus_id"])}
    assert PLANTED <= pairs  # full recall, new_id = even member
    same_side = {(0, 2000), (2000, 0), (1, 2001), (2001, 1)}
    assert not (pairs & same_side)
    # banding math identical to the self-join operator: shared-band
    # counts agree on the planted pairs
    self_cand = minhash_candidates(neardup_docs).toPandas()
    self_bands = {
        (int(a), int(b)): int(n)
        for a, b, n in zip(
            self_cand["id_a"], self_cand["id_b"], self_cand["n_shared_bands"]
        )
    }
    inc_bands = {
        (int(a), int(b)): int(n)
        for a, b, n in zip(
            cand["new_id"], cand["corpus_id"], cand["n_shared_bands"]
        )
    }
    for p in PLANTED:
        assert inc_bands[p] == self_bands[p]


def test_minhash_incremental_already_present(neardup_docs):
    """A doc appearing on BOTH sides (re-crawl of an ingested page) pairs
    with itself — the 'already present' verdict."""
    one = neardup_docs.filter(F.col("doc_id") == 0)
    cand = minhash_candidates_incremental(one, neardup_docs).toPandas()
    pairs = {(int(a), int(b)) for a, b in zip(cand["new_id"], cand["corpus_id"])}
    assert (0, 0) in pairs
    assert (0, 2000) in pairs  # and with its exact dup in the corpus


def test_ngram_jaccard_values(spark, neardup_docs):
    pairs = spark.createDataFrame(
        sorted(PLANTED) + [(0, 1000)], "id_a bigint, id_b bigint"
    )
    j = ngram_jaccard(neardup_docs, pairs).toPandas().set_index(["id_a", "id_b"])
    for p in PLANTED:
        assert j.loc[p, "jaccard"] > 0.8  # one word swapped in 40
    assert j.loc[(0, 1000), "jaccard"] < 0.3  # unrelated docs


def test_simhash_hamming_self_oracle(neardup_docs):
    """Near-dup pairs must sit at small Hamming distance; random pairs
    around 32/64 bits (the SimHash contract)."""
    fp = simhash(neardup_docs).toPandas().set_index("doc_id")["simhash"]

    def ham(a, b):
        return bin((int(a) ^ int(b)) & ((1 << 64) - 1)).count("1")

    planted_d = [ham(fp[a], fp[b]) for a, b in PLANTED]
    rng = np.random.default_rng(3)
    rand_d = [
        ham(fp[int(a)], fp[int(b)])
        for a, b in zip(rng.integers(0, 200, 50), rng.integers(0, 200, 50))
        if a != b
    ]
    assert max(planted_d) <= 12
    assert np.mean(rand_d) > 20
    assert np.mean(planted_d) < np.mean(rand_d) / 2


def test_simhash_exact_dup_identical(neardup_docs):
    fp = simhash(neardup_docs).toPandas().set_index("doc_id")["simhash"]
    assert fp[0] == fp[2000]
    assert fp[1] == fp[2001]


def test_simhash_candidates_banding(neardup_docs):
    sims = simhash(neardup_docs)
    cand = simhash_candidates(sims).toPandas()
    pairs = {(int(a), int(b)) for a, b in zip(cand["id_a"], cand["id_b"])}
    assert (0, 2000) in pairs and (1, 2001) in pairs  # identical fingerprints


def test_word_shingles_short_docs(spark):
    df = spark.createDataFrame([("a b",), ("a b c d",)], "text string")
    got = df.select(word_shingles("text", 3).alias("sh")).toPandas()["sh"]
    assert list(got[0]) == ["a b"]
    assert list(got[1]) == ["a b c", "b c d"]


def test_duplicate_clusters_connected_components(spark):
    """Min-label propagation resolves candidate pairs into connected
    components: chains, triangles and isolated edges all get the
    component-minimum id as cluster_id with exactly one canonical doc."""
    from random_cut_forest_by_aws_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [("d", "c"), ("c", "b"), ("b", "a"),   # 4-chain (diameter 3)
         ("x", "y"), ("y", "z"), ("z", "x"),   # triangle
         ("q", "p")],                          # single edge
        "id_a string, id_b string",
    )
    out = {r["doc_id"]: (r["cluster_id"], r["is_canonical"])
           for r in duplicate_clusters(pairs).collect()}
    assert {k: v[0] for k, v in out.items()} == {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "x": "x", "y": "x", "z": "x",
        "p": "p", "q": "p",
    }
    canon = [k for k, v in out.items() if v[1]]
    assert sorted(canon) == ["a", "p", "x"]


# ---------------------------------------------------------------- winnowing
def _py_winnow(text: str, k: int = 5, w: int = 8) -> set[int]:
    """Scalar reference replay of winnow_fingerprints' exact arithmetic."""
    B, M = 257, 2147483647
    cps = [ord(c) for c in (text or "")]
    kh = [
        sum(cps[i + j] * B ** (k - 1 - j) for j in range(k)) % M
        for i in range(len(cps) - k + 1)
    ]
    return {min(kh[i:i + w]) for i in range(len(kh) - w + 1)}


def test_winnow_fingerprints_match_scalar_replay(spark):
    """The vectorized Arrow kernel is bit-identical to the scalar
    polynomial-hash + window-min reference on mixed-length docs,
    including the no-fingerprint shorts (len < window+k-1), NULL, and
    non-ASCII."""
    from random_cut_forest_by_aws_spark.operators.dedup import winnow_fingerprints

    rng = np.random.default_rng(11)
    letters = "abcdefghijklmnopqrstuvwxyz 0123456789é日"
    texts = ["".join(rng.choice(list(letters), n)) for n in
             [0, 3, 5, 11, 12, 13, 40, 200, 553]] + [None]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = winnow_fingerprints(df).toPandas()
    by_doc = got.groupby("doc_id")["fp"].apply(set).to_dict()
    for i, t in enumerate(texts):
        assert by_doc.get(i, set()) == _py_winnow(t or ""), f"doc {i}"
    # shorts and NULL yield nothing; 12 chars yield exactly one window
    assert 0 not in by_doc and 3 not in by_doc and 9 not in by_doc
    assert len(by_doc[4]) == 1


def test_winnow_guarantee_and_density(spark):
    """Winnowing guarantee: docs sharing a substring of >= window+k-1
    chars share a fingerprint VALUE. Density: ~2/(window+1) of k-grams
    survive (loose band)."""
    from random_cut_forest_by_aws_spark.operators.dedup import winnow_fingerprints

    rng = np.random.default_rng(23)
    shared = "the same twelve!"  # 16 chars >= 12
    rows = []
    for i in range(20):
        a = "".join(rng.choice(list("abcdefghijklm"), 120))
        b = "".join(rng.choice(list("nopqrstuvwxyz"), 120))
        pos_a, pos_b = rng.integers(0, 100, 2)
        rows.append((2 * i, a[:pos_a] + shared + a[pos_a:]))
        rows.append((2 * i + 1, b[:pos_b] + shared + b[pos_b:]))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df).toPandas()
    by_doc = fps.groupby("doc_id")["fp"].apply(set).to_dict()
    for i in range(20):
        assert by_doc[2 * i] & by_doc[2 * i + 1], f"pair {i} shares no fp"
    # density: 132 k-grams/doc, expected ~2/9 ~ 29 distinct fps
    sizes = [len(v) for v in by_doc.values()]
    assert 10 <= min(sizes) and max(sizes) <= 60


def test_winnow_candidates_planted_and_bucket_guard(spark):
    """Planted shared-substring pairs surface as candidates; docs on
    disjoint alphabets never pair; a fingerprint shared by more than
    max_bucket docs (degenerate boilerplate) is dropped entirely."""
    from random_cut_forest_by_aws_spark.operators.dedup import winnow_candidates

    rng = np.random.default_rng(31)
    a = "".join(rng.choice(list("abcdefghijklm"), 100))
    b = "".join(rng.choice(list("nopqrstuvwxyz"), 100))
    shared = "boilerplate block"
    df = spark.createDataFrame(
        [(0, a + shared), (1, b + shared), (2, a[:50] + b[:50])],
        "doc_id long, text string",
    )
    cand = winnow_candidates(df).toPandas()
    pairs = {(r.id_a, r.id_b) for r in cand.itertuples()}
    assert (0, 1) in pairs
    # doc 2 shares halves of a and b -> pairs with both via substrings
    assert (0, 2) in pairs and (1, 2) in pairs
    # guard: 5 identical docs, max_bucket=3 -> every bucket oversized
    dup = spark.createDataFrame(
        [(i, "identical boilerplate text repeated") for i in range(5)],
        "doc_id long, text string",
    )
    guarded = winnow_candidates(dup, max_bucket=3).toPandas()
    assert len(guarded) == 0


@pytest.mark.parametrize("gen", ["minhash", "simhash", "winnow", "cosine_lsh"])
def test_mega_bucket_guard_every_generator(spark, gen):
    """n identical docs (or vectors) share every bucket, so a generator
    whose guard is max_bucket returns all n·(n−1)/2 pairs at
    n = max_bucket and none at n = max_bucket + 1."""
    from random_cut_forest_by_aws_spark.operators.dedup import (
        DEFAULT_MAX_BUCKET,
        winnow_candidates,
    )
    from random_cut_forest_by_aws_spark.operators.similarity import cosine_lsh_candidates

    max_bucket = DEFAULT_MAX_BUCKET if gen in ("minhash", "simhash") else 4

    def pairs(n):
        if gen == "cosine_lsh":
            vecs = spark.createDataFrame(
                [(i, [0.6, -0.8, 0.1]) for i in range(n)],
                "vec_id long, embedding array<double>",
            )
            out = cosine_lsh_candidates(vecs, 3, bits=4, bands=2, max_bucket=max_bucket)
        else:
            docs = spark.createDataFrame(
                [(i, "the same boilerplate text in every document") for i in range(n)],
                "doc_id long, text string",
            )
            out = {
                "minhash": lambda: minhash_candidates(docs),
                "simhash": lambda: simhash_candidates(simhash(docs)),
                "winnow": lambda: winnow_candidates(docs, max_bucket=max_bucket),
            }[gen]()
        return sorted((r.id_a, r.id_b) for r in out.collect())

    assert pairs(max_bucket + 1) == []
    n = max_bucket
    assert pairs(n) == [(a, b) for a in range(n) for b in range(a + 1, n)]


def _py_portable_simhash(text: str, seed: int = 42) -> int:
    """Scalar replay of simhash(portable=True)'s exact arithmetic."""
    def roll(tok, base, mod, init):
        acc = init
        for c in tok:
            acc = (acc * base + ord(c)) % mod
        return acc

    hs = [
        roll(t, 257, 2147483647, seed) * (1 << 31)
        + roll(t, 263, 2147483629, seed + 1)
        for t in (text or "").split(" ")
    ]
    fp = 0
    for b in range(62):
        ones = sum((h >> b) & 1 for h in hs)
        if 2 * ones >= len(hs):
            fp |= 1 << b
    return fp


def test_simhash_portable_matches_scalar_replay(spark):
    """portable=True is bit-identical to the scalar rolling-hash +
    sign-sum reference (incl. empty/NULL text and non-ASCII BMP), and
    similar docs stay Hamming-close while disjoint docs stay far —
    the sketch property the fingerprint exists for."""
    from random_cut_forest_by_aws_spark.operators.dedup import simhash

    texts = ["hello world foo", "", None, "héllo wörld", "日本語 テスト",
             "the quick brown fox jumps over the lazy dog " * 5,
             "the quick brown fox jumps over the lazy dog " * 5 + "tail",
             "zq xv jk wp mn bg ft dr cl sh " * 10]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r.doc_id: r.simhash for r in simhash(df, portable=True).collect()}
    for i, t in enumerate(texts):
        assert got[i] == _py_portable_simhash(t or ""), f"doc {i}"
    ham = lambda a, b: bin(a ^ b).count("1")
    assert ham(got[5], got[6]) <= 8     # near-identical docs
    assert ham(got[5], got[7]) >= 16    # disjoint-vocabulary docs


def test_winnow_param_validation(spark):
    from random_cut_forest_by_aws_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame([(0, "abc")], "doc_id long, text string")
    with pytest.raises(ValueError):
        winnow_fingerprints(df, k=6)
    with pytest.raises(ValueError):
        winnow_fingerprints(df, k=0)
    with pytest.raises(ValueError):
        winnow_fingerprints(df, window=0)


def test_duplicate_clusters_deep_diameter_chain(spark):
    """A path graph (diameter = n-1) — the worst case for min-label
    propagation. Pre-fix, each round's plan embedded the previous
    round's plan twice and driver-side analysis went exponential
    (measured 127 s/round by round 6); with per-round localCheckpoint
    every round is constant-cost, so a 14-node chain converges in ~13
    cheap rounds. Also pins the loud non-convergence contract."""
    from random_cut_forest_by_aws_spark.operators.dedup import duplicate_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(13)], "id_a long, id_b long"
    )
    out = duplicate_clusters(chain).toPandas()
    assert len(out) == 14
    assert (out["cluster_id"] == 0).all()
    assert out[out["is_canonical"]]["doc_id"].tolist() == [0]
    with pytest.raises(RuntimeError, match="not converged"):
        duplicate_clusters(chain, max_iters=2)
    # pointer jumping makes convergence O(log diameter): a 100-node
    # path (diameter 99 — 99 propagate-only rounds) converges within
    # 12 rounds (the operator raises if max_iters is exhausted, so
    # success IS the round-count assertion)
    chain100 = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "id_a long, id_b long"
    )
    out100 = duplicate_clusters(chain100, max_iters=12).toPandas()
    assert (out100["cluster_id"] == 0).all() and len(out100) == 100


def test_winnow_containment_prefix_and_disjoint(spark):
    """A document that extends another (B = A + tail) contains every
    fingerprint A selects (same windows, same minima at positions
    1..len_A-w+1), so containment is exactly 1.0; disjoint-alphabet
    docs produce no pair at all; counts join back correctly."""
    from random_cut_forest_by_aws_spark.operators.dedup import winnow_containment

    rng = np.random.default_rng(17)
    a = "".join(rng.choice(list("abcdefghijklm"), 60))
    b = a + "".join(rng.choice(list("abcdefghijklm"), 200))
    c = "".join(rng.choice(list("nopqrstuvwxyz"), 100))
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "doc_id long, text string"
    )
    out = winnow_containment(df).toPandas().set_index(["id_a", "id_b"])
    assert (0, 1) in out.index
    row = out.loc[(0, 1)]
    assert row["containment"] == 1.0
    assert row["n_shared_fps"] == row["n_a"] and row["n_a"] <= row["n_b"]
    assert not any(2 in idx for idx in out.index)


def _minhash_expr_oracle(shingle_hashes, num_hashes, seed):
    """The pure-JVM expression form of ``minhash_signature``: one
    interpreted ``transform`` + ``array_min`` per permutation."""
    from pyspark.sql import functions as F

    return F.array(
        *[
            F.array_min(
                F.transform(shingle_hashes, lambda h: F.xxhash64(h, F.lit(seed + j)))
            )
            for j in range(num_hashes)
        ]
    )


def test_minhash_arrow_kernel_parity(spark):
    """The vectorized XXH64 minhash kernel must replay Spark's
    ``xxhash64(h, lit(seed + j))`` chain bit-for-bit — including the
    int-literal (4-byte) vs long-literal (8-byte) second link — and the
    signature must equal the JVM expression form it replaces, including
    on null/empty inputs (an array of ``num_hashes`` NULLs)."""
    from pyspark.sql import functions as F

    from random_cut_forest_by_aws_spark.operators.dedup import (
        _xxhash64_long_lit_np,
        minhash_signature,
    )

    rng = np.random.default_rng(11)
    vals = rng.integers(-(2**63), 2**63 - 1, size=500, dtype=np.int64)
    df = spark.createDataFrame([(int(v),) for v in vals], "v long")
    for lit in (42, 73, 0, -5, 2**31 + 5):
        exp = np.array(
            [r[0] for r in df.select(F.xxhash64("v", F.lit(lit))).collect()],
            np.int64,
        )
        assert np.array_equal(_xxhash64_long_lit_np(vals, lit), exp), lit

    rows = [(1, [123, 456, 789]), (2, []), (3, None), (4, [-5]),
            (5, list(range(200)))]
    d2 = spark.createDataFrame(rows, "id int, h array<long>")
    a = {r["id"]: r["s"] for r in d2.select(
        "id", minhash_signature(F.col("h"), 32, 42).alias("s")
    ).collect()}
    b = {r["id"]: r["s"] for r in d2.select(
        "id", _minhash_expr_oracle(F.col("h"), 32, 42).alias("s")
    ).collect()}
    assert a == b
    assert a[2] == a[3] == [None] * 32
