"""RCF core tests — models the reference's test pyramid (SURVEY.md §5):
unit invariants (tree surgery, masses, boxes), closed-form scores on tiny
trees, statistical functional bands (two-cluster / normal-mixture
fixtures), consistency (chunk-boundary invariance), checkpoint round-trip.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from random_cut_forest_by_aws_spark.core import BasicThresholder, RCFForest


def validate_tree(f: RCFForest, t: int) -> int:
    """Structural invariants; returns number of leaves in tree t."""
    root = int(f.root[t])
    if root == -1:
        assert f.ssize[t] == 0
        return 0
    leaves = 0
    stack = [(root, -1)]
    seen = set()
    while stack:
        n, par = stack.pop()
        assert n not in seen
        seen.add(n)
        assert int(f.parent[t, n]) == par
        if f.cutdim[t, n] < 0:  # leaf
            leaves += 1
            assert f.mass[t, n] >= 1
            assert np.array_equal(f.bbmin[t, n], f.bbmax[t, n])
        else:
            l, r = int(f.left[t, n]), int(f.right[t, n])
            assert f.mass[t, n] == f.mass[t, l] + f.mass[t, r]
            assert np.array_equal(f.bbmin[t, n], np.minimum(f.bbmin[t, l], f.bbmin[t, r]))
            assert np.array_equal(f.bbmax[t, n], np.maximum(f.bbmax[t, l], f.bbmax[t, r]))
            # children split by the cut
            assert f.bbmax[t, l, f.cutdim[t, n]] <= f.cutval[t, n]
            assert f.bbmin[t, r, f.cutdim[t, n]] > f.cutval[t, n]
            stack.append((l, n))
            stack.append((r, n))
    assert f.mass[t, root] == f.ssize[t]
    return leaves


def test_insert_delete_roundtrip():
    rng = np.random.default_rng(0)
    f = RCFForest(3, num_trees=2, sample_size=64, seed=1)
    X = rng.normal(size=(40, 3)).astype(np.float32)
    leaves = [f._insert(0, x) for x in X]
    f.ssize[0] = 40  # raw _insert bypasses sampler bookkeeping
    validate_tree(f, 0)
    for lf in leaves:
        f._delete(0, lf)
    assert f.root[0] == -1
    assert f.freetop[0] == f.N  # all nodes recycled


def test_duplicate_leaf_mass():
    f = RCFForest(2, num_trees=1, sample_size=8, seed=3)
    x = np.array([1.0, 2.0], np.float32)
    y = np.array([3.0, 4.0], np.float32)
    l1 = f._insert(0, x)
    l2 = f._insert(0, y)
    l3 = f._insert(0, x)
    assert l1 == l3
    assert f.mass[0, l1] == 2
    assert f.mass[0, f.root[0]] == 3
    f._delete(0, l1)
    assert f.mass[0, l1] == 1
    assert f.mass[0, f.root[0]] == 2
    f._delete(0, l1)
    assert f.mass[0, f.root[0]] == 1 or f.cutdim[0, f.root[0]] < 0
    f._delete(0, l2)
    assert f.root[0] == -1


def test_two_point_tree_closed_form():
    """Hand-computed scores on a depth-1 tree (CommonUtils.java formulas)."""
    f = RCFForest(1, num_trees=1, sample_size=4, seed=5)
    f.update_batch(np.array([[0.0], [1.0]], np.float32))
    # in-sample point: damp(1,2)·1/(1+log2(2)) · log2(3)
    expected_seen = (1 - 1 / 4) * (1 / 2) * math.log2(3)
    got = f.score(np.array([[0.0]]))[0]
    assert got == pytest.approx(expected_seen, rel=1e-12)
    # far point x=100: not separated until... leaf depth1, unseen=1/2,
    # then root box [0,1]: p=99/100, score=p·1/1+(1-p)·1/2 = 0.995
    expected_far = (99 / 100 * 1.0 + 1 / 100 * 0.5) * math.log2(3)
    got_far = f.score(np.array([[100.0]]))[0]
    assert got_far == pytest.approx(expected_far, rel=1e-12)


def test_leaf_points_match_scalar_descent():
    """leaf_points returns, per (query, live tree), the point and mass of
    the leaf a scalar walk with the update path's rule reaches
    (``x[cutdim] <= cutval`` goes left), including queries that sit
    exactly on a cut value and duplicates of sampled points."""
    rng = np.random.default_rng(8)
    X = rng.normal(size=(400, 3)).astype(np.float32)
    X[::5] = X[1]  # duplicate leaves (mass > 1)
    f = RCFForest(3, num_trees=6, sample_size=32, seed=4)
    f.update_batch(X)
    live = np.nonzero(f.root >= 0)[0]
    queries = [X[i].copy() for i in range(0, 400, 37)]
    for t in live:
        for node in np.nonzero(f.cutdim[t] >= 0)[0][:5]:
            q = X[int(node)].copy()
            q[f.cutdim[t, node]] = f.cutval[t, node]  # exactly on the cut
            queries.append(q)
    Q = np.asarray(queries, np.float32)
    pts, masses = f.leaf_points(Q)
    assert pts.shape == (len(Q), len(live), 3) and masses.shape == (len(Q), len(live))
    for i, x in enumerate(Q):
        for j, t in enumerate(live):
            node = int(f.root[t])
            while f.cutdim[t, node] >= 0:
                go_left = x[f.cutdim[t, node]] <= f.cutval[t, node]
                node = int(f.left[t, node] if go_left else f.right[t, node])
            assert np.array_equal(pts[i, j], f.bbmin[t, node]), (i, t)
            assert masses[i, j] == f.mass[t, node], (i, t)


def test_sampler_reservoir_and_tree_sync():
    rng = np.random.default_rng(7)
    f = RCFForest(3, num_trees=3, sample_size=32, seed=11)
    X = rng.normal(size=(500, 3)).astype(np.float32)
    f.update_batch(X)
    for t in range(f.T):
        assert f.ssize[t] == 32
        validate_tree(f, t)
        # sampler leaves must exist in tree with matching total mass
        total = sum(int(f.mass[t, int(lf)]) for lf in set(f.sleaf[t].tolist()))
        assert total == 32


def test_time_decay_prefers_recent():
    f = RCFForest(1, num_trees=5, sample_size=64, time_decay=1 / 100, seed=13)
    X = np.arange(2000, dtype=np.float32).reshape(-1, 1)
    f.update_batch(X)
    # sampled sequence indexes should skew heavily to the recent past
    med = np.median(f.sseq[:, :])
    assert med > 1500


def test_attribution_sums_to_score():
    rng = np.random.default_rng(17)
    f = RCFForest(4, num_trees=20, sample_size=128, seed=19)
    f.update_batch(rng.normal(size=(1000, 4)).astype(np.float32))
    Q = np.vstack(
        [rng.normal(size=(5, 4)), rng.normal(size=(3, 4)) + 6.0]
    ).astype(np.float32)
    s = f.score(Q)
    hi, lo = f.attribution(Q)
    np.testing.assert_allclose(hi.sum(1) + lo.sum(1), s, rtol=1e-8)


def test_two_cluster_fixture_band():
    """rcf-paper.csv analogue (FIXTURES.md §5): planted origin point scores
    ≥3× the cluster median (reference shows ≈2.83 vs ≈0.66-0.91)."""
    rng = np.random.default_rng(42)
    n = 1000
    a = rng.normal(0, 0.01, size=(n, 3)).astype(np.float32) + np.array([5, 0, 0], np.float32)
    b = rng.normal(0, 0.01, size=(n, 3)).astype(np.float32) + np.array([-5, 0, 0], np.float32)
    X = np.vstack([a, b])
    rng.shuffle(X)
    f = RCFForest(3, num_trees=50, sample_size=256, time_decay=0.0, seed=42)
    f.update_batch(X)
    cluster_scores = f.score(X[:200])
    origin_score = f.score(np.zeros((1, 3), np.float32))[0]
    assert origin_score > 3 * np.median(cluster_scores)
    assert origin_score > 1.0
    assert np.median(cluster_scores) < 1.0


def test_golden_rcf_paper_score_band():
    """Golden-behavior gate on the reference's only published ABSOLUTE
    numbers (Java/README.md:155-171): AnomalyScoreRunner over
    example-data/rcf-paper.csv (2010x3, CLI defaults: 100 trees, sample
    256, timeDecay 1/(10*256), score-then-update streaming) prints the
    near-origin point at ~2.83 and the last cluster rows at 0.66-0.91.

    The fixture reproduces the CSV's generative law (NOT the file): +/-5
    clusters in dim0 with sigma=0.01 noise and ELEVEN near-origin
    anomalies scattered through the stream — the ten anomalies seen
    before index 2005 sit in tree samples and depress its score from the
    pure-unseen ~3.9 to the published ~2.8. The band [2.3, 3.4] fails on
    exactly that semantic drift (a forest that forgets seen anomalies,
    a broken time-decay sampler, or a depth-convention off-by-one)."""
    rng = np.random.default_rng(3)
    n = 2010
    anom_idx = [293, 403, 606, 942, 1054, 1091, 1162, 1559, 1693, 1959, 2005]
    X = rng.normal(0, 0.01, size=(n, 3))
    sign = np.where(rng.random(n) < 0.5, 5.0, -5.0)
    sign[anom_idx] = 0.0
    X[:, 0] += sign
    X = X.astype(np.float32)
    f = RCFForest(3, num_trees=100, sample_size=256, time_decay=1.0 / 2560,
                  seed=44)
    scores = np.zeros(n)
    B = 16  # score-then-update at chunk granularity (forest lags <= 15 rows)
    for i in range(0, n, B):
        if f.is_output_ready:
            scores[i : i + B] = f.score(X[i : i + B])
        f.update_batch(X[i : i + B])
    assert 2.3 <= scores[2005] <= 3.4, scores[2005]
    cluster_mask = np.ones(n, bool)
    cluster_mask[anom_idx] = False
    cluster_mask[:1000] = False  # warmed-up region only
    cl = scores[cluster_mask]
    assert 0.6 <= np.median(cl) <= 1.0, np.median(cl)
    assert np.percentile(cl, 95) <= 1.5
    assert scores[2005] > 2 * np.percentile(cl, 95)


def test_normal_mixture_bands():
    """RandomCutForestFunctionalTest.java:62-215 analogue."""
    rng = np.random.default_rng(99)
    n = 5000
    anomaly = np.zeros(n, bool)
    state = False
    for i in range(n):  # markov switching base→anomaly 0.01, back 0.4
        if state:
            state = rng.random() >= 0.4
        else:
            state = rng.random() < 0.01
        anomaly[i] = state
    X = np.where(
        anomaly[:, None],
        rng.normal(5.0, 1.5, size=(n, 3)),
        rng.normal(0.0, 1.0, size=(n, 3)),
    ).astype(np.float32)
    f = RCFForest(3, num_trees=50, sample_size=256, time_decay=0.0, seed=1)
    f.update_batch(X)
    in_dist = f.score(rng.normal(0, 1, size=(50, 3)).astype(np.float32))
    assert np.median(in_dist) < 1.0
    far = f.score(np.array([[8.0, 8.0, 8.0], [-8, -8, -8]], np.float32))
    assert (far > 1.5).all()


def test_chunk_boundary_invariance():
    """Engine analogue of the reference's sequential==parallel consistency
    tests: updates split into arbitrary chunks give identical state."""
    rng = np.random.default_rng(5)
    X = rng.normal(size=(700, 2)).astype(np.float32)
    f1 = RCFForest(2, num_trees=7, sample_size=32, seed=77)
    f1.update_batch(X)
    f2 = RCFForest(2, num_trees=7, sample_size=32, seed=77)
    for lo, hi in [(0, 13), (13, 101), (101, 102), (102, 550), (550, 700)]:
        f2.update_batch(X[lo:hi], seqs=np.arange(lo, hi, dtype=np.int64))
    Q = rng.normal(size=(20, 2)).astype(np.float32)
    np.testing.assert_array_equal(f1.score(Q), f2.score(Q))
    np.testing.assert_array_equal(f1.sweight, f2.sweight)
    np.testing.assert_array_equal(f1.root, f2.root)


def test_checkpoint_roundtrip_bit_identical():
    rng = np.random.default_rng(31)
    X = rng.normal(size=(600, 3)).astype(np.float32)
    f1 = RCFForest(3, num_trees=5, sample_size=64, seed=9)
    f1.update_batch(X[:300])
    state = f1.to_state()
    f2 = RCFForest.from_state(state)
    f1.update_batch(X[300:], seqs=np.arange(300, 600, dtype=np.int64))
    f2.update_batch(X[300:], seqs=np.arange(300, 600, dtype=np.int64))
    Q = rng.normal(size=(10, 3)).astype(np.float32)
    np.testing.assert_array_equal(f1.score(Q), f2.score(Q))


def test_to_state_round_trips_through_npz_without_pickle():
    """``to_state`` is plain NumPy: saved with ``savez_compressed`` it
    loads back with ``allow_pickle=False``, RNG streams included, so the
    reloaded forest keeps scoring and updating exactly like the original."""
    import io

    rng = np.random.default_rng(5)
    X = rng.normal(size=(800, 3)).astype(np.float32)
    f1 = RCFForest(3, num_trees=6, sample_size=64, seed=4)
    f1.update_batch(X[:400])
    buf = io.BytesIO()
    np.savez_compressed(buf, **f1.to_state())
    buf.seek(0)
    with np.load(buf, allow_pickle=False) as z:
        f2 = RCFForest.from_state({k: z[k] for k in z.files})
    Q = rng.normal(size=(20, 3)).astype(np.float32)
    np.testing.assert_array_equal(f1.score(Q), f2.score(Q))
    seqs = np.arange(400, 800, dtype=np.int64)
    f1.update_batch(X[400:], seqs=seqs)
    f2.update_batch(X[400:], seqs=seqs)
    np.testing.assert_array_equal(f1.score(Q), f2.score(Q))


def test_output_after_gate():
    f = RCFForest(2, num_trees=2, sample_size=16, seed=2)
    assert not f.is_output_ready
    f.update_batch(np.random.default_rng(0).normal(size=(10, 2)).astype(np.float32))
    assert f.is_output_ready  # output_after = ceil(0.25·16) = 4


def test_thresholder_flags_shift():
    th = BasicThresholder(discount=0.01)
    rng = np.random.default_rng(3)
    base = rng.normal(0.7, 0.05, 500)
    grades = [th.process(s)[1] for s in base]
    assert sum(g > 0 for g in grades[50:]) <= 5  # quiet on stationary scores
    spike_grade = th.process(3.0)[1]
    assert spike_grade > 0.5
    th2 = BasicThresholder.from_state(th.to_state())
    assert th2.threshold_and_grade(3.0) == th.threshold_and_grade(3.0)


def test_duplicate_leaf_attribution_shadow_box_two_leaf():
    """Hand-computed shadow-box case (AbstractAttributionVisitor.java:
    118-167): one tree with leaves A=(0,0) and B=(4,-2); scoring the
    duplicate x=A walks the counterfactual sibling box (= leaf B), so the
    attribution is DIRECTIONAL — low[0] (A below B in dim 0) and high[1]
    (A above B in dim 1) — renormalized to the duplicate-leaf score, not
    the old equal split."""
    f = RCFForest(2, num_trees=1, sample_size=4, time_decay=0.0, seed=3)
    A = np.array([0.0, 0.0], np.float32)
    B = np.array([4.0, -2.0], np.float32)
    f.update_batch(np.stack([A, B]))
    s = float(f.score(A[None, :])[0])
    hi, lo = f.attribution(A[None, :])
    hi, lo = hi[0], lo[0]
    # savedScore = damp(1,2)*scoreSeen(1,1) = 0.75*0.5; normalizer log2(3)
    saved = 0.75 * 0.5 * np.log2(3.0)
    np.testing.assert_allclose(s, saved, rtol=1e-12)
    S = 6.0  # sum |A-B|
    np.testing.assert_allclose(hi, [0.0, saved * 2.0 / S], rtol=1e-9)
    np.testing.assert_allclose(lo, [saved * 4.0 / S, 0.0], rtol=1e-9)
    np.testing.assert_allclose(hi.sum() + lo.sum(), s, rtol=1e-9)


def test_duplicate_heavy_attribution_sum_invariant():
    """Duplicate-heavy stream: high+low still sums to the score for every
    query (duplicates included), with the shadow-box directional split."""
    rng = np.random.default_rng(23)
    f = RCFForest(3, num_trees=15, sample_size=64, seed=7)
    base = rng.normal(size=(40, 3)).astype(np.float32)
    X = base[rng.integers(0, 40, size=1500)]  # heavy duplication
    f.update_batch(X)
    Q = base[:20]  # all duplicates of sampled leaves (likely)
    s = f.score(Q)
    hi, lo = f.attribution(Q)
    np.testing.assert_allclose(hi.sum(1) + lo.sum(1), s, rtol=1e-8)
    assert (hi >= -1e-12).all() and (lo >= -1e-12).all()


def test_score_approximate_equals_full_when_disabled():
    """precision <= 0 disables early stopping: every tree is accepted,
    so score_approximate must reproduce score() up to summation-order
    float noise (the refactor-safety equivalence for _score_lanes)."""
    rng = np.random.default_rng(5)
    X = rng.normal(0, 1, size=(800, 3)).astype(np.float32)
    f = RCFForest(3, num_trees=40, sample_size=128, time_decay=0.0, seed=2)
    f.update_batch(X)
    q = np.vstack([X[:30], np.array([[6, 6, 6], [-7, 0, 7]], np.float32)])
    full = f.score(q)
    approx, n_acc = f.score_approximate(
        q, precision=0.0, return_accepted=True
    )
    assert (n_acc == 40).all()
    np.testing.assert_allclose(approx, full, rtol=1e-12, atol=1e-12)


def test_score_approximate_early_stops_within_band():
    """getApproximateAnomalyScore parity (RandomCutForest.java:858-873):
    with the default precision 0.1 most points converge well before the
    full forest (the whole point of the accumulator), and the result
    stays inside the documented (1±p)·score ± p band."""
    rng = np.random.default_rng(11)
    X = rng.normal(0, 1, size=(1500, 3)).astype(np.float32)
    f = RCFForest(3, num_trees=100, sample_size=128, time_decay=0.0, seed=8)
    f.update_batch(X)
    q = np.vstack([
        rng.normal(0, 1, size=(60, 3)),
        np.array([[8, 8, 8], [-9, 9, 0], [0, 0, 12]]),
    ]).astype(np.float32)
    full = f.score(q)
    approx, n_acc = f.score_approximate(q, precision=0.1, return_accepted=True)
    # early stopping is real: average trees evaluated well under T
    assert n_acc.mean() < 60, n_acc.mean()
    assert n_acc.min() >= 5  # min_accepted honored
    p = 0.1
    lo = (1 - p) * full - p
    hi = (1 + p) * full + p
    assert ((approx >= lo) & (approx <= hi)).all(), (
        approx[(approx < lo) | (approx > hi)], full[(approx < lo) | (approx > hi)]
    )


def test_score_approximate_block_invariance():
    """The accumulator replay is exact per TREE, so the block size (a
    pure lane-batching knob) cannot change results."""
    rng = np.random.default_rng(21)
    X = rng.normal(0, 1, size=(600, 2)).astype(np.float32)
    f = RCFForest(2, num_trees=50, sample_size=64, time_decay=0.0, seed=4)
    f.update_batch(X)
    q = np.vstack([X[:20], np.array([[5, -5]], np.float32)])
    a8, n8 = f.score_approximate(q, block=8, return_accepted=True)
    a32, n32 = f.score_approximate(q, block=32, return_accepted=True)
    np.testing.assert_array_equal(n8, n32)
    np.testing.assert_allclose(a8, a32, rtol=0, atol=0)


def test_attribution_approximate_matches_full_when_disabled():
    """precision <= 0 accepts all live trees, so attribution_approximate
    must reproduce attribution() (same lanes, uniform 1/T divisor)."""
    rng = np.random.default_rng(31)
    X = rng.normal(0, 1, size=(700, 3)).astype(np.float32)
    f = RCFForest(3, num_trees=30, sample_size=96, time_decay=0.0, seed=6)
    f.update_batch(X)
    q = np.vstack([X[:15], np.array([[7, -7, 0]], np.float32)])
    hi_f, lo_f = f.attribution(q)
    hi_a, lo_a = f.attribution_approximate(q, precision=0.0)
    np.testing.assert_allclose(hi_a, hi_f, rtol=1e-12, atol=1e-12)
    np.testing.assert_allclose(lo_a, lo_f, rtol=1e-12, atol=1e-12)


def test_attribution_approximate_sum_equals_approximate_score():
    """The converging statistic IS the DiVector high-low sum
    (OneSidedConvergingDiVectorAccumulator.getConvergingValue), so the
    approximate attribution accepts exactly score_approximate's trees and
    its high+low sum must equal the approximate score — the reference's
    documented invariant ('the high-low sum in the result should be the
    same as the scalar score', RandomCutForest.java:908-911)."""
    rng = np.random.default_rng(33)
    X = rng.normal(0, 1, size=(1200, 3)).astype(np.float32)
    f = RCFForest(3, num_trees=80, sample_size=128, time_decay=0.0, seed=9)
    f.update_batch(X)
    q = np.vstack([
        rng.normal(0, 1, size=(40, 3)),
        np.array([[9, 9, 9], [0, -10, 4]]),
    ]).astype(np.float32)
    s_a, n_acc = f.score_approximate(q, precision=0.1, return_accepted=True)
    hi, lo = f.attribution_approximate(q, precision=0.1)
    assert n_acc.mean() < 50  # early stopping engaged on most rows
    np.testing.assert_allclose(hi.sum(1) + lo.sum(1), s_a, rtol=1e-9, atol=1e-12)
    assert (hi >= -1e-12).all() and (lo >= -1e-12).all()
