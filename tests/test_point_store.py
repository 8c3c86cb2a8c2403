"""Shared PointStore state format (store/PointStore.java:69,197-255
analogue): cross-tree deduplicated point storage with refcounts, used as
the checkpoint representation (boxes are derivable state — leaf boxes
ARE the points, internal boxes are exact child unions)."""

from __future__ import annotations

import io

import numpy as np
import pytest

from random_cut_forest_by_aws_spark.core.forest import _NULL, RCFForest


def _forest_with_history(seed=7, n=4000, d=5, trees=12, k=64):
    """A forest that has seen fills, evictions and planted duplicates —
    the state shapes that stress reconstruction."""
    rng = np.random.default_rng(seed)
    X = rng.normal(0, 1, size=(n, d)).astype(np.float32)
    X[::17] = X[0]  # exact duplicates → shared leaves via leaf mass
    f = RCFForest(d, num_trees=trees, sample_size=k, time_decay=1.0 / (10 * k), seed=seed)
    f.update_batch(X)
    return f, X


def test_point_store_invariants():
    f, X = _forest_with_history()
    points, refcount, slot_idx = f.point_store()
    S = int(f.ssize.sum())
    assert len(slot_idx) == S
    # refcount bookkeeping: every sampler slot is exactly one reference
    assert refcount.sum() == S
    np.testing.assert_array_equal(refcount, np.bincount(slot_idx, minlength=len(points)))
    # the store reproduces every slot's point bit-exactly
    slot_tree, slot_leaf = f._slots()
    np.testing.assert_array_equal(points[slot_idx], f.bbmin[slot_tree, slot_leaf])
    # stored points are distinct rows
    assert len(np.unique(points, axis=0)) == len(points)
    # cross-tree sharing is real: 12 trees sample 64 points each from the
    # same stream, so distinct points must number far fewer than slots
    assert len(points) < S
    assert refcount.max() > 1


def test_point_store_covers_all_live_leaves():
    f, _ = _forest_with_history()
    _, slot_leaf = f._slots()
    for t in range(f.T):
        live_leaves = set(
            np.nonzero((f.cutdim[t] < 0) & (f.mass[t] > 0))[0].tolist()
        ) - {int(n) for n in f.freelist[t, : f.freetop[t]].tolist()}
        sampler_leaves = set(f.sleaf[t, : f.ssize[t]].tolist())
        assert sampler_leaves == live_leaves


def _dense_state(f: RCFForest) -> dict:
    """The legacy dense checkpoint: box arrays stored, no point store."""
    state = {k: v for k, v in f.to_state().items() if not k.startswith("ps_")}
    return {**state, "bbmin": f.bbmin.copy(), "bbmax": f.bbmax.copy()}


def test_compact_state_roundtrip_bit_exact_vs_dense():
    f, X = _forest_with_history()
    g_dense = RCFForest.from_state(_dense_state(f))
    g_compact = RCFForest.from_state(f.to_state())
    # live-node boxes reconstruct bit-exactly (free slots are scratch)
    for t in range(f.T):
        live = np.nonzero(f.mass[t] > 0)[0]
        np.testing.assert_array_equal(g_compact.bbmin[t, live], f.bbmin[t, live])
        np.testing.assert_array_equal(g_compact.bbmax[t, live], f.bbmax[t, live])
    # scores and continued updates are bit-identical across all three
    rng = np.random.default_rng(123)
    q = rng.normal(0, 2, size=(40, f.d)).astype(np.float32)
    np.testing.assert_array_equal(f.score(q), g_compact.score(q))
    more = rng.normal(0, 1, size=(500, f.d)).astype(np.float32)
    seqs = np.arange(len(X), len(X) + 500)
    for h in (f, g_dense, g_compact):
        h.update_batch(more, seqs=seqs)
    np.testing.assert_array_equal(f.score(q), g_compact.score(q))
    np.testing.assert_array_equal(g_dense.score(q), g_compact.score(q))
    hi1, lo1 = f.attribution(q)
    hi2, lo2 = g_compact.attribution(q)
    np.testing.assert_array_equal(hi1, hi2)
    np.testing.assert_array_equal(lo1, lo2)


def test_compact_state_roundtrip_partial_fill():
    """Trees mid-fill (ssize < K, some empty after zero updates)."""
    f = RCFForest(3, num_trees=4, sample_size=64, seed=1)
    g = RCFForest.from_state(f.to_state())  # empty forest
    assert int(g.ssize.sum()) == 0
    X = np.random.default_rng(2).normal(size=(20, 3)).astype(np.float32)
    f.update_batch(X)
    g2 = RCFForest.from_state(f.to_state())
    np.testing.assert_array_equal(f.score(X[:5]), g2.score(X[:5]))


def _npz_bytes(state: dict) -> int:
    buf = io.BytesIO()
    np.savez_compressed(buf, **state)
    return buf.tell()


def test_compact_state_is_much_smaller():
    """The point of the format: checkpoint bytes are what shuffle through
    applyInPandas(WithState) per (group, bucket) at scale. Dropping the
    dense 2·T·2K·d box arrays for the deduped point table must cut the
    compressed npz by at least 2× (typically far more)."""
    f, _ = _forest_with_history(d=8, trees=20, k=128, n=8000)
    dense = _npz_bytes(_dense_state(f))
    compact = _npz_bytes(f.to_state())
    assert compact * 2 < dense, (compact, dense)


def test_point_store_degenerate_all_identical():
    """Every stream point identical → ONE stored point, refcount == all
    sampler slots, and the round-trip still reproduces scores."""
    d = 4
    X = np.tile(np.float32([1.5, -2.25, 0.5, 3.0]), (400, 1))
    f = RCFForest(d, num_trees=6, sample_size=32, seed=3)
    f.update_batch(X)
    points, refcount, slot_idx = f.point_store()
    assert len(points) == 1
    assert refcount[0] == int(f.ssize.sum()) == len(slot_idx)
    g = RCFForest.from_state(f.to_state())
    q = np.vstack([X[:2], np.zeros((1, d), np.float32)])
    np.testing.assert_array_equal(f.score(q), g.score(q))


def test_legacy_dense_state_still_loads():
    f, X = _forest_with_history(n=500, trees=4, k=32)
    legacy = _dense_state(f)
    assert "bbmin" in legacy and "ps_points" not in legacy
    g = RCFForest.from_state(legacy)
    np.testing.assert_array_equal(f.score(X[:10]), g.score(X[:10]))
