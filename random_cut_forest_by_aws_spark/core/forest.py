"""Random Cut Forest as flat NumPy arrays — the engine's drift sketch.

A from-scratch, vectorized re-implementation of the reference's forest
semantics (aws/random-cut-forest-by-aws), designed to live inside an Arrow
``applyInPandas`` UDF: all tree state is a handful of flat arrays with a
leading tree axis (mirroring the reference's own columnar NodeStore design,
``Java/core/.../tree/AbstractNodeStore.java:27-39``).

Execution model (performance-critical):

* **scoring** is vectorized with active-lane compaction: every
  (query, tree) pair is a lane; descent and the leaf-to-root walk operate
  on flat index arrays that shrink as lanes finish, so total work is
  Σ path-lengths, not max-depth × lanes. Every query builds its lanes
  with ``_lanes`` and walks them to their leaves with ``_descend``; the
  queries differ only in their leaf and leaf-to-root formulas (the
  reference's visitors, ``RandomCutForest.java:663-761``);
* **updates** loop only over *accepted* reservoir events (O(k·log n) per
  tree, not O(n)); the optional C kernel (``core/ckernel.py``) does the
  per-event tree surgery directly on the canonical arrays. The pure-Python
  reference path builds list mirrors of one tree's arrays per batch
  (NumPy scalar indexing costs ~µs/access — ~20× slower than list ops at
  shingle-scale dims) and writes them back at batch end; nothing is
  cached between batches. All values written into mirrors are
  float32-quantized on creation, so the sync is lossless and
  checkpoint/resume stays bit-exact.

Semantics re-expressed from the reference (file:line cites into
/root/reference/Java/core/src/main/java/com/amazon/randomcutforest/):

* sampler weight  ``-(seq·λ) + log(-log(u))``, accept-until-full then
  replace-max — ``sampler/AbstractStreamSampler.java:147-155``,
  ``sampler/CompactSampler.java:143-159`` (initial accept fraction default
  1.0, ``RandomCutForest.java:DEFAULT_INITIAL_ACCEPT_FRACTION``);
* insert: bottom-up walk from the leaf proposing a random cut on
  box∪point per level, split at the deepest separating cut; duplicates
  increase leaf mass — ``tree/RandomCutTree.java:251-348`` (randomCut
  ``:153-240``);
* delete: decrement mass / splice leaf+parent, shrink ancestor boxes —
  ``tree/RandomCutTree.java:403-458``;
* scoring: leaf ``damp(m,M)·1/(depth+log2(m+1))`` if equal else
  ``1/(depth+1)``; up-walk mixes ``p·1/(depth+1) + (1−p)·score`` with
  p = Δrange/range(box∪x); normalized by ``log2(treeMass+1)``; forest =
  mean over trees — ``anomalydetection/AbstractScalarScoreVisitor.java:
  149-268``, ``CommonUtils.java:148-181``;
* attribution: directional Δrange split of the same recursion; high+low
  sums to the scalar score exactly — ``anomalydetection/
  AbstractAttributionVisitor.java:115-199``, including the duplicate-leaf
  counterfactual shadow-box walk (sibling-box unions up the path,
  renormalized to the leaf score per ``DiVector.renormalize``).

Determinism: sampler draws are counter-based (splitmix64 of
(seed, tree, seq)) so accept decisions are independent of batch/chunk
boundaries; cut draws come from one PCG64 stream per tree, consumed only
by accepted inserts — results are therefore invariant to how a partition's
rows are chunked (tested), the engine's analogue of the reference's
sequential==parallel consistency tests
(``parkservices/ConsistencyTest.java:41-278``).
"""

from __future__ import annotations

import os
import struct

import numpy as np

_NULL = -1

# splitmix64 constants
_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    z = (x + _SM_GAMMA).astype(np.uint64)
    z = (z ^ (z >> np.uint64(30))) * _SM_M1
    z = (z ^ (z >> np.uint64(27))) * _SM_M2
    return z ^ (z >> np.uint64(31))


def _u01(key: np.uint64, seqs: np.ndarray) -> np.ndarray:
    """Counter-based Uniform(0,1) per sequence index (never exactly 0/1)."""
    h = _splitmix64(seqs.astype(np.uint64) ^ np.uint64(key))
    u = (h >> np.uint64(11)).astype(np.float64) * (2.0 ** -53)
    return np.clip(u, 1e-300, 1.0 - 1e-16)


_F32_TINY = float(np.finfo(np.float32).tiny)


_F32_PACK = struct.Struct("f").pack
_F32_UNPACK = struct.Struct("f").unpack


def _f32(v: float) -> float:
    """Quantize to the nearest float32 value (stored precision).
    struct round-trip is bit-identical to np.float32 and ~2.5× faster
    (this sits on the per-cut-proposal hot path)."""
    return _F32_UNPACK(_F32_PACK(v))[0]


_CK_MOD: object = None  # unset → try import on first update


def _ckernel():
    """Lazily load the optional C update kernel (core/ckernel.py):
    compiled+self-checked on first use, None when unavailable or
    RCF_FORCE_PY=1 — the pure-Python path is always kept and tested."""
    global _CK_MOD
    if _CK_MOD is None:
        if os.environ.get("RCF_FORCE_PY") == "1":
            _CK_MOD = False
        else:
            try:
                from . import ckernel as _ck

                _CK_MOD = _ck if _ck.AVAILABLE else False
            except Exception:
                _CK_MOD = False
    return _CK_MOD or None


class _TreeOps:
    """Pure-Python mirror of one tree's flat arrays for the update loop.

    Insert/delete perform ~dozens of scalar reads/writes per tree level;
    on lists these are ~50ns each vs ~1µs for NumPy scalar indexing. The
    mirror is created from, and synced back to, the canonical arrays
    around each update batch.
    """

    __slots__ = (
        "t", "d", "parent", "left", "right", "cutdim", "cutval", "mass",
        "bbmin", "bbmax", "root", "freelist", "freetop", "rng",
    )

    def __init__(self, f: "RCFForest", t: int):
        self.t = t
        self.d = f.d
        self.parent = f.parent[t].tolist()
        self.left = f.left[t].tolist()
        self.right = f.right[t].tolist()
        self.cutdim = f.cutdim[t].tolist()
        self.cutval = f.cutval[t].astype(np.float64).tolist()
        self.mass = f.mass[t].tolist()
        self.bbmin = f.bbmin[t].astype(np.float64).tolist()
        self.bbmax = f.bbmax[t].astype(np.float64).tolist()
        self.root = int(f.root[t])
        self.freelist = f.freelist[t].tolist()
        self.freetop = int(f.freetop[t])
        self.rng = f._rngs[t]

    def writeback(self, f: "RCFForest") -> None:
        t = self.t
        f.parent[t] = self.parent
        f.left[t] = self.left
        f.right[t] = self.right
        f.cutdim[t] = self.cutdim
        f.cutval[t] = self.cutval
        f.mass[t] = self.mass
        f.bbmin[t] = self.bbmin
        f.bbmax[t] = self.bbmax
        f.root[t] = self.root
        f.freelist[t] = self.freelist
        f.freetop[t] = self.freetop

    # -- node management ------------------------------------------------
    def _alloc(self) -> int:
        self.freetop -= 1
        return self.freelist[self.freetop]

    def _free(self, n: int) -> None:
        self.freelist[self.freetop] = n
        self.freetop += 1
        self.cutdim[n] = _NULL
        self.parent[n] = _NULL
        self.left[n] = _NULL
        self.right[n] = _NULL
        self.mass[n] = 0

    def _new_leaf(self, x: list[float]) -> int:
        n = self._alloc()
        self.cutdim[n] = _NULL
        self.mass[n] = 1
        self.bbmin[n] = x[:]
        self.bbmax[n] = x[:]
        self.left[n] = _NULL
        self.right[n] = _NULL
        self.parent[n] = _NULL
        return n

    # -- insert (tree/RandomCutTree.java:251-348 semantics) ---------------
    def insert(self, x: list[float]) -> int:
        if self.root == _NULL:
            leaf = self._new_leaf(x)
            self.root = leaf
            return leaf
        cutdim, cutval = self.cutdim, self.cutval
        left, right, parent = self.left, self.right, self.parent
        mass, bbmin, bbmax = self.mass, self.bbmin, self.bbmax
        d = self.d

        # descend to leaf recording (node, sibling) from root down
        node = self.root
        stack = [(node, _NULL)]
        cd = cutdim[node]
        while cd >= 0:
            if x[cd] <= cutval[node]:
                nxt, sib = left[node], right[node]
            else:
                nxt, sib = right[node], left[node]
            stack.append((nxt, sib))
            node = nxt
            cd = cutdim[node]
        leaf = node
        lp = bbmin[leaf]

        if x == lp:  # duplicate ⇒ leaf-mass bump
            mass[leaf] += 1
            for i in range(len(stack) - 2, -1, -1):
                mass[stack[i][0]] += 1
            return leaf

        # bottom-up walk: propose a cut on box∪x per level, keep deepest
        # separating one (tree/RandomCutTree.java:283-327). The box∪x
        # stats (per-dim lo, gap, total range, #dims where x is outside)
        # are maintained INCREMENTALLY across levels — the box only grows
        # by sibling merges, so only changed dims are touched instead of
        # rescanning all d dims per level.
        bmin = lp[:]
        bmax = lp[:]
        idx = len(stack) - 1
        cur, sibling = leaf, stack[idx][1]
        par = stack[idx - 1][0] if idx >= 1 else _NULL
        saved_node, saved_parent = leaf, par
        saved_dim, saved_val = _NULL, 0.0
        saved_min, saved_max = bmin[:], bmax[:]
        rng_random = self.rng.random
        los = [0.0] * d
        gaps = [0.0] * d
        out_f = [False] * d
        total = 0.0
        outside = 0
        for i in range(d):
            xi = x[i]
            lpi = lp[i]
            if xi < lpi:
                los[i] = xi
                g = lpi - xi
            else:
                los[i] = lpi
                g = xi - lpi
            gaps[i] = g
            total += g
            if g > 0.0:
                out_f[i] = True
                outside += 1
        while True:
            factor = rng_random()
            bp = factor * total
            dim, value = _NULL, 0.0
            acc = 0.0
            for i in range(d):
                g = gaps[i]
                if g > 0.0 and bp <= acc + g:
                    dim = i
                    lo = los[i]
                    value = _f32(lo + (bp - acc))
                    if value >= lo + g:
                        value = float(np.nextafter(np.float32(lo + g), np.float32(lo)))
                    break
                acc += g
            if dim == _NULL:  # float fallback: first nonzero-gap dim
                for i in range(d):
                    if gaps[i] > 0:
                        dim = i
                        lo = los[i]
                        value = float(
                            np.nextafter(np.float32(lo + gaps[i]), np.float32(lo))
                        )
                        break
            # --- separation / save deepest -------------------------------
            if (x[dim] <= value < bmin[dim]) or (x[dim] > value >= bmax[dim]):
                saved_dim, saved_val = dim, value
                saved_node, saved_parent = cur, par
                saved_min, saved_max = bmin[:], bmax[:]
            if outside == 0 or par == _NULL:
                break
            # grow to parent's subtree box by merging the sibling box;
            # update lo/gap/total/outside only where the box changed
            sb_min, sb_max = bbmin[sibling], bbmax[sibling]
            for i in range(d):
                changed = False
                sm = sb_min[i]
                if sm < bmin[i]:
                    bmin[i] = sm
                    if sm < los[i]:
                        total += los[i] - sm
                        gaps[i] += los[i] - sm
                        los[i] = sm
                    changed = True
                sM = sb_max[i]
                if sM > bmax[i]:
                    hi_old = los[i] + gaps[i]
                    if sM > hi_old:
                        total += sM - hi_old
                        gaps[i] += sM - hi_old
                    bmax[i] = sM
                    changed = True
                if changed and out_f[i] and bmin[i] <= x[i] <= bmax[i]:
                    out_f[i] = False
                    outside -= 1
            idx -= 1
            cur, sibling = stack[idx][0], stack[idx][1]
            par = stack[idx - 1][0] if idx >= 1 else _NULL

        # split: new internal node m replaces saved_node
        new_leaf = self._new_leaf(x)
        m = self._alloc()
        if x[saved_dim] <= saved_val:
            left[m], right[m] = new_leaf, saved_node
        else:
            left[m], right[m] = saved_node, new_leaf
        cutdim[m], cutval[m] = saved_dim, saved_val
        mass[m] = mass[saved_node] + 1
        bbmin[m] = [saved_min[i] if saved_min[i] <= x[i] else x[i] for i in range(d)]
        bbmax[m] = [saved_max[i] if saved_max[i] >= x[i] else x[i] for i in range(d)]
        parent[new_leaf] = m
        parent[saved_node] = m
        parent[m] = saved_parent
        if saved_parent == _NULL:
            self.root = m
        elif left[saved_parent] == saved_node:
            left[saved_parent] = m
        else:
            right[saved_parent] = m
        a = saved_parent
        boxes_live = True
        while a != _NULL:  # ancestors: +1 mass, grow boxes
            mass[a] += 1
            if boxes_live:
                # once x grows nothing at a, every higher box (a superset)
                # already contains x — only masses need bumping above
                bna, bxa = bbmin[a], bbmax[a]
                grown = False
                for i in range(d):
                    xi = x[i]
                    if xi < bna[i]:
                        bna[i] = xi
                        grown = True
                    elif xi > bxa[i]:
                        bxa[i] = xi
                        grown = True
                boxes_live = grown
            a = parent[a]
        return new_leaf

    # -- delete (tree/RandomCutTree.java:403-458 semantics) ---------------
    def delete(self, leaf: int) -> None:
        parent, left, right = self.parent, self.left, self.right
        mass, bbmin, bbmax = self.mass, self.bbmin, self.bbmax
        if mass[leaf] > 1:
            a = leaf
            while a != _NULL:
                mass[a] -= 1
                a = parent[a]
            return
        p = parent[leaf]
        if p == _NULL:
            self.root = _NULL
            self._free(leaf)
            return
        sib = right[p] if left[p] == leaf else left[p]
        g = parent[p]
        parent[sib] = g
        if g == _NULL:
            self.root = sib
        elif left[g] == p:
            left[g] = sib
        else:
            right[g] = sib
        self._free(leaf)
        self._free(p)
        d = self.d
        a = g
        boxes_live = True
        while a != _NULL:  # shrink ancestor boxes bottom-up (in place:
            mass[a] -= 1  # internal-node box lists are never aliased)
            if boxes_live:
                # once a recomputed box is unchanged, every ancestor box
                # (child-union of unchanged boxes) is unchanged too —
                # only masses need decrementing above
                ln, rn = left[a], right[a]
                lmin, rmin, lmax, rmax = bbmin[ln], bbmin[rn], bbmax[ln], bbmax[rn]
                ba, bxa = bbmin[a], bbmax[a]
                changed = False
                for i in range(d):
                    lv, rv = lmin[i], rmin[i]
                    nv = lv if lv <= rv else rv
                    if nv != ba[i]:
                        ba[i] = nv
                        changed = True
                    lv, rv = lmax[i], rmax[i]
                    nv = lv if lv >= rv else rv
                    if nv != bxa[i]:
                        bxa[i] = nv
                        changed = True
                boxes_live = changed
            a = parent[a]


# default (score_seen, score_unseen, damp, normalizer) kernels — the
# standard formulas, CommonUtils.java:148-181
_DEFAULT_KERNELS = (
    lambda dep, m: 1.0 / (dep + np.log2(m + 1.0)),
    lambda dep, m: 1.0 / (dep + 1.0),
    lambda lm, tm: 1.0 - lm / (2.0 * np.maximum(tm, 1.0)),
    lambda s, tm: s * np.log2(tm + 1.0),
)


def _kernels(score_seen, score_unseen, damp, normalizer) -> tuple:
    """The four query kernels, each one left None replaced by its default."""
    given = (score_seen, score_unseen, damp, normalizer)
    return tuple(d if k is None else k for k, d in zip(given, _DEFAULT_KERNELS))


class RCFForest:
    """Random Cut Forest over float32 points, flat-array state.

    Defaults mirror the reference (``RandomCutForest.java:95-117``):
    50 trees × 256 samples, timeDecay = 1/(10·256), outputAfter =
    ⌈0.25·256⌉.
    """

    def __init__(
        self,
        dimensions: int,
        num_trees: int = 50,
        sample_size: int = 256,
        time_decay: float | None = None,
        seed: int = 42,
        output_after: int | None = None,
        initial_accept_fraction: float = 1.0,
    ):
        assert dimensions >= 1 and num_trees >= 1 and sample_size >= 2
        self.d = dimensions
        self.T = num_trees
        self.K = sample_size
        self.lam = 1.0 / (10.0 * sample_size) if time_decay is None else float(time_decay)
        self.seed = seed
        self.output_after = (
            max(1, int(np.ceil(0.25 * sample_size))) if output_after is None else output_after
        )
        self.initial_accept_fraction = initial_accept_fraction
        self.entries = 0  # total points offered
        self.seq0 = None  # first sequence index seen (weight rebase)
        # dynamic time decay (AbstractStreamSampler.java:165-178): weights
        # use -( (rel - decay_rel0)·λ + decay_acc ); changing λ folds the
        # already-elapsed decay into decay_acc so stored weights stay valid
        self.paused = False  # pauseSampling (RandomCutForest.java:1325-1333)
        self._decay_acc = 0.0
        self._decay_rel0 = 0.0
        self._last_rel = 0.0

        T, K, d = num_trees, sample_size, dimensions
        N = 2 * K  # K leaves + (K-1) internal + spare
        self.N = N
        self.parent = np.full((T, N), _NULL, np.int32)
        self.left = np.full((T, N), _NULL, np.int32)
        self.right = np.full((T, N), _NULL, np.int32)
        self.cutdim = np.full((T, N), _NULL, np.int32)  # -1 ⇒ leaf
        self.cutval = np.zeros((T, N), np.float32)
        self.mass = np.zeros((T, N), np.int32)
        self.bbmin = np.zeros((T, N, d), np.float32)
        self.bbmax = np.zeros((T, N, d), np.float32)
        self.root = np.full(T, _NULL, np.int32)
        # free node slots, LIFO per tree
        self.freelist = np.tile(np.arange(N - 1, -1, -1, dtype=np.int32), (T, 1))
        self.freetop = np.full(T, N, np.int32)
        # sampler (replace-max reservoir; argmax instead of heap at K=256)
        self.sweight = np.full((T, K), -np.inf, np.float64)
        self.sleaf = np.full((T, K), _NULL, np.int32)
        self.sseq = np.zeros((T, K), np.int64)
        self.ssize = np.zeros(T, np.int32)
        # RNG: one PCG64 stream per tree for cut factors
        self._rngs = [
            np.random.Generator(np.random.PCG64(np.random.SeedSequence([seed, t])))
            for t in range(T)
        ]
        # distinct counter keys for sampler u and initial-accept u
        mask = (1 << 64) - 1
        self._wkeys = [
            int(_splitmix64(np.array([(seed * 2654435761 + 7919 * t + 1) & mask], np.uint64))[0])
            for t in range(T)
        ]
        self._ikeys = [
            int(_splitmix64(np.array([(seed * 40503 + 104729 * t + 2) & mask], np.uint64))[0])
            for t in range(T)
        ]

    # ------------------------------------------------------------------ #
    # single-op helpers (unit tests / small flows); batch path uses the
    # same _TreeOps surgery with one mirror per tree per batch
    # ------------------------------------------------------------------ #
    def _insert(self, t: int, x) -> int:
        ops = _TreeOps(self, t)
        leaf = ops.insert([float(np.float32(v)) for v in x])
        ops.writeback(self)
        return leaf

    def _delete(self, t: int, leaf: int) -> None:
        ops = _TreeOps(self, t)
        ops.delete(int(leaf))
        ops.writeback(self)

    # ------------------------------------------------------------------ #
    # dynamic configuration (reference parity)
    # ------------------------------------------------------------------ #
    def pause_sampling(self) -> None:
        """Freeze the model while still scoring (RandomCutForest.java:1325)."""
        self.paused = True

    def resume_sampling(self) -> None:
        self.paused = False

    def set_time_decay(self, time_decay: float) -> None:
        """Change λ on the fly; existing sampler weights remain comparable
        (accumulated-decay offset, AbstractStreamSampler.java:165-178)."""
        self._decay_acc += (self._last_rel - self._decay_rel0) * self.lam
        self._decay_rel0 = self._last_rel
        self.lam = float(time_decay)

    # ------------------------------------------------------------------ #
    # streaming update
    # ------------------------------------------------------------------ #
    def update(self, x, seq: int | None = None) -> None:
        x = np.asarray(x, np.float32).reshape(1, -1)
        self.update_batch(x, None if seq is None else np.array([seq], np.int64))

    def update_batch(self, X: np.ndarray, seqs: np.ndarray | None = None) -> None:
        """Offer a batch of points to every tree's sampler, in order."""
        X = np.ascontiguousarray(X, np.float32)
        B = X.shape[0]
        assert X.shape[1] == self.d
        if seqs is None:
            seqs = np.arange(self.entries, self.entries + B, dtype=np.int64)
        if self.paused:
            self.entries += B
            return
        if self.seq0 is None:
            self.seq0 = int(seqs[0])
        rel = (seqs - self.seq0).astype(np.float64)
        ck = _ckernel()
        if ck is not None:
            # C kernel path: same per-tree weights/uniforms precomputed
            # vectorized (pure functions of (key, seq) — identical to the
            # Python path's lazy evaluation), surgery + PCG64 cut draws
            # run in C directly on the canonical arrays, bit-identically
            # (tests/test_ckernel_parity.py)
            X64 = X.astype(np.float64)  # contiguous, float32-exact values
            seqs64 = np.ascontiguousarray(seqs, np.int64)
            W = np.empty((self.T, B))
            base = -((rel - self._decay_rel0) * self.lam + self._decay_acc)
            for t in range(self.T):
                u = _u01(self._wkeys[t], seqs64)
                W[t] = base + np.log(-np.log(u))
            if self.initial_accept_fraction >= 1.0:
                IU = np.zeros((self.T, B))
            else:
                IU = np.vstack(
                    [_u01(self._ikeys[t], seqs64) for t in range(self.T)]
                )
            ck.update_batch_c(self, X64, seqs64, W, IU)
        else:
            xs = X.astype(np.float64).tolist()  # float32-exact python floats
            for t in range(self.T):
                ops = _TreeOps(self, t)
                self._update_tree(t, ops, xs, seqs, rel)
                ops.writeback(self)
        self.entries += B
        self._last_rel = max(self._last_rel, float(rel[-1]))

    def _update_tree(self, t, ops: _TreeOps, xs, seqs, rel) -> None:
        K = self.K
        # counter-based weights: chunk-boundary invariant
        u = _u01(self._wkeys[t], seqs)
        w = (
            -((rel - self._decay_rel0) * self.lam + self._decay_acc)
            + np.log(-np.log(u))
        ).tolist()
        sw, sleaf, sseq = self.sweight[t], self.sleaf[t], self.sseq[t]
        size = int(self.ssize[t])
        i = 0
        B = len(xs)
        f = self.initial_accept_fraction
        # fill phase (initial accept ramp, CompactSampler.java:143-159)
        while size < K and i < B:
            if f >= 1.0 or size < f * K:
                accept = True
            else:
                ui = float(_u01(self._ikeys[t], seqs[i : i + 1])[0])
                ramp = 1.0 - (size / K - f) / (1.0 - f)
                accept = ui < ramp or (size > 0 and w[i] < sw[:size].max())
            if accept:
                leaf = ops.insert(xs[i])
                sw[size], sleaf[size], sseq[size] = w[i], leaf, seqs[i]
                size += 1
            i += 1
        self.ssize[t] = size
        if i >= B:
            return
        # steady state: replace-max; scan candidates under the current max
        mx_slot = int(np.argmax(sw))
        mx = float(sw[mx_slot])
        warr = np.asarray(w[i:])
        cand = np.nonzero(warr < mx)[0]
        for j in cand:
            jj = i + int(j)
            wj = w[jj]
            if wj >= mx:
                continue
            ops.delete(int(sleaf[mx_slot]))
            leaf = ops.insert(xs[jj])
            sw[mx_slot], sleaf[mx_slot], sseq[mx_slot] = wj, leaf, seqs[jj]
            mx_slot = int(np.argmax(sw))
            mx = float(sw[mx_slot])

    # ------------------------------------------------------------------ #
    # queries (vectorized with active-lane compaction)
    # ------------------------------------------------------------------ #
    @property
    def is_output_ready(self) -> bool:
        return self.entries >= self.output_after

    def _flat(self):
        T, N = self.T, self.N
        return (
            self.cutdim.reshape(T * N),
            self.cutval.reshape(T * N),
            self.left.reshape(T * N),
            self.right.reshape(T * N),
            self.parent.reshape(T * N),
            self.bbmin.reshape(T * N, self.d),
            self.bbmax.reshape(T * N, self.d),
            self.mass.reshape(T * N),
        )

    def _lanes(self, Q: int):
        """Every (query, live tree) pair of Q queries as one lane:
        ``(live trees, qs, ts, tm_all)`` with ``qs[i]`` the query row and
        ``ts[i]`` the tree of lane i (query-major), and ``tm_all[T]`` each
        tree's root mass (0 for an empty tree)."""
        live = np.nonzero(self.root >= 0)[0]
        qs = np.repeat(np.arange(Q, dtype=np.int64), len(live))
        ts = np.tile(live.astype(np.int64), Q)
        tm_all = np.zeros(self.T)
        tm_all[live] = self.mass.reshape(-1)[live * self.N + self.root[live]]
        return live, qs, ts, tm_all

    def _descend(self, X32: np.ndarray, qs: np.ndarray, ts: np.ndarray,
                 flats: tuple) -> tuple[np.ndarray, np.ndarray]:
        """Root-to-leaf descent of every lane: ``(leaf address, depth)``.

        The one Python descent under every query (the C walks in
        core/ckernel.py mirror it): a lane goes right iff
        ``x[cutdim] > cutval``, so a NaN coordinate goes left. Per level,
        the arrays are sliced from that level's gathers rather than
        gathered again, and the children are packed pairwise so one
        gather picks the next node."""
        cutdim, cutval, left, right = flats[:4]
        base = ts * self.N
        addr = base + self.root[ts].astype(np.int64)
        depth = np.zeros(len(qs), np.int64)
        lr = np.stack([left, right], axis=1)
        active = np.arange(len(qs))
        a = addr
        cd = cutdim[a]
        while len(active):
            keep = cd >= 0
            stepping = active[keep]
            if len(stepping):
                a2 = a[keep]
                xv = X32[qs[stepping], cd[keep].astype(np.int64)]
                child = lr[a2, (xv > cutval[a2]).astype(np.int8)].astype(np.int64)
                a = base[stepping] + child
                addr[stepping] = a
                depth[stepping] += 1
                cd = cutdim[a]
            active = stepping
        return addr, depth

    def leaf_points(self, X: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Vectorized root-to-leaf descent for every (query, live tree):
        returns (leaf points [Q, L, d], leaf masses [Q, L]) — the raw
        material for nearest-exemplar lookups (near-neighbor style)."""
        X32 = np.ascontiguousarray(np.atleast_2d(X), np.float32)
        Q, d = X32.shape[0], self.d
        live, qs, ts, _ = self._lanes(Q)
        if not len(qs):
            return np.zeros((Q, 0, d), np.float32), np.zeros((Q, 0), np.int64)
        flats = self._flat()
        bbmin, mass = flats[5], flats[7]
        addr, _ = self._descend(X32, qs, ts, flats)
        L = len(live)
        return (
            bbmin[addr].reshape(Q, L, d),
            mass[addr].reshape(Q, L).astype(np.int64),
        )

    def score(
        self,
        X: np.ndarray,
        score_seen=None,
        score_unseen=None,
        damp=None,
        normalizer=None,
    ) -> np.ndarray:
        """Anomaly score per query point (mean over trees).

        NaN feature values are unsupported input (descent comparisons
        and gap maxima resolve NaN differently across the vectorized /
        C paths — core/ckernel.py header); impute or drop them first.

        Lane model: one lane per (query, tree); flat gathers over
        tree-offset node addresses; lanes are compacted out as they
        finish, so work is proportional to actual path lengths.

        Optional kernels re-express ``getDynamicScore``
        (RandomCutForest.java:1532-1560): vectorized callables
        ``score_seen(depth, mass)``, ``score_unseen(depth, mass)``,
        ``damp(leaf_mass, tree_mass)``, ``normalizer(score, tree_mass)``
        over NumPy arrays; defaults are the standard formulas
        (CommonUtils.java:148-181).
        """
        X32 = np.ascontiguousarray(np.atleast_2d(X), np.float32)
        out = np.zeros(X32.shape[0])
        _, qs, ts, tm_all = self._lanes(len(X32))
        if not len(qs):
            return out
        lane_scores = self._score_lanes(
            X32, qs, ts, self._flat(), tm_all, score_seen, score_unseen, damp,
            normalizer,
        )
        np.add.at(out, qs, lane_scores)
        return out / self.T

    def _score_lanes(
        self,
        X32: np.ndarray,
        qs: np.ndarray,
        ts: np.ndarray,
        flats: tuple,
        tm_all: np.ndarray,
        score_seen=None,
        score_unseen=None,
        damp=None,
        normalizer=None,
    ) -> np.ndarray:
        """Normalized per-(query, tree) scores for an explicit lane set
        (``qs[i]`` row index into X32, ``ts[i]`` tree index) — the packed
        single-gather walk shared by ``score`` (all lanes at once) and
        ``score_approximate`` (block lanes with converged-row dropout)."""
        if score_seen is None and score_unseen is None and damp is None \
                and normalizer is None:
            ck = _ckernel()
            if ck is not None:
                # C walk (core/ckernel.py): bit-identical to the
                # vectorized path below for the default kernels
                return ck.score_lanes_c(self, X32, qs, ts, flats, tm_all)
        parent, bbmin, bbmax, mass = flats[4:]
        N = self.N
        a, depth = self._descend(X32, qs, ts, flats)
        default_unseen = score_unseen is None
        score_seen, score_unseen, damp, normalizer = _kernels(
            score_seen, score_unseen, damp, normalizer
        )

        # --- leaf scores --------------------------------------------------
        leafpt = bbmin[a]
        eq = np.all(X32[qs] == leafpt, axis=1)
        lm = mass[a].astype(np.float64)
        d64 = depth.astype(np.float64)
        tmv = tm_all[ts]
        seen = damp(lm, tmv) * score_seen(d64, lm)
        score = np.where(eq, seen, score_unseen(d64, lm))
        frozen = eq

        # --- leaf-to-root walk -------------------------------------------
        # hot-loop layout: boxes pre-packed as [bbmin, -bbmax] so BOTH
        # directional gaps come from ONE gather + one maximum + one sum
        # (max(bmn-xv,0) and max(xv-bmx,0) = max(packed - [xv,-xv], 0)),
        # and per-node range sums are precomputed once per call — per
        # level this replaces 3 gathers + 5 reductions with 1 gather +
        # 2 reductions (measured ~2x on the walk).
        up = parent[a].astype(np.int64)
        active = np.nonzero(~frozen & (up >= 0))[0]
        cur = np.where(up >= 0, ts * N + up, -1)
        d64 = d64 - 1.0
        if len(active):
            bb2 = np.concatenate([bbmin, -bbmax], axis=1)  # [T·N, 2d]
            rsum = (bbmax - bbmin).sum(1, dtype=np.float64)
            X2 = np.concatenate([X32, -X32], axis=1)  # [Q, 2d]
        while len(active):
            a = cur[active]
            gaps = bb2[a]
            gaps -= X2[qs[active]]
            np.maximum(gaps, 0, out=gaps)
            dlt = gaps.sum(1, dtype=np.float64)
            newr = rsum[a] + dlt
            p = np.where(newr > 0, dlt / np.maximum(newr, _F32_TINY), 0.0)
            pos = p > 0
            sa = score[active]
            unseen_here = (
                1.0 / (d64[active] + 1.0)
                if default_unseen  # skip the mass gather the default ignores
                else score_unseen(d64[active], mass[a].astype(np.float64))
            )
            score[active] = np.where(pos, p * unseen_here + (1.0 - p) * sa, sa)
            nxt = parent[a].astype(np.int64)
            keep = pos & (nxt >= 0)
            cur[active] = np.where(nxt >= 0, ts[active] * N + nxt, -1)
            d64[active] -= 1.0
            active = active[keep]

        return normalizer(score, tm_all[ts])

    def score_approximate(
        self,
        X: np.ndarray,
        precision: float = 0.1,
        min_accepted: int = 5,
        block: int = 16,
        high_is_critical: bool = True,
        return_accepted: bool = False,
    ):
        """Early-convergence anomaly score (``getApproximateAnomalyScore``,
        RandomCutForest.java:858-873): trees are evaluated in order and
        each per-tree normalized score feeds a one-sided converging
        accumulator (returntypes/OneSidedStDevAccumulator.java:108-205,
        OneSidedConvergingDoubleAccumulator.java): after ``min_accepted``
        trees, a tree is a *witness* when sign·(v − mean) + 1e-6 >
        0.5·dev (mean and Bessel-corrected dev include the current
        value); the row converges at ``int(1/precision)`` witnesses (all
        trees when precision < 1/T) and later trees are not evaluated.
        Result = sum(accepted scores)/n_accepted — within
        (1 ± precision)·score ± precision of the full score.

        Vectorized shape: rows × trees in ``block``-tree slabs through
        the same packed lane walk as ``score``; the accumulator replay
        is exact per tree, and converged rows drop out of later slabs
        (lane compaction across blocks) — confident rows stop after a
        slab or two, so compute tracks the reference's early stopping at
        block granularity. ``precision <= 0`` disables stopping, which
        must reproduce ``score`` exactly (the equivalence test).
        """
        X32 = np.ascontiguousarray(np.atleast_2d(X), np.float32)
        Q = X32.shape[0]
        # lanes are built per tree block below: only the live trees and
        # the root masses are taken here
        live, _, _, tm_all = self._lanes(0)
        if Q == 0 or len(live) == 0:
            z = np.zeros(Q)
            return (z, np.zeros(Q, np.int64)) if return_accepted else z
        flats = self._flat()

        t_live = len(live)
        threshold = (
            t_live if precision < 1.0 / t_live else int(1.0 / precision)
        )
        min_acc = min(min_accepted, t_live)
        sign = 1.0 if high_is_critical else -1.0

        out_sum = np.zeros(Q)
        n_acc = np.zeros(Q, np.int64)
        witnesses = np.zeros(Q, np.int64)
        sum_v = np.zeros(Q)
        sum_sq = np.zeros(Q)
        active_rows = np.arange(Q, dtype=np.int64)
        for b0 in range(0, t_live, block):
            bt = live[b0 : b0 + block].astype(np.int64)
            nr, nb = len(active_rows), len(bt)
            qs = np.repeat(active_rows, nb)
            ts = np.tile(bt, nr)
            lane = self._score_lanes(X32, qs, ts, flats, tm_all).reshape(nr, nb)
            for j in range(nb):
                alive = witnesses[active_rows] < threshold
                m = active_rows[alive]
                if not len(m):
                    break
                v = lane[alive, j]
                sum_v[m] += v
                sum_sq[m] += v * v
                n_acc[m] += 1
                out_sum[m] += v
                na = n_acc[m].astype(np.float64)
                mean = sum_v[m] / na
                var = np.maximum(0.0, sum_sq[m] / na - mean * mean)
                dev = np.sqrt(
                    np.where(na > 1, na * var / np.maximum(na - 1.0, 1.0), 0.0)
                )
                wit = (na >= min_acc) & (sign * (v - mean) + 1e-6 > 0.5 * dev)
                witnesses[m] += wit.astype(np.int64)
            active_rows = active_rows[witnesses[active_rows] < threshold]
            if not len(active_rows):
                break
        scores = out_sum / np.maximum(n_acc, 1)
        return (scores, n_acc) if return_accepted else scores

    def transductive_score(
        self,
        X: np.ndarray,
        gvec,
        score_seen=None,
        score_unseen=None,
        damp=None,
        normalizer=None,
    ) -> np.ndarray:
        """Transductive scoring: score as if each tree had been built with
        a caller-supplied cut distribution over bounding boxes
        (``anomalydetection/TransductiveScalarScoreVisitor.java:1-173``;
        trees built under such distributions are the reference's
        ``HyperTree.java:25-44``).

        ``gvec(bbmin, bbmax) -> weights`` maps ``[L, d]`` box corners to
        nonnegative per-dimension cut weights. Per ancestor level
        (accept:72-88, getProbabilityOfSeparation:100-139, getWeight:149-172):

        * p = Σ_outside g(box∪x)[i]·(newRange_i−oldRange_i)/newRange_i
          / Σ_i g(box∪x)[i]
        * score ← p·unseen(depth, mass) + w·score with
          w = (oldRange(cut)/newRange(cut)) · (Σ g(box)/Σ g(box∪x)) ·
          (g(box∪x)[cut]/g(box)[cut]) — the non-separation weight under
          the supplied distribution (can exceed 1).

        With ``gvec = ranges`` (the RCF cut distribution) this reduces
        exactly to ``score`` — p = Δrange/Σ newRange and w = 1−p — which
        is the built-in parity check. Leaf handling and the normalization
        defaults match ``score`` so the two are directly comparable.
        """
        X32 = np.ascontiguousarray(np.atleast_2d(X), np.float32)
        Q, T, N = X32.shape[0], self.T, self.N
        out = np.zeros(Q)
        _, qs, ts, tm_all = self._lanes(Q)
        if not len(qs):
            return out
        flats = self._flat()
        cutdim, _, _, _, parent, bbmin, bbmax, mass = flats
        a, depth = self._descend(X32, qs, ts, flats)
        score_seen, score_unseen, damp, normalizer = _kernels(
            score_seen, score_unseen, damp, normalizer
        )

        leafpt = bbmin[a]
        eq = np.all(X32[qs] == leafpt, axis=1)
        lm = mass[a].astype(np.float64)
        d64 = depth.astype(np.float64)
        seen = damp(lm, tm_all[ts]) * score_seen(d64, lm)
        score = np.where(eq, seen, score_unseen(d64, lm))
        frozen = eq

        up = parent[a].astype(np.int64)
        active = np.nonzero(~frozen & (up >= 0))[0]
        cur = np.where(up >= 0, ts * N + up, -1)
        d64 = d64 - 1.0
        tiny = _F32_TINY
        while len(active):
            a = cur[active]
            bmn = bbmin[a].astype(np.float64)
            bmx = bbmax[a].astype(np.float64)
            xv = X32[qs[active]].astype(np.float64)
            mmn = np.minimum(bmn, xv)
            mmx = np.maximum(bmx, xv)
            old_r = bmx - bmn
            new_r = mmx - mmn
            g_small = np.asarray(gvec(bmn, bmx), np.float64)
            g_large = np.asarray(gvec(mmn, mmx), np.float64)
            grow = new_r > old_r
            num = (
                g_large * np.where(grow, (new_r - old_r) / np.maximum(new_r, tiny), 0.0)
            ).sum(1)
            den = g_large.sum(1)
            p = np.where(den > 0, num / np.maximum(den, tiny), 0.0)
            cd = cutdim[a].astype(np.int64)
            rows = np.arange(len(a))
            gs_cut = g_small[rows, cd]
            gl_cut = g_large[rows, cd]
            w = (
                (old_r[rows, cd] / np.maximum(new_r[rows, cd], tiny))
                * (g_small.sum(1) / np.maximum(den, tiny))
                * (gl_cut / np.maximum(gs_cut, tiny))
            )
            pos = p > 0
            unseen_here = score_unseen(d64[active], mass[a].astype(np.float64))
            sa = score[active]
            score[active] = np.where(pos, p * unseen_here + w * sa, sa)
            nxt = parent[a].astype(np.int64)
            cur[active] = np.where(nxt >= 0, ts[active] * N + nxt, -1)
            d64[active] -= 1.0
            active = active[pos & (nxt >= 0)]

        np.add.at(out, qs, normalizer(score, tm_all[ts]))
        return out / T

    def displacement_score(self, X: np.ndarray) -> np.ndarray:
        """Density-displacement scoring (the reference's dynamic-score
        example kernel, RandomCutForest.java:1532): contributions are node
        masses instead of inverse depths, normalized by tree mass."""
        return self.score(
            X,
            score_seen=lambda dep, m: m,
            score_unseen=lambda dep, m: m,
            damp=lambda lm, tm: np.ones_like(lm),
            normalizer=lambda s, tm: s / np.maximum(tm, 1.0),
        )

    def displacement_attribution(self, X: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Dimension attribution of the displacement score — the dynamic
        kernel pair of ``displacement_score`` (getDynamicAttribution,
        RandomCutForest.java:1644)."""
        return self.attribution(
            X,
            score_seen=lambda dep, m: m,
            score_unseen=lambda dep, m: m,
            damp=lambda lm, tm: np.ones_like(lm),
            normalizer=lambda s, tm: s / np.maximum(tm, 1.0),
        )

    def attribution(
        self,
        X: np.ndarray,
        score_seen=None,
        score_unseen=None,
        damp=None,
        normalizer=None,
        _lanes=None,
        _per_row_div=None,
    ) -> tuple[np.ndarray, np.ndarray]:
        """DiVector (high[Q,d], low[Q,d]); high+low sums to score(X).

        Kernel hooks mirror ``score`` and re-express
        ``getDynamicAttribution`` (RandomCutForest.java:1644-1660): the
        same vectorized callables drive both, so any dynamic score has a
        matching dimension attribution with the sum invariant preserved
        by construction. Defaults are the standard CommonUtils formulas.

        ``_lanes=(qs, ts)`` (internal, used by ``attribution_approximate``)
        restricts evaluation to an explicit (row, tree) lane set instead
        of all rows × all live trees; ``_per_row_div[Q]`` then replaces
        the uniform 1/T averaging (the reference's converging-accumulator
        finisher divides by values accepted, not numberOfTrees)."""
        use_default = (
            score_seen is None and score_unseen is None
            and damp is None and normalizer is None
        )
        score_seen, score_unseen, damp, normalizer = _kernels(
            score_seen, score_unseen, damp, normalizer
        )
        X32 = np.ascontiguousarray(np.atleast_2d(X), np.float32)
        Q, T, N, d = X32.shape[0], self.T, self.N, self.d
        hi_out = np.zeros((Q, d))
        lo_out = np.zeros((Q, d))
        # explicit lanes replace the full set, so none is built for them
        live, qs, ts, tm_all = self._lanes(Q if _lanes is None else 0)
        if Q == 0 or len(live) == 0:
            return hi_out, lo_out
        if _lanes is not None:
            qs, ts = _lanes
        div = T if _per_row_div is None else (
            np.maximum(_per_row_div, 1).astype(np.float64)[:, None]
        )
        flats = self._flat()
        cutdim, cutval, left, right, parent, bbmin, bbmax, mass = flats
        if use_default:
            ck = _ckernel()
            if ck is not None:
                # C walk (core/ckernel.py): bit-identical to the
                # vectorized path below for the default kernels
                hi_out, lo_out = ck.attribution_lanes_c(
                    self, X32, qs, ts, flats, tm_all, Q
                )
                return hi_out / div, lo_out / div
        addr, depth = self._descend(X32, qs, ts, flats)

        a = addr
        leafpt = bbmin[a]
        Xl = X32[qs].astype(np.float64)
        dh = np.maximum(Xl - leafpt, 0)
        dl = np.maximum(leafpt - Xl, 0)
        sumnew = (dh + dl).sum(1)
        eq = sumnew <= 0
        lm = mass[a].astype(np.float64)
        d64 = depth.astype(np.float64)
        tmv = tm_all[ts]
        seen = damp(lm, tmv) * score_seen(d64, lm)
        unseen = score_unseen(d64, lm)
        saved = np.where(eq, seen, unseen)
        denom = np.where(eq, 1.0, sumnew)
        high = np.where(eq[:, None], saved[:, None] / (2 * d), saved[:, None] * dh / denom[:, None])
        low = np.where(eq[:, None], saved[:, None] / (2 * d), saved[:, None] * dl / denom[:, None])

        # duplicate-leaf lanes: counterfactual shadow-box walk
        # (AbstractAttributionVisitor.java:118-167, hitDuplicates path) —
        # attribute as if the point and its duplicate leaf had not been
        # inserted: smallBox per ancestor is the running union of sibling
        # boxes along the path (getSiblingBoundingBox picks the child the
        # point does NOT descend into), and the final DiVector is
        # renormalized to the duplicate-leaf score (DiVector.renormalize,
        # DiVector.java:141-150) so the sum invariant is preserved while
        # the per-dimension split follows the shadow geometry.
        eq_lanes = np.nonzero(eq & (parent[a] >= 0))[0]
        if len(eq_lanes):
            ts_e = ts[eq_lanes]
            x_e = X32[qs[eq_lanes]].astype(np.float64)
            saved_e = seen[eq_lanes]
            d_e = depth[eq_lanes].astype(np.float64) - 1.0
            cur_p = ts_e * N + parent[addr[eq_lanes]].astype(np.int64)
            h_e = high[eq_lanes].copy()
            l_e = low[eq_lanes].copy()
            n_eq = len(eq_lanes)
            smin_all = np.empty((n_eq, d))
            smax_all = np.empty((n_eq, d))
            act = np.arange(n_eq)
            first = True
            while len(act):
                pa = cur_p[act]
                cdp = cutdim[pa].astype(np.int64)
                go_left = x_e[act, cdp] <= cutval[pa]
                sib = np.where(go_left, right[pa], left[pa]).astype(np.int64)
                sa = ts_e[act] * N + sib
                if first:
                    smin_all[act] = bbmin[sa]
                    smax_all[act] = bbmax[sa]
                    first = False
                else:
                    # NOTE: fancy-indexed getitem returns a copy, so
                    # ufunc-out on it would silently discard the update —
                    # the running union must be written back via setitem
                    # (shadowBox.getMergedBox accumulation,
                    # AbstractAttributionVisitor.java:125-127)
                    smin_all[act] = np.minimum(smin_all[act], bbmin[sa])
                    smax_all[act] = np.maximum(smax_all[act], bbmax[sa])
                sm, sx = smin_all[act], smax_all[act]
                xv = x_e[act]
                dh_s = np.maximum(xv - sx, 0)
                dl_s = np.maximum(sm - xv, 0)
                new_sum = (np.maximum(sx, xv) - np.minimum(sm, xv)).sum(1)
                dlt = (dh_s + dl_s).sum(1)
                safe = np.maximum(new_sum, _F32_TINY)
                p = np.where(new_sum > 0, dlt / safe, 0.0)
                pos = p > 0
                ns = score_unseen(d_e[act], mass[pa].astype(np.float64))
                nh = (dh_s / safe[:, None]) * ns[:, None] + (1 - p)[:, None] * h_e[act]
                nl = (dl_s / safe[:, None]) * ns[:, None] + (1 - p)[:, None] * l_e[act]
                h_e[act] = np.where(pos[:, None], nh, h_e[act])
                l_e[act] = np.where(pos[:, None], nl, l_e[act])
                nxt = parent[pa].astype(np.int64)
                cur_p[act] = np.where(nxt >= 0, ts_e[act] * N + nxt, -1)
                d_e[act] -= 1.0
                act = act[pos & (nxt >= 0)]
            tot = h_e.sum(1) + l_e.sum(1)
            scale = np.where(tot > 0, saved_e / np.maximum(tot, 1e-300), 1.0)
            high[eq_lanes] = h_e * scale[:, None]
            low[eq_lanes] = l_e * scale[:, None]

        up = parent[a].astype(np.int64)
        active = np.nonzero(~eq & (up >= 0))[0]
        cur = np.where(up >= 0, ts * N + up, -1)
        d64 = d64 - 1.0
        while len(active):
            a = cur[active]
            bmn = bbmin[a]
            bmx = bbmax[a]
            xv = X32[qs[active]].astype(np.float64)
            dh = np.maximum(xv - bmx, 0)
            dl = np.maximum(bmn - xv, 0)
            dlt = (dh + dl).sum(1)
            newr = (bmx - bmn).sum(1, dtype=np.float64) + dlt
            safe_r = np.maximum(newr, _F32_TINY)
            p = np.where(newr > 0, dlt / safe_r, 0.0)
            pos = p > 0
            ns = score_unseen(d64[active], mass[a].astype(np.float64))
            nh = (dh / safe_r[:, None]) * ns[:, None] + (1 - p)[:, None] * high[active]
            nl = (dl / safe_r[:, None]) * ns[:, None] + (1 - p)[:, None] * low[active]
            high[active] = np.where(pos[:, None], nh, high[active])
            low[active] = np.where(pos[:, None], nl, low[active])
            nxt = parent[a].astype(np.int64)
            keep = pos & (nxt >= 0)
            cur[active] = np.where(nxt >= 0, ts[active] * N + nxt, -1)
            d64[active] -= 1.0
            active = active[keep]

        tmv_all = tm_all[ts]
        np.add.at(hi_out, qs, normalizer(high, tmv_all[:, None]))
        np.add.at(lo_out, qs, normalizer(low, tmv_all[:, None]))
        return hi_out / div, lo_out / div

    def attribution_approximate(
        self,
        X: np.ndarray,
        precision: float = 0.1,
        min_accepted: int = 5,
        block: int = 16,
        high_is_critical: bool = True,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Early-convergence attribution (``getApproximateAnomalyAttribution``,
        RandomCutForest.java:915-936, OneSidedConvergingDiVectorAccumulator.
        java:24-72): the accumulator's converging statistic is the
        DiVector's high-low sum — exactly the per-tree scalar score — so
        the set of trees accepted before convergence is identical to
        ``score_approximate``'s. We therefore replay that accumulator once
        (per-row accepted count n_acc over live trees in order), evaluate
        the attribution walk only on the accepted (row, tree) lanes, and
        divide per row by n_acc (the reference finisher scales by values
        accepted, not numberOfTrees).

        Invariant: high.sum(1) + low.sum(1) == ``score_approximate`` with
        the same parameters; ``precision <= 0`` accepts every live tree
        and must reproduce ``attribution`` exactly.
        """
        X32 = np.ascontiguousarray(np.atleast_2d(X), np.float32)
        Q, d = X32.shape[0], self.d
        live = np.nonzero(self.root >= 0)[0].astype(np.int64)
        if Q == 0 or len(live) == 0:
            return np.zeros((Q, d)), np.zeros((Q, d))
        _, n_acc = self.score_approximate(
            X32,
            precision=precision,
            min_accepted=min_accepted,
            block=block,
            high_is_critical=high_is_critical,
            return_accepted=True,
        )
        # lanes = first n_acc[i] live trees for row i (accumulator order)
        max_acc = int(n_acc.max())
        cols = np.arange(max_acc, dtype=np.int64)
        mask = cols[None, :] < n_acc[:, None]
        rows = np.repeat(np.arange(Q, dtype=np.int64), max_acc).reshape(Q, max_acc)
        qs = rows[mask]
        ts = live[np.broadcast_to(cols, (Q, max_acc))[mask]]
        return self.attribution(
            X32, _lanes=(qs, ts), _per_row_div=n_acc
        )

    # ------------------------------------------------------------------ #
    # shared point store (store/PointStore.java:69,197-255 analogue)
    # ------------------------------------------------------------------ #
    def _slots(self) -> tuple[np.ndarray, np.ndarray]:
        """Canonical (tree, leaf-node) pairs for every live sampler slot,
        in row-major (t, slot) order. A tree's live leaves are exactly its
        sampler entries (duplicate values share one leaf id via leaf
        mass, so a node id may repeat across slots of the same tree)."""
        sizes = self.ssize.astype(np.int64)
        slot_tree = np.repeat(np.arange(self.T, dtype=np.int64), sizes)
        mask = np.arange(self.K)[None, :] < sizes[:, None]
        slot_leaf = self.sleaf[mask].astype(np.int64)
        return slot_tree, slot_leaf

    def point_store(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Cross-tree deduplicated point storage with reference counts —
        the reference's shared PointStore view (store/PointStore.java:69:
        one copy per distinct point, ``refCount`` = number of sampler
        references across ALL trees; ours is computed from the per-tree
        leaf storage rather than maintained on the hot path, which keeps
        the packed score walk free of an extra indirection).

        Returns ``(points [P, d] float32, refcount [P] int32,
        slot_idx [S] int64)`` where S = sum(ssize): ``points[slot_idx]``
        reproduces every sampler slot's point in canonical (tree, slot)
        order and ``refcount == bincount(slot_idx)``.
        """
        slot_tree, slot_leaf = self._slots()
        pts = np.ascontiguousarray(self.bbmin[slot_tree, slot_leaf])
        if len(pts) == 0:
            return (
                np.zeros((0, self.d), np.float32),
                np.zeros(0, np.int32),
                np.zeros(0, np.int64),
            )
        view = pts.view(np.dtype((np.void, pts.dtype.itemsize * self.d))).ravel()
        _, first, inv, counts = np.unique(
            view, return_index=True, return_inverse=True, return_counts=True
        )
        return pts[first], counts.astype(np.int32), inv.astype(np.int64)

    # ------------------------------------------------------------------ #
    # checkpoint (state/RandomCutForestMapper.java analogue)
    # ------------------------------------------------------------------ #
    _ARRAY_FIELDS = (
        "parent left right cutdim cutval mass bbmin bbmax root freelist "
        "freetop sweight sleaf sseq ssize"
    ).split()
    # compact format: bounding boxes are derivable state — leaf boxes ARE
    # the points (stored once, cross-tree deduplicated, PointStore-style)
    # and internal boxes are exact child unions (maintained as such by
    # insert/delete, property-tested in tests/test_forest_properties.py)
    _COMPACT_DROP = ("bbmin", "bbmax")
    # each tree's PCG64 (state, inc) as 64-bit words: (member, field, shift)
    _RNG_WORDS = (
        ("rng_lo", "state", 0), ("rng_hi", "state", 64), ("rng_hi2", "state", 128),
        ("inc_lo", "inc", 0), ("inc_hi", "inc", 64),
    )

    def to_state(self) -> dict:
        """Checkpoint dict (NumPy arrays only, npz-safe).

        The dense per-tree box arrays (2·T·2K·d float32 — the dominant
        term) are replaced with the shared point store: distinct leaf
        points stored ONCE across all trees plus an int index per
        sampler slot and the reference counts
        (store/PointStore.java:69,197-255). Internal-node boxes are
        rebuilt bit-exactly on load as bottom-up child unions;
        ``from_state`` still loads the legacy dense format. Each tree's
        PCG64 state is stored as uint64 words (``_RNG_WORDS``), so the
        dict loads back with ``np.load(..., allow_pickle=False)``.
        """
        fields = [f for f in self._ARRAY_FIELDS if f not in self._COMPACT_DROP]
        state = {f: getattr(self, f).copy() for f in fields}
        points, _refcount, slot_idx = self.point_store()
        state["ps_points"] = points
        # refcounts are NOT serialized: derivable as
        # bincount(ps_slot_idx), and every byte here ships in one
        # checkpoint per (group, bucket) — point_store() returns
        # them for callers who want the explicit view
        state["ps_slot_idx"] = slot_idx.astype(np.int32)
        if self.N <= np.iinfo(np.int16).max:
            # node ids < N and masses <= K fit int16; from_state's
            # array assignment upcasts back to the in-memory int32
            for name in ("parent", "left", "right", "cutdim", "mass",
                         "freelist", "sleaf", "root", "freetop", "ssize"):
                state[name] = state[name].astype(np.int16)
        state["meta"] = np.array(
            [self.d, self.T, self.K, self.entries, self.seed, self.output_after],
            dtype=np.int64,
        )
        state["meta_f"] = np.array(
            [
                self.lam,
                self.initial_accept_fraction,
                -1 if self.seq0 is None else self.seq0,
                1.0 if self.paused else 0.0,
                self._decay_acc,
                self._decay_rel0,
                self._last_rel,
            ],
            dtype=np.float64,
        )
        rs = [g.bit_generator.state["state"] for g in self._rngs]
        mask = (1 << 64) - 1
        for name, field, shift in self._RNG_WORDS:
            state[name] = np.array([(r[field] >> shift) & mask for r in rs], np.uint64)
        return state

    @classmethod
    def from_state(cls, state: dict) -> "RCFForest":
        d, T, K, entries, seed, output_after = (int(v) for v in state["meta"])
        mf = [float(v) for v in state["meta_f"]]
        lam, iaf, seq0 = mf[0], mf[1], mf[2]
        f = cls(
            d,
            num_trees=T,
            sample_size=K,
            time_decay=lam,
            seed=seed,
            output_after=output_after,
            initial_accept_fraction=iaf,
        )
        f.entries = entries
        f.seq0 = None if seq0 < 0 else int(seq0)
        if len(mf) > 3:  # dynamic-decay fields (older states: defaults)
            f.paused = mf[3] > 0
            f._decay_acc, f._decay_rel0, f._last_rel = mf[4], mf[5], mf[6]
        compact = "bbmin" not in state  # PointStore format (vs legacy dense)
        for name in cls._ARRAY_FIELDS:
            if compact and name in cls._COMPACT_DROP:
                continue
            getattr(f, name)[...] = state[name]
        if compact:
            f._rebuild_boxes(
                np.asarray(state["ps_points"], np.float32),
                np.asarray(state["ps_slot_idx"], np.int64),
            )
        for t, g in enumerate(f._rngs):
            st = g.bit_generator.state
            st["state"] = {"state": 0, "inc": 0}
            for name, field, shift in cls._RNG_WORDS:
                st["state"][field] |= int(state[name][t]) << shift
            g.bit_generator.state = st
        return f

    def _rebuild_boxes(self, points: np.ndarray, slot_idx: np.ndarray) -> None:
        """Rebuild bbmin/bbmax from the shared point store: scatter leaf
        points (leaf box == point), then union children into parents one
        BFS level at a time, deepest first. Bit-exact: min/max unions are
        exact in float32 and insert/delete maintain internal boxes as
        exactly the child unions (invariant property-tested)."""
        slot_tree, slot_leaf = self._slots()
        pts = points[slot_idx]
        self.bbmin[slot_tree, slot_leaf] = pts
        self.bbmax[slot_tree, slot_leaf] = pts
        T, N, d = self.T, self.N, self.d
        cutdim = self.cutdim.reshape(T * N)
        left = self.left.reshape(T * N)
        right = self.right.reshape(T * N)
        bbmin = self.bbmin.reshape(T * N, d)
        bbmax = self.bbmax.reshape(T * N, d)
        live = np.nonzero(self.root >= 0)[0]
        frontier = live * N + self.root[live].astype(np.int64)
        levels = []
        while len(frontier):
            internal = frontier[cutdim[frontier] >= 0]
            if len(internal) == 0:
                break
            levels.append(internal)
            base = (internal // N) * N
            frontier = np.concatenate([base + left[internal], base + right[internal]])
        for internal in reversed(levels):
            base = (internal // N) * N
            ln = base + left[internal]
            rn = base + right[internal]
            bbmin[internal] = np.minimum(bbmin[ln], bbmin[rn])
            bbmax[internal] = np.maximum(bbmax[ln], bbmax[rn])
