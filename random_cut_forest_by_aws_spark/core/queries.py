"""Extended RCF query operators: density, imputation, forecasting,
near-neighbor, summarization.

Re-expressed from the reference's visitor set (SURVEY.md §2.3):

* density — ``interpolation/SimpleInterpolationVisitor.java:30-255`` +
  ``returntypes/DensityOutput.java:61-79``: per-tree leaf-to-root
  recursion accumulating directional (probMass, measure, distances)
  DiVectors; scalar density = sumPts / (q·sumPts + Σ_d (dist/prob)^m·prob).
* impute / conditional field — ``imputation/ImputeVisitor.java:30-80``,
  summarized per ``ConditionalSampleSummarizer``: per tree, descend
  following the observed dims and BOTH branches at cuts on missing dims
  (MultiVisitor semantics, ``RandomCutForest.java:985-1069``); fill
  missing dims from each reached leaf, rank each candidate by the tree's
  own anomaly score of the filled point (bottom-up probability-of-
  separation walk, ImputeVisitor.accept:148-165) and keep the lowest
  adjusted rank per tree (merge rule updateCombine:252-258, centrality
  blend adjustedRank:246-249); then rank the per-tree winners by forest
  score and aggregate the best half (median).
* extrapolate — ``RandomCutForest.java:1102-1258``: iteratively impute
  the next input block of a shingle ``horizon`` times; ranges from
  candidate percentiles (RangeVector analogue).
* near neighbors — ``RandomCutForest.java:1264-1297`` +
  ``inspect/NearNeighborVisitor.java``: per tree the reached leaf within
  a distance threshold, merged and deduped across trees.
* summarize — ``summarization/Summarizer.java:40-91`` (CURE-style
  multi-centroid, L1 default): weighted farthest-point seeding over the
  forest's sampled points, Lloyd refinement, merge by separation ratio.
"""

from __future__ import annotations

import numpy as np

from .forest import RCFForest, _NULL, _ckernel


# --------------------------------------------------------------------- #
# density
# --------------------------------------------------------------------- #
def density(forest: RCFForest, X: np.ndarray, q_scale: float = 2.0) -> dict:
    """DensityOutput analogue. Returns dict with per-query ``density``
    scalar plus directional ``prob_mass``/``measure``/``distances``
    (high, low) arrays of shape [Q, d], averaged over trees."""
    X32 = np.ascontiguousarray(np.atleast_2d(X), np.float32)
    Q, T, N, d = X32.shape[0], forest.T, forest.N, forest.d
    res = {
        "prob_high": np.zeros((Q, d)), "prob_low": np.zeros((Q, d)),
        "meas_high": np.zeros((Q, d)), "meas_low": np.zeros((Q, d)),
        "dist_high": np.zeros((Q, d)), "dist_low": np.zeros((Q, d)),
    }
    _, qs, ts, _ = forest._lanes(Q)
    if not len(qs):
        res["density"] = np.zeros(Q)
        return res
    flats = forest._flat()
    _, _, _, _, parent, bbmin, bbmax, mass = flats
    ck = _ckernel()
    if ck is not None:
        # C walk (core/ckernel.py rcf_density_lanes): bit-identical to
        # the vectorized path below
        acc = ck.density_lanes_c(forest, X32, qs, ts, flats, Q)
        for k in res:
            res[k] = acc[k] / T
        return _density_scalar(res, forest, d, q_scale)
    a, _ = forest._descend(X32, qs, ts, flats)
    L = len(qs)

    # leaf phase (SimpleInterpolationVisitor.acceptLeaf:139-168)
    Xl = X32[qs].astype(np.float64)
    leafpt = bbmin[a]
    maxgap = np.maximum(Xl - leafpt, 0)  # large.max - small.max
    mingap = np.maximum(leafpt - Xl, 0)
    sumdiff = (maxgap + mingap).sum(1)
    sumnew = sumdiff  # leaf box is a point: large range == gaps
    eq = sumdiff <= 0
    lm = mass[a].astype(np.float64)
    # field = leaf mass + query mass (1); influence = 1
    ph = np.empty((L, d)); pl = np.empty((L, d))
    mh = np.empty((L, d)); ml = np.empty((L, d))
    dh = np.zeros((L, d)); dl = np.zeros((L, d))
    with np.errstate(invalid="ignore", divide="ignore"):
        pr_h = np.where(eq[:, None], 0.0, maxgap / sumnew[:, None])
        pr_l = np.where(eq[:, None], 0.0, mingap / sumnew[:, None])
    fld = (lm + 1.0)[:, None]
    ph[:] = pr_h
    pl[:] = pr_l
    mh[:] = pr_h * fld
    ml[:] = pr_l * fld
    # directional distance at leaf: gap + small range (0 for a point)
    dh[:] = pr_h * maxgap
    dl[:] = pr_l * mingap
    # equal-leaf: half self field/influence split equally (savedMass=m+1)
    selfm = (lm + 1.0)[:, None]
    ph = np.where(eq[:, None], 0.5 / d, ph)
    pl = np.where(eq[:, None], 0.5 / d, pl)
    mh = np.where(eq[:, None], 0.5 * selfm / d, mh)
    ml = np.where(eq[:, None], 0.5 * selfm / d, ml)

    # upward walk (accept:91-137); equal-leaf lanes use the plain box walk
    # (reference uses sibling shadow boxes — simplification, see module doc)
    frozen = eq.copy()
    up = parent[a].astype(np.int64)
    cur = np.where(up >= 0, ts * N + up, -1)
    active = np.nonzero(~frozen & (cur >= 0))[0]
    while len(active):
        a = cur[active]
        bmn = bbmin[a]
        bmx = bbmax[a]
        xv = X32[qs[active]].astype(np.float64)
        maxgap = np.maximum(xv - bmx, 0)
        mingap = np.maximum(bmn - xv, 0)
        rng_small = (bmx - bmn).astype(np.float64)
        sumdiff = (maxgap + mingap).sum(1)
        sumnew = rng_small.sum(1) + sumdiff
        p = np.where(sumnew > 0, sumdiff / np.maximum(sumnew, 1e-300), 0.0)
        pos = p > 0
        m = mass[a].astype(np.float64)
        fld = (m + 1.0)[:, None]
        with np.errstate(invalid="ignore", divide="ignore"):
            pr_h = maxgap / sumnew[:, None]
            pr_l = mingap / sumnew[:, None]
        ddh = np.where(maxgap > 0, maxgap + rng_small, 0.0)
        ddl = np.where(mingap > 0, mingap + rng_small, 0.0)
        one_m = (1 - p)[:, None]
        sel = active[pos]
        ph[sel] = (pr_h + one_m * ph[active])[pos]
        pl[sel] = (pr_l + one_m * pl[active])[pos]
        mh[sel] = (pr_h * fld + one_m * mh[active])[pos]
        ml[sel] = (pr_l * fld + one_m * ml[active])[pos]
        dh[sel] = (pr_h * ddh + one_m * dh[active])[pos]
        dl[sel] = (pr_l * ddl + one_m * dl[active])[pos]
        nxt = parent[a].astype(np.int64)
        cur[active] = np.where(nxt >= 0, ts[active] * N + nxt, -1)
        active = active[pos & (nxt >= 0)]

    for name, arr in (("prob", (ph, pl)), ("meas", (mh, ml)), ("dist", (dh, dl))):
        np.add.at(res[f"{name}_high"], qs, arr[0])
        np.add.at(res[f"{name}_low"], qs, arr[1])
        res[f"{name}_high"] /= T
        res[f"{name}_low"] /= T
    return _density_scalar(res, forest, d, q_scale)


def _density_scalar(res: dict, forest: RCFForest, d: int, q_scale: float) -> dict:
    """Scalar density from the accumulated DiVectors
    (DensityOutput.getDensity:61-79), manifold dim = d — shared tail of
    the vectorized and C walks."""
    sum_pts = (res["meas_high"] + res["meas_low"]).sum(1) / forest.K
    prob = res["prob_high"] + res["prob_low"]
    dist = res["dist_high"] + res["dist_low"]
    with np.errstate(invalid="ignore", divide="ignore"):
        tfac = np.where(prob > 0, dist / np.maximum(prob, 1e-300), 0.0)
        factors = np.where(tfac > 0, np.exp(np.log(np.maximum(tfac, 1e-300)) * d) * prob, 0.0)
    sum_factors = factors.sum(1)
    res["density"] = np.where(
        sum_pts > 0, sum_pts / (q_scale * sum_pts + sum_factors), 0.0
    )
    return res


# --------------------------------------------------------------------- #
# impute / conditional field
# --------------------------------------------------------------------- #
def conditional_field(
    forest: RCFForest,
    x: np.ndarray,
    missing: list[int],
    seed: int = 0,
    centrality: float = 1.0,
    max_leaves_per_tree: int = 128,
) -> np.ndarray:
    """Per-tree imputation candidates [T_live, d], MultiVisitor both-branch
    semantics (``imputation/ImputeVisitor.java:30-80``, traversal split
    ``RandomCutForest.java:985-1069``): descend each tree following the
    observed dims of ``x`` and BOTH branches at cuts on missing dims; fill
    missing dims from each reached leaf; rank each candidate by the tree's
    own score of the filled point (leaf seen/unseen score + bottom-up
    probability-of-separation recurrence, ImputeVisitor.accept:148-165,
    acceptLeaf:176-206) and keep the per-tree candidate with the lowest
    ``centrality·rank + (1−centrality)·U(0,1)`` (adjustedRank:246-249,
    merge updateCombine:252-258).

    Exploration per tree walks the heavier subtree first and stops after
    ``max_leaves_per_tree`` leaves — a documented deviation from the
    reference's unbounded split that only binds when most dims are missing
    (the degenerate sample-from-forest case)."""
    x32 = np.asarray(x, np.float32).copy()
    d = forest.d
    miss_mask = np.zeros(d, bool)
    miss_mask[np.asarray(sorted(set(missing)), np.int64)] = True
    obs_mask = ~miss_mask
    N = forest.N

    # phase 1: per-tree DFS over paths consistent with the observed dims
    lane_tree: list[int] = []
    lane_leaf: list[int] = []
    lane_depth: list[int] = []
    tree_slots: list[tuple[int, int]] = []  # (start, end) per live tree
    for t in range(forest.T):
        root = int(forest.root[t])
        if root == _NULL:
            continue
        cutdim = forest.cutdim[t]
        cutval = forest.cutval[t]
        left, right, mass = forest.left[t], forest.right[t], forest.mass[t]
        stack = [(root, 0)]
        start = len(lane_leaf)
        while stack and (len(lane_leaf) - start) < max_leaves_per_tree:
            node, dep = stack.pop()
            while cutdim[node] >= 0:
                cd = int(cutdim[node])
                l, r = int(left[node]), int(right[node])
                if miss_mask[cd]:
                    if mass[l] >= mass[r]:
                        node, second = l, r
                    else:
                        node, second = r, l
                    stack.append((second, dep + 1))
                else:
                    node = l if x32[cd] <= cutval[node] else r
                dep += 1
            lane_tree.append(t)
            lane_leaf.append(node)
            lane_depth.append(dep)
        tree_slots.append((start, len(lane_leaf)))
    M = len(lane_leaf)
    if M == 0:
        return np.zeros((0, d), np.float32)

    # phase 2: vectorized fill + per-tree rank over all (candidate, tree)
    # lanes — the same leaf-to-root recurrence as RCFForest.score, but each
    # candidate walks only its own tree and uses the ImputeVisitor's
    # undamped seen/unseen kernels
    _, _, _, _, parent_f, bbmin_f, bbmax_f, mass_f = forest._flat()
    ts = np.asarray(lane_tree, np.int64)
    addr = ts * N + np.asarray(lane_leaf, np.int64)
    dv = np.asarray(lane_depth, np.float64)
    leafpt = bbmin_f[addr]
    cands = np.tile(x32, (M, 1))
    cands[:, miss_mask] = leafpt[:, miss_mask]
    dist = (
        np.abs(cands[:, obs_mask].astype(np.float64)
               - leafpt[:, obs_mask].astype(np.float64)).sum(1)
        if obs_mask.any()
        else np.zeros(M)
    )
    lm = mass_f[addr].astype(np.float64)
    rank = np.where(
        dist <= 0,
        np.where(dv == 0, 0.0, 1.0 / (dv + np.log2(lm + 1.0))),
        1.0 / (dv + 1.0),
    )
    frozen = dist <= 0  # exact match on observed dims: converged at leaf
    up = parent_f[addr].astype(np.int64)
    active = np.nonzero(~frozen & (up >= 0))[0]
    cur = np.where(up >= 0, ts * N + up, -1)
    dv = dv - 1.0
    while len(active):
        a = cur[active]
        bmn = bbmin_f[a]
        bmx = bbmax_f[a]
        xv = cands[active]
        dlt = (
            np.maximum(bmn - xv, 0).sum(1, dtype=np.float64)
            + np.maximum(xv - bmx, 0).sum(1, dtype=np.float64)
        )
        newr = (bmx - bmn).sum(1, dtype=np.float64) + dlt
        p = np.where(newr > 0, dlt / np.maximum(newr, 1e-300), 0.0)
        pos = p > 0
        unseen_here = 1.0 / (dv[active] + 1.0)
        rank[active] = np.where(
            pos, p * unseen_here + (1.0 - p) * rank[active], rank[active]
        )
        nxt = parent_f[a].astype(np.int64)
        cur[active] = np.where(nxt >= 0, ts[active] * N + nxt, -1)
        dv[active] -= 1.0
        active = active[pos & (nxt >= 0)]

    # phase 3: per-tree merge — lowest adjusted rank wins
    if centrality < 1.0:
        rng = np.random.default_rng(np.random.SeedSequence([forest.seed, seed, 7]))
        rank = centrality * rank + (1.0 - centrality) * rng.random(M)
    out = [
        cands[s + int(np.argmin(rank[s:e]))]
        for s, e in tree_slots
        if e > s
    ]
    return np.array(out, np.float32)


def impute(
    forest: RCFForest,
    x: np.ndarray,
    missing: list[int],
    seed: int = 0,
    centrality: float = 1.0,
    max_leaves_per_tree: int = 128,
) -> np.ndarray:
    """Impute missing dims: rank per-tree both-branch candidates by forest
    score, take the coordinate-wise median of the best half
    (``ConditionalSampleSummarizer`` analogue; centrality per
    ``RandomCutForest.imputeMissingValues:1040-1069``)."""
    cands = conditional_field(
        forest, x, missing, seed,
        centrality=centrality, max_leaves_per_tree=max_leaves_per_tree,
    )
    if len(cands) == 0:
        return np.asarray(x, np.float32)
    scores = forest.score(cands)
    k = max(1, len(cands) // 2)
    best = cands[np.argsort(scores, kind="stable")[:k]]
    out = np.asarray(x, np.float32).copy()
    for m in missing:
        out[m] = np.median(best[:, m])
    return out


# --------------------------------------------------------------------- #
# extrapolate / forecast
# --------------------------------------------------------------------- #
def extrapolate(
    forest: RCFForest,
    shingle: np.ndarray,
    horizon: int,
    block_size: int = 1,
    percentiles: tuple[float, float] = (10.0, 90.0),
    seed: int = 0,
    cyclic: bool = False,
    shingle_index: int = 0,
) -> dict:
    """Forecast ``horizon`` future blocks of a shingled stream.

    ``forest.d`` must equal shingle length. Sliding mode (default): each
    step shifts the shingle left by ``block_size`` and imputes the
    trailing block (``extrapolateBasicSliding``, RandomCutForest.java:
    1169-1190). Cyclic mode: the shingle keeps the ShingleBuilder's
    rotated in-place layout — each step imputes the block at
    ``shingle_index`` (the oldest slot) and advances the position mod d
    (``extrapolateBasicCyclic``, RandomCutForest.java:1192-1258;
    ShingleBuilder.java:27-48). Returns {values, upper, lower} of shape
    [horizon·block_size] (RangeVector analogue; ranges from per-tree
    candidate percentiles — conformal calibration lives in the caller).
    """
    d = forest.d
    assert len(shingle) == d and d % block_size == 0
    cur = np.asarray(shingle, np.float32).copy()
    pos = int(shingle_index) % d
    values, upper, lower = [], [], []
    for h in range(horizon):
        if cyclic:
            missing = [(pos + y) % d for y in range(block_size)]
        else:
            cur = np.roll(cur, -block_size)
            missing = list(range(d - block_size, d))
        cands = conditional_field(forest, cur, missing, seed=seed + h)
        if len(cands) == 0:
            block = np.zeros(block_size, np.float32)
            values.extend(block)
            upper.extend(block)
            lower.extend(block)
            continue
        scores = forest.score(cands)
        k = max(1, len(cands) // 2)
        best = cands[np.argsort(scores, kind="stable")[:k]][:, missing]
        med = np.median(best, axis=0)
        values.extend(med)
        upper.extend(np.percentile(best, percentiles[1], axis=0))
        lower.extend(np.percentile(best, percentiles[0], axis=0))
        cur[missing] = med
        if cyclic:
            pos = (pos + block_size) % d
    return {
        "values": np.array(values),
        "upper": np.array(upper),
        "lower": np.array(lower),
    }


# --------------------------------------------------------------------- #
# near neighbors
# --------------------------------------------------------------------- #
def near_neighbors(
    forest: RCFForest,
    x: np.ndarray,
    distance_threshold: float = np.inf,
    with_sequences: bool = False,
) -> list[tuple]:
    """Leaves reached across trees within L1 distance of x, deduped and
    sorted by distance: [(point, distance, total_mass)] — or, with
    ``with_sequences``, [(point, distance, total_mass, sorted_seq_list)]
    (storeSequenceIndexesEnabled parity, ``returntypes/Neighbor.java``:
    the sampler slots already map leaf → sequence index, so the indexes
    come from ``sleaf``/``sseq`` without extra tree state)."""
    x32 = np.asarray(x, np.float32)
    found: dict[bytes, list] = {}
    for t in range(forest.T):
        node = int(forest.root[t])
        if node == _NULL:
            continue
        cutdim, cutval = forest.cutdim[t], forest.cutval[t]
        left, right = forest.left[t], forest.right[t]
        while cutdim[node] >= 0:
            node = (
                int(left[node])
                if x32[int(cutdim[node])] <= cutval[node]
                else int(right[node])
            )
        pt = forest.bbmin[t, node]
        dist = float(np.abs(pt.astype(np.float64) - x32).sum())
        if dist <= distance_threshold:
            key = pt.tobytes()
            if key not in found:
                found[key] = [pt.copy(), dist, 0, set()]
            found[key][2] += int(forest.mass[t, node])
            if with_sequences:
                size = int(forest.ssize[t])
                slots = np.nonzero(forest.sleaf[t, :size] == node)[0]
                found[key][3].update(int(s) for s in forest.sseq[t, slots])
    out = sorted(found.values(), key=lambda r: r[1])
    if with_sequences:
        return [(p, d_, m, sorted(s)) for p, d_, m, s in out]
    return [(p, d_, m) for p, d_, m, _ in out]


# --------------------------------------------------------------------- #
# summarize (CURE-style clustering of the sampled points)
# --------------------------------------------------------------------- #
def summarize(
    forest: RCFForest,
    max_clusters: int = 5,
    iterations: int = 10,
    seed: int = 0,
    representatives: int = 3,
    shrink: float = 0.3,
) -> dict:
    """Cluster the forest's sampled points (≤ T·K, all local): weighted
    farthest-point seeding + Lloyd with L1 distance, then merge centers
    closer than ``separation 0.8 ×`` the sum of intra-cluster radii
    (Summarizer.java:40-91 semantics). Each kept cluster also carries up
    to ``representatives`` CURE-style multi-center points — farthest-point
    picks shrunk toward the centroid (``summarization/GenericMultiCenter.
    java:1-238``) — so elongated clusters are described by their extent,
    not just one centroid. Returns {centers, weights, representatives}."""
    pts = []
    wts = []
    for t in range(forest.T):
        for slot in range(int(forest.ssize[t])):
            leaf = int(forest.sleaf[t, slot])
            pts.append(forest.bbmin[t, leaf])
            wts.append(1.0)
    if not pts:
        return {
            "centers": np.zeros((0, forest.d)),
            "weights": np.zeros(0),
            "representatives": [],
            "radii": np.zeros(0),
        }
    rng = np.random.default_rng(np.random.SeedSequence([forest.seed, seed, 11]))
    return cluster_points(
        np.array(pts, np.float64), np.array(wts), max_clusters, iterations,
        representatives, shrink, rng,
    )


def cluster_points(
    P: np.ndarray,
    W: np.ndarray,
    max_clusters: int = 5,
    iterations: int = 10,
    representatives: int = 3,
    shrink: float = 0.3,
    rng: np.random.Generator | None = None,
) -> dict:
    """Weighted multi-center clustering of a point set (the engine core
    shared by ``summarize`` and the GLAD detector): farthest-point
    seeding, L1 Lloyd, separation-ratio merge, CURE representatives.
    Returns {centers, weights, representatives, rep_weights, radii} —
    ``rep_weights[k][j]`` is the member mass nearest representative j of
    cluster k (the reference's ``Weighted<P>`` representatives carry
    weights, used by GLAD's per-representative masking,
    ``GlobalLocalAnomalyDetector.java:292``)."""
    rng = rng or np.random.default_rng(0)
    # farthest-point seeding
    centers = [P[rng.integers(len(P))]]
    for _ in range(max_clusters - 1):
        dmin = np.min(
            np.stack([np.abs(P - c).sum(1) for c in centers]), axis=0
        )
        if dmin.max() <= 0:
            break
        centers.append(P[int(np.argmax(dmin * W))])
    C = np.array(centers)

    def _wmedian(pts_sel: np.ndarray, w_sel: np.ndarray) -> np.ndarray:
        """Per-dim weighted median (L1 minimizer under point weights)."""
        out = np.empty(pts_sel.shape[1])
        half = w_sel.sum() / 2.0
        for dim in range(pts_sel.shape[1]):
            order = np.argsort(pts_sel[:, dim], kind="stable")
            cw = np.cumsum(w_sel[order])
            out[dim] = pts_sel[order[np.searchsorted(cw, half)], dim]
        return out

    for _ in range(iterations):  # Lloyd, L1 metric ⇒ weighted median
        dist = np.stack([np.abs(P - c).sum(1) for c in C])
        assign = dist.argmin(0)
        for ci in range(len(C)):
            sel = assign == ci
            if sel.any():
                C[ci] = _wmedian(P[sel], W[sel])
    # merge insufficiently-separated centers (Summarizer.java separation-
    # ratio semantics): two clusters merge when the distance between their
    # centers is below 0.8 × the sum of their intra-cluster radii — a
    # separation criterion, invariant to where the clusters sit in space.
    dist = np.stack([np.abs(P - c).sum(1) for c in C])
    assign = dist.argmin(0)
    weights = np.array([W[assign == ci].sum() for ci in range(len(C))], np.float64)
    radii = np.array(
        [
            np.abs(P[assign == ci] - C[ci]).sum(1).mean() if (assign == ci).any() else 0.0
            for ci in range(len(C))
        ]
    )
    keep: list[int] = []
    merged_w = weights.copy()
    for ci in np.argsort(-weights):
        target = next(
            (
                kj
                for kj in keep
                if np.abs(C[ci] - C[kj]).sum() <= 0.8 * (radii[ci] + radii[kj])
            ),
            None,
        )
        if target is None:
            keep.append(ci)
        else:
            merged_w[target] += merged_w[ci]
    # CURE multi-center representatives over the kept clusters
    distk = np.stack([np.abs(P - C[kj]).sum(1) for kj in keep])
    assign_k = distk.argmin(0)
    reps: list[np.ndarray] = []
    rep_weights: list[np.ndarray] = []
    for idx, ci in enumerate(keep):
        sel_mask = assign_k == idx
        members = P[sel_mask]
        mw = W[sel_mask]
        if len(members) == 0 or representatives <= 1:
            reps.append(C[ci][None, :].copy())
            rep_weights.append(np.array([merged_w[ci]], np.float64))
            continue
        sel = [int(np.argmax(np.abs(members - C[ci]).sum(1)))]
        while len(sel) < min(representatives, len(members)):
            dmin = np.min(
                np.stack([np.abs(members - members[s]).sum(1) for s in sel]), axis=0
            )
            nxt = int(np.argmax(dmin))
            if dmin[nxt] <= 0:
                break
            sel.append(nxt)
        # each representative carries the member mass nearest to it
        # (pre-shrink positions), so tiny representatives of a heavy
        # cluster can be masked individually downstream
        rep_assign = np.argmin(
            np.stack([np.abs(members - members[s]).sum(1) for s in sel]), axis=0
        )
        rep_weights.append(
            np.array([mw[rep_assign == j].sum() for j in range(len(sel))], np.float64)
        )
        reps.append(members[sel] + shrink * (C[ci] - members[sel]))
    return {
        "centers": C[keep],
        "weights": merged_w[keep],
        "representatives": reps,
        "rep_weights": rep_weights,
        "radii": radii[keep],
    }
