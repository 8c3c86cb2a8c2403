"""Print one sha256 over every forest query and both batch thresholders.

The inputs are fixed and seeded: four forests (d = 1/3/5/8, sample sizes
32–256, streams with exact duplicates) queried with sampled points,
fresh points and points sitting exactly on cut values. Hashed outputs:

* ``score``, ``displacement_score``, ``score_approximate`` (precision
  0.1 and 0), ``attribution``, ``displacement_attribution``,
  ``attribution_approximate``, ``transductive_score`` with two cut
  distributions, ``leaf_points`` and ``queries.density``;
* ``BasicThresholder.process_batch`` and ``primary_process_batch``
  thresholds, grades and end state at discounts 0 / 0.01 / 0.2, over
  split calls, explicit secondaries and non-positive scores.

A refactor of the forest or thresholder core must leave the hash as it
was; run it on both checkouts, with the C kernels and with
``RCF_FORCE_PY=1``:

    python scripts/forest_query_hash.py [--parts]
    RCF_FORCE_PY=1 python scripts/forest_query_hash.py

The package is imported from the checkout this script lives in.
``--parts`` also prints one digest per output before the total.
"""

from __future__ import annotations

import argparse
import hashlib
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import numpy as np  # noqa: E402

from random_cut_forest_by_aws_spark.core import queries  # noqa: E402
from random_cut_forest_by_aws_spark.core.forest import RCFForest  # noqa: E402
from random_cut_forest_by_aws_spark.core.thresholder import (  # noqa: E402
    BasicThresholder,
)

# (d, sample_size, stream length, trees)
_FORESTS = ((1, 32, 300, 8), (3, 64, 600, 24), (5, 128, 900, 40), (8, 256, 1200, 12))
_GVECS = (
    lambda mn, mx: mx - mn,  # the RCF cut distribution: reduces to score
    lambda mn, mx: (mx - mn) * (1.0 + np.arange(mn.shape[1])),
)


def _digest(value) -> bytes:
    h = hashlib.sha256()
    if isinstance(value, dict):
        for k in sorted(value):
            h.update(k.encode())
            h.update(_digest(value[k]))
    elif isinstance(value, (tuple, list)):
        for v in value:
            h.update(_digest(v))
    else:
        a = np.ascontiguousarray(np.asarray(value))
        h.update(f"{a.dtype.str}{a.shape}".encode())
        h.update(a.tobytes())
    return h.digest()


def _forest_parts(d: int, k: int, n: int, trees: int):
    rng = np.random.default_rng(1000 * d + k)
    X = rng.normal(0.0, 1.0, size=(n, d)).astype(np.float32)
    X[::7] = X[3]  # exact duplicates: leaf-mass and shadow-box paths
    X[n // 2:] += 2.5  # a shift, so later points sit outside old boxes
    f = RCFForest(d, num_trees=trees, sample_size=k, time_decay=0.002, seed=d)
    for lo in range(0, n, 97):
        f.update_batch(X[lo:lo + 97])
    live = np.nonzero(f.root >= 0)[0]
    cuts = []  # points with one coordinate exactly on an internal cut value
    for t in live[:3]:
        internal = np.nonzero(f.cutdim[t] >= 0)[0][:6]
        for node in internal:
            p = X[int(node) % n].copy()
            p[f.cutdim[t, node]] = f.cutval[t, node]
            cuts.append(p)
    Q = np.concatenate([
        X[rng.choice(n, 24, replace=False)],
        rng.normal(0.0, 2.0, size=(24, d)).astype(np.float32),
        np.asarray(cuts, np.float32).reshape(-1, d),
    ])
    tag = f"d{d}k{k}"
    yield f"{tag}.score", f.score(Q)
    yield f"{tag}.displacement_score", f.displacement_score(Q)
    for prec in (0.1, 0.0):
        yield f"{tag}.score_approximate{prec}", f.score_approximate(
            Q, precision=prec, return_accepted=True)
    yield f"{tag}.attribution", f.attribution(Q)
    yield f"{tag}.displacement_attribution", f.displacement_attribution(Q)
    yield f"{tag}.attribution_approximate", f.attribution_approximate(Q)
    for i, g in enumerate(_GVECS):
        yield f"{tag}.transductive{i}", f.transductive_score(Q, g)
    yield f"{tag}.leaf_points", f.leaf_points(Q)
    yield f"{tag}.density", queries.density(f, Q)


def _thresholder_parts():
    rng = np.random.default_rng(7)
    scores = np.abs(rng.normal(0.9, 0.35, size=700))
    scores[::53] += 3.0  # spikes past the capped primary input
    mixed = scores.copy()
    mixed[::5] = 0.0
    mixed[::11] = -0.25  # non-positive rows leave the DISTANCE state alone
    secondaries = rng.normal(0.0, 0.5, size=700)
    for disc in (0.0, 0.01, 0.2):
        th = BasicThresholder(discount=disc)
        out = [th.process_batch(scores[:300]), th.process_batch(scores[300:])]
        yield f"process_batch{disc}", (out, th.to_state())
        th = BasicThresholder(discount=disc)
        out = th.process_batch(scores, normalized=False, block=64)
        yield f"process_batch_unnormalized{disc}", (out, th.to_state())
        th = BasicThresholder(discount=disc)
        out = [th.primary_process_batch(mixed[:250]),
               th.primary_process_batch(mixed[250:])]
        yield f"primary_process_batch{disc}", (out, th.to_state())
        th = BasicThresholder(discount=disc)
        out = th.primary_process_batch(scores, secondaries, block=100)
        yield f"primary_process_batch_secondaries{disc}", (out, th.to_state())


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parts", action="store_true",
                    help="print one digest per output before the total")
    args = ap.parse_args()
    total = hashlib.sha256()
    parts = [p for spec in _FORESTS for p in _forest_parts(*spec)]
    parts += list(_thresholder_parts())
    for name, value in parts:
        dg = _digest(value)
        total.update(name.encode())
        total.update(dg)
        if args.parts:
            print(f"{dg.hex()[:16]}  {name}")
    print(total.hexdigest())


if __name__ == "__main__":
    main()
