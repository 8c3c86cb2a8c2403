"""Score → (threshold, grade) calibration — raw RCF scores to verdicts.

From-scratch re-expression of the reference's parkservices thresholding
(``parkservices/threshold/BasicThresholder.java``), scoped to the paths
our drift operator uses (shingleSize 1, TransformMethod NONE/NORMALIZE):

* ``Deviation`` — exponentially discounted mean/variance
  (``statistics/Deviation.java:24-110``: sum/sumSquared/weight decayed by
  (1−discount) per update);
* threshold = max(absolute, f·(mean + scaledDev) + (1−f)·initial) with the
  intermediate-term ramp f over [minimumScores, 2·minimumScores]
  (``BasicThresholder.java:141-260``);
* grade = clipped surprise index ``min(floor(t·20)/16, 1)`` of
  (score − threshold)/scaledDev (``BasicThresholder.java:255-305``);
* update feeds min(score, 2.0) into the primary deviation and the
  below-mean gap into the threshold deviation
  (``BasicThresholder.java:308-330``).

Both batch paths (``process_batch``, ``primary_process_batch``) run the
same block update, ``BasicThresholder._advance``: the three Deviation
recurrences in closed form per block (``_prefix``, ``_mean_dev``), blocks
capped by ``_blocks``; each path keeps only its threshold and grade
formulas.
"""

from __future__ import annotations

import math

import numpy as np

DEFAULT_SCORE_DIFFERENCING = 0.5
DEFAULT_MINIMUM_SCORES = 10
DEFAULT_FACTOR_ADJUSTMENT_THRESHOLD = 0.9
DEFAULT_ABSOLUTE_THRESHOLD = 0.8
DEFAULT_INITIAL_THRESHOLD = 1.5
DEFAULT_Z_FACTOR = 3.0
MINIMUM_Z_FACTOR = 2.0


class Deviation:
    """Exponentially discounted streaming mean / standard deviation."""

    __slots__ = ("discount", "weight", "sum", "sum_squared", "count")

    def __init__(self, discount: float = 0.0):
        assert 0 <= discount < 1
        self.discount = discount
        self.weight = 0.0
        self.sum = 0.0
        self.sum_squared = 0.0
        self.count = 0

    def update(self, x: float) -> None:
        factor = 1.0 - self.discount
        self.sum = self.sum * factor + x
        self.sum_squared = self.sum_squared * factor + x * x
        self.weight = self.weight * factor + 1.0
        self.count += 1

    @property
    def mean(self) -> float:
        return 0.0 if self.weight <= 0 else self.sum / self.weight

    @property
    def deviation(self) -> float:
        if self.weight <= 0:
            return 0.0
        m = self.sum / self.weight
        v = self.sum_squared / self.weight - m * m
        return math.sqrt(v) if v > 0 else 0.0

    def to_state(self) -> list[float]:
        return [self.discount, self.weight, self.sum, self.sum_squared, float(self.count)]

    @classmethod
    def from_state(cls, s) -> "Deviation":
        d = cls(float(s[0]))
        d.weight, d.sum, d.sum_squared, d.count = float(s[1]), float(s[2]), float(s[3]), int(s[4])
        return d


def _prefix(x: np.ndarray, s0: float, f: float):
    """One Deviation accumulator ``s' = s·f + x`` over a block, in closed
    form ``s_i = f^i·s0 + Σ_{j<i} x_j·f^{i−1−j}``: the state before each
    row and the end state. Exponents stay bounded by the block length
    (``BasicThresholder._blocks``)."""
    n = len(x)
    if f == 1.0:
        c = np.concatenate([[0.0], np.cumsum(x)])
        return s0 + c[:-1], s0 + c[-1]
    inv = f ** (-np.arange(n, dtype=np.float64))
    c = np.concatenate([[0.0], np.cumsum(x * inv)])
    fi = f ** np.arange(n + 1, dtype=np.float64)
    return fi[:n] * s0 + (fi[:n] / f) * c[:-1], fi[n] * s0 + (fi[n] / f) * c[-1]


def _mean_dev(sums: np.ndarray, ssqs: np.ndarray, weights: np.ndarray):
    """Vectorized ``Deviation.mean`` / ``Deviation.deviation``."""
    pos = weights > 0
    w = np.where(pos, weights, 1.0)
    mean = np.where(pos, sums / w, 0.0)
    var = np.maximum(np.where(pos, ssqs / w, 0.0) - mean * mean, 0.0)
    return mean, np.sqrt(var)


class BasicThresholder:
    """Streaming threshold + anomaly grade over a score series."""

    def __init__(
        self,
        discount: float = 0.01,
        z_factor: float = DEFAULT_Z_FACTOR,
        absolute_threshold: float = DEFAULT_ABSOLUTE_THRESHOLD,
        initial_threshold: float = DEFAULT_INITIAL_THRESHOLD,
        minimum_scores: int = DEFAULT_MINIMUM_SCORES,
        auto_threshold: bool = True,
        score_differencing: float = DEFAULT_SCORE_DIFFERENCING,
    ):
        self.primary = Deviation(discount)
        self.secondary = Deviation(discount)
        self.threshold_dev = Deviation(discount / 2)
        self.z_factor = z_factor
        self.absolute_threshold = absolute_threshold
        self.initial_threshold = initial_threshold
        self.minimum_scores = minimum_scores
        self.auto_threshold = auto_threshold
        self.score_differencing = score_differencing
        self.factor_adjustment_threshold = DEFAULT_FACTOR_ADJUSTMENT_THRESHOLD
        self.count = 0
        self.last_score = 0.0

    # -- readiness / ramp (BasicThresholder.java:112-148) ----------------
    def is_deviation_ready(self) -> bool:
        if self.count < self.minimum_scores:
            return False
        if self.score_differencing != 0:
            return self.secondary.count >= self.minimum_scores
        return True

    def intermediate_fraction(self) -> float:
        if self.count < self.minimum_scores:
            return 0.0
        if self.count > 2 * self.minimum_scores:
            return 1.0
        return (self.count - self.minimum_scores) / self.minimum_scores

    # -- threshold + grade (BasicThresholder.java:255-285) ---------------
    def _adjusted_factor(self, factor: float, normalized: bool) -> float:
        corrected = factor
        if self.primary.mean < self.factor_adjustment_threshold and normalized:
            corrected = self.primary.mean * factor / self.factor_adjustment_threshold
        return max(corrected, MINIMUM_Z_FACTOR)

    def _long_term_deviation(self) -> float:
        # shingleSize==1, non-differencing path (BasicThresholder.java:236)
        return min(math.sqrt(2.0) * self.threshold_dev.deviation, self.primary.deviation)

    def threshold_and_grade(self, score: float, normalized: bool = True) -> tuple[float, float]:
        inter = self.intermediate_fraction()
        factor = self._adjusted_factor(self.z_factor, normalized)
        scaled_dev = (factor - 1.0) * self._long_term_deviation() + self.primary.deviation
        absolute = self.absolute_threshold
        if (
            self.auto_threshold
            and inter >= 1.0
            and self.primary.mean < self.factor_adjustment_threshold
        ):
            absolute = self.primary.mean * absolute / self.factor_adjustment_threshold
        if not self.is_deviation_ready():
            threshold = max(self.initial_threshold, absolute)
        else:
            threshold = max(
                absolute,
                inter * (self.primary.mean + scaled_dev) + (1.0 - inter) * self.initial_threshold,
            )
        if score < threshold or threshold <= 0:
            return threshold, 0.0
        t = self._surprise_index(score, threshold, factor, scaled_dev / factor)
        t = min(math.floor(t * 20) / 16.0, 1.0)
        if t == 0:
            threshold = score
        return threshold, t

    def _surprise_index(self, score, base, factor, deviation) -> float:
        if self.is_deviation_ready():
            t = 2 * factor
            if deviation > 0:
                t = min(factor, (score - base) / deviation)
            return max(0.0, t / factor)
        return min(1.0, max(0.0, (score - self.absolute_threshold) / self.absolute_threshold))

    # -- update (BasicThresholder.java:308-330) ---------------------------
    def update(self, score: float) -> None:
        capped = min(score, 2.0)
        gap = self.primary.mean - capped
        if gap > 0:
            self.threshold_dev.update(gap)
        self.primary.update(capped)
        self.secondary.update(score - self.last_score)
        self.last_score = score
        self.count += 1

    def update2(self, primary: float, secondary: float) -> None:
        """Two-argument update (``BasicThresholder.java:321-326``): the
        primary deviation takes ``primary`` UNCAPPED (no min(·, 2.0)) and
        the secondary deviation takes ``secondary`` directly (no
        differencing against the last score). Used by GLAD, which feeds
        (raw score, min(score, z_factor))."""
        gap = self.primary.mean - primary
        if gap > 0:
            self.threshold_dev.update(gap)
        self.primary.update(primary)
        self.secondary.update(secondary)
        self.count += 1

    def process(self, score: float, normalized: bool = True) -> tuple[float, float]:
        """Threshold-then-update for one score; returns (threshold, grade)."""
        out = self.threshold_and_grade(score, normalized)
        self.update(score)
        return out

    # -- vectorized threshold-then-update over a score sequence -----------
    def _blocks(self, n: int, block: int) -> list[slice]:
        """Row blocks of at most ``block`` rows, capped so the prefix
        factors f^{-j} stay below 1e12 — with a large discount a fixed 256
        block would overflow/cancel (f=0.8 ⇒ f^-255 ≈ 6e24)."""
        fmin = min(1.0 - self.primary.discount, 1.0 - self.threshold_dev.discount)
        if fmin < 1.0:
            block = max(1, min(block, int(27.6 / -math.log(fmin))))
        return [slice(lo, lo + block) for lo in range(0, n, block)]

    def _advance(self, s: np.ndarray, prim: np.ndarray, sec: np.ndarray):
        """Feed one block to the three deviations — ``prim`` to
        ``primary``, ``sec`` to ``secondary``, each positive gap
        ``primary.mean − prim`` to ``threshold_dev`` — and commit the
        block's end state (``s[-1]`` becomes ``last_score``). Returns,
        as of BEFORE each row, (primary mean, primary dev, threshold dev,
        deviation ready, count)."""
        n = len(s)
        f1 = 1.0 - self.primary.discount
        f2 = 1.0 - self.threshold_dev.discount
        pr, se, td = self.primary, self.secondary, self.threshold_dev
        p_sum, p_sum_end = _prefix(prim, pr.sum, f1)
        p_ssq, p_ssq_end = _prefix(prim * prim, pr.sum_squared, f1)
        p_w, p_w_end = _prefix(np.ones(n), pr.weight, f1)
        p_mean, p_dev = _mean_dev(p_sum, p_ssq, p_w)
        s_sum_end = _prefix(sec, se.sum, f1)[1]
        s_ssq_end = _prefix(sec * sec, se.sum_squared, f1)[1]
        s_w_end = _prefix(np.ones(n), se.weight, f1)[1]

        # threshold deviation: updated only on positive below-mean gaps,
        # so row i sees the state after the events before it
        gaps = p_mean - prim
        ev = gaps > 0
        c_excl = np.concatenate([[0], np.cumsum(ev)])[:-1]
        ev_vals = gaps[ev]
        ne = len(ev_vals)
        t_sum = np.append(*_prefix(ev_vals, td.sum, f2))
        t_ssq = np.append(*_prefix(ev_vals * ev_vals, td.sum_squared, f2))
        # the weight keeps its own closed form: a _prefix over ones rounds
        # differently, and the end state is checkpointed
        ke = np.arange(ne + 1, dtype=np.float64)
        fe = f2 ** ke
        t_w = td.weight + ke if f2 == 1.0 else fe * td.weight + (1.0 - fe) / (1.0 - f2)
        _, t_dev = _mean_dev(t_sum[c_excl], t_ssq[c_excl], t_w[c_excl])

        n_i = self.count + np.arange(n)
        ready = n_i >= self.minimum_scores
        if self.score_differencing != 0:
            ready = ready & (se.count + np.arange(n) >= self.minimum_scores)

        pr.sum, pr.sum_squared, pr.weight = float(p_sum_end), float(p_ssq_end), float(p_w_end)
        pr.count += n
        se.sum, se.sum_squared, se.weight = float(s_sum_end), float(s_ssq_end), float(s_w_end)
        se.count += n
        td.sum, td.sum_squared, td.weight = float(t_sum[ne]), float(t_ssq[ne]), float(t_w[ne])
        td.count += ne
        self.count += n
        self.last_score = float(s[-1])
        return p_mean, p_dev, t_dev, ready, n_i

    def process_batch(
        self, scores: np.ndarray, normalized: bool = True, block: int = 256
    ) -> tuple[np.ndarray, np.ndarray]:
        """Batch equivalent of calling ``process`` per score.

        The three Deviation recurrences (``s' = s·f + x``) have closed-form
        prefix expressions ``s_i = f^i s_0 + Σ x_j f^{i−1−j}``; computing
        them blockwise (``_blocks``, ``_advance``) replaces the per-row
        Python loop with a handful of NumPy passes. Results match
        sequential ``process`` up to floating-point reassociation (the
        recurrence is evaluated in a different association order).
        """
        scores = np.asarray(scores, np.float64)
        thresholds = np.empty(len(scores))
        grades = np.empty(len(scores))
        m = self.minimum_scores
        sqrt2 = math.sqrt(2.0)
        for sl in self._blocks(len(scores), block):
            s = scores[sl]
            n = len(s)
            diffs = s - np.concatenate([[self.last_score], s[:-1]])
            p_mean, p_dev, t_dev, ready, n_i = self._advance(
                s, np.minimum(s, 2.0), diffs
            )
            inter = np.clip((n_i - m) / m, 0.0, 1.0)
            inter[n_i < m] = 0.0

            factor = np.full(n, float(self.z_factor))
            if normalized:
                adj = p_mean < self.factor_adjustment_threshold
                factor = np.where(
                    adj, p_mean * self.z_factor / self.factor_adjustment_threshold,
                    factor,
                )
            factor = np.maximum(factor, MINIMUM_Z_FACTOR)
            ltd = np.minimum(sqrt2 * t_dev, p_dev)
            scaled_dev = (factor - 1.0) * ltd + p_dev
            absolute = np.full(n, self.absolute_threshold)
            if self.auto_threshold:
                adj_abs = (inter >= 1.0) & (p_mean < self.factor_adjustment_threshold)
                absolute = np.where(
                    adj_abs,
                    p_mean * self.absolute_threshold / self.factor_adjustment_threshold,
                    absolute,
                )
            thr = np.where(
                ready,
                np.maximum(
                    absolute,
                    inter * (p_mean + scaled_dev) + (1.0 - inter) * self.initial_threshold,
                ),
                np.maximum(self.initial_threshold, absolute),
            )
            # grade (surprise index, floored to the 1/16 grid)
            over = (s >= thr) & (thr > 0)
            dev_si = scaled_dev / factor
            t_ready = np.where(
                dev_si > 0,
                np.minimum(factor, (s - thr) / np.where(dev_si > 0, dev_si, 1.0)),
                2.0 * factor,
            )
            t_ready = np.maximum(0.0, t_ready / factor)
            t_cold = np.clip(
                (s - self.absolute_threshold) / self.absolute_threshold, 0.0, 1.0
            )
            t_val = np.where(ready, t_ready, t_cold)
            g = np.minimum(np.floor(t_val * 20.0) / 16.0, 1.0)
            g = np.where(over, g, 0.0)
            thresholds[sl] = np.where(over & (g == 0), s, thr)  # grade 0 ⇒ thr=score
            grades[sl] = g
        return thresholds, grades

    # -- primary-only threshold/grade (BasicThresholder.java:155-192) -----
    def primary_threshold(self) -> float:
        if not self.is_deviation_ready():
            return 0.0
        return self.primary.mean + self.z_factor * self.primary.deviation

    def primary_threshold_and_grade(self, score: float) -> tuple[float, float]:
        """getPrimaryThresholdAndGrade (:185-192): the simple
        mean + z·dev threshold with the linear [0, 1] grade — no ramp, no
        auxiliary deviations. Used by the DISTANCE scoring mode and GLAD's
        recluster veto."""
        if not self.is_deviation_ready() or score <= 0:
            return 0.0, 0.0
        thr = self.primary_threshold()
        if thr <= 0 or score <= thr:
            return thr, 0.0
        dev = self.primary.deviation
        if dev <= 0:
            return thr, 1.0 if score > self.primary.mean + 1e-10 else 0.0
        t = min(2 * self.z_factor, (score - self.primary.mean) / dev)
        return thr, max(0.0, (t - self.z_factor) / self.z_factor)

    def primary_process_batch(
        self, scores: np.ndarray, secondaries: np.ndarray | None = None,
        block: int = 256,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Batch equivalent of primary_threshold_and_grade-then-update2
        per score (the DISTANCE mode inner loop: threshold from the state
        BEFORE each row, then ``update2(score, secondary)`` — primary
        uncapped, secondary fed directly). Same closed-form Deviation
        prefixes as ``process_batch``.

        Scores ≤ 0 follow the reference exactly
        (``getPrimaryThresholdAndGrade`` returns (0, 0) and ``saveScores``
        updates the DISTANCE thresholder only when score > 0,
        PredictorCorrector.java:709): they emit (0.0, 0.0) and leave every
        deviation untouched. Since non-positive rows never mutate state,
        the compressed positive subsequence evolves identically to the
        scalar loop — compute on it and scatter back."""
        scores = np.asarray(scores, np.float64)
        B = len(scores)
        pos_mask = scores > 0
        if not pos_mask.all():
            thr_all = np.zeros(B)
            g_all = np.zeros(B)
            if pos_mask.any():
                sp = scores[pos_mask]
                sec_p = (
                    np.asarray(secondaries, np.float64)[pos_mask]
                    if secondaries is not None
                    else np.concatenate([[self.last_score], sp[:-1]])
                )
                t, g = self.primary_process_batch(sp, sec_p, block)
                thr_all[pos_mask] = t
                g_all[pos_mask] = g
            return thr_all, g_all
        if secondaries is None:
            secondaries = np.concatenate([[self.last_score], scores[:-1]])
        secondaries = np.asarray(secondaries, np.float64)
        thresholds = np.empty(B)
        grades = np.empty(B)
        for sl in self._blocks(B, block):
            s = scores[sl]
            p_mean, p_dev, _, ready, _ = self._advance(s, s, secondaries[sl])
            thr = np.where(ready, p_mean + self.z_factor * p_dev, 0.0)
            over = ready & (s > 0) & (thr > 0) & (s > thr)
            with np.errstate(invalid="ignore", divide="ignore"):
                t_val = np.minimum(
                    2 * self.z_factor,
                    np.where(p_dev > 0, (s - p_mean) / np.where(p_dev > 0, p_dev, 1.0), np.inf),
                )
            g = np.maximum(0.0, (t_val - self.z_factor) / self.z_factor)
            g = np.where(
                p_dev > 0, g, np.where(s > p_mean + 1e-10, 1.0, 0.0)
            )
            grades[sl] = np.where(over, g, 0.0)
            thresholds[sl] = thr
        return thresholds, grades

    # -- checkpoint -------------------------------------------------------
    def to_state(self) -> dict:
        return {
            "primary": self.primary.to_state(),
            "secondary": self.secondary.to_state(),
            "threshold_dev": self.threshold_dev.to_state(),
            "params": [
                self.z_factor,
                self.absolute_threshold,
                self.initial_threshold,
                float(self.minimum_scores),
                1.0 if self.auto_threshold else 0.0,
                self.score_differencing,
                float(self.count),
                self.last_score,
            ],
        }

    @classmethod
    def from_state(cls, s: dict) -> "BasicThresholder":
        p = s["params"]
        th = cls(
            z_factor=float(p[0]),
            absolute_threshold=float(p[1]),
            initial_threshold=float(p[2]),
            minimum_scores=int(p[3]),
            auto_threshold=bool(p[4]),
            score_differencing=float(p[5]),
        )
        th.primary = Deviation.from_state(s["primary"])
        th.secondary = Deviation.from_state(s["secondary"])
        th.threshold_dev = Deviation.from_state(s["threshold_dev"])
        th.count = int(p[6])
        th.last_score = float(p[7])
        return th
