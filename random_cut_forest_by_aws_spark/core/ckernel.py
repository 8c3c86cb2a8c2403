"""Optional C kernels for the forest hot loops (update / score / attribution / density).

The sampler-accept → tree-surgery inner loop (``_update_tree`` +
``_TreeOps.insert/delete`` in forest.py) is pointer-chasing scalar work —
~400-700 Python bytecodes per accepted point — and measures as 60-70% of
the whole validation suite's core-seconds. This module compiles (at
first use, with the system gcc, cached under /tmp) a ~300-line C
transcription of EXACTLY that loop, operating in place on the forest's
canonical int32/float32 arrays, including a bit-exact replication of
NumPy's PCG64 stream for the cut draws.

Bit-exactness is the contract, not best-effort:

* the PCG64 step (state' = state·MULT + inc mod 2^128, output =
  rotr64(hi^lo, state'>>122), double = (out>>11)·2^-53) is verified
  against ``numpy.random.PCG64`` at load time — any mismatch disables
  the kernel;
* every arithmetic step mirrors the Python path's float32-quantization
  points (``_f32`` = cast to float and back, ``np.nextafter`` on
  float32 = ``nextafterf``) and comparison order;
* ``tests/test_ckernel_parity.py`` drives both paths over random
  streams (duplicates, evictions, partial fills) and asserts ALL
  canonical arrays + RNG states are identical bit-for-bit.

Besides the update loop this module carries the default-kernel score
walk (``rcf_score_lanes``), the default-kernel DiVector attribution
walk (``rcf_attribution_lanes``), and the interpolation/density walk
(``rcf_density_lanes`` — the per-row cost of the DISTANCE and
multi-mode scoring strategies, ~10x over the vectorized path). Transcribing the attribution walk exposed a real bug in
the vectorized Python path (round 5): the duplicate-leaf shadow-box
union was frozen at level 0 by a ufunc ``out=`` on a fancy-indexed
copy; the fixed Python path, the C path, and a scalar transcription of
the reference visitor now agree bit-for-bit
(tests/test_ckernel_parity.py::test_attribution_shadow_union_matches_reference_walk).

NaN feature values are UNSUPPORTED input to every walk: descent
comparisons and gap maxima resolve NaN differently between the
vectorized numpy paths and C (``NaN > c`` is false in C ternaries while
``np.maximum`` propagates NaN), so the bit-exact contract holds only
for finite floats. Impute or drop NaNs upstream — the drift
preprocessor's transforms and STREAMING_IMPUTE paths do.

If gcc is missing, compilation fails, or the load-time PCG self-check
fails, ``AVAILABLE`` stays False and forest.py silently keeps the pure
Python path (set ``RCF_FORCE_PY=1`` to force that path explicitly —
the parity tests do).

Reference semantics unchanged: tree/RandomCutTree.java:251-458 (insert/
delete walks), CompactSampler.java:143-175 (ramp accept, replace-max).
"""

from __future__ import annotations

import ctypes
import hashlib
import os
import subprocess
import tempfile

import numpy as np

_C_SOURCE = r"""
#include <stdint.h>
#include <math.h>
#include <stdlib.h>

typedef unsigned __int128 u128;

static inline uint64_t rotr64(uint64_t v, unsigned r) {
    r &= 63u;
    return r ? (v >> r) | (v << (64u - r)) : v;
}

/* numpy PCG64 (setseq_128 XSL-RR): advance then output from NEW state */
static inline double pcg_next_double(u128 *state, u128 inc) {
    const u128 MULT = (((u128)0x2360ed051fc65da4ULL) << 64)
                      | (u128)0x4385df649fccf645ULL;
    *state = *state * MULT + inc;
    uint64_t hi = (uint64_t)(*state >> 64);
    uint64_t lo = (uint64_t)(*state);
    uint64_t out = rotr64(hi ^ lo, (unsigned)(*state >> 122));
    return (double)(out >> 11) * (1.0 / 9007199254740992.0);
}

/* exported for the load-time self check against numpy */
void pcg_selftest(uint64_t s_hi, uint64_t s_lo, uint64_t i_hi, uint64_t i_lo,
                  int n, double *out) {
    u128 st = (((u128)s_hi) << 64) | s_lo;
    u128 inc = (((u128)i_hi) << 64) | i_lo;
    for (int k = 0; k < n; k++) out[k] = pcg_next_double(&st, inc);
}

typedef struct {
    int32_t *parent, *left, *right, *cutdim, *mass, *freelist;
    float *cutval, *bbmin, *bbmax;
    int32_t root, freetop;
    int N, d;
    u128 pcg_state, pcg_inc;
    /* scratch, sized by caller */
    int32_t *stk_node, *stk_sib;
    double *bmin, *bmax, *smin, *smax, *los, *gaps;
    unsigned char *outf;
} Tree;

static inline int t_alloc(Tree *t) {
    t->freetop -= 1;
    return t->freelist[t->freetop];
}

static inline void t_free(Tree *t, int n) {
    t->freelist[t->freetop] = n;
    t->freetop += 1;
    t->cutdim[n] = -1;
    t->parent[n] = -1;
    t->left[n] = -1;
    t->right[n] = -1;
    t->mass[n] = 0;
}

static inline int t_new_leaf(Tree *t, const double *x) {
    int n = t_alloc(t);
    t->cutdim[n] = -1;
    t->mass[n] = 1;
    for (int i = 0; i < t->d; i++) {
        t->bbmin[(size_t)n * t->d + i] = (float)x[i];
        t->bbmax[(size_t)n * t->d + i] = (float)x[i];
    }
    t->left[n] = -1;
    t->right[n] = -1;
    t->parent[n] = -1;
    return n;
}

/* tree/RandomCutTree.java:251-348 semantics, transcribed from
   forest.py _TreeOps.insert — every quantization point preserved */
static int t_insert(Tree *t, const double *x) {
    const int d = t->d;
    if (t->root == -1) {
        int leaf = t_new_leaf(t, x);
        t->root = leaf;
        return leaf;
    }
    /* descend, recording (node, sibling) from root down */
    int node = t->root;
    int depth = 0;
    t->stk_node[0] = node;
    t->stk_sib[0] = -1;
    int cd = t->cutdim[node];
    while (cd >= 0) {
        int nxt, sib;
        if (x[cd] <= (double)t->cutval[node]) {
            nxt = t->left[node];
            sib = t->right[node];
        } else {
            nxt = t->right[node];
            sib = t->left[node];
        }
        depth++;
        t->stk_node[depth] = nxt;
        t->stk_sib[depth] = sib;
        node = nxt;
        cd = t->cutdim[node];
    }
    int leaf = node;
    const float *lp = t->bbmin + (size_t)leaf * d;

    int dup = 1;
    for (int i = 0; i < d; i++)
        if (x[i] != (double)lp[i]) { dup = 0; break; }
    if (dup) { /* duplicate => leaf-mass bump along the path */
        t->mass[leaf] += 1;
        for (int i = depth - 1; i >= 0; i--) t->mass[t->stk_node[i]] += 1;
        return leaf;
    }

    /* bottom-up: propose a cut on box∪x per level, keep deepest
       separating one; box∪x stats maintained incrementally */
    for (int i = 0; i < d; i++) {
        t->bmin[i] = (double)lp[i];
        t->bmax[i] = (double)lp[i];
    }
    int idx = depth;
    int cur = leaf, sibling = t->stk_sib[idx];
    int par = idx >= 1 ? t->stk_node[idx - 1] : -1;
    int saved_node = leaf, saved_parent = par, saved_dim = -1;
    double saved_val = 0.0;
    for (int i = 0; i < d; i++) { t->smin[i] = t->bmin[i]; t->smax[i] = t->bmax[i]; }
    double total = 0.0;
    int outside = 0;
    for (int i = 0; i < d; i++) {
        double xi = x[i], lpi = (double)lp[i], g;
        if (xi < lpi) { t->los[i] = xi; g = lpi - xi; }
        else { t->los[i] = lpi; g = xi - lpi; }
        t->gaps[i] = g;
        total += g;
        if (g > 0.0) { t->outf[i] = 1; outside++; } else t->outf[i] = 0;
    }
    for (;;) {
        double factor = pcg_next_double(&t->pcg_state, t->pcg_inc);
        double bp = factor * total;
        int dim = -1;
        double value = 0.0, acc = 0.0;
        for (int i = 0; i < d; i++) {
            double g = t->gaps[i];
            if (g > 0.0 && bp <= acc + g) {
                dim = i;
                double lo = t->los[i];
                value = (double)(float)(lo + (bp - acc)); /* _f32 quantize */
                if (value >= lo + g)
                    value = (double)nextafterf((float)(lo + g), (float)lo);
                break;
            }
            acc += g;
        }
        if (dim == -1) { /* float fallback: first nonzero-gap dim */
            for (int i = 0; i < d; i++)
                if (t->gaps[i] > 0.0) {
                    dim = i;
                    double lo = t->los[i];
                    value = (double)nextafterf((float)(lo + t->gaps[i]), (float)lo);
                    break;
                }
        }
        /* separation / save deepest */
        if ((x[dim] <= value && value < t->bmin[dim]) ||
            (x[dim] > value && value >= t->bmax[dim])) {
            saved_dim = dim;
            saved_val = value;
            saved_node = cur;
            saved_parent = par;
            for (int i = 0; i < d; i++) { t->smin[i] = t->bmin[i]; t->smax[i] = t->bmax[i]; }
        }
        if (outside == 0 || par == -1) break;
        /* grow to parent's subtree box by merging the sibling box */
        const float *sbmin = t->bbmin + (size_t)sibling * d;
        const float *sbmax = t->bbmax + (size_t)sibling * d;
        for (int i = 0; i < d; i++) {
            int changed = 0;
            double sm = (double)sbmin[i];
            if (sm < t->bmin[i]) {
                t->bmin[i] = sm;
                if (sm < t->los[i]) {
                    total += t->los[i] - sm;
                    t->gaps[i] += t->los[i] - sm;
                    t->los[i] = sm;
                }
                changed = 1;
            }
            double sM = (double)sbmax[i];
            if (sM > t->bmax[i]) {
                double hi_old = t->los[i] + t->gaps[i];
                if (sM > hi_old) {
                    total += sM - hi_old;
                    t->gaps[i] += sM - hi_old;
                }
                t->bmax[i] = sM;
                changed = 1;
            }
            if (changed && t->outf[i] && t->bmin[i] <= x[i] && x[i] <= t->bmax[i]) {
                t->outf[i] = 0;
                outside--;
            }
        }
        idx -= 1;
        cur = t->stk_node[idx];
        sibling = t->stk_sib[idx];
        par = idx >= 1 ? t->stk_node[idx - 1] : -1;
    }

    /* split: new internal m replaces saved_node */
    int nl = t_new_leaf(t, x);
    int m = t_alloc(t);
    if (x[saved_dim] <= saved_val) { t->left[m] = nl; t->right[m] = saved_node; }
    else { t->left[m] = saved_node; t->right[m] = nl; }
    t->cutdim[m] = saved_dim;
    t->cutval[m] = (float)saved_val;
    t->mass[m] = t->mass[saved_node] + 1;
    for (int i = 0; i < d; i++) {
        t->bbmin[(size_t)m * d + i] =
            (float)(t->smin[i] <= x[i] ? t->smin[i] : x[i]);
        t->bbmax[(size_t)m * d + i] =
            (float)(t->smax[i] >= x[i] ? t->smax[i] : x[i]);
    }
    t->parent[nl] = m;
    t->parent[saved_node] = m;
    t->parent[m] = saved_parent;
    if (saved_parent == -1) t->root = m;
    else if (t->left[saved_parent] == saved_node) t->left[saved_parent] = m;
    else t->right[saved_parent] = m;
    int a = saved_parent;
    int boxes_live = 1;
    while (a != -1) { /* ancestors: +1 mass, grow boxes, early exit */
        t->mass[a] += 1;
        if (boxes_live) {
            float *bna = t->bbmin + (size_t)a * d;
            float *bxa = t->bbmax + (size_t)a * d;
            int grown = 0;
            for (int i = 0; i < d; i++) {
                double xi = x[i];
                if (xi < (double)bna[i]) { bna[i] = (float)xi; grown = 1; }
                else if (xi > (double)bxa[i]) { bxa[i] = (float)xi; grown = 1; }
            }
            boxes_live = grown;
        }
        a = t->parent[a];
    }
    return nl;
}

/* tree/RandomCutTree.java:403-458 semantics */
static void t_delete(Tree *t, int leaf) {
    const int d = t->d;
    if (t->mass[leaf] > 1) {
        int a = leaf;
        while (a != -1) { t->mass[a] -= 1; a = t->parent[a]; }
        return;
    }
    int p = t->parent[leaf];
    if (p == -1) {
        t->root = -1;
        t_free(t, leaf);
        return;
    }
    int sib = t->left[p] == leaf ? t->right[p] : t->left[p];
    int g = t->parent[p];
    t->parent[sib] = g;
    if (g == -1) t->root = sib;
    else if (t->left[g] == p) t->left[g] = sib;
    else t->right[g] = sib;
    t_free(t, leaf);
    t_free(t, p);
    int a = g;
    int boxes_live = 1;
    while (a != -1) { /* shrink ancestor boxes bottom-up, early exit */
        t->mass[a] -= 1;
        if (boxes_live) {
            int ln = t->left[a], rn = t->right[a];
            const float *lmin = t->bbmin + (size_t)ln * d;
            const float *rmin = t->bbmin + (size_t)rn * d;
            const float *lmax = t->bbmax + (size_t)ln * d;
            const float *rmax = t->bbmax + (size_t)rn * d;
            float *ba = t->bbmin + (size_t)a * d;
            float *bxa = t->bbmax + (size_t)a * d;
            int changed = 0;
            for (int i = 0; i < d; i++) {
                double lv = (double)lmin[i], rv = (double)rmin[i];
                double nv = lv <= rv ? lv : rv;
                if (nv != (double)ba[i]) { ba[i] = (float)nv; changed = 1; }
                lv = (double)lmax[i]; rv = (double)rmax[i];
                nv = lv >= rv ? lv : rv;
                if (nv != (double)bxa[i]) { bxa[i] = (float)nv; changed = 1; }
            }
            boxes_live = changed;
        }
        a = t->parent[a];
    }
}

/* numpy pairwise_sum_DOUBLE over float32 input (the exact reduction
   order of gaps.sum(1, dtype=float64) — verified empirically for
   n = 1..1000); bit-exactness of the score walk depends on this */
static double pw_sum_f32(const float *a, long n) {
    if (n < 8) {
        double r = 0.0;
        for (long i = 0; i < n; i++) r += (double)a[i];
        return r;
    } else if (n <= 128) {
        double r[8];
        for (int j = 0; j < 8; j++) r[j] = (double)a[j];
        long i = 8;
        for (; i < n - (n % 8); i += 8)
            for (int j = 0; j < 8; j++) r[j] += (double)a[i + j];
        double res = ((r[0] + r[1]) + (r[2] + r[3]))
                   + ((r[4] + r[5]) + (r[6] + r[7]));
        for (; i < n; i++) res += (double)a[i];
        return res;
    } else {
        long n2 = n / 2;
        n2 -= n2 % 8;
        return pw_sum_f32(a, n2) + pw_sum_f32(a + n2, n - n2);
    }
}

/* forest.py _score_lanes, default kernels only (CommonUtils.java:148-181
   formulas): per-lane root-to-leaf descent + leaf-to-root gap walk.
   log2 is table-driven (log2tab[k] = numpy log2(k), masses are ints
   <= K) and the 2d-gap sum replicates numpy's pairwise order, so every
   double matches the vectorized Python path bit-for-bit. */
void rcf_score_lanes(
    int64_t L, int N, int d,
    const int32_t *cutdim, const float *cutval,
    const int32_t *left, const int32_t *right, const int32_t *parent,
    const float *bbmin, const float *bbmax, const int32_t *mass,
    const int32_t *root, const float *X,
    const int64_t *qs, const int64_t *ts,
    const double *rsum, const double *log2tab, const double *tm_all,
    double tiny, double *out)
{
    float *gbuf = (float *)malloc(sizeof(float) * (size_t)(2 * d));
    for (int64_t l = 0; l < L; l++) {
        int64_t q = qs[l];
        int t = (int)ts[l];
        size_t base = (size_t)t * N;
        const float *xq = X + (size_t)q * d;
        size_t a = base + (size_t)root[t];
        long depth = 0;
        while (cutdim[a] >= 0) {
            float xv = xq[cutdim[a]];
            int child = xv > cutval[a] ? right[a] : left[a];
            a = base + (size_t)child;
            depth++;
        }
        const float *lp = bbmin + a * d;
        int eq = 1;
        for (int i = 0; i < d; i++)
            if (xq[i] != lp[i]) { eq = 0; break; }
        double lm = (double)mass[a];
        double dd = (double)depth;
        double tm = tm_all[t];
        double score;
        if (eq) {
            double dampv = 1.0 - lm / (2.0 * (tm >= 1.0 ? tm : 1.0));
            score = dampv * (1.0 / (dd + log2tab[(long)lm + 1]));
        } else {
            score = 1.0 / (dd + 1.0);
            double d64 = dd - 1.0;
            int up = parent[a];
            while (up >= 0) {
                size_t an = base + (size_t)up;
                const float *bn = bbmin + an * d;
                const float *bx = bbmax + an * d;
                for (int i = 0; i < d; i++) {
                    float g = bn[i] - xq[i];
                    gbuf[i] = g > 0.0f ? g : 0.0f;
                }
                for (int i = 0; i < d; i++) {
                    float g = xq[i] - bx[i];
                    gbuf[d + i] = g > 0.0f ? g : 0.0f;
                }
                double dlt = pw_sum_f32(gbuf, 2 * (long)d);
                double newr = rsum[an] + dlt;
                double p = 0.0;
                if (newr > 0.0) p = dlt / (newr > tiny ? newr : tiny);
                if (!(p > 0.0)) break; /* inside the box: ancestors too */
                double unseen = 1.0 / (d64 + 1.0);
                score = p * unseen + (1.0 - p) * score;
                d64 -= 1.0;
                up = parent[an];
            }
        }
        out[l] = score * log2tab[(long)tm + 1];
    }
    free(gbuf);
}

/* numpy pairwise_sum_DOUBLE over float64 input — same block structure as
   pw_sum_f32 (n<8 sequential / <=128 8-accumulator / recursive split),
   verified bit-identical to ndarray.sum(axis=1) for n = 1..1000 */
static double pw_sum_f64(const double *a, long n) {
    if (n < 8) {
        double r = 0.0;
        for (long i = 0; i < n; i++) r += a[i];
        return r;
    } else if (n <= 128) {
        double r[8];
        for (int j = 0; j < 8; j++) r[j] = a[j];
        long i = 8;
        for (; i < n - (n % 8); i += 8)
            for (int j = 0; j < 8; j++) r[j] += a[i + j];
        double res = ((r[0] + r[1]) + (r[2] + r[3]))
                   + ((r[4] + r[5]) + (r[6] + r[7]));
        for (; i < n; i++) res += a[i];
        return res;
    } else {
        long n2 = n / 2;
        n2 -= n2 % 8;
        return pw_sum_f64(a, n2) + pw_sum_f64(a + n2, n - n2);
    }
}

/* forest.py RCFForest.attribution, default kernels only: per-lane
   DiVector walk (AnomalyAttributionVisitor.java:34,
   AbstractAttributionVisitor.java:118-167). Unlike the score walk the
   numpy path computes directional gaps in FLOAT64 (X32.astype(float64)
   minus float32 boxes), so every gap here is double arithmetic and the
   d-length reductions go through pw_sum_f64. hi_out/lo_out are [Q,d]
   zeroed by the caller; lanes accumulate in order (np.add.at order) and
   the caller divides by T (or the per-row accepted count). */
void rcf_attribution_lanes(
    int64_t L, int N, int d,
    const int32_t *cutdim, const float *cutval,
    const int32_t *left, const int32_t *right, const int32_t *parent,
    const float *bbmin, const float *bbmax, const int32_t *mass,
    const int32_t *root, const float *X,
    const int64_t *qs, const int64_t *ts,
    const double *rsum, const double *log2tab, const double *tm_all,
    double tiny, double *hi_out, double *lo_out)
{
    double *scr = (double *)malloc(sizeof(double) * (size_t)d * 8);
    double *x64 = scr;
    double *dh = scr + d;
    double *dl = scr + 2 * (size_t)d;
    double *tmp = scr + 3 * (size_t)d;
    double *smin = scr + 4 * (size_t)d;
    double *smax = scr + 5 * (size_t)d;
    double *h = scr + 6 * (size_t)d;
    double *lv = scr + 7 * (size_t)d;
    for (int64_t lane = 0; lane < L; lane++) {
        int64_t q = qs[lane];
        int t = (int)ts[lane];
        size_t base = (size_t)t * N;
        const float *xq = X + (size_t)q * d;
        for (int i = 0; i < d; i++) x64[i] = (double)xq[i];
        size_t a = base + (size_t)root[t];
        long depth = 0;
        while (cutdim[a] >= 0) {
            float xv = xq[cutdim[a]];
            int child = xv > cutval[a] ? right[a] : left[a];
            a = base + (size_t)child;
            depth++;
        }
        const float *lp = bbmin + a * d;
        for (int i = 0; i < d; i++) {
            double g = x64[i] - (double)lp[i];
            dh[i] = g > 0.0 ? g : 0.0;
            g = (double)lp[i] - x64[i];
            dl[i] = g > 0.0 ? g : 0.0;
            tmp[i] = dh[i] + dl[i];
        }
        double sumnew = pw_sum_f64(tmp, d);
        int eq = sumnew <= 0.0;
        double lm = (double)mass[a];
        double dd = (double)depth;
        double tm = tm_all[t];
        double saved;
        if (eq) {
            double dampv = 1.0 - lm / (2.0 * (tm >= 1.0 ? tm : 1.0));
            saved = dampv * (1.0 / (dd + log2tab[(long)lm + 1]));
            double v = saved / (double)(2 * d);
            for (int i = 0; i < d; i++) { h[i] = v; lv[i] = v; }
        } else {
            saved = 1.0 / (dd + 1.0);
            for (int i = 0; i < d; i++) {
                h[i] = saved * dh[i] / sumnew;
                lv[i] = saved * dl[i] / sumnew;
            }
        }
        if (eq) {
            /* duplicate leaf: counterfactual shadow-box walk
               (hitDuplicates path) + DiVector renormalize */
            long pa = parent[a];
            if (pa >= 0) {
                double walkd = dd - 1.0;
                int first = 1;
                for (;;) {
                    size_t pan = base + (size_t)pa;
                    int cdp = cutdim[pan];
                    int go_left = x64[cdp] <= (double)cutval[pan];
                    long sib = go_left ? right[pan] : left[pan];
                    const float *sbn = bbmin + (base + (size_t)sib) * d;
                    const float *sbx = bbmax + (base + (size_t)sib) * d;
                    if (first) {
                        for (int i = 0; i < d; i++) {
                            smin[i] = (double)sbn[i];
                            smax[i] = (double)sbx[i];
                        }
                        first = 0;
                    } else {
                        for (int i = 0; i < d; i++) {
                            double v = (double)sbn[i];
                            if (v < smin[i]) smin[i] = v;
                            v = (double)sbx[i];
                            if (v > smax[i]) smax[i] = v;
                        }
                    }
                    for (int i = 0; i < d; i++) {
                        double g = x64[i] - smax[i];
                        dh[i] = g > 0.0 ? g : 0.0;
                        g = smin[i] - x64[i];
                        dl[i] = g > 0.0 ? g : 0.0;
                        double hi2 = smax[i] >= x64[i] ? smax[i] : x64[i];
                        double lo2 = smin[i] <= x64[i] ? smin[i] : x64[i];
                        tmp[i] = hi2 - lo2;
                    }
                    double new_sum = pw_sum_f64(tmp, d);
                    for (int i = 0; i < d; i++) tmp[i] = dh[i] + dl[i];
                    double dlt = pw_sum_f64(tmp, d);
                    double safe = new_sum > tiny ? new_sum : tiny;
                    double p = new_sum > 0.0 ? dlt / safe : 0.0;
                    int pos = p > 0.0;
                    if (pos) {
                        double ns = 1.0 / (walkd + 1.0);
                        for (int i = 0; i < d; i++) {
                            h[i] = (dh[i] / safe) * ns + (1.0 - p) * h[i];
                            lv[i] = (dl[i] / safe) * ns + (1.0 - p) * lv[i];
                        }
                    }
                    long nxt = parent[pan];
                    walkd -= 1.0;
                    if (!(pos && nxt >= 0)) break;
                    pa = nxt;
                }
                double tot = pw_sum_f64(h, d) + pw_sum_f64(lv, d);
                double scale =
                    tot > 0.0 ? saved / (tot > 1e-300 ? tot : 1e-300) : 1.0;
                for (int i = 0; i < d; i++) { h[i] *= scale; lv[i] *= scale; }
            }
        } else {
            /* leaf-to-root probability mix (unseen path) */
            long up = parent[a];
            double walkd = dd - 1.0;
            while (up >= 0) {
                size_t an = base + (size_t)up;
                const float *bn = bbmin + an * d;
                const float *bx = bbmax + an * d;
                for (int i = 0; i < d; i++) {
                    double g = x64[i] - (double)bx[i];
                    dh[i] = g > 0.0 ? g : 0.0;
                    g = (double)bn[i] - x64[i];
                    dl[i] = g > 0.0 ? g : 0.0;
                    tmp[i] = dh[i] + dl[i];
                }
                double dlt = pw_sum_f64(tmp, d);
                double newr = rsum[an] + dlt;
                double safe = newr > tiny ? newr : tiny;
                double p = newr > 0.0 ? dlt / safe : 0.0;
                if (!(p > 0.0)) break;
                double ns = 1.0 / (walkd + 1.0);
                for (int i = 0; i < d; i++) {
                    h[i] = (dh[i] / safe) * ns + (1.0 - p) * h[i];
                    lv[i] = (dl[i] / safe) * ns + (1.0 - p) * lv[i];
                }
                up = parent[an];
                walkd -= 1.0;
            }
        }
        double ltm = log2tab[(long)tm + 1];
        double *ho = hi_out + (size_t)q * d;
        double *lo = lo_out + (size_t)q * d;
        for (int i = 0; i < d; i++) {
            ho[i] += h[i] * ltm;
            lo[i] += lv[i] * ltm;
        }
    }
    free(scr);
}

/* core/queries.py density(), the per-lane part: descent + leaf
   interpolation + upward probability mix maintaining SIX per-dim
   accumulators (prob/measure/distance, high+low) — the
   SimpleInterpolationVisitor walk that prices the DISTANCE scoring
   strategy. Transcribes the numpy path exactly: float64 gaps from
   float32 boxes, float32-subtracted ranges promoted to double,
   pairwise-f64 row sums, update order pr + (1-p)*acc. Equal-leaf lanes
   freeze at the leaf values (the documented plain-box simplification —
   no shadow walk here). Outputs accumulate into [Q,d] buffers in lane
   order (np.add.at order); the caller divides by T. */
void rcf_density_lanes(
    int64_t L, int N, int d,
    const int32_t *cutdim, const float *cutval,
    const int32_t *left, const int32_t *right, const int32_t *parent,
    const float *bbmin, const float *bbmax, const int32_t *mass,
    const int32_t *root, const float *X,
    const int64_t *qs, const int64_t *ts,
    double *ph_out, double *pl_out, double *mh_out, double *ml_out,
    double *dh_out, double *dl_out)
{
    double *scr = (double *)malloc(sizeof(double) * (size_t)d * 11);
    double *x64 = scr;
    double *mg = scr + d;
    double *ng = scr + 2 * (size_t)d;
    double *rs = scr + 3 * (size_t)d;
    double *tmp = scr + 4 * (size_t)d;
    double *ph = scr + 5 * (size_t)d;
    double *pl = scr + 6 * (size_t)d;
    double *mh = scr + 7 * (size_t)d;
    double *ml = scr + 8 * (size_t)d;
    double *dh = scr + 9 * (size_t)d;
    double *dl = scr + 10 * (size_t)d;
    for (int64_t lane = 0; lane < L; lane++) {
        int64_t q = qs[lane];
        int t = (int)ts[lane];
        size_t base = (size_t)t * N;
        const float *xq = X + (size_t)q * d;
        for (int i = 0; i < d; i++) x64[i] = (double)xq[i];
        size_t a = base + (size_t)root[t];
        while (cutdim[a] >= 0) {
            float xv = xq[cutdim[a]];
            int child = xv <= cutval[a] ? left[a] : right[a];
            a = base + (size_t)child;
        }
        const float *lp = bbmin + a * d;
        for (int i = 0; i < d; i++) {
            double g = x64[i] - (double)lp[i];
            mg[i] = g > 0.0 ? g : 0.0;
            g = (double)lp[i] - x64[i];
            ng[i] = g > 0.0 ? g : 0.0;
            tmp[i] = mg[i] + ng[i];
        }
        double sumdiff = pw_sum_f64(tmp, d);
        int eq = sumdiff <= 0.0;
        double lm = (double)mass[a];
        double fld = lm + 1.0;
        if (eq) {
            double pv = 0.5 / (double)d;
            double mv = 0.5 * fld / (double)d;
            for (int i = 0; i < d; i++) {
                ph[i] = pv; pl[i] = pv;
                mh[i] = mv; ml[i] = mv;
                dh[i] = 0.0; dl[i] = 0.0;
            }
        } else {
            for (int i = 0; i < d; i++) {
                double prh = mg[i] / sumdiff;
                double prl = ng[i] / sumdiff;
                ph[i] = prh; pl[i] = prl;
                mh[i] = prh * fld; ml[i] = prl * fld;
                dh[i] = prh * mg[i]; dl[i] = prl * ng[i];
            }
            long up = parent[a];
            while (up >= 0) {
                size_t an = base + (size_t)up;
                const float *bn = bbmin + an * d;
                const float *bx = bbmax + an * d;
                for (int i = 0; i < d; i++) {
                    double g = x64[i] - (double)bx[i];
                    mg[i] = g > 0.0 ? g : 0.0;
                    g = (double)bn[i] - x64[i];
                    ng[i] = g > 0.0 ? g : 0.0;
                    rs[i] = (double)(bx[i] - bn[i]);
                    tmp[i] = mg[i] + ng[i];
                }
                double sdiff = pw_sum_f64(tmp, d);
                double snew = pw_sum_f64(rs, d) + sdiff;
                double p = 0.0;
                if (snew > 0.0)
                    p = sdiff / (snew > 1e-300 ? snew : 1e-300);
                if (!(p > 0.0)) break;
                double m = (double)mass[an];
                double f = m + 1.0;
                double one_m = 1.0 - p;
                for (int i = 0; i < d; i++) {
                    double prh = mg[i] / snew;
                    double prl = ng[i] / snew;
                    double ddh = mg[i] > 0.0 ? mg[i] + rs[i] : 0.0;
                    double ddl = ng[i] > 0.0 ? ng[i] + rs[i] : 0.0;
                    ph[i] = prh + one_m * ph[i];
                    pl[i] = prl + one_m * pl[i];
                    mh[i] = prh * f + one_m * mh[i];
                    ml[i] = prl * f + one_m * ml[i];
                    dh[i] = prh * ddh + one_m * dh[i];
                    dl[i] = prl * ddl + one_m * dl[i];
                }
                up = parent[an];
            }
        }
        double *o;
        o = ph_out + (size_t)q * d; for (int i = 0; i < d; i++) o[i] += ph[i];
        o = pl_out + (size_t)q * d; for (int i = 0; i < d; i++) o[i] += pl[i];
        o = mh_out + (size_t)q * d; for (int i = 0; i < d; i++) o[i] += mh[i];
        o = ml_out + (size_t)q * d; for (int i = 0; i < d; i++) o[i] += ml[i];
        o = dh_out + (size_t)q * d; for (int i = 0; i < d; i++) o[i] += dh[i];
        o = dl_out + (size_t)q * d; for (int i = 0; i < d; i++) o[i] += dl[i];
    }
    free(scr);
}

/* forest.py _update_tree: ramp-accept fill, then replace-max steady state */
void rcf_update_batch(
    int T, int N, int K, int d, int B,
    int32_t *parent, int32_t *left, int32_t *right, int32_t *cutdim,
    float *cutval, int32_t *mass, float *bbmin, float *bbmax,
    int32_t *root, int32_t *freelist, int32_t *freetop,
    double *sweight, int32_t *sleaf, int64_t *sseq, int32_t *ssize,
    uint64_t *rs_hi, uint64_t *rs_lo, uint64_t *ri_hi, uint64_t *ri_lo,
    const double *X, const int64_t *seqs,
    const double *W, const double *IU, double f_init)
{
    int32_t *stk_node = (int32_t *)malloc(sizeof(int32_t) * (size_t)N);
    int32_t *stk_sib = (int32_t *)malloc(sizeof(int32_t) * (size_t)N);
    double *scr = (double *)malloc(sizeof(double) * (size_t)d * 6);
    unsigned char *outf = (unsigned char *)malloc((size_t)d);

    for (int tt = 0; tt < T; tt++) {
        Tree tr;
        size_t nb = (size_t)tt * N;
        tr.parent = parent + nb;
        tr.left = left + nb;
        tr.right = right + nb;
        tr.cutdim = cutdim + nb;
        tr.mass = mass + nb;
        tr.freelist = freelist + nb;
        tr.cutval = cutval + nb;
        tr.bbmin = bbmin + nb * d;
        tr.bbmax = bbmax + nb * d;
        tr.root = root[tt];
        tr.freetop = freetop[tt];
        tr.N = N;
        tr.d = d;
        tr.pcg_state = (((u128)rs_hi[tt]) << 64) | rs_lo[tt];
        tr.pcg_inc = (((u128)ri_hi[tt]) << 64) | ri_lo[tt];
        tr.stk_node = stk_node;
        tr.stk_sib = stk_sib;
        tr.bmin = scr;
        tr.bmax = scr + d;
        tr.smin = scr + 2 * (size_t)d;
        tr.smax = scr + 3 * (size_t)d;
        tr.los = scr + 4 * (size_t)d;
        tr.gaps = scr + 5 * (size_t)d;
        tr.outf = outf;

        double *sw = sweight + (size_t)tt * K;
        int32_t *sl = sleaf + (size_t)tt * K;
        int64_t *sq = sseq + (size_t)tt * K;
        const double *w = W + (size_t)tt * B;
        const double *iu = IU + (size_t)tt * B;
        int size = ssize[tt];
        int i = 0;

        /* fill phase (initial accept ramp, CompactSampler.java:143-159) */
        while (size < K && i < B) {
            int accept;
            if (f_init >= 1.0 || (double)size < f_init * (double)K) {
                accept = 1;
            } else {
                double ramp =
                    1.0 - ((double)size / (double)K - f_init) / (1.0 - f_init);
                accept = iu[i] < ramp;
                if (!accept && size > 0) {
                    double mx = sw[0];
                    for (int k = 1; k < size; k++) if (sw[k] > mx) mx = sw[k];
                    accept = w[i] < mx;
                }
            }
            if (accept) {
                int leaf = t_insert(&tr, X + (size_t)i * d);
                sw[size] = w[i];
                sl[size] = leaf;
                sq[size] = seqs[i];
                size++;
            }
            i++;
        }
        ssize[tt] = size;
        if (i < B) {
            /* steady state: replace-max (argmax keeps first maximum) */
            int mx_slot = 0;
            for (int k = 1; k < K; k++) if (sw[k] > sw[mx_slot]) mx_slot = k;
            double mx = sw[mx_slot];
            for (int j = i; j < B; j++) {
                double wj = w[j];
                if (wj >= mx) continue;
                t_delete(&tr, sl[mx_slot]);
                int leaf = t_insert(&tr, X + (size_t)j * d);
                sw[mx_slot] = wj;
                sl[mx_slot] = leaf;
                sq[mx_slot] = seqs[j];
                mx_slot = 0;
                for (int k = 1; k < K; k++) if (sw[k] > sw[mx_slot]) mx_slot = k;
                mx = sw[mx_slot];
            }
        }

        root[tt] = tr.root;
        freetop[tt] = tr.freetop;
        rs_hi[tt] = (uint64_t)(tr.pcg_state >> 64);
        rs_lo[tt] = (uint64_t)tr.pcg_state;
    }
    free(stk_node);
    free(stk_sib);
    free(scr);
    free(outf);
}
"""


def _build() -> str | None:
    """Compile the kernel into a content-addressed cached .so; atomic
    rename makes concurrent builds (Spark python workers on one box)
    race-free — last writer wins with identical bytes."""
    h = hashlib.blake2b(_C_SOURCE.encode(), digest_size=10).hexdigest()
    so_path = os.path.join(tempfile.gettempdir(), f"rcf_ckernel_{h}.so")
    if os.path.exists(so_path):
        return so_path
    try:
        with tempfile.TemporaryDirectory() as td:
            src = os.path.join(td, "kernel.c")
            out = os.path.join(td, "kernel.so")
            with open(src, "w") as fh:
                fh.write(_C_SOURCE)
            subprocess.run(
                ["gcc", "-O2", "-shared", "-fPIC", "-o", out, src, "-lm"],
                check=True, capture_output=True, timeout=120,
            )
            import shutil

            tmp_final = so_path + f".tmp{os.getpid()}"
            shutil.copyfile(out, tmp_final)
            os.replace(tmp_final, so_path)
        return so_path
    except Exception:
        return None


def _load():
    so = _build()
    if so is None:
        return None
    try:
        lib = ctypes.CDLL(so)
    except OSError:
        return None
    i32p = ctypes.POINTER(ctypes.c_int32)
    i64p = ctypes.POINTER(ctypes.c_int64)
    f32p = ctypes.POINTER(ctypes.c_float)
    f64p = ctypes.POINTER(ctypes.c_double)
    u64p = ctypes.POINTER(ctypes.c_uint64)
    lib.rcf_update_batch.restype = None
    lib.rcf_update_batch.argtypes = [
        ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_int, ctypes.c_int,
        i32p, i32p, i32p, i32p, f32p, i32p, f32p, f32p,
        i32p, i32p, i32p,
        f64p, i32p, i64p, i32p,
        u64p, u64p, u64p, u64p,
        f64p, i64p, f64p, f64p, ctypes.c_double,
    ]
    # (L, N, d, the eight flat forest arrays, root, X32, qs, ts): the
    # argument prefix every lane walk shares (_lane_args)
    lane = [
        ctypes.c_int64, ctypes.c_int, ctypes.c_int,
        i32p, f32p, i32p, i32p, i32p, f32p, f32p, i32p,
        i32p, f32p, i64p, i64p,
    ]
    lib.rcf_score_lanes.restype = None
    lib.rcf_score_lanes.argtypes = lane + [
        f64p, f64p, f64p, ctypes.c_double, f64p,
    ]
    lib.rcf_attribution_lanes.restype = None
    lib.rcf_attribution_lanes.argtypes = lane + [
        f64p, f64p, f64p, ctypes.c_double, f64p, f64p,
    ]
    lib.rcf_density_lanes.restype = None
    lib.rcf_density_lanes.argtypes = lane + [f64p] * 6
    lib.pcg_selftest.restype = None
    lib.pcg_selftest.argtypes = [
        ctypes.c_uint64, ctypes.c_uint64, ctypes.c_uint64, ctypes.c_uint64,
        ctypes.c_int, f64p,
    ]

    # load-time self check: the C PCG64 must reproduce numpy's stream
    bg = np.random.PCG64(20260817)
    st = bg.state["state"]["state"]
    inc = bg.state["state"]["inc"]
    expect = np.random.Generator(np.random.PCG64(20260817)).random(64)
    got = np.zeros(64)
    mask = (1 << 64) - 1
    lib.pcg_selftest(
        (st >> 64) & mask, st & mask, (inc >> 64) & mask, inc & mask,
        64, got.ctypes.data_as(f64p),
    )
    if not np.array_equal(expect, got):
        return None
    return lib


_LIB = None if os.environ.get("RCF_FORCE_PY") == "1" else _load()
AVAILABLE = _LIB is not None


def _ptr(arr: np.ndarray, ctype):
    return arr.ctypes.data_as(ctypes.POINTER(ctype))


_LOG2TABS: dict[int, np.ndarray] = {}


def _log2tab(K: int) -> np.ndarray:
    """log2tab[k] = np.log2(k) for k = 0..K+1 — the same ufunc loop the
    Python path applies to (mass + 1.0) arrays, so table lookups are
    bit-identical to its np.log2 results (masses are integers <= K)."""
    tab = _LOG2TABS.get(K)
    if tab is None:
        with np.errstate(divide="ignore"):
            tab = np.log2(np.arange(K + 2, dtype=np.float64))
        _LOG2TABS[K] = tab
    return tab


def _lane_args(forest, X32: np.ndarray, qs: np.ndarray, ts: np.ndarray,
               flats: tuple) -> tuple:
    """The argument prefix shared by the three lane walks: lane count,
    forest shape, the eight flat arrays (``RCFForest._flat`` order), the
    roots, the queries and the lanes' (query, tree) indices."""
    cutdim, cutval, left, right, parent, bbmin, bbmax, mass = flats
    c = ctypes
    return (
        len(qs), forest.N, forest.d,
        _ptr(cutdim, c.c_int32), _ptr(cutval, c.c_float),
        _ptr(left, c.c_int32), _ptr(right, c.c_int32),
        _ptr(parent, c.c_int32),
        _ptr(bbmin, c.c_float), _ptr(bbmax, c.c_float),
        _ptr(mass, c.c_int32), _ptr(forest.root, c.c_int32),
        _ptr(X32, c.c_float),
        _ptr(np.ascontiguousarray(qs, np.int64), c.c_int64),
        _ptr(np.ascontiguousarray(ts, np.int64), c.c_int64),
    )


def score_lanes_c(forest, X32: np.ndarray, qs: np.ndarray, ts: np.ndarray,
                  flats: tuple, tm_all: np.ndarray) -> np.ndarray:
    """Default-kernel `_score_lanes` through the C walk; returns the
    normalized per-(query, tree) score vector, bit-identical to the
    vectorized Python path (tests/test_ckernel_parity.py)."""
    bbmin, bbmax = flats[5], flats[6]
    out = np.empty(len(qs))
    if len(qs) == 0:
        return out
    rsum = (bbmax - bbmin).sum(1, dtype=np.float64)
    c = ctypes
    _LIB.rcf_score_lanes(
        *_lane_args(forest, X32, qs, ts, flats),
        _ptr(rsum, c.c_double), _ptr(_log2tab(forest.K), c.c_double),
        _ptr(np.ascontiguousarray(tm_all, np.float64), c.c_double),
        float(np.finfo(np.float32).tiny), _ptr(out, c.c_double),
    )
    return out


def attribution_lanes_c(
    forest, X32: np.ndarray, qs: np.ndarray, ts: np.ndarray,
    flats: tuple, tm_all: np.ndarray, Q: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Default-kernel DiVector attribution through the C walk; returns
    (hi_out[Q,d], lo_out[Q,d]) accumulated over the lane set, BEFORE the
    per-row division (1/T or per-row accepted counts) — bit-identical to
    the vectorized Python path (tests/test_ckernel_parity.py)."""
    bbmin, bbmax = flats[5], flats[6]
    hi_out = np.zeros((Q, forest.d))
    lo_out = np.zeros((Q, forest.d))
    if len(qs) == 0:
        return hi_out, lo_out
    rsum = (bbmax - bbmin).sum(1, dtype=np.float64)
    c = ctypes
    _LIB.rcf_attribution_lanes(
        *_lane_args(forest, X32, qs, ts, flats),
        _ptr(rsum, c.c_double), _ptr(_log2tab(forest.K), c.c_double),
        _ptr(np.ascontiguousarray(tm_all, np.float64), c.c_double),
        float(np.finfo(np.float32).tiny),
        _ptr(hi_out, c.c_double), _ptr(lo_out, c.c_double),
    )
    return hi_out, lo_out


def density_lanes_c(
    forest, X32: np.ndarray, qs: np.ndarray, ts: np.ndarray,
    flats: tuple, Q: int,
) -> dict:
    """Per-lane density walk through C; returns the six [Q,d]
    accumulator arrays (prob/meas/dist × high/low) BEFORE the 1/T
    division — bit-identical to the vectorized Python walk in
    core/queries.density."""
    out = {
        k: np.zeros((Q, forest.d))
        for k in ("prob_high", "prob_low", "meas_high", "meas_low",
                  "dist_high", "dist_low")
    }
    if len(qs) == 0:
        return out
    _LIB.rcf_density_lanes(
        *_lane_args(forest, X32, qs, ts, flats),
        *(_ptr(out[k], ctypes.c_double) for k in out),
    )
    return out


def update_batch_c(forest, X64: np.ndarray, seqs: np.ndarray, W: np.ndarray,
                   IU: np.ndarray) -> None:
    """In-place batch update of every tree through the C kernel. The
    caller (RCFForest.update_batch) precomputes the per-tree log-weights
    W[T,B] and initial-accept uniforms IU[T,B] (pure functions of
    (key, seq), identical to the lazy Python evaluation)."""
    f = forest
    T = f.T
    mask = (1 << 64) - 1
    rs_hi = np.empty(T, np.uint64); rs_lo = np.empty(T, np.uint64)
    ri_hi = np.empty(T, np.uint64); ri_lo = np.empty(T, np.uint64)
    for t, g in enumerate(f._rngs):
        s = g.bit_generator.state["state"]
        rs_hi[t] = (s["state"] >> 64) & mask
        rs_lo[t] = s["state"] & mask
        ri_hi[t] = (s["inc"] >> 64) & mask
        ri_lo[t] = s["inc"] & mask
    c = ctypes
    _LIB.rcf_update_batch(
        T, f.N, f.K, f.d, len(X64),
        _ptr(f.parent, c.c_int32), _ptr(f.left, c.c_int32),
        _ptr(f.right, c.c_int32), _ptr(f.cutdim, c.c_int32),
        _ptr(f.cutval, c.c_float), _ptr(f.mass, c.c_int32),
        _ptr(f.bbmin, c.c_float), _ptr(f.bbmax, c.c_float),
        _ptr(f.root, c.c_int32), _ptr(f.freelist, c.c_int32),
        _ptr(f.freetop, c.c_int32),
        _ptr(f.sweight, c.c_double), _ptr(f.sleaf, c.c_int32),
        _ptr(f.sseq, c.c_int64), _ptr(f.ssize, c.c_int32),
        _ptr(rs_hi, c.c_uint64), _ptr(rs_lo, c.c_uint64),
        _ptr(ri_hi, c.c_uint64), _ptr(ri_lo, c.c_uint64),
        _ptr(X64, c.c_double), _ptr(seqs, c.c_int64),
        _ptr(W, c.c_double), _ptr(IU, c.c_double),
        float(f.initial_accept_fraction),
    )
    for t, g in enumerate(f._rngs):
        st = g.bit_generator.state
        st["state"]["state"] = (int(rs_hi[t]) << 64) | int(rs_lo[t])
        g.bit_generator.state = st
