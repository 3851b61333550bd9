"""Lake et al. analytic CP mean/SD for SampEn confidence intervals.

Implements the conditional-probability estimator and its analytical
standard deviation from Lake, Richman, Griffin & Moorman, "Sample
entropy analysis of neonatal heart rate variability" (Am J Physiol
2002) — the same published algorithm the reference wraps
(eristropy/extras.py:51-191, itself derived from PhysioNet's public
``sampen.c``).  Quantities:

* ``p = A_m / B_m`` — CP that a match of length m extends to m+1
  (``-log p`` is SampEn, cross-checked against kernels/sampen.py),
* ``sd`` — SD of the CP estimate accounting for overlapping-template
  correlation: ``var = p(1-p)/B + max(0, (N2 - N1·p²))/B²`` where N1/N2
  accumulate lag-binned products of per-index match counts with
  run-length overlap corrections.

Unlike the reference's per-i scalar recurrences (extras.py:100-152),
the whole match structure is computed matrix-at-a-time: the sheared
distance matrix ``AD[t, i] = |x[i+t+1] - x[i]|`` is built ONCE per
sequence and compared against every tolerance in the r grid
(``cp_mean_sd_grid``), run lengths along each lag-diagonal fall out of
one ``maximum.accumulate`` (run-ending-at = index − last-nonmatch),
and the per-endpoint match counts are bincounts over the sheared
index grid.  All counts are integers, so the results are bit-identical
to the sequential recurrence — pinned by tests/test_extras.py and the
regression battery in tests/test_kernels.py.

Memory is bounded by processing lag-rows in chunks (the run recurrence
is independent per lag), so a pathological 10^6-token sequence degrades
to streaming passes instead of an O(n^2) allocation.
"""

from __future__ import annotations

import math

import numpy as np

__all__ = ["cp_mean_sd", "cp_mean_sd_grid"]

# cap per-chunk sheared-matrix size at ~2^22 cells (32 MiB float64) so a
# long sequence can't blow out an Arrow-worker's heap
_MAX_CHUNK_CELLS = 1 << 22


def _shared_geometry(x: np.ndarray):
    """Sheared coordinates reused by every r in the grid.

    Row t = lag−1, column i = left endpoint: cell (t, i) is the pair
    (i, j=i+t+1).  Invalid cells (j ≥ n) get distance +inf so every
    ``< r`` comparison excludes them.
    """
    n = x.size
    ncols = n - 1
    i_idx = np.arange(ncols)
    return n, ncols, i_idx


def _chunk_counts(x, n, ncols, i_idx, r_values, mm, t0, t1, acc):
    """Accumulate A/B/F1/F2 (+R1 rows from the first chunk) for lag rows
    [t0, t1) across ALL r values in one pass over the sheared block."""
    ts = np.arange(t0, t1)
    # j index of each cell; invalid where j >= n
    j_idx = ts[:, None] + 1 + i_idx[None, :]
    valid = j_idx < n
    jc = np.minimum(j_idx, n - 1)
    ad = np.where(valid, np.abs(x[jc] - x[i_idx[None, :]]), np.inf)

    col = i_idx[None, :]
    anti_t = np.arange(t0, min(t1, n - 1))  # rows with an anti-diagonal cell
    anti_i = n - 2 - anti_t

    for ri, r in enumerate(r_values):
        match = ad < r
        # run length ending at column i within each lag row:
        # i − (last non-match index ≤ i), 0 where no match
        lastz = np.maximum.accumulate(np.where(~match, col, -1), axis=1)
        run = np.where(match, col - lastz, 0)
        a = acc[ri]
        for o in range(mm):
            hits = run > o
            a["A"][o] += int(hits.sum())
            # pairs whose right endpoint is the last sample (j = n−1)
            a["Blast"][o] += int(hits[anti_t - t0, anti_i].sum())
            a["F1"][o][:ncols] += hits.sum(axis=0)
            # right-endpoint counts: bincount over j = i + t + 1
            hf = hits.ravel()
            a["F2"][o] += np.bincount(j_idx.ravel()[hf], minlength=n + 1)[: n]
        if t0 == 0:
            # R1 rows (lag < lag_window) with the reference's carry-over
            # semantics: R1[i, t] = run ending at (i', i'+t+1), i' = min(i, n−2−t)
            lw = 2 * mm
            lw_eff = min(lw, t1 - t0, ncols)
            R1 = np.zeros((n, lw), dtype=np.int64)
            rows_i = np.arange(n - 1)
            for t in range(lw_eff):
                if t > n - 2:
                    break
                src = np.minimum(rows_i, n - 2 - t)
                R1[: n - 1, t] = run[t, src]
            a["R1"] = R1


def _chunk_counts_hist(x, n, ncols, i_idx, r_values, mm, t0, t1, acc):
    """Same accumulator updates as ``_chunk_counts``, computed for ALL
    r values in one pass instead of one matrix sweep per r.

    Two exact identities make this possible:

    * ``searchsorted`` is monotone, so the per-cell "first matching r
      index" ``ti = searchsorted(rs, ad, 'right')`` satisfies
      {j : ad < rs[j]} == {j : j >= ti} (strict ``< r`` preserved,
      NaN/inf cells get ti = R and match nothing), and
    * ``run(t, i) > o  <=>  max(ad[t, i−o..i]) < r``, and the window
      max of ad maps to the window max of ti — so the o-th order hit
      mask for EVERY r is one integer window-max of ti.

    Counts then fall out of cumulative bincounts over ti (global for
    A, column-keyed for F1, right-endpoint-keyed for F2), all exact
    integers — bit-identical accumulators (equivalence-tested against
    ``_chunk_counts`` across m, ties, NaN and chunking).  The ~|grid|×
    sweep of the per-r path collapses to one searchsorted + mm window
    maxes; per-r work is only the tiny (lw, ncols) R1 recurrence.
    Dispatched for |grid| >= 3 (bincount overhead beats the direct
    compare only once amortized across several r).  ``r_values`` must
    be ascending and NaN-free (``cp_mean_sd_grid`` sorts the grid):
    ``rs[ri]`` is taken to be the (ri+1)-th smallest tolerance."""
    R = len(r_values)
    rs = np.asarray(r_values, dtype=np.float64)
    ts = np.arange(t0, t1)
    j_idx = ts[:, None] + 1 + i_idx[None, :]
    valid = j_idx < n
    jc = np.minimum(j_idx, n - 1)
    ad = np.where(valid, np.abs(x[jc] - x[i_idx[None, :]]), np.inf)

    T = t1 - t0
    ti0 = np.searchsorted(rs, ad.ravel(), side="right").astype(np.int16)
    ti0 = ti0.reshape(T, ncols)

    anti_t = np.arange(t0, min(t1, n - 1))
    anti_rows = anti_t - t0
    anti_cols = n - 2 - anti_t

    # j key clamped to n: invalid cells only ever land in the ti=R
    # column, which no r reads
    jkey = np.minimum(j_idx, n)

    W = ti0
    for o in range(mm):
        if o > 0:
            W = np.maximum(W[:, 1:], ti0[:, : ncols - o])
        cols = np.arange(o, ncols)
        flat = W.ravel()
        cumA = np.cumsum(np.bincount(flat, minlength=R + 1))[:R]
        keyF1 = (cols[None, :] * (R + 1) + W).ravel()
        cumF1 = np.cumsum(
            np.bincount(keyF1, minlength=ncols * (R + 1)).reshape(
                ncols, R + 1
            ),
            axis=1,
        )[:, :R]
        keyF2 = (jkey[:, o:] * (R + 1) + W).ravel()
        cumF2 = np.cumsum(
            np.bincount(keyF2, minlength=(n + 1) * (R + 1)).reshape(
                n + 1, R + 1
            ),
            axis=1,
        )[:n, :R]
        ok = anti_cols >= o
        ati = W[anti_rows[ok], anti_cols[ok] - o]
        cumB = np.cumsum(np.bincount(ati, minlength=R + 1))[:R]
        for ri in range(R):
            a = acc[ri]
            a["A"][o] += int(cumA[ri])
            a["Blast"][o] += int(cumB[ri])
            a["F1"][o][:ncols] += cumF1[:, ri]
            a["F2"][o] += cumF2[:, ri]

    if t0 == 0:
        # R1 needs actual run VALUES for the first lw lag rows — per r,
        # over a tiny (lw, ncols) slice, same recurrence as the per-r path
        lw = 2 * mm
        lw_eff = min(lw, t1 - t0, ncols)
        col = i_idx[None, :]
        rows_i = np.arange(n - 1)
        for ri, r in enumerate(r_values):
            match = ad[:lw_eff] < r
            lastz = np.maximum.accumulate(np.where(~match, col, -1), axis=1)
            run = np.where(match, col - lastz, 0)
            R1 = np.zeros((n, lw), dtype=np.int64)
            for t in range(lw_eff):
                if t > n - 2:
                    break
                src = np.minimum(rows_i, n - 2 - t)
                R1[: n - 1, t] = run[t, src]
            acc[ri]["R1"] = R1


def cp_mean_sd_grid(
    x: np.ndarray, m: int, r_values
) -> list[tuple[float, float]]:
    """[(CP, SD(CP)) at embedding m for each tolerance r] (strict ``< r``).

    One sheared-distance pass is shared by the whole grid — the Spark
    plan calls this once per sequence instead of once per (sequence, r)
    cell, removing the |grid|× Arrow duplication flagged in round 1.
    The grid may come in any order and hold duplicates: it is counted
    ascending (the histogram path needs that) and answered in the
    caller's order.  A NaN tolerance matches nothing, exactly like
    ``-inf``, so it is counted as ``-inf``.
    """
    x = np.ascontiguousarray(x, dtype=np.float64)
    n = int(x.size)
    mm = m + 1
    lw = 2 * mm
    caller_rs = [-math.inf if math.isnan(r) else r for r in map(float, r_values)]
    ascending = sorted(range(len(caller_rs)), key=caller_rs.__getitem__)
    r_values = [caller_rs[k] for k in ascending]
    if n < 2:
        raise ValueError("sequence too short for CP estimation")

    n_, ncols, i_idx = _shared_geometry(x)
    acc = [
        {
            "A": np.zeros(mm, dtype=np.int64),
            "Blast": np.zeros(mm, dtype=np.int64),
            "F1": [np.zeros(n, dtype=np.int64) for _ in range(mm)],
            "F2": [np.zeros(n, dtype=np.int64) for _ in range(mm)],
            "R1": None,
        }
        for _ in r_values
    ]

    chunk_rows = max(lw, _MAX_CHUNK_CELLS // max(ncols, 1))
    # histogram path amortizes its searchsorted/bincount overhead only
    # across several tolerances; the direct compare wins for 1-2 r's
    counts_fn = _chunk_counts_hist if len(r_values) >= 3 else _chunk_counts
    for t0 in range(0, ncols, chunk_rows):
        counts_fn(
            x, n, ncols, i_idx, r_values, mm, t0, min(t0 + chunk_rows, ncols), acc
        )

    out = []
    rows_idx = np.arange(n)[:, None] - np.arange(lw)[None, :] - 1  # i−j−1
    r2_mask = (np.arange(n)[:, None] >= lw) | (
        np.arange(lw)[None, :] <= np.arange(n)[:, None] - 2
    )
    r2_mask &= rows_idx >= 0
    for a in acc:
        A = a["A"].astype(np.float64)
        B = (a["A"] - a["Blast"]).astype(np.float64)
        F1 = np.stack(a["F1"], axis=1)  # (n, mm)
        F2 = np.stack(a["F2"], axis=1)
        Fm = F1 + F2
        R1 = a["R1"] if a["R1"] is not None else np.zeros((n, lw), dtype=np.int64)
        R2 = np.zeros((n, lw), dtype=np.int64)
        np.copyto(
            R2,
            np.where(r2_mask, R1[np.maximum(rows_idx, 0), np.arange(lw)[None, :]], 0),
        )

        # K accumulators: K[order][d], d=0 slot = same-index pairs
        K = np.zeros((mm, mm + 1), dtype=np.float64)
        for order in range(mm):
            FF = Fm[:, order].astype(np.float64)
            K[order, 0] = float((FF * (FF - 1)).sum())

        dd = 1
        for order in range(mm):
            d2 = order + 1 if order + 1 < mm - 1 else mm - 1
            for d in range(d2 + 1):
                i1s = np.arange(d + 1, n)
                i2s = i1s - d - 1
                nm1 = F1[i1s, order].astype(np.int64).copy()
                nm3 = F1[i2s, order].astype(np.int64).copy()
                nm2 = F2[i1s, order].astype(np.int64).copy()
                nm4 = F2[i2s, order].astype(np.int64).copy()
                thresh = order + 1
                for j in range(dd - 1):
                    nm1 -= R1[i1s, j] >= thresh
                    nm4 -= R2[i1s, j] >= thresh
                for j in range(2 * (d + 1)):
                    nm2 -= R2[i1s, j] >= thresh
                for j in range(2 * d + 1):
                    nm3 -= R1[i2s, j] >= thresh
                K[order, d + 1] += float((2 * (nm1 + nm2) * (nm3 + nm4)).sum())

        # shift B to "denominator" convention: B[m] counts matches of order m
        for order in range(mm - 1, 0, -1):
            B[order] = B[order - 1]
        B[0] = n * (n - 1) / 2.0

        with np.errstate(divide="ignore", invalid="ignore"):
            p = A / B
            var_base = p * (1.0 - p) / B

            N1 = np.zeros(mm, dtype=np.float64)
            N1[0] = float(n * (n - 1) * (n - 2))
            for order in range(mm - 1):
                N1[order + 1] = K[order, : order + 2].sum()
            N2 = np.array([K[order, : order + 1].sum() for order in range(mm)])

            var = var_base.copy()
            dv = (N2 - N1 * p * p) / (B * B)
            var[dv > 0] += dv[dv > 0]
            sd = np.sqrt(var)

        out.append((float(p[mm - 1]), float(sd[mm - 1])))
    by_caller = [None] * len(out)
    for pos, k in enumerate(ascending):
        by_caller[k] = out[pos]
    return by_caller


def cp_mean_sd(x: np.ndarray, m: int, r: float) -> tuple[float, float]:
    """(CP, SD(CP)) at embedding m and tolerance r (strict ``< r``)."""
    return cp_mean_sd_grid(x, m, [r])[0]
