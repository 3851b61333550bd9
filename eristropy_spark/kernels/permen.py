"""Permutation Entropy (Bandt & Pompe 2002) — vectorized NumPy kernel.

The reference *advertises* PermEn (README.md:14; the runtime warning at
eristropy/sample_entropy.py:342 says "using our PermEn class") but ships
no implementation, so this kernel follows the public Bandt–Pompe
definition: Shannon entropy of the distribution of ordinal patterns of
embedded windows ``(x_t, x_{t+τ}, …, x_{t+(m−1)τ})``.

Conventions (documented because there is no reference code to match):

* ties are broken by time order (stable argsort), the usual
  Bandt–Pompe convention — a constant signal has a single pattern and
  PermEn exactly 0.0;
* natural log, like the reference's SampEn;
* ``normalize=True`` divides by ``log(m!)`` so the result lies in
  [0, 1].
"""

from __future__ import annotations

import math

import numpy as np

__all__ = ["permen", "permen_many", "ordinal_pattern_codes"]


def ordinal_pattern_codes(x: np.ndarray, m: int, delay: int = 1) -> np.ndarray:
    """Lehmer-coded ordinal pattern of every embedded window.

    Returns an int64 vector of length ``n - (m-1)*delay`` where equal
    codes <=> equal ordinal patterns.
    """
    _check_order(m)
    return _window_codes(np.ascontiguousarray(x, dtype=np.float64), m, delay)


def _window_codes(x: np.ndarray, m: int, delay: int) -> np.ndarray:
    """Mixed-radix code ``sum_i rank_i * m**i`` of the window starting at
    every position of the contiguous float64 ``x`` that has a full
    window (``x.size - (m-1)*delay`` of them; none if that is <= 0).

    ``rank_i = #{j : x_j < x_i} + #{j < i : x_j = x_i}`` with NaN last
    and NaN ties in time order: the position of ``x_i`` under a stable
    argsort, so the codes equal the double-argsort encode.  Exactly one
    of two window samples j < i precedes the other, so each of the
    m(m-1)/2 sample pairs is ONE vector compare over strided views of
    ``x`` — no (W, m) embedding, no sort.  Codes are < m**m, which
    int64 holds for m <= 15 (``_check_order``; numpy would wrap
    silently).
    """
    n_win = x.size - (m - 1) * delay
    if n_win <= 0:
        return np.empty(0, dtype=np.int64)
    cols = [x[i * delay : i * delay + n_win] for i in range(m)]
    nan = np.isnan(x)
    nan_cols = [nan[i * delay : i * delay + n_win] for i in range(m)] if nan.any() else None
    # every pair j < i contributes m**j when x_i precedes, m**i when x_j does
    codes = np.full(n_win, sum(m**j * (m - 1 - j) for j in range(m)), dtype=np.int64)
    before = np.empty(n_win, dtype=bool)
    for i in range(1, m):
        for j in range(i):
            np.less_equal(cols[j], cols[i], out=before)
            if nan_cols is not None:
                before |= nan_cols[i]
            codes += before * np.int64(m**i - m**j)
    return codes


_INT64_MAX = 2**63 - 1


def _check_order(m: int) -> int:
    """Fail loud on embedding orders whose mixed-radix codes overflow
    int64 (m^m >= 2^63 at m >= 16).  Silent numpy wraparound would merge
    unrelated ordinal patterns and return wrong entropies with no error.
    Returns ``m**m`` (as a Python int) for reuse by the batch packer."""
    base = m**m
    if m < 2 or base > _INT64_MAX:
        raise ValueError(
            f"embedding order m={m} is outside the supported range "
            "2 <= m <= 15: ordinal-pattern codes are packed into int64 "
            "(m^m must stay below 2^63), and numpy would wrap silently"
        )
    return base


def permen(x: np.ndarray, m: int = 3, delay: int = 1, normalize: bool = False) -> float:
    """Permutation entropy of ``x`` at embedding order ``m`` and lag ``delay``."""
    codes = ordinal_pattern_codes(x, m, delay)
    if codes.size == 0:
        return float("nan")
    _, counts = np.unique(codes, return_counts=True)
    p = counts / counts.sum()
    h = float(-(p * np.log(p)).sum())
    if normalize:
        h /= math.log(math.factorial(m))
    return h


def permen_many(
    seqs: list,
    m: int = 3,
    delay: int = 1,
    normalize: bool = False,
    max_batch_windows: int = 4_000_000,
) -> np.ndarray:
    """PermEn for a list of 1-D arrays (None / too-short → NaN).

    Bit-identical to calling :func:`permen` per sequence (equivalence-
    tested); the mechanics are batched like ``sampen_many``: the
    sequences of a chunk are concatenated and every window of the
    concatenation is coded by one pass of pairwise compares
    (``_window_codes``), of which the windows inside one sequence are
    kept, and the per-(sequence, pattern) histogram falls out of one
    ``np.unique`` over combined ``seq·m^m + code`` keys.  Only the final
    per-sequence entropy fold touches Python, as one tiny contiguous-
    slice ``.sum()`` per sequence (kept scalar-shaped so the pairwise-
    summation order, and therefore the bits, match the scalar kernel).

    ``max_batch_windows`` chunks gigantic batches so the transient
    per-window arrays stay comfortably in memory.
    """
    n_seq = len(seqs)
    base_py = _check_order(m)  # m^m as a Python int (overflow-safe)
    # the (sequence, pattern) key packs seq_of_win * m^m + code into
    # int64; bound how many sequences share one chunk so the largest
    # key (n_chunk * m^m - 1) cannot wrap (ADVICE r4: at m=15 a chunk
    # of >20 sequences would overflow SILENTLY and merge histograms)
    max_chunk_seqs = max(1, _INT64_MAX // base_py)
    out = np.full(n_seq, np.nan, dtype=np.float64)
    span = (m - 1) * delay
    log_fact = math.log(math.factorial(m))

    keep = [i for i, s in enumerate(seqs) if s is not None and len(s) > span]
    if not keep:
        return out
    arrs = [seqs[i] for i in keep]
    idx_all = np.array(keep, dtype=np.int64)
    lens_all = np.fromiter(map(len, arrs), dtype=np.int64, count=len(arrs))
    cum_wins = np.concatenate([[0], np.cumsum(lens_all - span)])
    base = np.int64(m) ** np.int64(m)  # codes < m^m

    start = 0
    while start < len(arrs):
        # grow the chunk while its windows fit the cap (>= 1 sequence)
        end = int(np.searchsorted(cum_wins, cum_wins[start] + max_batch_windows, "right"))
        end = min(max(end - 1, start + 1), start + max_chunk_seqs)
        n = end - start
        n_wins = lens_all[start:end] - span
        W = int(n_wins.sum())
        flat = np.concatenate(arrs[start:end], dtype=np.float64, casting="unsafe")
        seq_of_win = np.repeat(np.arange(n, dtype=np.int64), n_wins)
        # code every window of the concatenation, then keep the ones
        # inside one sequence: the k-th such window starts `span` later
        # per earlier sequence
        codes = _window_codes(flat, m, delay)[np.arange(W) + span * seq_of_win]

        key = seq_of_win * base + codes
        ukey, counts = np.unique(key, return_counts=True)
        useq = ukey // base
        p = counts / n_wins[useq].astype(np.float64)
        contrib = p * np.log(p)
        seg = np.searchsorted(useq, np.arange(n + 1))
        for s in range(n):
            h = -float(contrib[seg[s] : seg[s + 1]].sum())
            out[idx_all[start + s]] = h / log_fact if normalize else h
        start = end
    return out

