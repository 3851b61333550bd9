"""Batch-vectorized SampEn — the engine's one SampEn counting kernel.

Semantics match the reference's O(n²) run-length SampEn
(eristropy/utils.py:144-193) exactly:

* Chebyshev (component-wise abs-diff) template distance,
* **strict** ``< r`` match predicate (utils.py:171 — the docs say <= but
  the code wins, SURVEY.md §7.3 hazard 2),
* A counts (m+1)-template matches; B counts m-template matches except
  those whose later template ends at the final sample (utils.py:181-182),
* ``SampEn = -log(A / B)``, ``NaN`` when A is 0 (utils.py:190-193).

Layout: a block of B sequences is stored position-major as an
``(n, B)`` matrix and swept lag by lag.  For lag k the pair matches
``|x[i+k] - x[i]| < r`` of every sequence form ONE contiguous
``(n-k, B)`` slab; an m-template match is m consecutive trues down a
column (m-1 in-place ``logical_and``s, one more for order m+1).  Each
lag adds its matches into uint8 ``(n, B)`` count slabs, indexed by the
sample the later template ends at, so the B-exclusion is a single gather
at each column's true last sample.  A cell gains at most 1 per lag, so
the slabs are reduced to int64 totals only every 255 lags.  Every NumPy
call streams one contiguous slab.  The integer counts are the
reference's, so the output is bit-identical to it.

Ragged blocks are padded with ``+inf``: a padded position never matches
(|inf − x| < r is false), so padded tails contribute nothing.

Blocks hold at most ``max_batch_cells`` n×B cells.  Single-core sweep
(m=2, r=0.2, z-normed; seq/s for 1,500 docs of 64-256 samples / 6,000
docs of 16-48 / 100 bootstrap rows of 200; one core of a 4-vCPU Xeon,
2 MB L2 per core):

    cells     long    short   bootstrap
    8,192     16.4k   34.7k   11.0k
    16,384    15.2k   42.1k   12.9k
    32,768    21.0k   46.5k   17.4k
    65,536    23.2k   50.0k   17.9k
    131,072   20.8k   45.6k   18.8k
    262,144   16.9k   46.9k   18.7k

At 65,536 cells a block and its buffers (~1.4 MB) fit in that L2.
"""

from __future__ import annotations

import numpy as np

__all__ = ["sampen_many"]

# uint8 count cells gain at most 1 per lag
_FLUSH_LAGS = 255


def _sampen_matrix(XT: np.ndarray, lens: np.ndarray, m: int, r) -> np.ndarray:
    """SampEn per column of a padded position-major (n_max, B) float64
    block; column b holds ``lens[b]`` real samples.

    ``r`` is a scalar or per-column (B,) vector of tolerances.
    """
    n, B = XT.shape
    r = np.asarray(r, dtype=np.float64)
    if r.ndim and (r == r[0]).all():
        r = r[0]  # a scalar compare is ~3x cheaper than a broadcast row
    d = np.empty((n, B), dtype=np.float64)
    match = np.empty((n, B), dtype=bool)
    tm_buf = np.empty((n, B), dtype=bool)
    ta_buf = np.empty((n, B), dtype=bool)
    # cnt[j, b]: template pairs of column b whose later template ends at j
    cnt_b = np.zeros((n, B), dtype=np.uint8)
    cnt_a = np.zeros((n, B), dtype=np.uint8)
    a = np.zeros(B, dtype=np.int64)
    b = np.zeros(B, dtype=np.int64)
    last, cols = lens - 1, np.arange(B)

    with np.errstate(invalid="ignore"):  # inf - inf in the padding
        for k in range(1, n - m + 1):
            L = n - k
            dk = np.subtract(XT[k:], XT[:L], out=d[:L])
            np.abs(dk, out=dk)
            mk = np.less(dk, r, out=match[:L])
            # tm[i]: templates at i and i+k match over m samples
            lm = L - m + 1
            tm = mk[:lm]
            for s in range(1, m):
                tm = np.logical_and(tm, mk[s : s + lm], out=tm_buf[:lm])
            ta = np.logical_and(tm[:-1], mk[m:], out=ta_buf[: lm - 1])
            np.add(cnt_b[k + m - 1 :], tm.view(np.uint8), out=cnt_b[k + m - 1 :])
            np.add(cnt_a[k + m :], ta.view(np.uint8), out=cnt_a[k + m :])
            if k % _FLUSH_LAGS == 0 or k == n - m:
                a += cnt_a.sum(axis=0, dtype=np.int64)
                b += cnt_b.sum(axis=0, dtype=np.int64) - cnt_b[last, cols]
                cnt_a.fill(0)
                cnt_b.fill(0)

    a_f, b_f = a.astype(np.float64), b.astype(np.float64)
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(a_f > 0.0, -np.log(a_f / b_f), np.nan)


def sampen_many(
    seqs,
    m: int,
    r,
    normalize: bool = False,
    max_batch_cells: int = 65_536,
) -> np.ndarray:
    """SampEn for a sequence of 1-D arrays (None or < 2 samples → NaN).

    ``r`` may be a scalar or a per-sequence vector.  Sequences are
    padded to the block max length and processed in length-sorted
    blocks of at most ``max_batch_cells`` n×B cells (module docstring
    has the sweep behind the default).  The batch is copied once, as
    float64; ``normalize`` z-norms each sequence (ddof=1) in one batched
    pass with the bits of ``kernels.transforms.znorm`` per sequence.
    Raises ``ValueError`` for m < 1.
    """
    m = int(m)
    if m < 1:
        raise ValueError(f"m must be >= 1, got {m}")
    n_seq = len(seqs)
    out = np.full(n_seq, np.nan, dtype=np.float64)
    r_vec = np.broadcast_to(np.asarray(r, dtype=np.float64), (n_seq,))

    keep = [i for i, s in enumerate(seqs) if s is not None and len(s) >= 2]
    if not keep:
        return out
    lens = np.fromiter((len(seqs[i]) for i in keep), dtype=np.int64, count=len(keep))
    order = np.argsort(lens, kind="stable")
    idxs, lens = np.array(keep, dtype=np.int64)[order], lens[order]
    # one float64 copy of the batch, sequences in length order
    flat = np.concatenate([seqs[i] for i in idxs], dtype=np.float64, casting="unsafe")
    off = np.zeros(lens.size + 1, dtype=np.int64)
    np.cumsum(lens, out=off[1:])
    if normalize:
        flat = _znorm_runs(flat, off)

    start = 0
    while start < lens.size:
        # grow the chunk while the padded matrix stays under the cap;
        # lens ascend, so the cells of each longer chunk do too
        nxt = np.arange(start + 1, lens.size)
        end = start + 1 + int(np.count_nonzero((nxt - start + 1) * lens[nxt] <= max_batch_cells))
        ln = lens[start:end]
        XT = np.full((int(ln[-1]), ln.size), np.inf)
        # a mask over the transposed view is walked sequence by sequence
        XT.T[np.arange(XT.shape[0]) < ln[:, None]] = flat[off[start] : off[end]]
        out[idxs[start:end]] = _sampen_matrix(XT, ln, m, r_vec[idxs[start:end]])
        start = end
    return out


def _znorm_runs(flat: np.ndarray, off: np.ndarray) -> np.ndarray:
    """``znorm`` (ddof=1) of every run ``flat[off[k]:off[k+1]]``, to the
    bit: each run's sum and sum of squared deviations is its own
    ``np.add.reduce`` (NumPy's pairwise order, as in ``x.mean()`` and
    ``x.std()``); centring and scaling are one batched pass.  A constant
    run is 0/0 = NaN throughout, as ``znorm`` gives."""
    bounds = list(zip(off[:-1].tolist(), off[1:].tolist()))
    n = np.diff(off)
    sums = np.array([np.add.reduce(flat[a:b]) for a, b in bounds])
    d = flat - np.repeat(sums / n, n)
    sq = d * d
    ss = np.array([np.add.reduce(sq[a:b]) for a, b in bounds])
    with np.errstate(invalid="ignore"):
        return np.divide(d, np.repeat(np.sqrt(ss / (n - 1)), n), out=d)
