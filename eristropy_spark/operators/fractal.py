"""Fractal / roughness statistics per signal.

* ``dfa`` — detrended fluctuation analysis (Peng et al. 1994, Phys.
  Rev. E 49): integrate the mean-centered series, split into
  non-overlapping boxes of size s, linearly detrend each box, and read
  the scaling exponent α off the log-log slope of the RMS fluctuation
  F(s).  α ≈ 0.5 for white noise, 1.0 for 1/f, 1.5 for Brownian — THE
  standard long-range-correlation estimator alongside Hurst R/S.

* ``higuchi_fd`` — Higuchi's fractal dimension (Higuchi 1988, Physica D
  31): for delays k = 1..kmax and offsets m = 1..k the curve length

      L_m(k) = [ Σ_{i=1..N} |x_{m+ik} − x_{m+(i−1)k}| ] · (n−1) / (N·k²),
      N = ⌊(n−m)/k⌋,      L(k) = (1/k) Σ_m L_m(k)

  scales as k^(−D); D (the negative log-log OLS slope) is the standard
  waveform-roughness measure in physiology (EEG/EKG) — a natural
  companion to the entropy kernels (family: hurst / apen / renyi), and
  absent from the reference engine.

Determinism protocol (quantize-then-derive, the ljung_box rule): each
inner Σ|Δ| is an EXACT int64; every per-(m,k) length term is ONE fixed
float expression over exact integers, floor-quantized to the 12-dp
grid and summed as exact grid integers (order-free).  The two logs per
k (scalar ``math.log`` — the C libm both engines bind on this host)
are quantized to the 12-dp grid, the OLS cross-terms re-quantized per
point, and the closed-form slope is the only remaining float chain —
every output double is bit-reproducible by the DuckDB replay.

Scale shape: ONE ``mapInArrow`` boundary over the array layout, zero
shuffle beyond tokenize's own; O(n·kmax) work per signal.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame

from eristropy_spark.functions.signals import map_signals

__all__ = ["higuchi_fd", "dfa"]


def higuchi_fd(
    df: DataFrame,
    array_col: str = "tokens",
    kmax: int = 6,
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """(*keep_cols, n, kmax, fd) — one row per signal.  Signals with
    n < 2·kmax (some offset m would have zero curve steps) or zero
    total variation emit NULL ``fd``.
    """
    if kmax < 2:
        raise ValueError(f"kmax must be >= 2, got {kmax}")
    K = int(kmax)

    # ln k on the 12-dp grid, as exact grid integers (shared with the
    # SQL replay via the same floor(ln(k)*1e12 + 0.5) expression)
    xg = [math.floor(math.log(float(k)) * 1e12 + 0.5) for k in range(1, K + 1)]

    def _fd_one(x: np.ndarray) -> float | None:
        n = int(x.size)
        if n < 2 * K:
            return None
        sum_xg = 0
        sum_yg = 0
        sum_xyg = 0
        sum_xxg = 0
        for k in range(1, K + 1):
            s_int = 0  # Σ of 12-dp-quantized length terms, exact
            d = np.abs(x[k:] - x[:-k])  # |x_p − x_{p−k}|, p = k..n−1
            for m in range(1, k + 1):
                # positions p ≡ m−1 (mod k), p >= k  →  d indices
                # (m−1+k) − k + ... : d[j] = |x_{j+k} − x_j|
                a = int(d[m - 1 :: k].sum())
                nm = d[m - 1 :: k].size
                s_int += math.floor(
                    (a * (n - 1)) / (nm * k * k) * 1e12 + 0.5
                )
            if s_int <= 0:
                return None  # flat at this delay — log undefined
            lk = (float(s_int) / 1e12) / k
            yg = math.floor(math.log(lk) * 1e12 + 0.5)
            xd = xg[k - 1] / 1e12
            yd = yg / 1e12
            sum_xg += xg[k - 1]
            sum_yg += yg
            sum_xyg += math.floor(xd * yd * 1e12 + 0.5)
            sum_xxg += math.floor(xd * xd * 1e12 + 0.5)
        sx = float(sum_xg) / 1e12
        sy = float(sum_yg) / 1e12
        sxy = float(sum_xyg) / 1e12
        sxx = float(sum_xxg) / 1e12
        den = K * sxx - sx * sx
        if den == 0.0:
            return None
        slope = (K * sxy - sx * sy) / den
        return math.floor(-slope * 1e6 + 0.5) / 1e6

    def _higuchi(v):
        if v is None:
            return 0, K, None
        x = np.ascontiguousarray(v, dtype=np.int64)
        return int(x.size), K, _fd_one(x)

    return map_signals(df, keep_cols, array_col, "n int, kmax int, fd double", _higuchi)


def dfa(
    df: DataFrame,
    array_col: str = "tokens",
    sizes: tuple[int, ...] = (4, 8, 16, 32),
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """(*keep_cols, n, n_scales, alpha) — one row per signal.

    The integrated profile is kept as the EXACT int64 numerator
    N_t = n·C_t − t·S (y_t = N_t / n, cumulative deviation from the
    mean); each box is recentered to local coordinates (t' = 1..s,
    z' = N − N_first — OLS SSR is shift-invariant), so every per-box
    sufficient statistic (Σz', Σz'², Σt'·z', Σt', Σt'²) is an exact
    integer (Python bigint here, HUGEINT in the SQL replay) and the
    per-box detrended SSR is one fixed float expression over them —
    the int→double conversions are single correctly-rounded IEEE ops,
    so the replay is bit-identical even when a statistic exceeds 2⁵³.
    Box SSRs are floor-quantized to the unit grid and summed exactly;
    F(s)² and the final log-log OLS slope follow the same
    quantize-then-derive chain as :func:`higuchi_fd`.

    A scale s participates when the signal fills at least one box
    (s <= n) and its total quantized SSR is positive (a perfectly
    linear profile at scale s has log F undefined); signals with fewer
    than two participating scales emit NULL ``alpha``.  ``n_scales``
    reports how many scales participated.  Fail-loud guard: the int64
    profile numerator needs n²·max|token| <= 2⁶²; larger inputs are
    rejected (route them through ``operators.windowed`` slicing).
    """
    szs = sorted(set(int(s) for s in sizes))
    if len(szs) < 2 or szs[0] < 3:
        raise ValueError(f"need >= 2 distinct sizes, all >= 3, got {sizes}")

    def _alpha_one(x: np.ndarray) -> tuple[int, float | None]:
        n = int(x.size)
        if n < szs[0]:
            return 0, None
        amax = int(np.abs(x).max()) if n else 0
        # profile numerator must stay exact in int64: |N_t| <= n²·max|x|
        if n * n * max(amax, 1) > 2**62:
            raise ValueError(
                "dfa integer profile needs n²·max|token| <= 2^62 "
                f"(n={n}, max|token|={amax}) — rescale the tokens or "
                "shorten the windows"
            )
        C = np.cumsum(x)
        S = int(C[-1])
        t = np.arange(1, n + 1, dtype=np.int64)
        N = n * C - t * S
        points: list[tuple[int, int]] = []
        for s in szs:
            B = n // s
            if B < 1:
                continue
            # per-box local coordinates: t' = 1..s, z' = z − z_first —
            # OLS SSR is shift-invariant, and the shift keeps z'
            # in int64 while the squares go through exact Python ints
            # (the SQL replay accumulates them in HUGEINT)
            St = s * (s + 1) // 2
            Stt = s * (s + 1) * (2 * s + 1) // 6
            tot = 0
            m = float(s)
            for b in range(B):
                zz = N[b * s : (b + 1) * s]
                zc = [int(v) - int(zz[0]) for v in zz]
                Sz = sum(zc)
                Szz = sum(v * v for v in zc)
                Stz = sum((i + 1) * v for i, v in enumerate(zc))
                sxx = Stt - St * St / m
                sxz = Stz - St * Sz / m
                szz_c = Szz - Sz * Sz / m
                ssr = szz_c - (sxz * sxz) / sxx
                tot += math.floor(ssr + 0.5)
            if tot <= 0:
                continue
            f2 = (float(tot) / (B * s)) / (n * n)
            yg = math.floor(0.5 * math.log(f2) * 1e12 + 0.5)
            xg = math.floor(math.log(float(s)) * 1e12 + 0.5)
            points.append((xg, yg))
        K = len(points)
        if K < 2:
            return K, None
        sum_xg = sum(p[0] for p in points)
        sum_yg = sum(p[1] for p in points)
        sum_xyg = sum(
            math.floor((p[0] / 1e12) * (p[1] / 1e12) * 1e12 + 0.5)
            for p in points
        )
        sum_xxg = sum(
            math.floor((p[0] / 1e12) * (p[0] / 1e12) * 1e12 + 0.5)
            for p in points
        )
        sx = float(sum_xg) / 1e12
        sy = float(sum_yg) / 1e12
        sxy = float(sum_xyg) / 1e12
        sxx = float(sum_xxg) / 1e12
        den = K * sxx - sx * sx
        if den == 0.0:
            return K, None
        slope = (K * sxy - sx * sy) / den
        return K, math.floor(slope * 1e6 + 0.5) / 1e6

    def _dfa(v):
        if v is None:
            return 0, 0, None
        x = np.ascontiguousarray(v, dtype=np.int64)
        k, a = _alpha_one(x)
        return int(x.size), k, a

    return map_signals(
        df, keep_cols, array_col, "n int, n_scales int, alpha double", _dfa
    )
