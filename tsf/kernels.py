"""Vectorized numpy feature kernels.

Semantics follow the reference library exactly (semantics only — clean-room
reimplementation, no code copied):

- ACF: biased, demeaned autocorrelation, StatsBase convention
  (``/root/reference/src/StatsBase.jl:6-8``): ``r(k) = sum_{t<=n-k}
  (x_t - mu)(x_{t+k} - mu) / sum_t (x_t - mu)^2``, lags 1..40.
- PACF: partial autocorrelation via the reference's StatsBase
  ``method=:regression`` per-lag OLS (``/root/reference/src/StatsBase.jl:
  17-19``, bound in ``ext/StatsBaseExt.jl:6``), vectorized across windows
  with prefix-sum normal equations (see ``_pacf``). Under-determined or
  singular systems return NaN where the reference raises.
- firstcrossing / firstcrossingacf: sign-corrected first threshold
  crossing of the ACF with linear interpolation between bracketing lags
  (``/root/reference/src/StatsBase.jl:29-64``). The reference's chunked
  early-exit loop is an optimization detail; one vectorized full-ACF pass
  computes the same value.
- RAD: rescaled auto-density criticality metric
  (``/root/reference/src/StatsBase.jl:81-107``): optional center-at-median
  + abs, delay embed at tau, median split, ``std(y-x) * (1/std(x[x>=med])
  - 1/std(x[x<med]))``; std is the corrected sample SD (ddof=1).
- z_score: ``(x - mean(x)) / std(x)`` with ddof=1
  (``/root/reference/src/TimeseriesFeatures.jl:25-27``).
- DN_HistogramMode_{5,10}: catch22-family histogram mode over the z-scored
  window (demanded by BASELINE.json north_rule; not in the reference
  source): 5/10 equal-width bins between min and max of z, mode = mean of
  centers of bins attaining the max count.
- Analytic signal / PLV / PPC (``/root/reference/ext/DSPExt.jl:6-46``):
  FFT Hilbert transform; PLV = ``abs(mean(exp(i x)))``; PPC via the O(N)
  closed form ``((sum cos)^2 + (sum sin)^2 - N) / (N (N-1))`` which equals
  the reference's O(N^2) pair sum exactly in exact arithmetic.

All kernels are vectorized **across windows**: input is a dense float64
matrix ``X`` of shape ``(n_windows, W)`` zero-padded past each window's
true length ``n`` (shape ``(n_windows,)``). Zero-padding of *demeaned*
values makes ragged windows free for ACF-style sums; mask-aware reductions
cover the rest. No per-row Python anywhere.
"""

from __future__ import annotations

import numpy as np

ACF_MAX_LAG = 40  # reference ac_lags = 1:40 (src/StatsBase.jl:6)
PACF_MAX_LAG = 40


class WindowCtx:
    """Lazy, cached evaluation context for one batch of windows.

    This is the engine's SuperFeature common-subexpression-elimination:
    each named intermediate ("super": mask, mean, demeaned, z, acf, ...)
    is computed once per batch and shared by every leaf feature that
    needs it (reference contract: ``src/SuperFeatures.jl:87-117`` —
    distinct supers evaluated once via ``unique`` + ``indexin``).
    """

    def __init__(self, X: np.ndarray, n: np.ndarray,
                 req: dict[str, int] | None = None):
        if X.ndim != 2:
            raise ValueError(f"WindowCtx needs a 2-D window matrix, got "
                             f"{X.ndim}-D")
        self.X = np.ascontiguousarray(X, dtype=np.float64)
        self.n = np.asarray(n, dtype=np.int64)
        #: per-intermediate lag budget (e.g. {"acf": 10, "pacf": 5}) set by
        #: FeatureSet.evaluate from the leaves actually requested, so a
        #: rollup asking for ac_1..10 never pays for 40 lags. Absent keys
        #: fall back to the full reference lag range (1..40).
        self.req = req or {}
        self._cache: dict[str, np.ndarray] = {}

    @property
    def nw(self) -> int:
        return self.X.shape[0]

    @property
    def W(self) -> int:
        return self.X.shape[1]

    def get(self, name: str) -> np.ndarray:
        if name not in self._cache:
            self._cache[name] = INTERMEDIATES[name](self)
        return self._cache[name]


# ---------------------------------------------------------------- intermediates

def _mask(ctx: WindowCtx) -> np.ndarray:
    return np.arange(ctx.W)[None, :] < ctx.n[:, None]


def _sum(ctx: WindowCtx) -> np.ndarray:
    # X is zero-padded, so a plain sum is the masked sum. Pairwise float64
    # summation of integer-valued data is exact below 2^53.
    return ctx.X.sum(axis=1)


def _sumsq(ctx: WindowCtx) -> np.ndarray:
    return (ctx.X * ctx.X).sum(axis=1)


def _mean(ctx: WindowCtx) -> np.ndarray:
    with np.errstate(invalid="ignore", divide="ignore"):
        return ctx.get("sum") / ctx.n


def _std(ctx: WindowCtx) -> np.ndarray:
    # Corrected (ddof=1) sample SD from exact sums: matches
    # sqrt((sumsq - sum^2/n) / (n-1)) — the same expression our DuckDB
    # oracle SQL uses, so integer inputs give bit-identical values.
    # Domain note: the one-pass form is EXACT for the engine's contract
    # inputs (int32 tokens: x^2 < 2.5e9 and window sums stay < 2^53, so
    # every sum is an exact float64 integer — better than two-pass). For
    # out-of-contract float inputs offset by ~1e8+ it cancels like any
    # one-pass variance; use demeaned inputs there.
    return _std1(ctx.get("sum"), ctx.get("sumsq"), ctx.n.astype(np.float64))


def _std1(s: np.ndarray, ss: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """Row-wise ddof=1 SD from the sum, sum of squares and float count of
    each row: sqrt(max((ss - s^2/cnt) / (cnt - 1), 0)) (the max guards
    tiny negative round-off); NaN where cnt < 2."""
    with np.errstate(invalid="ignore", divide="ignore"):
        out = np.sqrt(np.maximum((ss - s * s / cnt) / (cnt - 1.0), 0.0))
    out[cnt < 2] = np.nan
    return out


def _demeaned(ctx: WindowCtx) -> np.ndarray:
    # (x - mu) masked to zero outside the window: zero-padding makes all
    # ACF overlap sums correct for ragged windows.
    d = ctx.X - ctx.get("mean")[:, None]
    d[~ctx.get("mask")] = 0.0
    return d


def _z(ctx: WindowCtx) -> np.ndarray:
    # z-score super (reference src/TimeseriesFeatures.jl:25-27); constant
    # window -> std 0 -> NaN, matching Julia 0/0 semantics.
    with np.errstate(invalid="ignore", divide="ignore"):
        z = ctx.get("demeaned") / ctx.get("std")[:, None]
    z[~ctx.get("mask")] = np.nan
    return z


def _acf_denom(ctx: WindowCtx) -> np.ndarray:
    d = ctx.get("demeaned")
    return (d * d).sum(axis=1)


def _acf_lags(ctx: WindowCtx, maxlag: int) -> np.ndarray:
    """Biased demeaned ACF at lags 1..maxlag, direct lag-loop — exact-order
    stable (unlike FFT round-off) and identical per-row regardless of which
    other rows share the batch. Lags >= n are NaN; zero variance -> NaN.

    Always returns ``maxlag`` columns: lags past the matrix width are
    NaN-padded (matching the reference's NaN for lag >= n), so requesting
    e.g. ac_40 on a 20-wide window yields NaN instead of an IndexError."""
    d = ctx.get("demeaned")
    nw, W = d.shape
    denom = ctx.get("acf_denom")
    maxlag = max(1, maxlag)
    eff = min(maxlag, W - 1)  # computable lags; the rest stay NaN
    out = np.full((nw, maxlag), np.nan)
    with np.errstate(invalid="ignore", divide="ignore"):
        for k in range(1, eff + 1):
            num = (d[:, :-k] * d[:, k:]).sum(axis=1)
            out[:, k - 1] = num / denom
    lag_idx = np.arange(1, maxlag + 1)
    out[lag_idx[None, :] >= ctx.n[:, None]] = np.nan
    out[denom == 0.0, :] = np.nan
    return out


def _acf(ctx: WindowCtx) -> np.ndarray:
    K = ctx.req.get("acf", ACF_MAX_LAG)
    return _acf_lags(ctx, K)


def _pacf(ctx: WindowCtx) -> np.ndarray:
    """PACF at lags 1..K via the reference's ``:regression`` method
    (``/root/reference/src/StatsBase.jl:17-19`` binds StatsBase
    ``pacf(x, lags; method = :regression)`` through
    ``ext/StatsBaseExt.jl:6``): for each lag ``l``, OLS-fit
    ``x_t ~ [1, x_{t-1}, ..., x_{t-l}]`` over ``t = l..n-1`` (0-based) and
    take the coefficient on ``x_{t-l}``. No demeaning — the intercept
    column absorbs the mean, exactly as StatsBase's design matrix of ones.

    Vectorized across windows: every normal-equation entry is a
    range-restricted lag co-sum ``sum_{t=l}^{n-1} x_{t-i} x_{t-j}`` read
    as a difference of two prefix-sum table entries (O(K*W) tables, O(K^3)
    gathers — no per-window Python). Lags 1 and 2 use explicit closed
    forms whose float operation order mirrors the DuckDB oracle SQL
    bit-for-bit on integer inputs; lags >= 3 use a batched PD solve.

    NaN when the system is under-determined (n < 2l+1) or singular
    (constant window) — the reference errors (Cholesky PosDefException)
    in those cases; NaN is the engine's documented total-function stance.
    """
    K = max(1, ctx.req.get("pacf", PACF_MAX_LAG))
    X, n = ctx.X, ctx.n
    nw, W = X.shape
    out = np.full((nw, K), np.nan)
    K_eff = min(K, (W - 1) // 2)  # n >= 2l+1 is impossible past this
    if K_eff < 1:
        return out
    # prefix tables cost nw*(K+1)*(W+1)*8 bytes; block rows so wide-window
    # high-lag requests (e.g. K=40, W=1000) stay ~<=256MB per block —
    # per-row independence makes blocking bit-invisible
    block = max(1, (1 << 28) // ((K_eff + 1) * (W + 1) * 8))
    if nw > block:
        for lo in range(0, nw, block):
            hi = min(lo + block, nw)
            sub = WindowCtx(X[lo:hi], n[lo:hi], req=dict(ctx.req))
            out[lo:hi] = _pacf(sub)
        return out
    rows = np.arange(nw)
    # prefix tables over the zero-padded matrix (pads only ever contribute
    # zeros past each row's n, and gathers never index past n). np.empty:
    # positions past W-d are never read (indices max out at n-d).
    P1 = np.empty((nw, W + 1))
    P1[:, 0] = 0.0
    np.cumsum(X, axis=1, out=P1[:, 1:])
    # per-d slices kept CONTIGUOUS ((K+1, nw, W+1) layout): cumsum into a
    # strided (nw, K+1, W+1) destination was ~2x slower
    Pd = np.empty((K_eff + 1, nw, W + 1))
    Pd[:, :, 0] = 0.0
    for d in range(K_eff + 1):
        np.cumsum(X[:, :W - d] * X[:, d:], axis=1, out=Pd[d, :, 1:W - d + 1])
    # uniform-length batches (the dominant full-window case) read prefix
    # COLUMNS with scalar indices — ~10x cheaper than per-row gathers
    uniform = bool((n == n[0]).all()) if nw else True
    n0 = int(n[0]) if nw else 0

    def sv(j: int, l: int) -> np.ndarray:
        # sum_{t=l}^{n-1} x_{t-j}
        if uniform:
            return (P1[:, min(max(n0 - j, 0), W)]
                    - P1[:, min(max(l - j, 0), W)])
        hi = np.clip(n - j, 0, W)
        lo = np.clip(l - j, 0, W)
        return P1[rows, hi] - P1[rows, lo]

    def qq(i: int, j: int, l: int) -> np.ndarray:
        # sum_{t=l}^{n-1} x_{t-i} x_{t-j}
        d, M = abs(i - j), max(i, j)
        if uniform:
            return (Pd[d, :, min(max(n0 - M, 0), W)]
                    - Pd[d, :, min(max(l - M, 0), W)])
        hi = np.clip(n - M, 0, W)
        lo = np.clip(l - M, 0, W)
        return Pd[d, rows, hi] - Pd[d, rows, lo]

    with np.errstate(invalid="ignore", divide="ignore"):
        # ---- lag 1: OLS slope closed form (mirrors the SQL oracle) ----
        m = (n - 1).astype(np.float64)
        sa, sb = sv(1, 1), sv(0, 1)
        num = m * qq(0, 1, 1) - sa * sb
        den = m * qq(1, 1, 1) - sa * sa
        ok = (n >= 3) & (den != 0.0)
        out[:, 0] = np.where(ok, num / den, np.nan)
        if K_eff >= 2:
            # ---- lag 2: Cramer closed form on m-scaled centered sums ----
            m = (n - 2).astype(np.float64)
            sy, sa, sv2 = sv(0, 2), sv(1, 2), sv(2, 2)
            caa = m * qq(1, 1, 2) - sa * sa
            cvv = m * qq(2, 2, 2) - sv2 * sv2
            cav = m * qq(1, 2, 2) - sa * sv2
            cay = m * qq(0, 1, 2) - sa * sy
            cvy = m * qq(0, 2, 2) - sv2 * sy
            den = caa * cvv - cav * cav
            num = caa * cvy - cav * cay
            ok = (n >= 5) & (den != 0.0)
            out[:, 1] = np.where(ok, num / den, np.nan)
        # ---- lags >= 3: batched normal-equations solve ----
        for l in range(3, K_eff + 1):
            p = l + 1
            A = np.empty((nw, p, p))
            b = np.empty((nw, p))
            A[:, 0, 0] = (n - l).astype(np.float64)
            b[:, 0] = sv(0, l)
            for j in range(1, p):
                A[:, 0, j] = A[:, j, 0] = sv(j, l)
                b[:, j] = qq(0, j, l)
                for i in range(1, j + 1):
                    A[:, i, j] = A[:, j, i] = qq(i, j, l)
            coef, pd_ok = _spd_solve(A, b)
            ok = (n >= 2 * l + 1) & pd_ok  # determined AND numerically PD
            out[:, l - 1] = np.where(ok, coef[:, l], np.nan)
    return out


def _spd_solve(A: np.ndarray, b: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Batched SPD solve ``A x = b`` via vectorized Cholesky-Crout +
    triangular substitution, built from elementwise/broadcast numpy
    only — NO LAPACK/BLAS. LAPACK's dgesv
    picks different internal kernels by BLAS thread count, and Spark
    pins OMP_NUM_THREADS=1 in python workers while the driver (or a
    differently-configured executor on a real cluster) may run OpenBLAS
    with more: identical 6x6 systems produced 1e-13-different PACF_5 on
    the two sides, breaking the bit-exact-tiers contract. This solver's
    float operation order is fixed by construction, so results are
    identical on every node regardless of BLAS build or threading.

    Returns ``(x, ok)``: ``ok`` flags rows whose Gram was numerically PD
    (every Cholesky pivot > 0 — the same acceptance the reference's
    Cholesky implies); ``x`` rows with ``ok`` False are garbage (pivots
    patched to 1 to keep the batch NaN/inf-free) and must be masked.
    Cost: ~1.5x LAPACK at the K=40/W=1000 stress shape (79s vs 51s on
    2000 windows); the hot tier-0 K=5 path is prefix-table-dominated
    and measures the same.
    """
    nw, p, _ = A.shape
    # outer-product (right-looking) Cholesky: column sweep with ONE
    # trailing-submatrix elementwise update per step — no reductions at
    # all, so there is no summation-order question to begin with
    L = A.copy()
    ok = np.ones(nw, dtype=bool)
    # relative pivot floor (LAPACK pstrf's rank test): an exactly-singular
    # Gram (constant window) cancels to s ~ eps*diag, not exactly 0.0 —
    # a bare s > 0 test would pass the noise through as a garbage solve
    tol = (p * np.finfo(np.float64).eps) * np.abs(np.diagonal(A, 0, 1, 2))
    for j in range(p):
        s = L[:, j, j]
        ok &= s > tol[:, j]
        d = np.sqrt(np.where(s > 0.0, s, 1.0))
        L[:, j, j] = d
        if j + 1 < p:
            col = L[:, j + 1:, j] / d[:, None]
            L[:, j + 1:, j] = col
            L[:, j + 1:, j + 1:] -= col[:, :, None] * col[:, None, :]
    y = b.copy()  # forward: L y = b, column sweep
    for i in range(p):
        y[:, i] /= L[:, i, i]
        if i + 1 < p:
            y[:, i + 1:] -= L[:, i + 1:, i] * y[:, i, None]
    x = y  # backward: L^T x = y, column sweep (rows of L)
    for i in range(p - 1, -1, -1):
        x[:, i] /= L[:, i, i]
        if i:
            x[:, :i] -= L[:, i, :i] * x[:, i, None]
    return x, ok


def _analytic(ctx: WindowCtx) -> np.ndarray:
    """Analytic signal via FFT Hilbert transform at EXACT length n per
    row (scipy.signal.hilbert formula, reimplemented; reference
    ext/DSPExt.jl:6-14 runs ``DSP.hilbert(x)`` at length(x)).

    Rows are grouped by their true length and each group's FFT runs at
    that length — NOT at the padded matrix width: a zero-padded Hilbert
    is a different linear operator on the first n samples, so padding
    would deviate from the reference for every n that isn't the padded
    width (numpy's pooled FFT is mixed-radix, any n is fine). Exact
    length also makes the result independent of the batch/padding width
    by construction, so partitioning-invariance holds trivially.
    Positions past n are zero (phase/amp kernels mask them to NaN)."""
    X = np.where(ctx.get("mask"), ctx.X, 0.0)
    nw, W = X.shape
    a = np.zeros((nw, W), dtype=np.complex128)
    lens = np.minimum(ctx.n, W)
    for ln in np.unique(lens):
        if ln <= 0:
            continue
        rows = np.nonzero(lens == ln)[0]
        f = np.fft.fft(X[rows, :ln], axis=1)
        h = np.zeros(int(ln))
        if ln % 2 == 0:
            h[0] = h[ln // 2] = 1.0
            h[1:ln // 2] = 2.0
        else:
            h[0] = 1.0
            h[1:(ln + 1) // 2] = 2.0
        a[rows[:, None], np.arange(int(ln))[None, :]] = np.fft.ifft(
            f * h[None, :], axis=1)
    return a


def _analytic_phase(ctx: WindowCtx) -> np.ndarray:
    ph = np.angle(ctx.get("analytic"))
    return np.where(ctx.get("mask"), ph, np.nan)


def _analytic_amplitude(ctx: WindowCtx) -> np.ndarray:
    am = np.abs(ctx.get("analytic"))
    return np.where(ctx.get("mask"), am, np.nan)


def _xnan(ctx: WindowCtx) -> np.ndarray:
    """Raw window values with NaN outside the mask (shared by RAD kernels)."""
    return np.where(ctx.get("mask"), ctx.X, np.nan)


def _z_range(ctx: WindowCtx):
    """(finite-mask, row-min, row-max) of the z-scored window — shared by
    the histogram-mode kernels."""
    z = ctx.get("z")
    fin = np.isfinite(z)
    any_fin = fin.any(axis=1)
    mn = np.min(np.where(fin, z, np.inf), axis=1)
    mx = np.max(np.where(fin, z, -np.inf), axis=1)
    mn[~any_fin] = np.nan
    mx[~any_fin] = np.nan
    return fin, mn, mx


INTERMEDIATES = {
    "mask": _mask,
    "sum": _sum,
    "sumsq": _sumsq,
    "mean": _mean,
    "std": _std,
    "demeaned": _demeaned,
    "z": _z,
    "z_range": _z_range,
    "z_finite": lambda ctx: _z_finite(ctx),
    "xnan": _xnan,
    "acf_denom": _acf_denom,
    "acf": _acf,
    "pacf": _pacf,
    "analytic": _analytic,
    "analytic_phase": _analytic_phase,
    "analytic_amplitude": _analytic_amplitude,
}


# ---------------------------------------------------------------- leaf kernels

def k_cnt(ctx: WindowCtx) -> np.ndarray:
    return ctx.n.astype(np.float64)


def k_sum(ctx: WindowCtx) -> np.ndarray:
    return ctx.get("sum")


def k_min(ctx: WindowCtx) -> np.ndarray:
    v = np.where(ctx.get("mask"), ctx.X, np.inf).min(axis=1)
    return np.where(ctx.n > 0, v, np.nan)


def k_max(ctx: WindowCtx) -> np.ndarray:
    v = np.where(ctx.get("mask"), ctx.X, -np.inf).max(axis=1)
    return np.where(ctx.n > 0, v, np.nan)


def k_mean(ctx: WindowCtx) -> np.ndarray:
    return ctx.get("mean")


def k_std(ctx: WindowCtx) -> np.ndarray:
    return ctx.get("std")


def k_ac(lag: int):
    def f(ctx: WindowCtx) -> np.ndarray:
        return ctx.get("acf")[:, lag - 1]
    return f


def k_pacf(lag: int):
    def f(ctx: WindowCtx) -> np.ndarray:
        return ctx.get("pacf")[:, lag - 1]
    return f


def _first_crossing_acf(X: np.ndarray, n: np.ndarray,
                        d: np.ndarray | None = None,
                        denom: np.ndarray | None = None,
                        threshold: float = 0.0) -> np.ndarray:
    """firstcrossingacf(x, threshold) per row of the zero-padded matrix
    ``X`` with true lengths ``n`` — reference-faithful
    (src/StatsBase.jl:44-64):

    - lag chunks of ``L = min(100, n-1)``; lags are only examined while
      ``chunk_index * L < n``, so the trailing partial chunk is never
      scanned (a crossing there returns NaN, as the reference returns
      ``nothing``);
    - sign correction by the sign of AC_1 (anticorrelated series search
      for the first upward crossing): BOTH the ACF values and the
      threshold are multiplied by ``r1`` (``threshold = threshold * r1``,
      src/StatsBase.jl:50-51);
    - linear interpolation between the bracketing lags, INCLUDING the
      reference's chunk-boundary rule: when the first sub-threshold lag is
      the FIRST lag of a chunk, ``a`` is that same chunk's LAST ACF value
      (``a = idx == 1 ? lastr : r[idx-1]`` with ``lastr = r[end]`` of the
      current chunk — reproduced exactly, quirk and all; with a nonzero
      threshold this branch is reachable at global lag 1 too).

    The scan itself uses small adaptive lag chunks with batch early exit
    (an optimization only: each lag's sum is independent, so values are
    bit-identical to the reference's 100-lag recomputes).

    ``d``/``denom`` accept a precomputed demeaned matrix + lag-0 sum
    (the shared WindowCtx intermediates) so callers with a live ctx pay
    no second demeaning pass."""
    X = np.ascontiguousarray(X, dtype=np.float64)
    n = np.asarray(n, dtype=np.int64)
    nw, W = X.shape
    out = np.full(nw, np.nan)
    if W < 2:
        return out
    if d is None:
        mask = np.arange(W)[None, :] < n[:, None]
        with np.errstate(invalid="ignore", divide="ignore"):
            mu = np.where(n > 0, (X * mask).sum(axis=1) / n, 0.0)
        d = np.where(mask, X - mu[:, None], 0.0)
    if denom is None:
        denom = (d * d).sum(axis=1)
    L = np.maximum(np.minimum(100, n - 1), 1)  # reference lagchunks
    cap = L * ((n - 1) // L)                   # last lag ever examined
    rows = np.nonzero((denom > 0.0) & (n > 1))[0]
    sign = np.zeros(nw)
    thr = np.zeros(nw)  # per-row sign-corrected threshold (threshold * r1)
    prev_val = np.full(nw, np.nan)  # last sign-corrected value per live row
    CH, k = 8, 1
    with np.errstate(invalid="ignore", divide="ignore"):
        while rows.size and k <= int(cap[rows].max()):
            k1 = k + CH - 1
            CH = min(CH * 2, 64)
            sub = d[rows]
            dn = denom[rows]
            Rs = np.empty((rows.size, k1 - k + 1))
            for j, kk in enumerate(range(k, k1 + 1)):
                if kk >= W:
                    Rs[:, j] = np.nan
                else:
                    Rs[:, j] = (sub[:, :-kk] * sub[:, kk:]).sum(axis=1) / dn
            if k == 1:
                sign[rows] = np.sign(Rs[:, 0])
                thr[rows] = threshold * sign[rows]
            Rs *= sign[rows, None]
            lag_of_col = np.arange(k, k1 + 1)
            Rs[lag_of_col[None, :] > cap[rows][:, None]] = np.nan
            below = Rs < thr[rows, None]  # NaN compares False -> no crossing
            has = below.any(axis=1)
            i = below.argmax(axis=1)[has]  # first True, 0-based in chunk
            hit = rows[has]
            b = Rs[has, i]
            # a = previous sign-corrected value (tracked across adaptive
            # chunks); at threshold 0 global lag 1 never crosses (|AC_1|>=0)
            a = np.where(i > 0, Rs[has, np.maximum(i - 1, 0)], prev_val[hit])
            g = k + i  # global crossing lag per hit row
            # reference chunk-boundary quirk: crossing at the first lag of
            # a 100-lag chunk reads `a` from that chunk's LAST lag (with a
            # nonzero threshold this includes global lag 1). The boundary
            # lag g - 1 + L differs per row when L < 100, so group by it.
            bnd = (g - 1) % L[hit] == 0
            if bnd.any():
                a = a.copy()
                cs = (g + L[hit] - 1)[bnd]  # per-row chunk-end lag
                br = hit[bnd]
                av = np.empty(br.size)
                for c in np.unique(cs):
                    m = cs == c
                    rr = br[m]
                    av[m] = ((d[rr, :W - int(c)] * d[rr, int(c):])
                             .sum(axis=1) / denom[rr]) * sign[rr]
                a[bnd] = av
            out[hit] = (g - 1) + (thr[hit] - a) / (b - a)
            rows = rows[~has]
            prev_val[rows] = Rs[~has, -1]
            rows = rows[cap[rows] > k1]  # exhausted all examined lags
            k = k1 + 1
    return out


def k_acf_timescale(ctx: WindowCtx) -> np.ndarray:
    """firstcrossingacf(x, 0) of the raw window (src/StatsBase.jl:44-64),
    sharing the ctx-cached demeaned matrix / lag-0 sum with ACF leaves."""
    return _first_crossing_acf(ctx.X, ctx.n,
                               d=ctx.get("demeaned"),
                               denom=ctx.get("acf_denom"))


def k_acf_timescale_at(threshold: float):
    """firstcrossingacf(x, threshold) kernel factory — the reference's
    threshold parameter (src/StatsBase.jl:44), sign-corrected by r1."""
    def f(ctx: WindowCtx) -> np.ndarray:
        return _first_crossing_acf(ctx.X, ctx.n,
                                   d=ctx.get("demeaned"),
                                   denom=ctx.get("acf_denom"),
                                   threshold=float(threshold))
    return f


def _first_crossing(Xn: np.ndarray, threshold: float = 0.0) -> np.ndarray:
    """firstcrossing(x, threshold) per row (src/StatsBase.jl:29-42):
    sign-corrected (by the side of the first element) first threshold
    crossing with linear interpolation between the bracketing samples.
    1-based position like the reference's array indexing; position 1
    outright when the first element EQUALS the threshold; NaN when the
    series never crosses."""
    nw, W = Xn.shape
    out = np.full(nw, np.nan)
    with np.errstate(invalid="ignore", divide="ignore"):
        sign = np.sign(Xn[:, 0] - threshold)
        below = (Xn - threshold) * sign[:, None] < 0.0  # NaN compares False
        has = below.any(axis=1)
        rows = np.nonzero(has)[0]
        i = below.argmax(axis=1)[rows]
        # interpolate on the RAW values — the reference's exact float
        # arithmetic ((threshold - a) / (b - a), src/StatsBase.jl:40-41);
        # interpolating sign-corrected values differs in the last ULP
        b = Xn[rows, i]
        a = np.where(i > 0, Xn[rows, np.maximum(i - 1, 0)], np.nan)
        out[rows] = i + (threshold - a) / (b - a)
    # first(r) == threshold -> 1 (reference src/StatsBase.jl:34: the
    # `elseif first(r) == threshold` branch returns position 1 outright)
    out[Xn[:, 0] == threshold] = 1.0
    return out


def k_firstcrossing(ctx: WindowCtx) -> np.ndarray:
    """firstcrossing(x, 0) of the raw window (src/StatsBase.jl:29-42)."""
    return _first_crossing(ctx.get("xnan"))


def k_firstcrossing_at(threshold: float):
    """firstcrossing(x, threshold) kernel factory — the reference's
    threshold parameter (src/StatsBase.jl:29)."""
    def f(ctx: WindowCtx) -> np.ndarray:
        return _first_crossing(ctx.get("xnan"), float(threshold))
    return f


def _z_finite(ctx: WindowCtx):
    """(row index, value) of every finite z entry in bin-able rows —
    shared by histmode5/histmode10 (the extraction is nbins-independent:
    a row is bin-able iff mx > mn)."""
    z = ctx.get("z")
    fin, mn, mx = ctx.get("z_range")
    ok = np.isfinite(mn) & np.isfinite(mx) & (mx > mn)
    rows, cols = np.nonzero(fin & ok[:, None])
    return rows, z[rows, cols], ok


def _histmode(ctx: WindowCtx, nbins: int) -> np.ndarray:
    nw = ctx.nw
    _, mn, mx = ctx.get("z_range")
    width = (mx - mn) / nbins
    rows, vals, ok = ctx.get("z_finite")
    ok = ok & (width > 0)  # belt: degenerate width can't bin
    out = np.full(nw, np.nan)
    if not ok.any():
        return out
    with np.errstate(invalid="ignore", divide="ignore"):
        bi = np.floor((vals - mn[rows]) / width[rows]).astype(np.int64)
    np.clip(bi, 0, nbins - 1, out=bi)
    counts = np.bincount(rows * nbins + bi, minlength=nw * nbins).reshape(nw, nbins)
    maxc = counts.max(axis=1)
    centers = mn[:, None] + (np.arange(nbins)[None, :] + 0.5) * width[:, None]
    tie = counts == maxc[:, None]
    with np.errstate(invalid="ignore", divide="ignore"):
        mode = (centers * tie).sum(axis=1) / tie.sum(axis=1)
    good = ok & (maxc > 0)
    out[good] = mode[good]
    return out


def k_histmode5(ctx: WindowCtx) -> np.ndarray:
    return _histmode(ctx, 5)


def k_histmode10(ctx: WindowCtx) -> np.ndarray:
    return _histmode(ctx, 10)


def _nanstd1(A: np.ndarray) -> np.ndarray:
    """Row-wise ddof=1 std ignoring NaN; rows with <2 finite values -> NaN."""
    return _std1(np.nansum(A, axis=1), np.nansum(A * A, axis=1),
                 np.isfinite(A).sum(axis=1).astype(np.float64))


def _nanmedian_rows(A: np.ndarray) -> np.ndarray:
    """Row-wise median ignoring NaN — same values as np.nanmedian.

    Fast path: row groups sharing a finite count use ONE np.partition
    (NaN sorts last in partition exactly as in sort, so trailing-or-not
    NaNs land past position cnt-1); only batches with many distinct
    counts fall back to a full per-row sort."""
    nr, W = A.shape
    cnt = W - np.isnan(A).sum(axis=1)
    med = np.full(nr, np.nan)
    uniq = np.unique(cnt)
    uniq = uniq[uniq > 0]
    if uniq.size <= 4:  # 1-2 in practice (full windows + one tail count)
        for c in uniq:
            c = int(c)
            sel = cnt == c
            k1, k2 = (c - 1) // 2, c // 2
            P = np.partition(A[sel] if not sel.all() else A, (k1, k2), axis=1)
            med[sel] = (P[:, k1] + P[:, k2]) * 0.5
        return med
    rag = np.nonzero(cnt > 0)[0]
    if rag.size:
        S = np.sort(A[rag], axis=1)  # NaN sorts last
        c = cnt[rag]
        r = np.arange(rag.size)
        med[rag] = (S[r, (c - 1) // 2] + S[r, c // 2]) * 0.5
    return med


def _masked_std1(x0: np.ndarray, x2: np.ndarray, m: np.ndarray) -> np.ndarray:
    """ddof=1 std of x over mask m, from pre-zero-filled x0 and x2=x0*x0.
    Bit-identical to _nanstd1(np.where(m, x, np.nan)): both reduce the same
    zero-padded rows with numpy pairwise summation."""
    mf = m.astype(np.float64)
    return _std1((x0 * mf).sum(axis=1), (x2 * mf).sum(axis=1),
                 m.sum(axis=1).astype(np.float64))


def _rad(ctx: WindowCtx, do_abs: bool, tau: str | int = 1) -> np.ndarray:
    """RAD(x, tau, doAbs) — src/StatsBase.jl:81-107, vectorized with
    NaN-masked median splits.

    ``tau`` is an integer delay, or ``"acf"`` for the reference's ``:τ``
    mode (src/StatsBase.jl:87-89): the embedding delay becomes the
    banker's-rounded first ACF zero crossing of the (already centered/abs)
    series; rows with no crossing are NaN (the reference's
    ``round(Int, nothing)`` raises)."""
    Xn = ctx.get("xnan")
    nw, W = Xn.shape
    if W < 2:
        return np.full(nw, np.nan)
    short = ctx.n < 3  # emitted as NaN below; zero-fill avoids all-NaN warnings
    if short.any():
        Xn = np.where(short[:, None], 0.0, Xn)
    with np.errstate(invalid="ignore", divide="ignore"):
        if do_abs:
            med = _nanmedian_rows(Xn)
            Z = np.abs(Xn - med[:, None])
        else:
            Z = Xn
        if tau == "acf":
            cr = _first_crossing_acf(np.where(np.isfinite(Z), Z, 0.0), ctx.n)
            t = np.rint(cr)  # banker's rounding == Julia round(Int, .)
            bad_tau = ~np.isfinite(t) | (t < 1)
            t = np.where(bad_tau, 1, t).astype(np.int64)
        else:
            t = np.full(nw, int(tau), dtype=np.int64)
            bad_tau = np.zeros(nw, dtype=bool)
        t = np.minimum(t, W - 1)
        # delay embed at per-row tau: x_i = z_i (i < n - tau), y_i = z_{i+tau}
        idx = np.arange(W)[None, :]
        valid = idx < (ctx.n - t)[:, None]
        x = np.where(valid, Z, np.nan)
        if (t == 1).all():
            # tau=1 (CR_RAD/CR_RAD_raw): plain shift beats the gather
            y = np.full_like(Z, np.nan)
            y[:, :-1] = Z[:, 1:]
            y[~valid] = np.nan
        else:
            y = np.where(valid,
                         np.take_along_axis(Z,
                                            np.minimum(idx + t[:, None], W - 1),
                                            axis=1),
                         np.nan)
        medx = _nanmedian_rows(x)
        fin = np.isfinite(x)
        sub = x < medx[:, None]          # NaN -> False
        sup = (~sub) & fin
        # masked ddof=1 stds from zero-filled sums — no per-mask NaN copies
        x0 = np.where(fin, x, 0.0)
        x2 = x0 * x0
        sub_sd = _masked_std1(x0, x2, sub)
        sup_sd = _masked_std1(x0, x2, sup)
        sigma_dx = _nanstd1(y - x)
        out = sigma_dx * (1.0 / sup_sd - 1.0 / sub_sd)
    out[ctx.n < 3] = np.nan
    out[bad_tau] = np.nan
    return out


def k_rad(ctx: WindowCtx) -> np.ndarray:
    return _rad(ctx, True)


def k_rad_raw(ctx: WindowCtx) -> np.ndarray:
    return _rad(ctx, False)


def k_rad_tau(ctx: WindowCtx) -> np.ndarray:
    """RAD(x, :τ, true): delay = rounded first ACF zero crossing of the
    centered-abs series (src/StatsBase.jl:87-89)."""
    return _rad(ctx, True, tau="acf")


def k_amp_mean(ctx: WindowCtx) -> np.ndarray:
    """Mean of the analytic amplitude (scalar leaf over the reference's
    Analytic_Amplitude vector feature, ext/DSPExt.jl:13-15)."""
    am = ctx.get("analytic_amplitude")
    cnt = np.isfinite(am).sum(axis=1).astype(np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = np.nansum(am, axis=1) / cnt
    out[cnt == 0] = np.nan
    return out


def k_amp_std(ctx: WindowCtx) -> np.ndarray:
    """ddof=1 SD of the analytic amplitude."""
    return _nanstd1(ctx.get("analytic_amplitude"))


def k_plv_phase(ctx: WindowCtx) -> np.ndarray:
    """PLV of the analytic phase: abs(mean(exp(i*phi))) (ext/DSPExt.jl:36-40)."""
    ph = ctx.get("analytic_phase")
    c = np.nansum(np.cos(ph), axis=1)
    s = np.nansum(np.sin(ph), axis=1)
    n = np.isfinite(ph).sum(axis=1).astype(np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = np.sqrt(c * c + s * s) / n
    out[n == 0] = np.nan
    return out


def k_ppc_phase(ctx: WindowCtx) -> np.ndarray:
    """PPC (Vinck 2010 eq. 14) of the analytic phase via the O(N) closed
    form ((sum cos)^2 + (sum sin)^2 - N) / (N(N-1)) — equal to the
    reference's threaded O(N^2) pair loop (ext/DSPExt.jl:16-32)."""
    ph = ctx.get("analytic_phase")
    c = np.nansum(np.cos(ph), axis=1)
    s = np.nansum(np.sin(ph), axis=1)
    n = np.isfinite(ph).sum(axis=1).astype(np.float64)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = (c * c + s * s - n) / (n * (n - 1.0))
    out[n < 2] = np.nan
    return out


def decade_means(X: np.ndarray, n: np.ndarray, factor: int = 10):
    """Per-window means of consecutive groups of `factor` points — the
    downsample primitive for the tier cascade (segment-tree layout: a
    tier-N block stores these, and tier N+1 reads them instead of raw
    tokens). Returns (means (nw, W//factor ceil), counts (nw, groups))."""
    nw, W = X.shape
    g = -(-W // factor)
    pad = g * factor - W
    Xp = np.pad(X, ((0, 0), (0, pad)))
    mask = np.arange(W + pad)[None, :] < n[:, None]
    sums = (Xp * mask).reshape(nw, g, factor).sum(axis=2)
    cnts = mask.reshape(nw, g, factor).sum(axis=2)
    with np.errstate(invalid="ignore", divide="ignore"):
        means = sums / cnts
    return means, cnts


# --------------------------------------------------- ragged-batch helpers
#
# Shared prologue of the batched Arrow kernels (winnow / simhash /
# minhash / outlier_windows / LTTB): flatten a pandas column of ragged
# arrays into ONE int64 buffer with per-row offsets, dropping rows too
# short to produce output. A NULL cell counts as length 0 (the SQL
# formulations these kernels replaced emitted nothing for NULL arrays —
# explode(NULL) / groupBy over zero rows — so dropping is the
# behavior-preserving choice, not a crash).


def ragged_batch(values: np.ndarray, min_len: int = 1):
    """values: numpy object array of list/ndarray cells (None allowed).
    Returns (keep_mask, lens, flat_int64, offsets) — offsets has
    len(kept)+1 entries — or None when no row survives ``min_len``."""
    lens = np.fromiter((0 if v is None else len(v) for v in values),
                       dtype=np.int64, count=len(values))
    keep = lens >= min_len
    if not keep.any():
        return None
    kept = values[keep]
    lens = lens[keep]
    flat = (np.concatenate([np.asarray(v, dtype=np.int64) for v in kept])
            if len(kept) else np.empty(0, dtype=np.int64))
    off = np.concatenate(([0], np.cumsum(lens)))
    return keep, lens, flat, off


def ragged_arange(counts: np.ndarray):
    """(segment starts, per-element row index, within-segment 0-based
    position) for per-row segments of the given lengths — the flat
    indexing triple behind every segmented reduceat pass."""
    tot = int(counts.sum())
    cs = np.cumsum(counts) - counts
    di = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    seg = np.arange(tot, dtype=np.int64) - np.repeat(cs, counts)
    return cs, di, seg
