"""CCDC-style piecewise harmonic segmentation kernels (pure numpy).

Re-implements, from the published algorithm description (Zhu & Woodcock 2014,
"Continuous change detection and classification of land cover using all
available Landsat data", Remote Sens. Environ. 144:152-171) and the public
behavior of the reference package, the kernel stack YATSM runs per pixel —
here run per url series (SURVEY.md §2.5):

  K1  ols_fit            — yatsm/regression/packaged.py (sklearn OLS) [U]
  K2  lasso_cd           — yatsm/regression/glmnet_fit.py::GLMnetLasso [U];
                           own coordinate descent (sklearn absent in sandbox)
  K3  rlm_irls           — yatsm/regression/robust_fit.py::RLM [U]
  K4  rmse               — yatsm/regression/diagnostics.py::rmse [U]
  K5  stable-period train — yatsm/algorithms/ccdc.py::CCDCesque.train [U]
  K6  Shewhart monitor   — yatsm/algorithms/ccdc.py::CCDCesque.monitor [U]
  K7  dynamic rmse       — not ported: the monitor scales by the K4 rmse
                           of the stable fit
  K8  recresid + CUSUM   — yatsm/regression/recresid.py [U],
                           postprocess.py::omission_test [U]
  K9  Chow commission    — yatsm/algorithms/postprocess.py::commission_test [U]
  K10 Tmask screen       — yatsm/masking.py::multitemp_mask [U]

All float64, fixed iteration caps/orders, stable sorts — results are
identical regardless of Spark partitioning (SURVEY.md §4.3 determinism).
No scipy/sklearn: the F-distribution CDF needed by K9 is computed with an
own regularized-incomplete-beta continued fraction (Lentz), standard
public-domain numerics (cf. Numerical Recipes §6.4 formulas).

These kernels never see Spark: plans/segmentation.py feeds them the url
runs of url-sorted partitions via mapInPandas.
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field, replace

import numpy as np

PERIOD_DAYS = 365.25
_EPS = 1e-12


@dataclass(frozen=True)
class CCDCParams:
    """Defaults mirror the reference CCDCesque config (FIXTURES.md §2;
    re-verify against /root/reference when mounted)."""

    consecutive: int = 5
    threshold: float = 3.5
    min_obs: int = 16
    # training window must also SPAN at least this many days — a harmonic
    # model fit on a fraction of its period is unidentified (t/cos/sin are
    # locally collinear) and extrapolates into false breaks.  Zhu & Woodcock
    # 2014 §2.1.2 initialize on >= 1 year of clear observations.
    min_span: float = 365.25
    harmonic_order: int = 1
    period: float = PERIOD_DAYS
    retrain_time: float = 365.25  # days between refits while monitoring
    min_rmse: float = 1.0  # floor on rmse in monitor scores
    lasso_alpha: float = 0.0  # 0 => OLS; reference default Lasso(alpha=20)
    screen: str = "tmask"  # 'tmask' | 'mad' | 'lowess' | 'none'
    screen_crit: float = 3.5
    commission_alpha: float = 0.0  # 0 => commission (Chow) test off
    omission_alpha: float = 0.0  # 0 => omission (CUSUM) test off


# ---------------------------------------------------------------- design (F6)


def harmonic_design(t: np.ndarray, order: int = 1, period: float = PERIOD_DAYS) -> np.ndarray:
    """[1, t, cos(2πkt/P), sin(2πkt/P) for k=1..order] — the patsy
    '1 + x + harm(x, k)' design of yatsm/regression/transforms.py::harm [U]."""
    t = np.asarray(t, dtype=np.float64)
    cols = [np.ones_like(t), t]
    for k in range(1, order + 1):
        w = 2.0 * math.pi * k / period
        cols.append(np.cos(w * t))
        cols.append(np.sin(w * t))
    return np.column_stack(cols)


# ------------------------------------------------------------- fitters K1-K4


def ols_fit(X: np.ndarray, y: np.ndarray) -> tuple[np.ndarray, float]:
    """K1: least squares; returns (coef, rmse)."""
    coef, *_ = np.linalg.lstsq(X, y, rcond=None)
    resid = y - X @ coef
    return coef, rmse(resid)


def rmse(resid: np.ndarray) -> float:
    """K4."""
    return float(np.sqrt(np.mean(resid * resid))) if resid.size else 0.0


def lasso_cd(
    X: np.ndarray,
    y: np.ndarray,
    alpha: float,
    max_iter: int = 500,
    tol: float = 1e-8,
) -> np.ndarray:
    """K2: Lasso via cyclic coordinate descent (intercept unpenalized).

    Objective (sklearn/glmnet convention): (1/2n)||y - Xb||² + alpha*||b₋₀||₁.
    Deterministic: fixed cyclic order, fixed cap, fixed tol.

    When column 0 is an all-ones intercept (every harmonic design), the
    SAME objective is solved in centered/standardized coordinates: the
    unpenalized intercept is eliminated analytically (b0 = ȳ - x̄·b is
    exact for any b), and each remaining column is unit-scaled with its
    penalty adjusted to alpha/s_j — an exact reparameterization, not a
    different model.  This matters because the raw harmonic design mixes
    a ~2·10⁴-magnitude trend column with ±1 harmonics; raw-space CD
    zigzags to the iteration cap (measured ~15 ms per 300-row fit, the
    segmentation stage's hottest kernel), while the standardized solve
    converges in a few sweeps (~50x fewer residual updates).
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, p = X.shape
    if p < 2 or not np.all(X[:, 0] == 1.0):
        return _lasso_cd_raw(X, y, alpha, max_iter, tol)
    Xs = X[:, 1:]
    xm = Xs.mean(axis=0)
    Xc = Xs - xm
    ym = y.mean()
    s = np.sqrt((Xc * Xc).sum(axis=0) / n)
    ok = s > _EPS
    g = np.zeros(p - 1)  # scaled slopes: g_j = b_j * s_j
    if ok.any():
        Z = Xc[:, ok] / s[ok]
        lam = alpha / s[ok]
        m = Z.shape[1]
        gk = np.zeros(m)
        r = y - ym  # centered residual at b=0
        for _ in range(max_iter):
            max_delta = 0.0
            for j in range(m):
                rho = (Z[:, j] @ r) / n + gk[j]  # unit col_sq by construction
                new = np.sign(rho) * max(abs(rho) - lam[j], 0.0)
                delta = new - gk[j]
                if delta != 0.0:
                    r -= delta * Z[:, j]
                    gk[j] = new
                    # convergence measured on RAW-coef deltas, like the
                    # raw-space solver's criterion
                    max_delta = max(max_delta, abs(delta) / s[ok][j])
            if max_delta < tol:
                break
        g[ok] = gk
    b = np.empty(p)
    b[1:] = np.divide(g, s, out=np.zeros_like(g), where=ok)
    b[0] = ym - xm @ b[1:]
    return b


def _lasso_cd_raw(
    X: np.ndarray, y: np.ndarray, alpha: float, max_iter: int, tol: float
) -> np.ndarray:
    """Raw-space cyclic CD fallback for designs without a leading
    intercept column (same objective, original iteration)."""
    n, p = X.shape
    beta = np.zeros(p)
    col_sq = (X * X).sum(axis=0) / n
    r = y.copy()  # residual with beta=0
    for _ in range(max_iter):
        max_delta = 0.0
        for j in range(p):
            if col_sq[j] < _EPS:
                continue
            rho = (X[:, j] @ r) / n + col_sq[j] * beta[j]
            if j == 0:  # intercept: no shrinkage
                new = rho / col_sq[j]
            else:
                new = np.sign(rho) * max(abs(rho) - alpha, 0.0) / col_sq[j]
            delta = new - beta[j]
            if delta != 0.0:
                r -= delta * X[:, j]
                beta[j] = new
                max_delta = max(max_delta, abs(delta))
        if max_delta < tol:
            break
    return beta


def _med(a: np.ndarray) -> float:
    """np.median for 1-D NaN-free arrays without its dispatch overhead —
    same partition + same (lo+hi)/2 arithmetic, bit-identical (pinned in
    tests); ~6x cheaper on the tiny training windows the IRLS screens
    call it on thousands of times per series."""
    n = a.size
    h = n >> 1
    if n & 1:
        return float(np.partition(a, h)[h])
    part = np.partition(a, (h - 1, h))
    return float((part[h - 1] + part[h]) * 0.5)


def rlm_irls(
    X: np.ndarray, y: np.ndarray, maxiter: int = 5, c: float = 4.685
) -> tuple[np.ndarray, float]:
    """K3: robust linear model via IRLS with Tukey bisquare weights.

    Fixed 5 iterations like the reference robust refit [U]; scale via
    normalized MAD.  Returns (coef, robust scale estimate).
    """
    coef, *_ = np.linalg.lstsq(X, y, rcond=None)
    scale = 1.0
    for _ in range(maxiter):
        resid = y - X @ coef
        scale = 1.4826 * _med(np.abs(resid - _med(resid))) + _EPS
        u = np.clip(resid / (c * scale), -1.0, 1.0)
        w = (1.0 - u * u) ** 2
        sw = np.sqrt(w)
        coef, *_ = np.linalg.lstsq(X * sw[:, None], y * sw, rcond=None)
    return coef, scale


# ------------------------------------------------------------- screening K10


def tmask_screen(
    t: np.ndarray,
    y: np.ndarray,
    crit: float = 3.5,
    order: int = 1,
    period: float = PERIOD_DAYS,
    maxiter: int = 5,
    X: np.ndarray | None = None,
) -> np.ndarray:
    """K10: multi-temporal outlier screen — robust harmonic fit, drop
    observations whose residual exceeds ``crit`` robust sigmas.

    Reference yatsm/masking.py::multitemp_mask [U] fits an RLM on green +
    SWIR bands with a fixed 400-reflectance crit; our single-series analog
    uses the IRLS fit's MAD scale.  Returns a boolean KEEP mask.

    ``X``: optional precomputed design for exactly these t (callers in the
    training loop already hold the full-series design; a slice of it is
    bit-identical to recomputing, harmonic_design being element-wise).
    """
    if t.size < 8:
        return np.ones(t.size, dtype=bool)
    if X is None:
        X = harmonic_design(t, order, period)
    coef, scale = rlm_irls(X, y, maxiter=maxiter)
    resid = y - X @ coef
    return np.abs(resid) <= crit * max(scale, _EPS)


def mad_screen(y: np.ndarray, crit: float = 3.5) -> np.ndarray:
    """Simpler location-only MAD screen (F4's SQL-approximable variant)."""
    med = _med(y)
    sigma = 1.4826 * _med(np.abs(y - med)) + _EPS
    return np.abs(y - med) <= crit * sigma


def lowess(
    t: np.ndarray, y: np.ndarray, frac: float = 0.3, it: int = 2, k: int | None = None
) -> np.ndarray:
    """F5: LOWESS (Cleveland 1979) — locally weighted linear regression
    with tricube kernel weights and ``it`` robustifying iterations
    (bisquare on the residuals), the same algorithm statsmodels'
    ``lowess`` implements (that library is absent here; this is an own
    numpy implementation of the published method).

    Deterministic: fixed window size ceil(frac*n), fixed iteration count,
    no RNG.  O(n * k) with k = window size — fine for the per-series
    screening sizes CCDC uses it for (the reference screens with
    statsmodels lowess in yatsm/masking.py [U]).
    """
    t = np.asarray(t, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n = t.size
    if n < 3:
        return y.copy()
    # explicit k overrides the frac-derived window (the blocked screen
    # passes a fixed k so the smoothing span is slice-length-independent)
    k = min(n, max(2, int(math.ceil(frac * n)) if k is None else k))
    order = np.argsort(t, kind="stable")
    ts, ys = t[order], y[order]
    fitted_s = np.empty(n)
    delta = np.ones(n)
    for _iter in range(it + 1):
        lo = 0
        for i in range(n):
            # slide the k-window to the neighborhood nearest ts[i]
            while lo + k < n and ts[lo + k] - ts[i] < ts[i] - ts[lo]:
                lo += 1
            hi = lo + k
            tw, yw, dw = ts[lo:hi], ys[lo:hi], delta[lo:hi]
            d = np.abs(tw - ts[i])
            dmax = d.max() + _EPS
            w = (1.0 - (d / dmax) ** 3) ** 3  # tricube
            w = w * dw
            sw = w.sum()
            if sw <= _EPS:
                fitted_s[i] = ys[i]
                continue
            # weighted linear fit at ts[i] (closed form, 2x2 normal eqs)
            tm = (w * tw).sum() / sw
            ym = (w * yw).sum() / sw
            cov = (w * (tw - tm) * (yw - ym)).sum()
            var = (w * (tw - tm) ** 2).sum()
            beta = cov / var if var > _EPS else 0.0
            fitted_s[i] = ym + beta * (ts[i] - tm)
        if _iter == it:
            break
        resid = ys - fitted_s
        s = np.median(np.abs(resid)) + _EPS
        delta = np.clip(resid / (6.0 * s), -1.0, 1.0)
        delta = (1.0 - delta**2) ** 2  # bisquare robustifying weights
    fitted = np.empty(n)
    fitted[order] = fitted_s
    return fitted


LOWESS_BLOCK = 4096


def lowess_screen(
    t: np.ndarray,
    y: np.ndarray,
    crit: float = 3.5,
    frac: float = 0.3,
    block: int = LOWESS_BLOCK,
) -> np.ndarray:
    """F5 as a screen: drop observations farther than ``crit`` robust
    sigmas from the LOWESS curve — the reference's multitemporal cloud/
    shadow screen family, trend-following where the MAD screen is
    location-only (a genuine level shift stays IN, a spike goes OUT).
    Returns a boolean KEEP mask.

    Series longer than ``block`` are smoothed on FIXED index blocks with
    an overlap of one window (window size pinned to ceil(frac*block)),
    so total work is O(n * frac * block) — linear in n — instead of the
    O(n^2 * frac) a single global fit costs; the bounded-per-fit-work
    guarantee of the chunked giant-series path is preserved.  Block
    boundaries are index-deterministic and independent of where the
    chunked fitter splits, so single-pass and chunked fits see the
    identical mask (the robust sigma stays GLOBAL over all residuals).
    For n <= block this is exactly the unblocked screen."""
    n = t.size
    if n < 8:
        return np.ones(n, dtype=bool)
    order = np.argsort(t, kind="stable")
    ts, ys = t[order], y[order]
    if n <= block:
        resid_s = ys - lowess(ts, ys, frac=frac)
    else:
        kw = int(math.ceil(frac * block))
        resid_s = np.empty(n)
        for s in range(0, n, block):
            e = min(n, s + block)
            lo, hi = max(0, s - kw), min(n, e + kw)
            sm = lowess(ts[lo:hi], ys[lo:hi], frac=frac, k=kw)
            resid_s[s:e] = ys[s:e] - sm[s - lo : e - lo]
    sigma = 1.4826 * np.median(np.abs(resid_s - np.median(resid_s))) + _EPS
    keep = np.empty(n, dtype=bool)
    keep[order] = np.abs(resid_s) <= crit * sigma
    return keep


# --------------------------------------------------- recursive residuals K8


def recresid(X: np.ndarray, y: np.ndarray) -> np.ndarray:
    """K8: standardized one-step-ahead recursive residuals
    (Brown, Durbin & Evans 1975), via Sherman-Morrison updates.

    Returns array of length n-p (nan-free when X'X stays invertible).
    """
    X = np.asarray(X, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    n, p = X.shape
    if n <= p:
        return np.empty(0)
    X0, y0 = X[:p], y[:p]
    XtX_inv = np.linalg.pinv(X0.T @ X0)
    beta = XtX_inv @ (X0.T @ y0)
    out = np.empty(n - p)
    for i in range(p, n):
        x = X[i]
        xP = x @ XtX_inv
        Px = XtX_inv @ x
        denom = 1.0 + xP @ x
        e = y[i] - x @ beta
        out[i - p] = e / math.sqrt(denom)
        XtX_inv -= np.outer(Px, xP) / denom
        # beta MUST use the stored updated inverse (not the algebraic
        # shortcut Px/denom): under an ill-conditioned start the stored
        # XtX_inv and its exact-arithmetic value diverge by cancellation,
        # and only the coupled update keeps beta consistent with XtX_inv
        # (verified: the shortcut drifts ~4.0 from the definitional
        # residuals on a cond~1e13 harmonic start; this form stays <6e-6).
        beta += XtX_inv @ x * e
    return out


def recresid_batch(Xs: list[np.ndarray], ys: list[np.ndarray]) -> list[np.ndarray]:
    """Step-synchronized :func:`recresid` over MANY segments at once.

    Same per-step Sherman-Morrison algebra, but every matvec/outer runs as
    one stacked ``np.matmul`` across all still-active segments — the
    per-step Python overhead (the sequential loop's real cost at p=4) is
    amortized over the batch.  Bit-identical to the sequential kernel on
    stacked BLAS (pinned by tests/test_ccdc_kernels.py): stacked dgemv
    accumulates in the same order as the per-segment call.

    Segments must share one design width p.  Returns results in input
    order; segments with n <= p get an empty array, exactly as recresid.
    """
    m = len(Xs)
    if m == 0:
        return []
    p = Xs[0].shape[1]
    ns = np.array([X.shape[0] for X in Xs])
    out: list[np.ndarray] = [np.empty(0)] * m
    live = np.flatnonzero(ns > p)
    if live.size == 0:
        return out
    if live.size == 1:
        si = int(live[0])
        out[si] = recresid(Xs[si], ys[si])
        return out
    # longest-first so the per-step active set is always a prefix
    order = live[np.argsort(-ns[live], kind="stable")]
    sn = ns[order]
    nmax = int(sn[0])
    Xp = np.zeros((order.size, nmax, p))
    yp = np.zeros((order.size, nmax))
    for bi, si in enumerate(order):
        Xp[bi, : ns[si]] = np.asarray(Xs[si], dtype=np.float64)
        yp[bi, : ns[si]] = np.asarray(ys[si], dtype=np.float64)
    X0 = Xp[:, :p, :]
    X0t = np.swapaxes(X0, 1, 2)
    P = np.linalg.pinv(np.matmul(X0t, X0))
    beta = np.matmul(P, np.matmul(X0t, yp[:, :p, None]))[:, :, 0]
    w = np.empty((order.size, nmax - p))
    for i in range(p, nmax):
        ba = int((sn > i).sum())
        if ba == 0:
            break
        x = Xp[:ba, i, :]
        Pa = P[:ba]
        xP = np.matmul(x[:, None, :], Pa)[:, 0, :]
        Px = np.matmul(Pa, x[:, :, None])[:, :, 0]
        denom = 1.0 + np.matmul(xP[:, None, :], x[:, :, None])[:, 0, 0]
        e = yp[:ba, i] - np.matmul(x[:, None, :], beta[:ba, :, None])[:, 0, 0]
        w[:ba, i - p] = e / np.sqrt(denom)
        P[:ba] = Pa - Px[:, :, None] * xP[:, None, :] / denom[:, None, None]
        beta[:ba] += np.matmul(P[:ba], x[:, :, None])[:, :, 0] * e[:, None]
    for bi, si in enumerate(order):
        out[si] = w[bi, : ns[si] - p].copy()
    return out


# Brown-Durbin-Evans CUSUM boundary coefficients by significance level.
_CUSUM_CRIT = {0.10: 0.850, 0.05: 0.948, 0.01: 1.143}


def _cusum_crosses(w: np.ndarray, alpha: float) -> bool:
    """BDE boundary check on precomputed recursive residuals."""
    m = w.size
    if m < 4:
        return False
    sigma = np.std(w, ddof=1)
    if sigma < _EPS:
        return False
    s = np.cumsum(w) / (sigma * math.sqrt(m))
    crit = _CUSUM_CRIT.get(round(alpha, 2), 0.948)
    i = np.arange(1, m + 1)
    bound = crit * (1.0 + 2.0 * i / m)
    return bool(np.any(np.abs(s) > bound))


def cusum_omission(X: np.ndarray, y: np.ndarray, alpha: float = 0.05) -> bool:
    """K8: CUSUM-of-recursive-residuals structural-break test.  True if the
    cumulative sum crosses the BDE boundary a*sqrt(n)*(1 + 2*i/n) — i.e. an
    omitted break exists inside the segment."""
    return _cusum_crosses(recresid(X, y), alpha)


def cusum_omission_batch(
    Xs: list[np.ndarray], ys: list[np.ndarray], alpha: float = 0.05
) -> list[bool]:
    """Batched K8 over many segments (one recresid_batch sweep)."""
    return [_cusum_crosses(w, alpha) for w in recresid_batch(Xs, ys)]


# -------------------------------------------------------- F-distribution K9


def _betacf(a: float, b: float, x: float) -> float:
    """Continued fraction for the incomplete beta (modified Lentz)."""
    MAXIT, EPS, FPMIN = 200, 3e-12, 1e-300
    qab, qap, qam = a + b, a + 1.0, a - 1.0
    c, d = 1.0, 1.0 - qab * x / qap
    if abs(d) < FPMIN:
        d = FPMIN
    d = 1.0 / d
    h = d
    for m in range(1, MAXIT + 1):
        m2 = 2 * m
        aa = m * (b - m) * x / ((qam + m2) * (a + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        h *= d * c
        aa = -(a + m) * (qab + m) * x / ((a + m2) * (qap + m2))
        d = 1.0 + aa * d
        if abs(d) < FPMIN:
            d = FPMIN
        c = 1.0 + aa / c
        if abs(c) < FPMIN:
            c = FPMIN
        d = 1.0 / d
        delta = d * c
        h *= delta
        if abs(delta - 1.0) < EPS:
            break
    return h


def betainc_reg(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b)."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    ln_front = (
        math.lgamma(a + b)
        - math.lgamma(a)
        - math.lgamma(b)
        + a * math.log(x)
        + b * math.log(1.0 - x)
    )
    front = math.exp(ln_front)
    if x < (a + 1.0) / (a + b + 2.0):
        return front * _betacf(a, b, x) / a
    return 1.0 - front * _betacf(b, a, 1.0 - x) / b


def f_sf(f: float, d1: float, d2: float) -> float:
    """Survival function (1 - CDF) of the F distribution."""
    if f <= 0:
        return 1.0
    x = d2 / (d2 + d1 * f)
    return betainc_reg(d2 / 2.0, d1 / 2.0, x)


def chow_commission(
    X1: np.ndarray, y1: np.ndarray, X2: np.ndarray, y2: np.ndarray, alpha: float = 0.01
) -> bool:
    """K9: Chow test — True if the break BETWEEN the two adjacent segments
    is NOT significant at ``alpha`` (i.e. the segments should be merged —
    a commission error, yatsm/algorithms/postprocess.py::commission_test [U])."""
    n1, n2 = len(y1), len(y2)
    p = X1.shape[1]
    if n1 <= p or n2 <= p:
        return False
    Xp = np.vstack([X1, X2])
    yp = np.concatenate([y1, y2])
    c_p, *_ = np.linalg.lstsq(Xp, yp, rcond=None)
    ssr_p = float(np.sum((yp - Xp @ c_p) ** 2))
    c1, *_ = np.linalg.lstsq(X1, y1, rcond=None)
    c2, *_ = np.linalg.lstsq(X2, y2, rcond=None)
    ssr_1 = float(np.sum((y1 - X1 @ c1) ** 2))
    ssr_2 = float(np.sum((y2 - X2 @ c2) ** 2))
    ssr_u = ssr_1 + ssr_2
    df2 = n1 + n2 - 2 * p
    if df2 <= 0 or ssr_u < _EPS:
        return False
    f_stat = ((ssr_p - ssr_u) / p) / (ssr_u / df2)
    return f_sf(f_stat, p, df2) > alpha  # not significant -> merge


# ------------------------------------------------------- the segmenter K5+K6


@dataclass
class Segment:
    start_t: float
    end_t: float
    break_t: float  # nan if no break closed this segment
    n_obs: int
    coef: np.ndarray
    rmse: float
    magnitude: float  # mean residual of the triggering run (nan if no break)
    status: str  # 'stable' | 'broken' | 'insufficient'

    def final_fit(
        self, t: np.ndarray, X: np.ndarray, y: np.ndarray, params: CCDCParams
    ) -> None:
        """Fit the emitted coefficients on the segment's screened obs."""
        if params.screen == "tmask" and t.size >= 2 * params.min_obs:
            wk = tmask_screen(
                t, y, params.screen_crit, params.harmonic_order, params.period, X=X
            )
            if int(wk.sum()) >= params.min_obs:
                X, y = X[wk], y[wk]
        if params.lasso_alpha > 0:
            self.coef = lasso_cd(X, y, params.lasso_alpha)
        else:
            self.coef, *_ = np.linalg.lstsq(X, y, rcond=None)
        self.rmse = rmse(y - X @ self.coef)


@dataclass
class _Fit:
    coef: np.ndarray = field(default_factory=lambda: np.zeros(0))
    rmse: float = 0.0


def fit_series(
    t: np.ndarray,
    y: np.ndarray,
    params: CCDCParams = CCDCParams(),
    omission_collect: list | None = None,
) -> list[Segment]:
    """K5+K6: full CCDC loop over one (already time-sorted) series.

    ``omission_collect``: when given (and omission_alpha > 0), the K8
    omission tests are NOT run inline; instead ``(segment, X_slice,
    y_slice)`` tuples are appended for the caller to score in one
    :func:`cusum_omission_batch` sweep across many series — the plan-level
    batching that amortizes the recursive-residual loop (the kernel
    stack's hottest path at realistic series lengths).

    train: slide the window start until the first ``min_obs`` observations
    are stable (|slope|·span/rmse and edge residuals below threshold);
    monitor: score each new obs |y-ŷ|/max(rmse, min_rmse); ``consecutive``
    successive exceedances declare a break at the first of the run;
    refit absorbed obs every ``retrain_time`` days.  Optional post-pass:
    Chow merge (K9) and CUSUM omission flagging (K8).
    """
    t = np.asarray(t, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    order = np.argsort(t, kind="stable")
    t, y = t[order], y[order]

    # K10 screening happens per training window / per segment fit, NOT
    # globally: a global robust screen would flag everything after a genuine
    # level shift as outliers and erase the break (the reference applies
    # multitemp_mask inside train() for the same reason [U]).  The cheap
    # location-only MAD variant is offered as an explicit global mode.
    if params.screen == "mad":
        keep = mad_screen(y, params.screen_crit)
        t, y = t[keep], y[keep]
    elif params.screen == "lowess":
        keep = lowess_screen(t, y, params.screen_crit)
        t, y = t[keep], y[keep]
    n = t.size

    if n < params.min_obs:
        return [
            Segment(
                start_t=float(t[0]) if n else math.nan,
                end_t=float(t[-1]) if n else math.nan,
                break_t=math.nan,
                n_obs=int(n),
                coef=np.zeros(2 + 2 * params.harmonic_order),
                rmse=math.nan,
                magnitude=math.nan,
                status="insufficient",
            )
        ]

    X = harmonic_design(t, params.harmonic_order, params.period)
    segments: list[Segment] = []
    i = 0

    while n - i >= params.min_obs:
        i0 = i  # start of this training attempt (tail anchor if never stable)
        # ---- K5 train: find a stable start window with enough obs AND span
        stable = False
        while n - i >= params.min_obs:
            j = i + params.min_obs
            while j <= n and t[j - 1] - t[i] < params.min_span:
                j += 1
            if j > n:
                break  # can't span min_span from this start
            Xw, yw = X[i:j], y[i:j]
            # K10: screen outliers WITHIN the candidate window before fitting
            if params.screen == "tmask":
                wk = tmask_screen(
                    t[i:j], yw, params.screen_crit, params.harmonic_order, params.period,
                    X=Xw,
                )
                if int(wk.sum()) < params.min_obs:
                    i += 1
                    continue
            else:
                wk = np.ones(j - i, dtype=bool)
            coef, *_ = np.linalg.lstsq(Xw[wk], yw[wk], rcond=None)
            resid = yw[wk] - Xw[wk] @ coef
            r = max(rmse(resid), params.min_rmse)
            span = max(t[j - 1] - t[i], _EPS)
            slope_ok = abs(coef[1]) * span / r < params.threshold
            edges_ok = abs(resid[0]) / r < params.threshold and abs(resid[-1]) / r < params.threshold
            if slope_ok and edges_ok:
                stable = True
                break
            # not stable: drop the first observation of the window
            i += 1
        if not stable:
            # CCDC proper emits nothing for a span that never stabilizes
            # (continuous change); for web series we keep the information:
            # one 'unstable' segment fitted over the remainder, no break.
            if n - i0 >= params.min_obs:
                seg = Segment(
                    start_t=float(t[i0]),
                    end_t=float(t[n - 1]),
                    break_t=math.nan,
                    n_obs=int(n - i0),
                    coef=np.zeros(X.shape[1]),
                    rmse=math.nan,
                    magnitude=math.nan,
                    status="unstable",
                )
                seg.final_fit(t[i0:n], X[i0:n], y[i0:n], params)
                segments.append(seg)
            i = n
            break

        fit = _Fit(coef=coef, rmse=max(rmse(y[i:j] - X[i:j] @ coef), params.min_rmse))
        last_refit_t = t[j - 1]
        run_resid = np.zeros(0)
        break_idx = -1

        # ---- K6 monitor (chunk-vectorized).  Between refits the
        # coefficients are FIXED, so the whole remaining block is scored
        # with one matvec and the `consecutive` trigger becomes a
        # run-length scan over the boolean exceedance vector.  Event order
        # is exact vs the per-point loop: a refit can only happen at a
        # NON-exceeding point (which also zeroes the run counter), a break
        # run is all-exceeding, so the two cannot coincide — whichever has
        # the smaller index is the block's one event, and the loop
        # re-enters after it with fresh state.
        k = j
        while k < n:
            resid_blk = y[k:n] - X[k:n] @ fit.coef
            scores = np.abs(resid_blk) / max(fit.rmse, params.min_rmse)
            exceed = scores > params.threshold
            pos = np.arange(exceed.size)
            last_ok = np.maximum.accumulate(np.where(~exceed, pos, -1))
            run_hits = np.flatnonzero(pos - last_ok >= params.consecutive)
            refit_hits = np.flatnonzero(
                ~exceed & (t[k:n] - last_refit_t >= params.retrain_time)
            )
            b = int(run_hits[0]) if run_hits.size else exceed.size
            r = int(refit_hits[0]) if refit_hits.size else exceed.size
            if b < r:  # break confirmed before any refit point
                break_idx = k + b - params.consecutive + 1
                run_resid = resid_blk[b - params.consecutive + 1 : b + 1]
                break
            if r < exceed.size:  # refit on retrain cadence, then rescore
                ka = k + r
                coef2, *_ = np.linalg.lstsq(X[i : ka + 1], y[i : ka + 1], rcond=None)
                fit.coef = coef2
                fit.rmse = max(rmse(y[i : ka + 1] - X[i : ka + 1] @ coef2), params.min_rmse)
                last_refit_t = t[ka]
                k = ka + 1
                continue
            k = n  # absorbed the rest: no break, no further refit

        if break_idx >= 0:
            seg_end = break_idx  # segment covers [i, break_idx)
            seg = Segment(
                start_t=float(t[i]),
                end_t=float(t[seg_end - 1]),
                break_t=float(t[break_idx]),
                n_obs=int(seg_end - i),
                coef=fit.coef,
                rmse=fit.rmse,
                magnitude=float(np.mean(run_resid)),
                status="broken",
            )
            seg.final_fit(t[i:seg_end], X[i:seg_end], y[i:seg_end], params)
            segments.append(seg)
            i = break_idx
        else:
            seg = Segment(
                start_t=float(t[i]),
                end_t=float(t[n - 1]),
                break_t=math.nan,
                n_obs=int(n - i),
                coef=fit.coef,
                rmse=fit.rmse,
                magnitude=math.nan,
                status="stable",
            )
            seg.final_fit(t[i:n], X[i:n], y[i:n], params)
            segments.append(seg)
            i = n
            break

    if not segments:
        return [
            Segment(
                start_t=float(t[0]),
                end_t=float(t[-1]),
                break_t=math.nan,
                n_obs=int(n),
                coef=np.zeros(X.shape[1]),
                rmse=math.nan,
                magnitude=math.nan,
                status="insufficient",
            )
        ]

    # ---- K9 commission merge (optional)
    if params.commission_alpha > 0:
        segments = _merge_commission(segments, t, y, X, params)

    # ---- K8 omission flag (optional): mark segments hiding a break
    if params.omission_alpha > 0:
        for seg in segments:
            m = (t >= seg.start_t) & (t <= seg.end_t)
            if m.sum() > X.shape[1] + 4:
                if omission_collect is not None:
                    omission_collect.append((seg, X[m], y[m]))
                elif cusum_omission(X[m], y[m], params.omission_alpha):
                    seg.status = seg.status + "+omission"

    return segments


def _merge_commission(
    segments: list[Segment], t: np.ndarray, y: np.ndarray, X: np.ndarray, params: CCDCParams
) -> list[Segment]:
    """K9: merge adjacent segments whose break fails the Chow test."""
    out = [segments[0]]
    for nxt in segments[1:]:
        cur = out[-1]
        m1 = (t >= cur.start_t) & (t <= cur.end_t)
        m2 = (t >= nxt.start_t) & (t <= nxt.end_t)
        if chow_commission(X[m1], y[m1], X[m2], y[m2], params.commission_alpha):
            merged = Segment(
                start_t=cur.start_t,
                end_t=nxt.end_t,
                break_t=nxt.break_t,
                n_obs=cur.n_obs + nxt.n_obs,
                coef=cur.coef,
                rmse=cur.rmse,
                magnitude=nxt.magnitude,
                status=nxt.status,
            )
            mm = m1 | m2
            merged.final_fit(t[mm], X[mm], y[mm], params)
            out[-1] = merged
        else:
            out.append(nxt)
    return out


def fit_series_chunked(
    t: np.ndarray,
    y: np.ndarray,
    params: CCDCParams = CCDCParams(),
    chunk_rows: int = 50_000,
    omission_collect: list | None = None,
) -> list[Segment]:
    """Split-and-stitch :func:`fit_series` for giant series — EXACT results
    with bounded per-fit work (SURVEY.md §4.2's "one genuinely custom
    physical concern"; replaces the old lossy down-sampling guard).

    Why exactness holds: the CCDC loop is memoryless across confirmed
    breaks — after a break at index b it restarts training at b with no
    carried state.  So we fit a window of ``chunk_rows``, COMMIT only the
    segments up to and including the window's last break-confirmed
    ('broken') segment, and re-fit from that break.  Trailing unconfirmed
    segments (stable/unstable — they might extend past the window) are
    discarded and re-derived with more data.  A window containing no
    confirmed break doubles and refits (a segment genuinely longer than the
    window can't be confirmed without its data — memory is bounded by the
    longest REAL segment, the information-theoretic floor).  The final
    window keeps its trailing segments verbatim; post-passes (Chow merge,
    CUSUM omission) run once over the stitched list exactly as fit_series
    runs them over its own.

    Requires strictly increasing timestamps within a series (rollup tiers
    guarantee one row per bucket).
    """
    t = np.asarray(t, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    order = np.argsort(t, kind="stable")
    t, y = t[order], y[order]
    if t.size <= chunk_rows:
        return fit_series(t, y, params, omission_collect=omission_collect)
    if np.any(np.diff(t) <= 0):
        # duplicate/zero-gap timestamps break the break_t -> index mapping
        # the stitch relies on (searchsorted could fail to advance and the
        # loop would re-fit the same window forever).  The exactness
        # contract only holds for strictly increasing series; fall back to
        # the single-pass fit rather than risk non-termination.
        return fit_series(t, y, params, omission_collect=omission_collect)

    base = params
    if base.screen in ("mad", "lowess"):
        # these screens are global in fit_series; apply once up front so
        # per-chunk fits see the identical post-screen series
        keep = (
            mad_screen(y, base.screen_crit)
            if base.screen == "mad"
            else lowess_screen(t, y, base.screen_crit)
        )
        t, y = t[keep], y[keep]
        base = replace(base, screen="none")
    # post-passes run over the stitched whole, not per chunk
    base = replace(base, commission_alpha=0.0, omission_alpha=0.0)

    n = t.size
    segments: list[Segment] = []
    pos, window = 0, chunk_rows
    while pos < n:
        end = min(pos + window, n)
        if end == n and segments and n - pos < params.min_obs:
            break  # fit_series emits nothing for a short tail after a break
        segs = fit_series(t[pos:end], y[pos:end], base)
        if end == n:
            segments.extend(segs)
            break
        last_broken = None
        for s in segs:
            if s.status.startswith("broken"):
                last_broken = s
        if last_broken is None:
            window *= 2  # no confirmed break in window: widen and refit
            continue
        for s in segs:
            segments.append(s)
            if s is last_broken:
                break
        new_pos = int(np.searchsorted(t, last_broken.break_t, side="left"))
        if new_pos <= pos:  # belt-and-braces: never re-fit the same window
            window *= 2
            del segments[len(segments) - segs.index(last_broken) - 1 :]
            continue
        pos = new_pos
        window = chunk_rows

    if params.commission_alpha > 0 or params.omission_alpha > 0:
        X = harmonic_design(t, params.harmonic_order, params.period)
        if params.commission_alpha > 0:
            segments = _merge_commission(segments, t, y, X, params)
        if params.omission_alpha > 0:
            for seg in segments:
                m = (t >= seg.start_t) & (t <= seg.end_t)
                if m.sum() > X.shape[1] + 4:
                    if omission_collect is not None:
                        omission_collect.append((seg, X[m], y[m]))
                    elif cusum_omission(X[m], y[m], params.omission_alpha):
                        seg.status = seg.status + "+omission"
    return segments
