"""Self-contained numpy numerics used by the model kernels: a
Nelder-Mead minimizer, regularized incomplete gamma/beta (chi-square
and F-distribution tails), and ridge/OLS solvers.

The container has no scipy/sklearn/statsmodels, so the few routines
the reference pulls from them are implemented here directly (standard
published algorithms: Lagarias et al. 1998 Nelder-Mead; Numerical
Recipes continued fractions for gammainc/betainc).
"""

from __future__ import annotations

import hashlib
import math

import numpy as np

# ---------------------------------------------------------------------------
# Nelder-Mead simplex minimization


def nelder_mead(
    fn,
    x0: np.ndarray,
    max_iter: int = 500,
    xatol: float = 1e-6,
    fatol: float = 1e-8,
) -> tuple[np.ndarray, float]:
    """Minimize fn: R^n -> R. Returns (x_best, f_best). Deterministic."""
    x0 = np.asarray(x0, dtype=float)
    n = len(x0)
    alpha, gamma, rho, sigma = 1.0, 2.0, 0.5, 0.5
    simplex = [x0]
    for i in range(n):
        x = x0.copy()
        x[i] = x[i] + (0.05 * x[i] if x[i] != 0 else 0.00025)
        simplex.append(x)
    fvals = [fn(x) for x in simplex]
    for _ in range(max_iter):
        order = np.argsort(fvals)
        simplex = [simplex[i] for i in order]
        fvals = [fvals[i] for i in order]
        if (
            np.max(np.abs(np.asarray(simplex[1:]) - simplex[0])) < xatol
            and abs(fvals[-1] - fvals[0]) < fatol
        ):
            break
        centroid = np.mean(simplex[:-1], axis=0)
        xr = centroid + alpha * (centroid - simplex[-1])
        fr = fn(xr)
        if fvals[0] <= fr < fvals[-2]:
            simplex[-1], fvals[-1] = xr, fr
        elif fr < fvals[0]:
            xe = centroid + gamma * (xr - centroid)
            fe = fn(xe)
            if fe < fr:
                simplex[-1], fvals[-1] = xe, fe
            else:
                simplex[-1], fvals[-1] = xr, fr
        else:
            xc = centroid + rho * (simplex[-1] - centroid)
            fc = fn(xc)
            if fc < fvals[-1]:
                simplex[-1], fvals[-1] = xc, fc
            else:
                best = simplex[0]
                simplex = [best] + [best + sigma * (x - best) for x in simplex[1:]]
                fvals = [fvals[0]] + [fn(x) for x in simplex[1:]]
    i = int(np.argmin(fvals))
    return simplex[i], fvals[i]


# ---------------------------------------------------------------------------
# special functions (Numerical Recipes-style series/continued fractions)


def hash_u32(key: str) -> int:
    """First 8 md5 hex digits as an unsigned 32-bit int — the engine-
    replicable draw primitive (DuckDB replays it as
    ('0x' || substr(md5(k),1,8))::BIGINT)."""
    return int.from_bytes(hashlib.md5(key.encode()).digest()[:4], "big")


def hash_unit(key: str) -> float:
    """Uniform draw strictly inside (0, 1) from an md5 key (same
    (u32 + 0.5) / 2^32 mapping as hash_normals' inputs)."""
    return (hash_u32(key) + 0.5) / 4294967296.0


def hash_normals(seed: int, tag: str, n: int) -> np.ndarray:
    """n standard-normal draws from md5 hashes via Box–Muller:
    u = (first-8-hex-digits + 0.5) / 2^32 (strictly inside (0,1)),
    z = sqrt(-2 ln u1) cos(2 pi u2). Engine-replicable — any SQL engine
    with md5() rebuilds the identical stream, unlike a PCG64 generator;
    downstream ulp differences (libm vs engine ln/cos) stay ulp-sized
    as long as the consumer is branch-free.

    The per-draw md5-of-counter stream definition is load-bearing (the
    DuckDB oracles replay md5('{seed}:{tag}:{i}:a') draw-for-draw) and
    the md5 calls dominate the cost, so full batching buys nothing; the
    remaining overhead trims are hoisted method lookups, a pre-encoded
    prefix, and raw-digest-prefix parsing (bit-identical to the
    hexdigest path — first 4 digest bytes big-endian == first 8 hex
    digits). Scalar math.* is kept deliberately: numpy's SIMD log/cos
    differ from libm by ulps, which could flip quantized accept/reject
    branches the oracles replay."""
    md5, fb, pre = hashlib.md5, int.from_bytes, f"{seed}:{tag}:".encode()
    out = np.empty(n)
    for i in range(1, n + 1):
        u1 = (fb(md5(pre + b"%d:a" % i).digest()[:4], "big") + 0.5) / 4294967296.0
        u2 = (fb(md5(pre + b"%d:b" % i).digest()[:4], "big") + 0.5) / 4294967296.0
        out[i - 1] = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2)
    return out


def _lgamma(x: float) -> float:
    # Lanczos approximation
    g = 7
    c = [
        0.99999999999980993, 676.5203681218851, -1259.1392167224028,
        771.32342877765313, -176.61502916214059, 12.507343278686905,
        -0.13857109526572012, 9.9843695780195716e-6, 1.5056327351493116e-7,
    ]
    if x < 0.5:
        return float(np.log(np.pi / np.sin(np.pi * x))) - _lgamma(1 - x)
    x -= 1
    a = c[0]
    t = x + g + 0.5
    for i in range(1, g + 2):
        a += c[i] / (x + i)
    return float(0.5 * np.log(2 * np.pi) + (x + 0.5) * np.log(t) - t + np.log(a))


def gammainc_lower(s: float, x: float) -> float:
    """Regularized lower incomplete gamma P(s, x)."""
    if x <= 0:
        return 0.0
    if x < s + 1:
        # series
        term = 1.0 / s
        total = term
        k = s
        for _ in range(500):
            k += 1
            term *= x / k
            total += term
            if abs(term) < abs(total) * 1e-15:
                break
        return float(total * np.exp(-x + s * np.log(x) - _lgamma(s)))
    # continued fraction for Q(s, x)
    tiny = 1e-300
    b = x + 1 - s
    c = 1 / tiny
    d = 1 / b
    h = d
    for i in range(1, 500):
        an = -i * (i - s)
        b += 2
        d = an * d + b
        d = tiny if abs(d) < tiny else d
        c = b + an / c
        c = tiny if abs(c) < tiny else c
        d = 1 / d
        delta = d * c
        h *= delta
        if abs(delta - 1) < 1e-15:
            break
    q = float(np.exp(-x + s * np.log(x) - _lgamma(s)) * h)
    return 1.0 - q


def chi2_sf(x: float, df: float) -> float:
    """Chi-square survival function P(X > x)."""
    return 1.0 - gammainc_lower(df / 2.0, x / 2.0)


def betainc_reg(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta I_x(a, b) (continued fraction)."""
    if x <= 0:
        return 0.0
    if x >= 1:
        return 1.0
    ln_beta = _lgamma(a) + _lgamma(b) - _lgamma(a + b)
    front = float(np.exp(a * np.log(x) + b * np.log(1 - x) - ln_beta))
    if x > (a + 1) / (a + b + 2):
        return 1.0 - betainc_reg(b, a, 1 - x)
    tiny = 1e-300
    c = 1.0
    d = 1 - (a + b) * x / (a + 1)
    d = tiny if abs(d) < tiny else d
    d = 1 / d
    h = d
    for m in range(1, 300):
        num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        d = 1 + num * d
        d = tiny if abs(d) < tiny else d
        c = 1 + num / c
        c = tiny if abs(c) < tiny else c
        d = 1 / d
        h *= d * c
        num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1 + num * d
        d = tiny if abs(d) < tiny else d
        c = 1 + num / c
        c = tiny if abs(c) < tiny else c
        d = 1 / d
        delta = d * c
        h *= delta
        if abs(delta - 1) < 1e-15:
            break
    return front * h / a


def f_sf(x: float, d1: float, d2: float) -> float:
    """F-distribution survival function."""
    if x <= 0:
        return 1.0
    return betainc_reg(d2 / 2.0, d1 / 2.0, d2 / (d2 + d1 * x))


# ---------------------------------------------------------------------------
# linear models (normal equations; replaces sklearn estimators)


def ridge_fit(X: np.ndarray, y: np.ndarray, alpha: float = 0.0) -> np.ndarray:
    """Solve (X'X + alpha I) w = X'y with an intercept column appended.
    Returns w of length n_features + 1 (intercept last, not penalized)."""
    X1 = np.column_stack([X, np.ones(len(X))])
    A = X1.T @ X1
    if alpha > 0:
        idx = np.arange(X.shape[1])
        A[idx, idx] += alpha
    return np.linalg.solve(A, X1.T @ y)


def ridge_predict(w: np.ndarray, X: np.ndarray) -> np.ndarray:
    return X @ w[:-1] + w[-1]


class RidgeEstimator:
    """Minimal sklearn-protocol estimator (fit/predict/get_params) —
    the default pluggable estimator for the pipeline layer (stands in
    for the reference's sklearn regressors, models/multistep.py:18-23)."""

    def __init__(self, alpha: float = 1e-6):
        self.alpha = alpha
        self.coef_: np.ndarray | None = None

    def get_params(self) -> dict:
        return {"alpha": self.alpha}

    def fit(self, X: np.ndarray, y: np.ndarray) -> "RidgeEstimator":
        self.coef_ = ridge_fit(np.asarray(X, float), np.asarray(y, float), self.alpha)
        return self

    def predict(self, X: np.ndarray) -> np.ndarray:
        if self.coef_ is None:
            raise RuntimeError("not fitted")
        return ridge_predict(self.coef_, np.asarray(X, float))

    def clone(self) -> "RidgeEstimator":
        return RidgeEstimator(self.alpha)
