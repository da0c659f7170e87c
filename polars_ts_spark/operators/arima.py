"""ARIMA family (SURVEY §2.12) — hand-rolled numpy (no statsmodels in
the container): exact Gaussian MLE via the Kalman filter (Harvey
state-space form, concentrated sigma^2, stationarity/invertibility
enforced through the Monahan partial-autocorrelation transform) with a
CSS fit supplying starting values; seasonal SARIMA(p,d,q)(P,D,Q,s) by
multiplicative-polynomial expansion over the seasonally+regularly
differenced series; auto_arima picks d by repeated KPSS tests and D by
the Wang–Hyndman seasonal-strength heuristic, then an AIC grid.

Reference parity:
- arima_fit / arima_forecast -> polars_ts/models/arima.py:95-182
  (statsmodels SARIMAX per group, incl. seasonal_order; ours is the
  same estimator family — exact state-space MLE — so coefficients
  agree within optimizer tolerance; `method="css"` keeps the fast
  conditional-sum-of-squares path)
- auto_arima                 -> polars_ts/models/arima.py:22-87
  (statsforecast AutoARIMA: KPSS ndiffs + seasonal-strength nsdiffs +
  AIC search; ours screens the grid with CSS and MLE-refits the
  winner)

Spark mapping: per-series `applyInPandas` (SURVEY §3.3 pattern); fits
are embarrassingly parallel across series. Fitted parameters return as
DataFrame rows (state-as-data)."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from polars_ts_spark.functions.numutils import nelder_mead
from polars_ts_spark.operators.kernel import for_each_series
from polars_ts_spark.panel import ID, TARGET, TIME


def _css_resid(y: np.ndarray, phi: np.ndarray, theta: np.ndarray, c: float) -> np.ndarray:
    """Conditional-sum-of-squares residuals for ARMA(p,q)."""
    p, q = len(phi), len(theta)
    n = len(y)
    e = np.zeros(n)
    for t in range(n):
        ar = sum(phi[i] * y[t - 1 - i] for i in range(p) if t - 1 - i >= 0)
        ma = sum(theta[j] * e[t - 1 - j] for j in range(q) if t - 1 - j >= 0)
        e[t] = y[t] - c - ar - ma
    return e


def arma_fit_series(y: np.ndarray, p: int = 1, q: int = 0):
    """CSS ARMA fit. Returns (c, phi, theta, sigma2, aic)."""
    y = np.asarray(y, float)
    n = len(y)
    if p == 0 and q == 0:
        c = float(y.mean())
        rss = float(((y - c) ** 2).sum())
        sigma2 = rss / n
        aic = n * np.log(max(sigma2, 1e-300)) + 2 * 2
        return c, np.empty(0), np.empty(0), sigma2, float(aic)
    if q == 0:
        # OLS for pure AR via 1e-8-ridge normal equations (house
        # solver family — engine-replicable through the SQL Gauss
        # chain, unlike LAPACK lstsq's SVD)
        X = np.column_stack([y[p - 1 - i : n - 1 - i] for i in range(p)] + [np.ones(n - p)])
        t_ = y[p:]
        coef = np.linalg.solve(X.T @ X + 1e-8 * np.eye(p + 1), X.T @ t_)
        phi, c = coef[:p], float(coef[p])
        e = t_ - X @ coef
        sigma2 = float((e ** 2).mean())
        k = p + 2
        aic = (n - p) * np.log(max(sigma2, 1e-300)) + 2 * k
        return c, phi, np.empty(0), sigma2, float(aic)

    def obj(params):
        c = params[0]
        phi = params[1 : 1 + p]
        theta = params[1 + p : 1 + p + q]
        if np.any(np.abs(phi) > 2) or np.any(np.abs(theta) > 2):
            return 1e12
        e = _css_resid(y, phi, theta, c)
        return float((e ** 2).sum())

    x0 = np.concatenate([[y.mean() * 0.1], np.full(p, 0.1), np.full(q, 0.1)])
    best, rss = nelder_mead(obj, x0, max_iter=400)
    c = float(best[0])
    phi = best[1 : 1 + p]
    theta = best[1 + p : 1 + p + q]
    sigma2 = rss / n
    k = p + q + 2
    aic = n * np.log(max(sigma2, 1e-300)) + 2 * k
    return c, phi, theta, sigma2, float(aic)


def arma_forecast_series(
    y: np.ndarray, c: float, phi: np.ndarray, theta: np.ndarray, h: int
) -> np.ndarray:
    p, q = len(phi), len(theta)
    e = _css_resid(y, phi, theta, c) if (p or q) else np.zeros(len(y))
    hist = list(y)
    errs = list(e)
    out = np.empty(h)
    for s in range(h):
        ar = sum(phi[i] * hist[-1 - i] for i in range(p) if len(hist) > i)
        ma = sum(theta[j] * errs[-1 - j] for j in range(q) if len(errs) > j)
        y_next = c + ar + ma
        out[s] = y_next
        hist.append(y_next)
        errs.append(0.0)  # future shocks have expectation 0
    return out


# ---------------------------------------------------------------------------
# exact MLE via the Kalman filter (statsmodels-SARIMAX estimator family)


def _pacf_to_ar(pacs: np.ndarray) -> np.ndarray:
    """Durbin–Levinson: partial autocorrelations in (-1,1) -> stationary
    AR coefficients (Monahan 1984 transform, as statsmodels
    enforce_stationarity)."""
    pacs = np.asarray(pacs, float)
    phi = np.zeros(len(pacs))
    for j in range(len(pacs)):
        new = phi.copy()
        new[j] = pacs[j]
        for i in range(j):
            new[i] = phi[i] - pacs[j] * phi[j - 1 - i]
        phi = new
    return phi


def _ar_to_pacf(phi: np.ndarray) -> np.ndarray:
    """Inverse Durbin–Levinson; clips so the inverse exists even for
    slightly non-stationary inputs (CSS starting values)."""
    phi = np.asarray(phi, float).copy()
    p = len(phi)
    pacs = np.zeros(p)
    for j in range(p - 1, -1, -1):
        a = float(np.clip(phi[j], -0.998, 0.998))
        pacs[j] = a
        if j > 0:
            old = phi[:j].copy()
            denom = max(1.0 - a * a, 1e-8)
            for i in range(j):
                phi[i] = (old[i] + a * old[j - 1 - i]) / denom
    return pacs


def _uncon_to_pacf(x: np.ndarray) -> np.ndarray:
    x = np.asarray(x, float)
    return x / np.sqrt(1.0 + x * x)


def _pacf_to_uncon(r: np.ndarray) -> np.ndarray:
    r = np.clip(np.asarray(r, float), -0.998, 0.998)
    return r / np.sqrt(1.0 - r * r)


def _stationary_cov(T: np.ndarray, RRt: np.ndarray) -> np.ndarray:
    """Solve P = T P T' + RRt (discrete Lyapunov) by the vec trick;
    state dims here are tiny (m <= ~15)."""
    m = T.shape[0]
    A = np.eye(m * m) - np.kron(T, T)
    vec = np.linalg.solve(A, RRt.reshape(-1))
    P = vec.reshape(m, m)
    return (P + P.T) / 2.0


def _ar_stationary_gamma(phi: np.ndarray) -> np.ndarray:
    """Stationary autocovariances gamma_0..gamma_p of an AR(p) with
    unit innovation variance, by solving the Yule–Walker system
    directly ((p+1)x(p+1), no Kronecker product)."""
    p = len(phi)
    A = np.zeros((p + 1, p + 1))
    b = np.zeros(p + 1)
    b[0] = 1.0
    for k in range(p + 1):
        A[k, k] += 1.0
        for i in range(1, p + 1):
            A[k, abs(k - i)] -= phi[i - 1]
    return np.linalg.solve(A, b)


def _ar_exact_loglik(y: np.ndarray, phi: np.ndarray,
                     X: np.ndarray | None = None) -> float:
    """Exact concentrated loglik for a pure AR(p) on a (de-meaned)
    series — fully vectorized (no time loop): conditional residual
    sum-of-squares plus the stationary Gaussian term for the first p
    observations. ``X`` optionally supplies the precomputed lag matrix
    (columns y_{t-1}..y_{t-p} for t=p..n-1)."""
    n = len(y)
    p = len(phi)
    if p == 0:
        s2 = float(y @ y) / n
        return -0.5 * n * (np.log(2 * np.pi) + np.log(max(s2, 1e-300)) + 1.0)
    if n <= p + 1:
        return -1e12
    if p == 1:
        ph = float(phi[0])
        om = 1.0 - ph * ph
        if om <= 1e-12:
            return -1e12
        e = y[1:] - ph * y[:-1]
        Q = y[0] * y[0] * om + float(e @ e)
        s2 = Q / n
        if s2 <= 0:
            return -1e12
        return -0.5 * (n * np.log(2 * np.pi) + n * np.log(s2) - np.log(om) + n)
    try:
        gam = _ar_stationary_gamma(phi)
        idx = np.abs(np.arange(p)[:, None] - np.arange(p)[None, :])
        Sig = gam[idx]
        Sinv = np.linalg.inv(Sig)
        sign, logdet = np.linalg.slogdet(Sig)
    except np.linalg.LinAlgError:
        return -1e12
    if sign <= 0:
        return -1e12
    head = y[:p][::-1]  # state ordering (y_p, ..., y_1); Sig is Toeplitz
    if X is None:
        X = np.column_stack([y[p - 1 - i: n - 1 - i] for i in range(p)])
    e = y[p:] - X @ phi
    Q = float(head @ Sinv @ head) + float(e @ e)
    s2 = Q / n
    if s2 <= 0:
        return -1e12
    return -0.5 * (n * np.log(2 * np.pi) + n * np.log(s2) + logdet + n)


def _arma_kf_loglik(y: np.ndarray, phi: np.ndarray, theta: np.ndarray) -> float:
    """Exact concentrated loglik of an ARMA(p,q) on a (de-meaned)
    series via the Kalman filter in Harvey form; the covariance
    recursion is frozen once it reaches steady state, which it does in
    a handful of steps, so the tail of the loop is scalar work."""
    p, q = len(phi), len(theta)
    if q == 0:
        return _ar_exact_loglik(y, phi)
    n = len(y)
    m = max(p, q + 1)
    T = np.zeros((m, m))
    T[:p, 0] = phi
    for i in range(m - 1):
        T[i, i + 1] = 1.0
    R = np.zeros(m)
    R[0] = 1.0
    R[1: q + 1] = theta
    RRt = np.outer(R, R)
    try:
        P = _stationary_cov(T, RRt)
    except np.linalg.LinAlgError:
        return -1e12
    a = np.zeros(m)
    sumlogF = 0.0
    S = 0.0
    steady = False
    K = np.zeros(m)
    F = 1.0
    for t in range(n):
        v = y[t] - a[0]
        if not steady:
            F = P[0, 0]
            if not np.isfinite(F) or F <= 0:
                return -1e12
            K = (T @ P[:, 0]) / F
            TP = T @ P
            Pn = TP @ T.T - np.outer(K, K) * F + RRt
            if np.max(np.abs(Pn - P)) < 1e-12:
                steady = True
            P = Pn
        sumlogF += np.log(F)
        S += v * v / F
        a = T @ a + K * v
    s2 = S / n
    if s2 <= 0:
        return -1e12
    return -0.5 * (n * np.log(2 * np.pi) + n * np.log(s2) + sumlogF + n)


def _kf_state_forecast(y: np.ndarray, phi: np.ndarray, theta: np.ndarray,
                       h: int) -> np.ndarray:
    """Exact MMSE h-step forecast of a (de-meaned) ARMA: run the filter
    to the end, then iterate the transition on the predicted state."""
    p, q = len(phi), len(theta)
    m = max(p, q + 1, 1)
    T = np.zeros((m, m))
    T[:p, 0] = phi
    for i in range(m - 1):
        T[i, i + 1] = 1.0
    R = np.zeros(m)
    R[0] = 1.0
    R[1: q + 1] = theta
    RRt = np.outer(R, R)
    try:
        P = _stationary_cov(T, RRt)
    except np.linalg.LinAlgError:
        P = np.eye(m)
    a = np.zeros(m)
    steady = False
    K = np.zeros(m)
    for t in range(len(y)):
        v = y[t] - a[0]
        if not steady:
            F = P[0, 0]
            if not np.isfinite(F) or F <= 0:
                break
            K = (T @ P[:, 0]) / F
            TP = T @ P
            Pn = TP @ T.T - np.outer(K, K) * F + RRt
            if np.max(np.abs(Pn - P)) < 1e-12:
                steady = True
            P = Pn
        a = T @ a + K * v
    out = np.empty(h)
    for s_ in range(h):
        out[s_] = a[0]
        a = T @ a
    return out


def arma_fit_mle(y: np.ndarray, p: int, q: int, P: int = 0, Q: int = 0,
                 s: int = 0, with_mean: bool = True, max_iter: int = 200):
    """Exact Gaussian MLE of a (multiplicative-seasonal) ARMA on a
    stationary series. Optimizes over unconstrained Monahan-transformed
    parameters (each polynomial factor kept stationary/invertible),
    sigma^2 concentrated out; CSS supplies starting values. Returns
    (mu, phi, theta, Phi, Theta, sigma2, loglik, aic) — the
    statsmodels-SARIMAX estimator family (ref models/arima.py:95-182).
    """
    y = np.asarray(y, float)
    n = len(y)
    if s <= 1:
        P = Q = 0
    mu0 = float(y.mean()) if with_mean else 0.0
    # CSS start values
    try:
        if P or Q:
            c0, phi0, theta0, Phi0, Theta0, *_ = sarma_fit_series(y, p, q, P, Q, s)
        else:
            c0, phi0, theta0, *_ = arma_fit_series(y, p, q)
            Phi0 = np.empty(0)
            Theta0 = np.empty(0)
    except np.linalg.LinAlgError:
        phi0 = np.zeros(p); theta0 = np.zeros(q)
        Phi0 = np.zeros(P); Theta0 = np.zeros(Q)
    x0 = np.concatenate([
        [mu0] if with_mean else [],
        _pacf_to_uncon(_ar_to_pacf(phi0)),
        _pacf_to_uncon(_ar_to_pacf(-np.asarray(theta0, float))),
        _pacf_to_uncon(_ar_to_pacf(Phi0)),
        _pacf_to_uncon(_ar_to_pacf(-np.asarray(Theta0, float))),
    ])

    def unpack(params):
        i = 0
        mu = params[0] if with_mean else 0.0
        i += 1 if with_mean else 0
        phi = _pacf_to_ar(_uncon_to_pacf(params[i:i + p])); i += p
        theta = -_pacf_to_ar(_uncon_to_pacf(params[i:i + q])); i += q
        Phi = _pacf_to_ar(_uncon_to_pacf(params[i:i + P])); i += P
        Theta = -_pacf_to_ar(_uncon_to_pacf(params[i:i + Q]))
        return mu, phi, theta, Phi, Theta

    pure_ar = q == 0 and Q == 0 and P == 0
    if pure_ar and p > 0:
        # precompute the raw lag matrix once; the de-meaned residual is
        # e = (y_t - mu) - sum phi_i (y_{t-i} - mu), expressible from
        # the raw lags without rebuilding X per objective evaluation
        X_raw = np.column_stack([y[p - 1 - i: n - 1 - i] for i in range(p)])

        def obj(params):
            mu, phi, *_ = unpack(params)
            return -_ar_exact_loglik(y - mu, phi, X=X_raw - mu)
    else:
        def obj(params):
            mu, phi, theta, Phi, Theta = unpack(params)
            phi_full = _expand_seasonal(phi, Phi, s) if (P and s) else phi
            theta_full = -_expand_seasonal(-theta, -Theta, s) if (Q and s) else theta
            return -_arma_kf_loglik(y - mu, phi_full, theta_full)

    if len(x0) == 0:
        mu, phi, theta, Phi, Theta = 0.0, np.empty(0), np.empty(0), np.empty(0), np.empty(0)
        ll = _ar_exact_loglik(y, np.empty(0))
    else:
        best, negll = nelder_mead(obj, x0, max_iter=max_iter)
        mu, phi, theta, Phi, Theta = unpack(best)
        ll = -negll
    k = p + q + P + Q + (1 if with_mean else 0) + 1  # + sigma2
    phi_full = _expand_seasonal(phi, Phi, s) if (P and s) else phi
    theta_full = -_expand_seasonal(-theta, -Theta, s) if (Q and s) else theta
    # recover concentrated sigma2 from the residual recursion
    e = _css_resid(y - mu, phi_full, theta_full, 0.0)
    sigma2 = float((e ** 2).mean())
    aic = 2 * k - 2 * ll
    return mu, phi, theta, Phi, Theta, sigma2, float(ll), float(aic)


def _ar1_mle_golden(w: np.ndarray) -> tuple[float, float]:
    """Exact MLE of an AR(1) with mean by golden-section search on the
    concentrated profile likelihood — mu is profiled out in closed form
    for each phi, so the search is 1-D, deterministic, and built from
    six sufficient statistics accumulated in a FIXED sequential order.
    Every operation here is engine-replicable (the DuckDB oracle
    replays the identical fold and search), unlike Nelder-Mead whose
    simplex comparisons flip on ulps. Returns (mu, phi)."""
    w = np.asarray(w, float)
    n = len(w)
    w0 = float(w[0])
    S1 = S0 = S11 = S00 = S01 = 0.0
    for t in range(1, n):
        a = float(w[t]); b = float(w[t - 1])
        S1 += a; S0 += b; S11 += a * a; S00 += b * b; S01 += a * b
    m = float(n - 1)

    def g(ph: float) -> float:
        om = 1.0 - ph * ph
        am = 1.0 - ph
        Su = S1 - ph * S0
        Su2 = S11 - 2.0 * ph * S01 + ph * ph * S00
        mu = (om * w0 + am * Su) / (om + m * am * am)
        Q = om * (w0 - mu) * (w0 - mu) + (Su2 - 2.0 * am * mu * Su + m * am * am * mu * mu)
        if Q <= 0:
            Q = 1e-300
        # comparison-grid quantization: np.log vs another engine's LN
        # can differ in the last ulp, flipping late golden-section
        # branches; on a 1e-3 grid both engines take identical branches
        # (the forecast arithmetic never touches the log), costing only
        # ~5e-4 of phi resolution
        return np.floor((n * np.log(Q) - np.log(om)) * 1000.0 + 0.5)

    lo, hi = -0.998, 0.998
    invphi = (np.sqrt(5.0) - 1.0) / 2.0
    for _ in range(80):
        x1 = hi - invphi * (hi - lo)
        x2 = lo + invphi * (hi - lo)
        if g(x1) < g(x2):
            hi = x2
        else:
            lo = x1
    ph = hi - invphi * (hi - lo)
    om = 1.0 - ph * ph
    am = 1.0 - ph
    Su = S1 - ph * S0
    mu = (om * w0 + am * Su) / (om + m * am * am)
    return float(mu), float(ph)


def arima_forecast_series(y: np.ndarray, p: int, d: int, q: int, h: int,
                          method: str = "mle") -> np.ndarray:
    """Difference d times -> ARMA fit (exact MLE by default, CSS with
    ``method="css"``) -> forecast -> integrate back."""
    y = np.asarray(y, float)
    heads = []
    w = y
    for _ in range(d):
        heads.append(w[-1])  # last value at this integration level
        w = np.diff(w)
    if method == "css":
        c, phi, theta, _, _ = arma_fit_series(w, p, q)
        fc = arma_forecast_series(w, c, phi, theta, h)
    elif p == 1 and q == 0:
        # deterministic 1-D golden-section MLE + the AR(1) closed-form
        # MMSE path mu + phi^k (w_n - mu): same estimator family as the
        # Kalman route, but every float op is engine-replicable
        mu, ph = _ar1_mle_golden(w)
        wlast = float(w[-1])
        fc = np.empty(h)
        phj = 1.0
        for k in range(h):
            phj = phj * ph
            fc[k] = mu + phj * (wlast - mu)
    else:
        mu, phi, theta, *_ = arma_fit_mle(y=w, p=p, q=q)
        fc = mu + _kf_state_forecast(w - mu, phi, theta, h)
    for head in reversed(heads):
        fc = head + np.cumsum(fc)
    return fc


# ---------------------------------------------------------------------------
# seasonal SARIMA(p,d,q)(P,D,Q,s)


def _expand_seasonal(coef: np.ndarray, seas: np.ndarray, s: int) -> np.ndarray:
    """Multiply the lag polynomials (1 - sum coef_i B^i) and
    (1 - sum seas_j B^{s·j}); return the combined coefficient vector a
    with a[k-1] multiplying lag k in y_t = c + sum a_k y_{t-k} + ...
    (i.e. 1 - sum a_k B^k = product of the two polynomials)."""
    pa = np.concatenate([[1.0], -np.asarray(coef, float)])
    pb = np.zeros(s * len(seas) + 1)
    pb[0] = 1.0
    for j, v in enumerate(np.asarray(seas, float), start=1):
        pb[s * j] = -v
    prod = np.convolve(pa, pb)
    return -prod[1:]


def sarma_fit_series(y: np.ndarray, p: int, q: int, P: int = 0, Q: int = 0,
                     s: int = 0):
    """CSS fit of the multiplicative SARMA(p,q)(P,Q,s) on a stationary
    series. Returns (c, phi, theta, Phi, Theta, sigma2, aic)."""
    y = np.asarray(y, float)
    n = len(y)
    if P == 0 and Q == 0:
        c, phi, theta, sigma2, aic = arma_fit_series(y, p, q)
        return c, phi, theta, np.empty(0), np.empty(0), sigma2, aic

    # MA sign convention: _expand_seasonal builds coefficients for
    # (1 - sum a B^k); the MA side is (1 + theta B)(1 + Theta B^s) =
    # (1 - sum(-theta) B)(1 - sum(-Theta) B^s) -> expand with negated args
    def obj(params):
        c = params[0]
        phi = params[1:1 + p]
        theta = params[1 + p:1 + p + q]
        Phi = params[1 + p + q:1 + p + q + P]
        Theta = params[1 + p + q + P:1 + p + q + P + Q]
        if (np.any(np.abs(phi) > 2) or np.any(np.abs(theta) > 2)
                or np.any(np.abs(Phi) > 2) or np.any(np.abs(Theta) > 2)):
            return 1e12
        phi_full = _expand_seasonal(phi, Phi, s)
        theta_full = -_expand_seasonal(-theta, -Theta, s)
        e = _css_resid(y, phi_full, theta_full, c)
        return float((e ** 2).sum())

    k = 1 + p + q + P + Q
    x0 = np.concatenate([[y.mean() * 0.1], np.full(k - 1, 0.1)])
    best, rss = nelder_mead(obj, x0, max_iter=600)
    c = float(best[0])
    phi = best[1:1 + p]
    theta = best[1 + p:1 + p + q]
    Phi = best[1 + p + q:1 + p + q + P]
    Theta = best[1 + p + q + P:1 + p + q + P + Q]
    sigma2 = rss / n
    aic = n * np.log(max(sigma2, 1e-300)) + 2 * (k + 1)
    return c, phi, theta, Phi, Theta, sigma2, float(aic)


def sarma_fit_hr(y: np.ndarray, p: int, q: int, P: int = 0, Q: int = 0, s: int = 0):
    """Hannan-Rissanen two-stage least squares for SARMA orders with no
    multiplicative cross terms (p·P == 0 and q·Q == 0, where the model
    is exactly linear in the parameters). Stage 1: long-AR(m) OLS
    residuals (m = max(8, p + q + s(P+Q) + 1), fixed — not a function
    of n, so the SQL oracle's system size is static); residuals are 0
    before t = m. Stage 2: OLS of y_t on [y-lags, e-lags, 1] over
    t >= max(m, lags). Both solves are 1e-8-ridge normal equations —
    closed form, branch-free, engine-replicable (unlike the
    CSS/Nelder-Mead and KF-MLE paths). HR is the standard consistent
    initializer used by auto.arima/statsforecast before MLE.
    Returns (c, phi, theta, Phi, Theta, sigma2, aic)."""
    if p * P or q * Q:
        raise ValueError("method='hr' needs p*P == 0 and q*Q == 0 "
                         "(no multiplicative cross terms)")
    y = np.asarray(y, float)
    n = len(y)
    m = max(8, p + q + s * (P + Q) + 1)
    e = np.zeros(n)
    if n > m + 1:
        X1 = np.column_stack([y[m - 1 - i: n - 1 - i] for i in range(m)]
                             + [np.ones(n - m)])
        A1 = X1.T @ X1 + 1e-8 * np.eye(m + 1)
        coef1 = np.linalg.solve(A1, X1.T @ y[m:])
        e[m:] = y[m:] - X1 @ coef1
    ar_lags = list(range(1, p + 1)) + [s * j for j in range(1, P + 1)]
    ma_lags = list(range(1, q + 1)) + [s * j for j in range(1, Q + 1)]
    t0 = max([m] + ar_lags + ma_lags)
    X = np.column_stack(
        [y[t0 - L: n - L] for L in ar_lags]
        + [e[t0 - L: n - L] for L in ma_lags]
        + [np.ones(n - t0)])
    A = X.T @ X + 1e-8 * np.eye(X.shape[1])
    coef = np.linalg.solve(A, X.T @ y[t0:])
    phi = coef[:p]
    Phi = coef[p:p + P]
    theta = coef[p + P:p + P + q]
    Theta = coef[p + P + q:p + P + q + Q]
    c = float(coef[-1])
    resid = y[t0:] - X @ coef
    sigma2 = float((resid ** 2).mean())
    k = 2 + p + q + P + Q
    aic = (n - t0) * np.log(max(sigma2, 1e-300)) + 2 * k
    return c, phi, theta, Phi, Theta, sigma2, float(aic)


def _seasonal_diff(w: np.ndarray, s: int) -> tuple[np.ndarray, np.ndarray]:
    """One lag-s difference; returns (differenced, tail) where tail is
    the last s values of the input (needed to integrate back)."""
    return w[s:] - w[:-s], w[-s:].copy()


def sarima_forecast_series(
    y: np.ndarray,
    order: tuple[int, int, int],
    seasonal_order: tuple[int, int, int, int],
    h: int,
    method: str = "mle",
) -> np.ndarray:
    """Seasonal-difference D times at lag s, regular-difference d times,
    fit the SARMA (exact MLE by default, ``method="css"`` for the fast
    conditional path), forecast, integrate back in reverse order."""
    p, d, q = order
    P, D, Q, s = seasonal_order
    y = np.asarray(y, float)
    w = y
    seas_tails: list[np.ndarray] = []
    for _ in range(D):
        w, tail = _seasonal_diff(w, s)
        seas_tails.append(tail)
    heads = []
    for _ in range(d):
        heads.append(w[-1])
        w = np.diff(w)
    if method in ("css", "hr"):
        fit = sarma_fit_series if method == "css" else sarma_fit_hr
        c, phi, theta, Phi, Theta, _, _ = fit(w, p, q, P, Q, s)
        phi_full = _expand_seasonal(phi, Phi, s) if (P and s) else phi
        theta_full = -_expand_seasonal(-theta, -Theta, s) if (Q and s) else theta
        fc = arma_forecast_series(w, c, phi_full, theta_full, h)
    else:
        mu, phi, theta, Phi, Theta, *_ = arma_fit_mle(w, p, q, P, Q, s)
        phi_full = _expand_seasonal(phi, Phi, s) if (P and s) else phi
        theta_full = -_expand_seasonal(-theta, -Theta, s) if (Q and s) else theta
        fc = mu + _kf_state_forecast(w - mu, phi_full, theta_full, h)
    for head in reversed(heads):
        fc = head + np.cumsum(fc)
    for tail in reversed(seas_tails):
        out = np.empty(h)
        hist = list(tail)  # last s values at this integration level
        for i in range(h):
            out[i] = fc[i] + hist[-s]
            hist.append(out[i])
        fc = out
    return fc


def kpss_stat(y: np.ndarray) -> float:
    """KPSS level-stationarity statistic (Bartlett-window long-run
    variance, lags = floor(4·(n/100)^0.25) — the R/urca 'lshort' (l4)
    bandwidth that pmdarima's ndiffs uses; statsmodels' legacy rule is
    the longer ceil(12·(n/100)^0.25)). Compare to the 5% critical
    value 0.463."""
    y = np.asarray(y, float)
    n = len(y)
    if n < 8:
        return 0.0
    e = y - y.mean()
    s = np.cumsum(e)
    gamma0 = float(e @ e) / n
    if gamma0 <= 0:
        return 0.0
    lags = int(4 * (n / 100.0) ** 0.25)
    lrv = gamma0
    for k in range(1, min(lags, n - 1) + 1):
        w = 1.0 - k / (lags + 1.0)
        lrv += 2.0 * w * float(e[k:] @ e[:-k]) / n
    if lrv <= 0:
        return 0.0
    return float(s @ s) / (n * n * lrv)


_KPSS_CRIT_5PCT = 0.463


def seasonal_strength_stat(y: np.ndarray, s: int) -> float:
    """Wang–Hyndman–Smith seasonal strength via classical MA
    decomposition: max(0, 1 - var(remainder)/var(detrended)). The
    pmdarima 'seas' nsdiffs heuristic differences when >= 0.64."""
    y = np.asarray(y, float)
    n = len(y)
    if s < 2 or n < 2 * s + 1:
        return 0.0
    # centered moving average of window s (split ends for even s)
    if s % 2 == 0:
        kern = np.concatenate([[0.5], np.ones(s - 1), [0.5]]) / s
    else:
        kern = np.ones(s) / s
    trend = np.convolve(y, kern, mode="valid")
    half = (len(y) - len(trend)) // 2
    det = y[half: half + len(trend)] - trend
    idx = (np.arange(half, half + len(trend))) % s
    seas_means = np.zeros(s)
    for j in range(s):
        vals = det[idx == j]
        if len(vals):
            seas_means[j] = vals.mean()
    rem = det - seas_means[idx]
    v_det = float(np.var(det))
    if v_det <= 0:
        return 0.0
    return max(0.0, 1.0 - float(np.var(rem)) / v_det)


def auto_arima_series(y: np.ndarray, max_p: int = 3, max_d: int = 1, max_q: int = 1,
                      s: int = 0, max_P: int = 1, max_D: int = 1, max_Q: int = 1,
                      max_fits: int = 94):
    """Differencing orders chosen first by tests (D while the seasonal
    strength exceeds the 0.64 heuristic threshold, then d while KPSS
    rejects level-stationarity at 5% — AICs are NOT comparable across
    different differencing orders), then the Hyndman–Khandakar STEPWISE
    AIC search over (p,q)×(P,Q) — the statsforecast AutoARIMA
    algorithm (ref models/arima.py:22-87 delegates to it; IJF 27(3)
    2008 §3.2): four standard starting models, then greedy ±1 moves on
    p, q, (p,q) jointly, P, Q, (P,Q) jointly, restarting from every
    improvement until a local AIC minimum, capped at ``max_fits``
    evaluations (statsforecast's own cap). Deterministic: fixed move
    order, strict-improvement acceptance, memoized fits.
    Returns ((p,d,q), (P,D,Q,s))."""
    y = np.asarray(y, float)
    w = y
    D = 0
    if s > 1:
        while D < max_D and len(w) > 3 * s and seasonal_strength_stat(w, s) >= 0.64:
            w, _ = _seasonal_diff(w, s)
            D += 1
    d = 0
    while d < max_d and len(w) > 10 and kpss_stat(w) > _KPSS_CRIT_5PCT:
        w = np.diff(w)
        d += 1
    seasonal = s > 1 and len(w) > 3 * s
    maxs = (max_p, max_q, max_P if seasonal else 0, max_Q if seasonal else 0)
    cache: dict[tuple, float] = {}

    def admissible(phi, theta, Phi, Theta):
        """Hyndman-Khandakar root check (auto.arima / statsforecast):
        a candidate whose expanded AR or MA polynomial has a root with
        modulus <= 1.001 is non-stationary / non-invertible (or a
        spurious near-unit-root canceling pair) and is discarded."""
        phi_full = _expand_seasonal(phi, Phi, s) if len(Phi) else np.asarray(phi, float)
        theta_full = (-_expand_seasonal(-np.asarray(theta, float), -np.asarray(Theta, float), s)
                      if len(Theta) else np.asarray(theta, float))
        for coefs, sign in ((phi_full, -1.0), (theta_full, 1.0)):
            if len(coefs) == 0 or not np.any(coefs):
                continue
            roots = np.roots(np.r_[1.0, sign * np.asarray(coefs, float)][::-1])
            if len(roots) and np.abs(roots).min() <= 1.001:
                return False
        return True

    def aic_of(o):
        if o in cache:
            return cache[o]
        if len(cache) >= max_fits:
            return np.inf
        p, q, P, Q = o
        # (0,0)(0,0) with d = D = 0 is the MEAN-ONLY model — a real
        # candidate in Hyndman-Khandakar (statsforecast fits it with a
        # constant), not "no model"; white noise must be able to select
        # (0,0,0).
        try:
            c_, phi_, theta_, Phi_, Theta_, _, aic = sarma_fit_series(w, p, q, P, Q, s)
            if not admissible(phi_, theta_, Phi_, Theta_):
                aic = np.inf
        except np.linalg.LinAlgError:
            aic = np.inf
        cache[o] = aic
        return aic

    raw_starts = ([(2, 2, 1, 1), (0, 0, 0, 0), (1, 0, 1, 0), (0, 1, 0, 1)]
                  if seasonal else
                  [(2, 2, 0, 0), (0, 0, 0, 0), (1, 0, 0, 0), (0, 1, 0, 0)])
    starts = []
    for o in raw_starts:
        o = tuple(min(v, m) for v, m in zip(o, maxs))
        if o not in starts:
            starts.append(o)
    cur = starts[0]
    for o in starts[1:]:
        if aic_of(o) < aic_of(cur):
            cur = o
    moves = [(1, 0, 0, 0), (-1, 0, 0, 0), (0, 1, 0, 0), (0, -1, 0, 0),
             (1, 1, 0, 0), (-1, -1, 0, 0),
             (0, 0, 1, 0), (0, 0, -1, 0), (0, 0, 0, 1), (0, 0, 0, -1),
             (0, 0, 1, 1), (0, 0, -1, -1)]
    improved = True
    while improved and len(cache) < max_fits:
        improved = False
        for mv in moves:
            cand = tuple(v + dv for v, dv in zip(cur, mv))
            if any(v < 0 or v > m for v, m in zip(cand, maxs)):
                continue
            if aic_of(cand) < aic_of(cur):
                cur = cand
                improved = True
                break  # restart the move sweep from the new incumbent
    if not np.isfinite(aic_of(cur)):
        return (0, d, 0), (0, D, 0, s)
    p, q, P, Q = cur
    return (p, d, q), (P, D, Q, s)


def arima_forecast(
    df: DataFrame,
    h: int = 7,
    order: tuple[int, int, int] = (1, 1, 0),
    seasonal_order: tuple[int, int, int, int] = (0, 0, 0, 0),
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
    method: str = "mle",
) -> DataFrame:
    """Per-series SARIMA(p,d,q)(P,D,Q,s) forecast -> [id, ds, y_hat]
    (ref models/arima.py:95-182 exposes the same two order tuples;
    ``method="mle"`` is the statsmodels-parity exact state-space MLE,
    ``"css"`` the fast conditional fit)."""
    p, d, q = order
    P, D, Q, s = seasonal_order
    min_n = p + d + q + 5 + (P + D + Q) * max(s, 1)

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        y = pdf[target_col].to_numpy(dtype=float)
        ts = pd.to_datetime(pdf[time_col])
        freq = ts.diff().dropna().median() if len(ts) > 1 else pd.Timedelta(days=1)
        if len(y) < min_n:
            fc = np.full(h, y[-1] if len(y) else np.nan)
        elif P or D or Q:
            fc = sarima_forecast_series(y, order, seasonal_order, h, method=method)
        else:
            fc = arima_forecast_series(y, p, d, q, h, method=method)
        fut = [ts.iloc[-1] + (i + 1) * freq for i in range(h)]
        return pd.DataFrame({id_col: pdf[id_col].iloc[0], time_col: fut, "y_hat": fc})

    schema = f"{id_col} string, {time_col} timestamp, y_hat double"
    return for_each_series(df, kern, schema, id_col=id_col, time_col=time_col)


def auto_arima(
    df: DataFrame,
    h: int = 7,
    max_p: int = 2,
    max_d: int = 1,
    max_q: int = 1,
    season_length: int = 0,
    max_P: int = 1,
    max_D: int = 1,
    max_Q: int = 1,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
    method: str = "mle",
) -> DataFrame:
    """Per-series AIC-selected (S)ARIMA forecast ->
    [id, ds, y_hat, p, d, q, P, D, Q]. ``season_length`` <= 1 keeps the
    non-seasonal grid. The grid is screened with the fast CSS fit; the
    winning order is refit by exact MLE (``method``)."""

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        y = pdf[target_col].to_numpy(dtype=float)
        ts = pd.to_datetime(pdf[time_col])
        freq = ts.diff().dropna().median() if len(ts) > 1 else pd.Timedelta(days=1)
        if len(y) < 12:
            order, seas = (0, 1, 0), (0, 0, 0, season_length)
        else:
            order, seas = auto_arima_series(
                y, max_p, max_d, max_q, season_length, max_P, max_D, max_Q
            )
        if any(seas[:3]):
            fc = sarima_forecast_series(y, order, seas, h, method=method)
        else:
            fc = arima_forecast_series(y, *order, h, method=method)
        fut = [ts.iloc[-1] + (i + 1) * freq for i in range(h)]
        return pd.DataFrame({
            id_col: pdf[id_col].iloc[0], time_col: fut, "y_hat": fc,
            "p": order[0], "d": order[1], "q": order[2],
            "P": seas[0], "D": seas[1], "Q": seas[2],
        })

    schema = (f"{id_col} string, {time_col} timestamp, y_hat double, "
              "p int, d int, q int, P int, D int, Q int")
    return for_each_series(df, kern, schema, id_col=id_col, time_col=time_col)
