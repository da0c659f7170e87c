"""Time-series clustering & classification (SURVEY §2.16).

Reference parity:
- kmedoids / TimeSeriesKMedoids -> polars_ts/clustering/kmedoids.py:17-253,
  src/kmedoids.rs:19-146 (PAM swap on precomputed distances, seeded init)
- clara / clarans              -> polars_ts/clustering/scalable.py:26-266
- agglomerative_cluster        -> polars_ts/clustering/hierarchical.py:23-117
- dbscan_cluster               -> polars_ts/clustering/density.py:31-156
- spectral_cluster             -> polars_ts/clustering/spectral.py:52-129
- KShape                       -> polars_ts/clustering/kshape.py:10-160
- kmeans_dba / TimeSeriesKMeans-> polars_ts/clustering/kmeans.py:19-218, dba.py:48-132
- silhouette / davies_bouldin / calinski_harabasz
                               -> polars_ts/clustering/evaluation.py:65-325
- auto_cluster                 -> polars_ts/clustering/auto.py:148-309
- knn_classify                 -> polars_ts/classification/knn.py:13-165

Spark split (SURVEY §7 Phase 3): the O(n²) distance matrix is computed
DISTRIBUTED by the pairwise engine (operators/distance.py) — that is
the scale-dominant stage. The matrix itself is n_series², the SMALL
dimension of a panel (even 100k series fit as a driver matrix only for
modest k-NN graphs; PAM-family algorithms are intrinsically
matrix-global, same as the reference). Assignment steps (k-means/DBA,
kNN) stay distributed: distance of every series to k broadcast
centroids via the same cross-join+kernel plan.

Determinism: all inits use an explicit LCG (mirroring the reference's
seeded init, kmedoids.rs:20-25) — repeated runs hash-match.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_ts_spark.functions import dist_kernels as K
from polars_ts_spark.operators.distance import compute_pairwise_distance
from polars_ts_spark.panel import ID, TARGET, TIME, ordered_values
from polars_ts_spark.session import DRIVER_VALUES_CAP


class _LCG:
    """Tiny deterministic PRNG (same family as kmedoids.rs:20-25)."""

    def __init__(self, seed: int = 42):
        self.state = seed & 0xFFFFFFFFFFFFFFFF

    def next(self) -> int:
        self.state = (6364136223846793005 * self.state + 1442695040888963407) & 0xFFFFFFFFFFFFFFFF
        return self.state >> 33

    def randint(self, n: int) -> int:
        return self.next() % n

    def sample(self, n: int, k: int) -> list[int]:
        idx = list(range(n))
        for i in range(k):
            j = i + self.randint(n - i)
            idx[i], idx[j] = idx[j], idx[i]
        return idx[:k]


def _collect_array_panel(
    df: DataFrame, id_col: str, time_col: str, target_col: str, op_name: str
) -> list:
    """Grouped (id, time-ordered value array) rows for the driver-side
    clusterers. The cap counts observations, so the long panel is
    limited to one past it BEFORE grouping: the driver never holds more
    than that, and the gate needs no sizing job."""
    rows = (
        df.limit(DRIVER_VALUES_CAP + 1)
        .groupBy(F.col(id_col).cast("string").alias(id_col))
        .agg(ordered_values(target_col, time_col).alias("vals"))
        .collect()
    )
    if sum(len(r["vals"]) for r in rows) > DRIVER_VALUES_CAP:
        raise ValueError(
            f"{op_name}: panel holds more than {DRIVER_VALUES_CAP} "
            "observations, over the driver-collect cap. The centroid "
            "refinement stage is driver-side by design; downsample the "
            "panel first (resample / shorter window), cluster a CLARA-style "
            "sample of series, or use kmedoids/clara whose distance stage "
            "is fully distributed."
        )
    return rows


# ---------------------------------------------------------------------------
# distance matrix assembly


def distance_matrix(
    df: DataFrame,
    method: str = "dtw",
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
    **kwargs,
) -> tuple[list[str], np.ndarray]:
    """Distributed pairwise distances -> (ids, symmetric matrix).
    The heavy O(n²·len²) kernel work runs on the cluster; only the
    n_series² scalar matrix is collected."""
    pdf = compute_pairwise_distance(
        df, method=method, id_col=id_col, time_col=time_col, target_col=target_col, **kwargs
    ).toPandas()  # Arrow transfer; n_series² rows of 3 scalars
    ids = sorted(set(pdf["id_1"]) | set(pdf["id_2"]))
    pos = {s: i for i, s in enumerate(ids)}
    i = pdf["id_1"].map(pos).to_numpy()
    j = pdf["id_2"].map(pos).to_numpy()
    D = np.zeros((len(ids), len(ids)))
    D[i, j] = D[j, i] = pdf[method].to_numpy(dtype=float)
    return ids, D


# ---------------------------------------------------------------------------
# PAM k-medoids + CLARA + CLARANS (numpy on the collected matrix)


def pam_kmedoids(D: np.ndarray, k: int, max_iter: int = 100, seed: int = 42):
    """PAM: seeded init + greedy swap until no improvement
    (kmedoids.rs:19-146). Returns (medoid_idx, labels, cost)."""
    n = len(D)
    rng = _LCG(seed)
    medoids = rng.sample(n, k)
    labels = np.argmin(D[:, medoids], axis=1)
    cost = float(D[np.arange(n), np.asarray(medoids)[labels]].sum())
    for _ in range(max_iter):
        # FastPAM1-style exact swap deltas: for every (medoid-out mi,
        # candidate-in c) pair in one O(n²) vectorized pass instead of
        # k·n argmin re-evaluations. Same greedy best-swap trajectory.
        Dm = D[:, medoids]                      # (n, k)
        order = np.argsort(Dm, axis=1)
        d1 = Dm[np.arange(n), order[:, 0]]      # nearest medoid dist
        d2 = Dm[np.arange(n), order[:, 1]] if k > 1 else np.full(n, np.inf)
        near = order[:, 0]                      # index into medoid list
        Dc = D.T                                # Dc[c] = distances to cand c
        gain = np.minimum(Dc - d1, 0.0)         # (n_cand, n): removal-free gain
        base = gain.sum(axis=1)                 # per-candidate total
        # correction for points whose nearest medoid is the one removed
        delta = np.empty((k, n))
        for mi in range(k):
            mask = near == mi
            corr = (np.minimum(Dc[:, mask], d2[mask]) - d1[mask]).sum(axis=1)
            delta[mi] = base - gain[:, mask].sum(axis=1) + corr
        delta[:, medoids] = 0.0                 # candidates already medoids
        flat = int(np.argmin(delta))
        mi, cand = divmod(flat, n)
        if delta[mi, cand] >= -1e-12:
            break
        cost += float(delta[mi, cand])
        medoids[mi] = cand
        labels = np.argmin(D[:, medoids], axis=1)
    cost = float(D[np.arange(n), np.asarray(medoids)[labels]].sum())
    return medoids, labels, cost


def clara(D: np.ndarray, k: int, n_samples: int = 5, sample_size: int | None = None, seed: int = 42):
    """CLARA: PAM on samples, keep best full-data cost (scalable.py:26-130)."""
    n = len(D)
    ssize = sample_size or min(n, 40 + 2 * k)
    best = (np.inf, None, None)
    rng = _LCG(seed)
    for s in range(n_samples):
        idx = sorted(rng.sample(n, ssize))
        sub = D[np.ix_(idx, idx)]
        med_local, _, _ = pam_kmedoids(sub, k, seed=seed + s)
        med = [idx[m] for m in med_local]
        labels = np.argmin(D[:, med], axis=1)
        cost = float(D[np.arange(n), np.asarray(med)[labels]].sum())
        if cost < best[0]:
            best = (cost, med, labels)
    return best[1], best[2], best[0]


def clarans(D: np.ndarray, k: int, num_local: int = 3, max_neighbor: int = 50, seed: int = 42):
    """CLARANS randomized medoid search (scalable.py:140-266)."""
    n = len(D)
    rng = _LCG(seed)
    best = (np.inf, None)
    for _ in range(num_local):
        medoids = rng.sample(n, k)
        labels = np.argmin(D[:, medoids], axis=1)
        cost = float(D[np.arange(n), np.asarray(medoids)[labels]].sum())
        j = 0
        while j < max_neighbor:
            mi = rng.randint(k)
            cand = rng.randint(n)
            if cand in medoids:
                j += 1
                continue
            trial = list(medoids)
            trial[mi] = cand
            tl = np.argmin(D[:, trial], axis=1)
            tc = float(D[np.arange(n), np.asarray(trial)[tl]].sum())
            if tc < cost - 1e-12:
                medoids, cost = trial, tc
                j = 0
            else:
                j += 1
        if cost < best[0]:
            best = (cost, list(medoids))
    medoids = best[1]
    labels = np.argmin(D[:, medoids], axis=1)
    return medoids, labels, best[0]


# ---------------------------------------------------------------------------
# hierarchical / density / spectral on the matrix


def agglomerative_labels(D: np.ndarray, k: int, linkage: str = "average") -> np.ndarray:
    """Naive O(n³) agglomerative clustering with average/complete/single
    linkage (hierarchical.py:23-117); fine for matrix-scale n."""
    n = len(D)
    act = list(range(n))
    members = {i: [i] for i in range(n)}
    Dw = D.astype(float).copy()
    np.fill_diagonal(Dw, np.inf)
    while len(act) > k:
        sub = Dw[np.ix_(act, act)]
        flat = np.argmin(sub)
        ai, aj = divmod(flat, len(act))
        i, j = act[ai], act[aj]
        members[i] += members[j]
        act.remove(j)
        for o in act:
            if o == i:
                continue
            pairs = [(a, b) for a in members[i] for b in members[o]]
            ds = np.array([D[a, b] for a, b in pairs])
            if linkage == "single":
                v = ds.min()
            elif linkage == "complete":
                v = ds.max()
            else:
                v = ds.mean()
            Dw[i, o] = Dw[o, i] = v
    labels = np.empty(n, dtype=int)
    for ci, root in enumerate(sorted(act)):
        for m in members[root]:
            labels[m] = ci
    return labels


def dbscan_labels(D: np.ndarray, eps: float, min_samples: int = 3) -> np.ndarray:
    """Canonical DBSCAN on a precomputed matrix (density.py:31-156);
    noise = -1. Clusters are the connected components of the core-core
    eps-graph, numbered by each component's minimal point index (which
    is exactly the classic scan numbering); border points attach to the
    MINIMUM-label core neighbor instead of whichever expansion reached
    them first, so the labeling is scan-order-free and the DuckDB
    oracle can rebuild it as min-label propagation."""
    n = len(D)
    adj = D <= eps
    core = adj.sum(axis=1) >= min_samples
    labels = np.full(n, -1, dtype=int)
    comp = np.where(core, np.arange(n), n)
    changed = True
    while changed:
        changed = False
        for i in np.flatnonzero(core):
            nb = [comp[j] for j in np.flatnonzero(adj[i]) if core[j]]
            m = min(nb) if nb else comp[i]
            if m < comp[i]:
                comp[i] = m
                changed = True
    roots = sorted({int(comp[i]) for i in np.flatnonzero(core)})
    rank = {r: k for k, r in enumerate(roots)}
    for i in np.flatnonzero(core):
        labels[i] = rank[int(comp[i])]
    for i in np.flatnonzero(~core):
        nb = [labels[j] for j in np.flatnonzero(adj[i]) if core[j]]
        if nb:
            labels[i] = min(nb)
    return labels


def _kmeans_euclid(X: np.ndarray, k: int, seed: int = 42, iters: int = 100) -> np.ndarray:
    rng = _LCG(seed)
    cent = X[sorted(rng.sample(len(X), k))].copy()
    labels = np.zeros(len(X), dtype=int)
    for _ in range(iters):
        d = ((X[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        new = np.argmin(d, axis=1)
        if np.array_equal(new, labels) and _ > 0:
            break
        labels = new
        for c in range(k):
            pts = X[labels == c]
            if len(pts):
                cent[c] = pts.mean(axis=0)
    return labels


def spectral_labels(D: np.ndarray, k: int, sigma: float | None = None, seed: int = 42) -> np.ndarray:
    """Normalized spectral clustering (Ng-Jordan-Weiss) from the
    distance matrix (spectral.py:52-129)."""
    sigma = sigma or (np.median(D[D > 0]) or 1.0)
    A = np.exp(-(D ** 2) / (2 * sigma ** 2))
    np.fill_diagonal(A, 0.0)
    d = A.sum(axis=1)
    d_inv = 1.0 / np.sqrt(np.maximum(d, 1e-12))
    L = d_inv[:, None] * A * d_inv[None, :]
    vals, vecs = np.linalg.eigh(L)
    X = vecs[:, -k:]
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    return _kmeans_euclid(X, k, seed)


def spectral_labels_power(
    D: np.ndarray, k: int, sigma: float | None = None,
    n_iter: int = 20, seed: int = 42,
) -> np.ndarray:
    """Same Ng-Jordan-Weiss pipeline as ``spectral_labels`` but with the
    eigensolver replaced by fixed-count subspace (orthogonal) iteration
    on I + L from an md5-hash init — every step is a branch-free
    composition of matmuls, modified Gram-Schmidt and norms, so the
    whole trajectory replays in SQL (unlike LAPACK's eigh, whose
    internal pivoting/rotations are not engine-replicable). Spectrum of
    I + L is [0, 2], so the dominant subspace is the top-k ALGEBRAIC
    eigenvectors of L, as NJW wants."""
    from polars_ts_spark.functions.numutils import hash_unit

    sigma = sigma or (np.median(D[D > 0]) or 1.0)
    A = np.exp(-(D ** 2) / (2 * sigma ** 2))
    np.fill_diagonal(A, 0.0)
    d = A.sum(axis=1)
    d_inv = 1.0 / np.sqrt(np.maximum(d, 1e-12))
    L = d_inv[:, None] * A * d_inv[None, :]
    n = len(D)
    X = np.array([
        [hash_unit(f"{seed}:spec:{i}:{j}") - 0.5 for j in range(k)]
        for i in range(n)
    ])
    for _ in range(n_iter):
        X = L @ X + X
        for j in range(k):           # modified Gram-Schmidt, fixed order
            for l in range(j):
                X[:, j] -= (X[:, l] @ X[:, j]) * X[:, l]
            X[:, j] /= max(float(np.linalg.norm(X[:, j])), 1e-12)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    return _kmeans_euclid(X, k, seed)


# ---------------------------------------------------------------------------
# evaluation scores (evaluation.py:65-325)


def silhouette_score(D: np.ndarray, labels: np.ndarray) -> float:
    n = len(D)
    labels = np.asarray(labels)
    uniq = np.unique(labels)
    if len(uniq) < 2:
        return 0.0
    s = np.empty(n)
    for i in range(n):
        own = labels == labels[i]
        own[i] = False
        a = D[i, own].mean() if own.any() else 0.0
        b = min(D[i, labels == c].mean() for c in uniq if c != labels[i])
        s[i] = (b - a) / max(a, b) if max(a, b) > 0 else 0.0
    return float(s.mean())


def davies_bouldin_score(D: np.ndarray, labels: np.ndarray) -> float:
    """Medoid-based DB index from the distance matrix."""
    labels = np.asarray(labels)
    uniq = np.unique(labels)
    med = {}
    spread = {}
    for c in uniq:
        idx = np.flatnonzero(labels == c)
        sub = D[np.ix_(idx, idx)]
        mi = idx[int(np.argmin(sub.sum(axis=1)))]
        med[c] = mi
        spread[c] = D[mi, idx].mean()
    vals = []
    for ci in uniq:
        worst = 0.0
        for cj in uniq:
            if ci == cj:
                continue
            denom = D[med[ci], med[cj]] or 1e-12
            worst = max(worst, (spread[ci] + spread[cj]) / denom)
        vals.append(worst)
    return float(np.mean(vals))


def calinski_harabasz_score(D: np.ndarray, labels: np.ndarray) -> float:
    """Medoid-based CH analogue from distances (evaluation.py:238-325)."""
    labels = np.asarray(labels)
    n = len(D)
    uniq = np.unique(labels)
    if len(uniq) < 2:
        return 0.0
    global_med = int(np.argmin(D.sum(axis=1)))
    within = 0.0
    between = 0.0
    for c in uniq:
        idx = np.flatnonzero(labels == c)
        sub = D[np.ix_(idx, idx)]
        mi = idx[int(np.argmin(sub.sum(axis=1)))]
        within += (D[mi, idx] ** 2).sum()
        between += len(idx) * D[global_med, mi] ** 2
    if within == 0:
        return float("inf")
    return float((between / (len(uniq) - 1)) / (within / (n - len(uniq))))


# ---------------------------------------------------------------------------
# Spark-facing cluster operators (labels as DataFrames, [id, cluster])


def _labels_df(spark, ids: list[str], labels, id_col: str) -> DataFrame:
    pdf = pd.DataFrame({id_col: ids, "cluster": np.asarray(labels, dtype="int32")})
    return spark.createDataFrame(pdf)


def kmedoids(
    df: DataFrame, k: int = 3, method: str = "dtw", seed: int = 42,
    id_col: str = ID, time_col: str = TIME, target_col: str = TARGET, **kw,
) -> DataFrame:
    """PAM over the distributed distance matrix -> [id, cluster]."""
    ids, D = distance_matrix(df, method, id_col, time_col, target_col, **kw)
    _, labels, _ = pam_kmedoids(D, k, seed=seed)
    return _labels_df(df.sparkSession, ids, labels, id_col)


def clara_cluster(
    df: DataFrame, k: int = 3, method: str = "dtw", seed: int = 42,
    id_col: str = ID, time_col: str = TIME, target_col: str = TARGET, **kw,
) -> DataFrame:
    ids, D = distance_matrix(df, method, id_col, time_col, target_col, **kw)
    _, labels, _ = clara(D, k, seed=seed)
    return _labels_df(df.sparkSession, ids, labels, id_col)


def clarans_cluster(
    df: DataFrame, k: int = 3, method: str = "dtw", seed: int = 42,
    id_col: str = ID, time_col: str = TIME, target_col: str = TARGET, **kw,
) -> DataFrame:
    ids, D = distance_matrix(df, method, id_col, time_col, target_col, **kw)
    _, labels, _ = clarans(D, k, seed=seed)
    return _labels_df(df.sparkSession, ids, labels, id_col)


def agglomerative_cluster(
    df: DataFrame, k: int = 3, method: str = "dtw", linkage: str = "average",
    id_col: str = ID, time_col: str = TIME, target_col: str = TARGET, **kw,
) -> DataFrame:
    ids, D = distance_matrix(df, method, id_col, time_col, target_col, **kw)
    return _labels_df(df.sparkSession, ids, agglomerative_labels(D, k, linkage), id_col)


def dbscan_cluster(
    df: DataFrame, eps: float, min_samples: int = 3, method: str = "dtw",
    id_col: str = ID, time_col: str = TIME, target_col: str = TARGET, **kw,
) -> DataFrame:
    ids, D = distance_matrix(df, method, id_col, time_col, target_col, **kw)
    return _labels_df(df.sparkSession, ids, dbscan_labels(D, eps, min_samples), id_col)


def spectral_cluster(
    df: DataFrame, k: int = 3, method: str = "dtw", seed: int = 42,
    solver: str = "eigh", n_iter: int = 20,
    id_col: str = ID, time_col: str = TIME, target_col: str = TARGET, **kw,
) -> DataFrame:
    """solver='eigh' is LAPACK (reference parity, spectral.py:52-129);
    solver='power' is fixed-count subspace iteration — same NJW
    pipeline, fully engine-replicable (oracle-able)."""
    ids, D = distance_matrix(df, method, id_col, time_col, target_col, **kw)
    labels = (
        spectral_labels_power(D, k, n_iter=n_iter, seed=seed)
        if solver == "power" else spectral_labels(D, k, seed=seed)
    )
    return _labels_df(df.sparkSession, ids, labels, id_col)


def auto_cluster(
    df: DataFrame,
    methods: list[str] = ("kmedoids",),
    distances: list[str] = ("dtw", "msm"),
    k_range: list[int] = (2, 3, 4),
    metric: str = "silhouette",
    seed: int = 42,
    id_col: str = ID, time_col: str = TIME, target_col: str = TARGET,
) -> tuple[DataFrame, pd.DataFrame]:
    """Grid search methods × distances × k, scored on the chosen
    internal metric; distance matrices computed once per distance and
    reused (auto.py:148-309 + evaluation caching pattern).
    Returns (best labels DataFrame, results table)."""
    results = []
    best = (-np.inf, None, None)
    for dist in distances:
        ids, D = distance_matrix(df, dist, id_col, time_col, target_col)
        for m in methods:
            for k in k_range:
                if m == "kmedoids":
                    _, labels, _ = pam_kmedoids(D, k, seed=seed)
                elif m == "spectral":
                    labels = spectral_labels(D, k, seed=seed)
                elif m == "agglomerative":
                    labels = agglomerative_labels(D, k)
                else:
                    raise ValueError(f"unknown method {m}")
                if metric == "silhouette":
                    score = silhouette_score(D, labels)
                elif metric == "davies_bouldin":
                    score = -davies_bouldin_score(D, labels)
                else:
                    score = calinski_harabasz_score(D, labels)
                results.append({"method": m, "distance": dist, "k": k, "score": score})
                if score > best[0]:
                    best = (score, ids, labels)
    return _labels_df(df.sparkSession, best[1], best[2], id_col), pd.DataFrame(results)


# ---------------------------------------------------------------------------
# KShape (z-norm + SBD alignment + eigen shape extraction)


def _znorm(x: np.ndarray) -> np.ndarray:
    s = x.std()
    return (x - x.mean()) / (s if s > 0 else 1.0)


def _sbd_align(x: np.ndarray, ref: np.ndarray) -> np.ndarray:
    """Shift x to maximize NCC with ref (kshape.py alignment step).

    Norms are sqrt-of-sum-of-squares, NOT np.linalg.norm: BLAS dnrm2
    computes a scaled reduction whose last ulps differ from the
    SQL oracle's SQRT(list_sum(e*e)) and drift across BLAS builds —
    the r12 environment flipped an alignment argmax on the sf0.001
    corpus through exactly this (the ukf_filter _wsum fix's sibling)."""
    n = len(ref)
    cc = np.correlate(x, ref, mode="full")
    denom = float(np.sqrt(np.sum(x * x))) * float(np.sqrt(np.sum(ref * ref)))
    if denom > 0:
        cc = cc / denom
    shift = int(np.argmax(cc)) - (len(x) - 1)
    out = np.zeros(n)
    if shift >= 0:
        out[shift:] = x[: n - shift]
    else:
        out[:shift] = x[-shift:]
    return out


def _shape_extract(X: np.ndarray, ref: np.ndarray, exact: bool = False) -> np.ndarray:
    """Dominant eigenvector of the aligned, centered scatter
    (kshape.py:80-120), via power iteration with fixed start.
    ``exact=True`` runs the branch-free variant (always 100 iterations,
    guarded divide instead of the zero/allclose breaks) whose whole
    trajectory replays in SQL."""
    aligned = np.stack([_sbd_align(x, ref) for x in X])
    aligned = np.stack([_znorm(a) for a in aligned])
    n = aligned.shape[1]
    S = aligned.T @ aligned
    Q = np.eye(n) - np.ones((n, n)) / n
    M = Q @ S @ Q
    v = np.ones(n) / np.sqrt(n)
    for _ in range(100):
        v2 = M @ v
        nv = np.sqrt(np.sum(v2 * v2))  # not dnrm2 — see _sbd_align
        if exact:
            v = v2 / max(float(nv), 1e-300)
            continue
        if nv == 0:
            break
        v2 = v2 / nv
        if np.allclose(v2, v, atol=1e-10):
            v = v2
            break
        v = v2
    # sign: match the aligned mean
    if np.dot(v, aligned.mean(axis=0)) < 0:
        v = -v
    return _znorm(v)


def kshape(
    df: DataFrame, k: int = 3, max_iter: int = 20, seed: int = 42,
    exact: bool = False,
    id_col: str = ID, time_col: str = TIME, target_col: str = TARGET,
) -> DataFrame:
    """KShape clustering (kshape.py:10-160): series collected (panel
    scale: n_series bounded), z-normed, SBD assignment + eigen shape
    centroids. [id, cluster]. Series are processed in sorted-id order
    so the LCG label init is a function of the data, not of Spark's
    collect order. ``exact=True`` removes the two convergence
    early-stops (main loop runs exactly max_iter rounds, power
    iteration exactly 100) so the full trajectory is branch-free and
    SQL-replicable."""
    rows = sorted(
        _collect_array_panel(df, id_col, time_col, target_col, "kshape"),
        key=lambda r: r[id_col],
    )
    ids = [r[id_col] for r in rows]
    L = max(len(r["vals"]) for r in rows)
    X = np.stack([
        np.pad(np.asarray(r["vals"], float), (0, L - len(r["vals"])), constant_values=np.nan)
        for r in rows
    ])
    X = np.where(np.isnan(X), 0.0, X)
    X = np.stack([_znorm(x) for x in X])
    rng = _LCG(seed)
    labels = np.array([rng.randint(k) for _ in range(len(X))])
    centroids = np.stack([
        X[labels == c].mean(axis=0) if (labels == c).any() else X[rng.randint(len(X))]
        for c in range(k)
    ])
    for _ in range(max_iter):
        # centroid refinement
        for c in range(k):
            mem = X[labels == c]
            if len(mem):
                centroids[c] = _shape_extract(mem, centroids[c], exact=exact)
        # assignment by SBD
        d = np.stack([K.sbd_batch(X, np.broadcast_to(centroids[c], X.shape)) for c in range(k)], axis=1)
        new = np.argmin(d, axis=1)
        if not exact and np.array_equal(new, labels):
            break
        labels = new
    order = {c: r for r, c in enumerate(pd.unique(labels))}
    labels = np.array([order[c] for c in labels])
    return _labels_df(df.sparkSession, ids, labels, id_col)


# ---------------------------------------------------------------------------
# k-means with DBA centroids — distributed assignment


def dba_barycenter(X: list[np.ndarray], init: np.ndarray, n_iter: int = 5) -> np.ndarray:
    """Petitjean DTW Barycenter Averaging (dba.py:48-132): align every
    series to the current barycenter along the DTW path, average the
    warped contributions."""
    bary = init.copy()
    m = len(bary)
    for _ in range(n_iter):
        sums = np.zeros(m)
        counts = np.zeros(m)
        for x in X:
            n = len(x)
            D = np.full((n + 1, m + 1), np.inf)
            D[0, 0] = 0.0
            for i in range(1, n + 1):
                for j in range(1, m + 1):
                    D[i, j] = abs(x[i - 1] - bary[j - 1]) + min(D[i - 1, j], D[i, j - 1], D[i - 1, j - 1])
            i, j = n, m
            while i > 0 and j > 0:
                sums[j - 1] += x[i - 1]
                counts[j - 1] += 1
                step = np.argmin([D[i - 1, j - 1], D[i - 1, j], D[i, j - 1]])
                if step == 0:
                    i, j = i - 1, j - 1
                elif step == 1:
                    i -= 1
                else:
                    j -= 1
        mask = counts > 0
        bary[mask] = sums[mask] / counts[mask]
    return bary


def kmeans_dba(
    df: DataFrame, k: int = 3, max_iter: int = 5, dba_iter: int = 3, seed: int = 42,
    id_col: str = ID, time_col: str = TIME, target_col: str = TARGET,
) -> DataFrame:
    """TimeSeriesKMeans with DBA centroids (kmeans.py:19-218).
    ASSIGNMENT IS DISTRIBUTED: distance of every series to the k
    centroids runs through the pairwise engine (series × broadcast
    centroid panel cross join); only the barycenter update (k small
    centroid refits over member arrays) runs on the driver."""
    spark = df.sparkSession
    rows = sorted(
        _collect_array_panel(df, id_col, time_col, target_col, "kmeans_dba"),
        key=lambda r: r[id_col],
    )  # sorted ids: the LCG centroid sample indexes rows, so row order
    # must not depend on Spark's collect order (same fix as kshape/kasba)
    ids = [r[id_col] for r in rows]
    series = {r[id_col]: np.asarray(r["vals"], float) for r in rows}
    rng = _LCG(seed)
    cent_ids = [ids[i] for i in rng.sample(len(ids), k)]
    centroids = [series[c].copy() for c in cent_ids]
    labels = {sid: 0 for sid in ids}
    for _ in range(max_iter):
        # distributed assignment: centroid panel (k rows) vs series panel
        cent_rows = []
        for c, arr in enumerate(centroids):
            for t, v in enumerate(arr):
                cent_rows.append((f"__cent_{c}", t, float(v)))
        cent_df = spark.createDataFrame(cent_rows, ["unique_id", "t", "y"]).select(
            F.col("unique_id"),
            F.timestamp_seconds(F.col("t") * 86400).alias("ds"),
            "y",
        )
        panel = df.select(
            F.col(id_col).cast("string").alias("unique_id"),
            F.col(time_col).alias("ds"),
            F.col(target_col).alias("y"),
        )
        d = compute_pairwise_distance(panel, cent_df, method="dtw").collect()
        best: dict[str, tuple[float, int]] = {}
        for r in d:
            sid, cid = (r["id_1"], r["id_2"]) if str(r["id_2"]).startswith("__cent_") else (r["id_2"], r["id_1"])
            if not str(cid).startswith("__cent_"):
                continue
            c = int(str(cid).split("_")[-1])
            v = r["dtw"]
            if sid not in best or v < best[sid][0]:
                best[sid] = (v, c)
        new_labels = {sid: best.get(sid, (0.0, 0))[1] for sid in ids}
        if new_labels == labels:
            break
        labels = new_labels
        for c in range(k):
            mem = [series[sid] for sid in ids if labels[sid] == c]
            if mem:
                centroids[c] = dba_barycenter(mem, centroids[c], n_iter=dba_iter)
    return _labels_df(spark, ids, [labels[sid] for sid in ids], id_col)


# ---------------------------------------------------------------------------
# KASBA (clustering/kasba.py:16-262, src/kasba/*): k-means under the
# MSM elastic distance with stochastic-subgradient barycenter updates.
# Same Spark split as kmeans_dba: assignment distributed, the k small
# barycenter refits on the driver.


def _msm_path(a: np.ndarray, b: np.ndarray, c: float = 1.0) -> list[tuple[int, int]]:
    """MSM alignment: full DP grid + backtrack of the argmin move.
    Returns matched index pairs (i, j) along the optimal path."""
    n, m = len(a), len(b)
    D = np.full((n, m), np.inf)
    D[0, 0] = abs(a[0] - b[0])
    for i in range(1, n):
        D[i, 0] = D[i - 1, 0] + float(K._msm_cost(a[i], a[i - 1], b[0], c))
    for j in range(1, m):
        D[0, j] = D[0, j - 1] + float(K._msm_cost(b[j], a[0], b[j - 1], c))
    for i in range(1, n):
        for j in range(1, m):
            D[i, j] = min(
                D[i - 1, j - 1] + abs(a[i] - b[j]),
                D[i - 1, j] + float(K._msm_cost(a[i], a[i - 1], b[j], c)),
                D[i, j - 1] + float(K._msm_cost(b[j], a[i], b[j - 1], c)),
            )
    path = []
    i, j = n - 1, m - 1
    while i > 0 or j > 0:
        path.append((i, j))
        if i == 0:
            j -= 1
        elif j == 0:
            i -= 1
        else:
            diag = D[i - 1, j - 1] + abs(a[i] - b[j])
            up = D[i - 1, j] + float(K._msm_cost(a[i], a[i - 1], b[j], c))
            left = D[i, j - 1] + float(K._msm_cost(b[j], a[i], b[j - 1], c))
            if diag <= up and diag <= left:
                i, j = i - 1, j - 1
            elif up <= left:
                i -= 1
            else:
                j -= 1
    path.append((0, 0))
    return path[::-1]


def _ssg_barycenter(
    members: list[np.ndarray], init: np.ndarray, c: float, n_epochs: int, rng: "_LCG"
) -> np.ndarray:
    """Stochastic subgradient Fréchet-mean update under MSM
    (src/kasba/ssg): one pass per epoch over members in seeded random
    order; step toward the member's path-aligned projection with a
    decaying rate."""
    bary = init.copy()
    step = 0
    for _ in range(n_epochs):
        order = rng.sample(len(members), len(members))
        for mi in order:
            x = members[mi]
            path = _msm_path(bary, x, c)
            aligned = bary.copy()
            cnt = np.zeros(len(bary))
            acc = np.zeros(len(bary))
            for i, j in path:
                acc[i] += x[j]
                cnt[i] += 1
            has = cnt > 0
            aligned[has] = acc[has] / cnt[has]
            eta = 1.0 / (1.0 + step)
            bary += eta * (aligned - bary)
            step += 1
    return bary


def kasba(
    df: DataFrame, k: int = 3, max_iter: int = 5, ssg_epochs: int = 2,
    c: float = 1.0, seed: int = 42, exact: bool = False,
    id_col: str = ID, time_col: str = TIME, target_col: str = TARGET,
) -> DataFrame:
    """KASBA clustering (clustering/kasba.py:16-262): k-means with the
    MSM distance and accelerated stochastic barycenter averaging.
    Assignment (the O(n·k·len²) stage) runs through the distributed
    pairwise engine; only the k barycenter refits run on the driver.
    ``exact=True`` removes the label-stability early stop (the refit
    is not a fixed point, so the branch-free trajectory runs exactly
    max_iter rounds — SQL-replayable). Output [id, cluster]."""
    spark = df.sparkSession
    rows = sorted(
        _collect_array_panel(df, id_col, time_col, target_col, "kasba"),
        key=lambda r: r[id_col],
    )  # sorted ids: the LCG centroid init indexes rows, so row order
    # must not depend on Spark's collect order
    ids = [r[id_col] for r in rows]
    clash = [s for s in ids if s.startswith("__cent_")]
    if clash:
        raise ValueError(
            f"series ids may not start with the reserved '__cent_' prefix: {clash[:3]}"
        )
    series = {r[id_col]: np.asarray(r["vals"], float) for r in rows}
    rng = _LCG(seed)
    centroids = [series[ids[i]].copy() for i in rng.sample(len(ids), k)]
    labels = {sid: -1 for sid in ids}
    panel = df.select(
        F.col(id_col).cast("string").alias("unique_id"),
        F.col(time_col).alias("ds"),
        F.col(target_col).alias("y"),
    )
    for _ in range(max_iter):
        cent_rows = [
            (f"__cent_{ci}", t, float(v))
            for ci, arr in enumerate(centroids)
            for t, v in enumerate(arr)
        ]
        cent_df = spark.createDataFrame(cent_rows, ["unique_id", "t", "y"]).select(
            "unique_id", F.timestamp_seconds(F.col("t") * 86400).alias("ds"), "y"
        )
        d = compute_pairwise_distance(panel, cent_df, method="msm", c=c).toPandas()
        cent_mask = d["id_2"].astype(str).str.startswith("__cent_")
        sid = np.where(cent_mask, d["id_1"], d["id_2"])
        cid = np.where(cent_mask, d["id_2"], d["id_1"])
        keep = pd.Series(cid).astype(str).str.startswith("__cent_").to_numpy()
        pares = pd.DataFrame({
            "sid": sid[keep],
            "c": [int(s.split("_")[-1]) for s in cid[keep]],
            "v": d["msm"].to_numpy()[keep],
        })
        # deterministic argmin: ties on distance break toward the lower
        # cluster index (idxmin would inherit Spark's collect order)
        best = (pares.sort_values(["sid", "v", "c"], kind="stable")
                .groupby("sid", sort=False).first().reset_index())
        new_labels = dict(zip(best["sid"], best["c"]))
        # a series with no distance row (shouldn't happen, but don't
        # silently reassign) keeps its previous label
        new_labels = {s: int(new_labels.get(s, labels.get(s, 0))) for s in ids}
        if not exact and new_labels == labels:
            break
        labels = new_labels
        for ci in range(k):
            mem = [series[s] for s in ids if labels[s] == ci]
            if mem:
                centroids[ci] = _ssg_barycenter(mem, centroids[ci], c, ssg_epochs, rng)
    return _labels_df(spark, ids, [labels[s] for s in ids], id_col)


# ---------------------------------------------------------------------------
# kNN classification — fully distributed


def knn_classify(
    train: DataFrame,
    test: DataFrame,
    labels: DataFrame,
    k: int = 3,
    method: str = "dtw",
    id_col: str = ID, time_col: str = TIME, target_col: str = TARGET,
    label_col: str = "label",
) -> DataFrame:
    """k-NN vote over any pairwise distance (knn.py:13-165):
    train×test distance join -> window top-k -> majority vote.
    Fully distributed; no driver matrix. [id, label_pred]."""
    from pyspark.sql import Window

    d = compute_pairwise_distance(
        test, train, method=method, id_col=id_col, time_col=time_col, target_col=target_col
    )
    lab = labels.select(F.col(id_col).cast("string").alias("id_2"), F.col(label_col))
    w = Window.partitionBy("id_1").orderBy(F.col(method).asc(), F.col("id_2"))
    topk = (
        d.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") <= k)
        .join(lab, "id_2")
    )
    votes = topk.groupBy("id_1", label_col).agg(F.count(F.lit(1)).alias("votes"))
    w2 = Window.partitionBy("id_1").orderBy(F.col("votes").desc(), F.col(label_col))
    return (
        votes.withColumn("_r", F.row_number().over(w2))
        .filter(F.col("_r") == 1)
        .select(F.col("id_1").alias(id_col), F.col(label_col).alias("label_pred"))
    )


# ---------------------------------------------------------------------------
# HDBSCAN (clustering/density.py:31-100 — reference delegates to the
# hdbscan package on a precomputed matrix; rebuilt here from scratch:
# mutual-reachability MST -> single-linkage tree -> condensed tree ->
# excess-of-mass cluster selection)


def hdbscan_labels(
    D: np.ndarray, min_cluster_size: int = 3, min_samples: int | None = None
) -> np.ndarray:
    """HDBSCAN* on a precomputed distance matrix. Noise = -1. The
    matrix is n_series² (driver-small); the distances feeding it are
    computed distributed."""
    n = len(D)
    mcs = max(2, min_cluster_size)
    if n < 2 * mcs:
        return np.full(n, -1, dtype=int)
    ms = min(min_samples or mcs, n - 1)
    core = np.sort(D, axis=1)[:, ms]  # k-th NN incl. self at col 0
    MR = np.maximum(np.maximum.outer(core, core), D)
    np.fill_diagonal(MR, 0.0)
    # Prim MST on the dense mutual-reachability graph, O(n²)
    in_tree = np.zeros(n, dtype=bool)
    in_tree[0] = True
    best = MR[0].copy()
    src = np.zeros(n, dtype=int)
    edges = []
    for _ in range(n - 1):
        cand = np.where(in_tree, np.inf, best)
        j = int(np.argmin(cand))
        edges.append((int(src[j]), j, float(cand[j])))
        in_tree[j] = True
        upd = (MR[j] < best) & ~in_tree
        src[np.where(upd)[0]] = j
        best = np.minimum(best, MR[j])
    edges.sort(key=lambda e: e[2])
    # single-linkage dendrogram: points 0..n-1, merges n..2n-2
    parent = list(range(2 * n - 1))
    children: dict[int, tuple[int, int]] = {}
    dist_of: dict[int, float] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nxt = n
    for a, b, w in edges:
        ra, rb = find(a), find(b)
        children[nxt] = (ra, rb)
        dist_of[nxt] = w
        parent[ra] = parent[rb] = nxt
        nxt += 1
    sizes = {i: 1 for i in range(n)}
    for m in range(n, 2 * n - 1):
        l, r = children[m]
        sizes[m] = sizes[l] + sizes[r]

    def leaves(m: int) -> list[int]:
        stack, out = [m], []
        while stack:
            x = stack.pop()
            out.append(x) if x < n else stack.extend(children[x])
        return out

    # condense: follow each cluster down through sub-mcs fall-outs until
    # a true split (both sides >= mcs) or death; accumulate stability
    # sum_p (lambda_leave(p) - lambda_birth)
    clusters: dict[int, dict] = {}

    def condense(m: int, birth: float) -> int:
        cid = len(clusters)
        clusters[cid] = {"members": [], "stability": 0.0, "children": []}
        mem = clusters[cid]["members"]
        node = m
        while True:
            if node < n:
                mem.append(node)  # singleton remnant — zero further stability
                break
            lam = 1.0 / dist_of[node] if dist_of[node] > 0 else np.inf
            lam = min(lam, 1e12)
            l, r = children[node]
            sl, sr = sizes[l], sizes[r]
            if sl >= mcs and sr >= mcs:  # true split: spawn child clusters
                clusters[cid]["stability"] += (sl + sr) * (lam - birth)
                clusters[cid]["children"] = [condense(l, lam), condense(r, lam)]
                break
            if sl < mcs and sr < mcs:  # cluster dies into noise
                clusters[cid]["stability"] += (sl + sr) * (lam - birth)
                mem.extend(leaves(node))
                break
            small, big = (l, r) if sl < mcs else (r, l)
            clusters[cid]["stability"] += sizes[small] * (lam - birth)
            mem.extend(leaves(small))  # fell out of THIS cluster -> member
            node = big
        return cid

    root_cid = condense(2 * n - 2, 0.0)
    # excess-of-mass selection, children before parents
    selected: set[int] = set()
    subtree_stab: dict[int, float] = {}
    for cid in sorted(clusters, reverse=True):
        ch = clusters[cid]["children"]
        if not ch:
            subtree_stab[cid] = clusters[cid]["stability"]
            selected.add(cid)
            continue
        child_sum = sum(subtree_stab[c] for c in ch)
        if clusters[cid]["stability"] >= child_sum and cid != root_cid:
            subtree_stab[cid] = clusters[cid]["stability"]
            # deselect all descendants
            stack = list(ch)
            while stack:
                c = stack.pop()
                selected.discard(c)
                stack.extend(clusters[c]["children"])
            selected.add(cid)
        else:
            subtree_stab[cid] = child_sum
    selected.discard(root_cid)
    # a point belongs to the selected cluster it fell out of; points
    # falling out of unselected clusters (e.g. the root) are noise
    labels = np.full(n, -1, dtype=int)
    chosen = sorted(
        (c for c in selected if len(clusters[c]["members"]) >= mcs),
        key=lambda c: min(clusters[c]["members"]),
    )
    for lab, cid in enumerate(chosen):
        labels[clusters[cid]["members"]] = lab
    return labels


def hdbscan_cluster(
    df: DataFrame,
    min_cluster_size: int = 3,
    min_samples: int | None = None,
    method: str = "dtw",
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
    **kwargs,
) -> DataFrame:
    """HDBSCAN over any pairwise distance (clustering/density.py:31-100).
    Distance stage distributed; tree extraction on the collected
    n_series² matrix. Output [id, cluster] with -1 = noise."""
    ids, D = distance_matrix(
        df, method=method, id_col=id_col, time_col=time_col, target_col=target_col, **kwargs
    )
    labels = hdbscan_labels(D, min_cluster_size=min_cluster_size, min_samples=min_samples)
    return _labels_df(df.sparkSession, ids, [int(x) for x in labels], id_col)


# ---------------------------------------------------------------------------
# u-shapelet clustering (clustering/shapelets.py:138-296)


def _sliding_min_dist(x: np.ndarray, shp: np.ndarray) -> float:
    """Min z-normalized euclidean distance of shapelet to any window —
    all windows at once via a stride-tricks view (no Python loop)."""
    m = len(shp)
    if len(x) < m:
        return float("inf")
    s = (shp - shp.mean()) / (shp.std() or 1.0)
    W = np.lib.stride_tricks.sliding_window_view(x, m)
    mu = W.mean(axis=1, keepdims=True)
    sd = W.std(axis=1, keepdims=True)
    sd = np.where(sd == 0, 1.0, sd)
    Wz = (W - mu) / sd
    d = ((Wz - s[None, :]) ** 2).sum(axis=1)
    return float(np.sqrt(d.min() / m))


def _gap_score(dists: np.ndarray) -> tuple[float, float]:
    """Best gap between the sorted distance groups (shapelets.py
    gap-statistic): maximize (mu_B - sigma_B) - (mu_A + sigma_A) over
    split points with both sides non-trivial."""
    d = np.sort(dists)
    n = len(d)
    best, thr = -np.inf, d[n // 2] if n else 0.0
    # both sides need >= 2 members: singleton "clusters" trivially
    # maximize the gap statistic on noise
    for k in range(max(2, n // 5), min(n - 2, 4 * n // 5) + 1):
        a, b = d[:k], d[k:]
        gap = (b.mean() - b.std()) - (a.mean() + a.std())
        if gap > best:
            best, thr = gap, (d[k - 1] + d[k]) / 2.0
    return best, thr


def shapelet_cluster(
    df: DataFrame,
    k: int = 2,
    shapelet_lengths: tuple[int, ...] = (8, 12),
    max_candidates_per_series: int = 4,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """U-shapelet clustering: repeatedly pick the candidate subsequence
    with the best distance-gap score, split the remaining series at the
    gap threshold (shapelets.py:138-296). Candidate scoring runs on the
    collected array panel (n_series is the small dimension); output
    [id, cluster]."""
    rows = _collect_array_panel(df, id_col, time_col, target_col, "shapelet_cluster")
    # sorted ids: the candidate scan order (and thus strict-> argmax
    # tie-breaks) must not depend on Spark's collect order
    ids = sorted(r[id_col] for r in rows)
    series = {r[id_col]: np.asarray(r["vals"], float) for r in rows}
    unassigned = list(ids)
    labels: dict[str, int] = {}
    for c in range(k - 1):
        if len(unassigned) <= 1:
            break
        best = (-np.inf, None, None)
        for sid in unassigned:
            x = series[sid]
            for L in shapelet_lengths:
                if len(x) <= L:
                    continue
                starts = np.linspace(0, len(x) - L, max_candidates_per_series).astype(int)
                for st in starts:
                    shp = x[st : st + L]
                    dists = np.array([
                        _sliding_min_dist(series[o], shp) for o in unassigned
                    ])
                    score, thr = _gap_score(dists)
                    if score > best[0]:
                        best = (score, shp, thr)
        if best[1] is None:
            break
        _, shp, thr = best
        members = [
            sid for sid in unassigned if _sliding_min_dist(series[sid], shp) <= thr
        ]
        if not members or len(members) == len(unassigned):
            break
        for sid in members:
            labels[sid] = c
        unassigned = [s for s in unassigned if s not in members]
    for sid in unassigned:
        labels[sid] = k - 1
    return _labels_df(df.sparkSession, ids, [labels[s] for s in ids], id_col)
