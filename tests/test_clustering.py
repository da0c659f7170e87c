"""Clustering & classification — planted two-cluster structure
(reference style: src/kmedoids.rs:171-189 planted clusters)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from polars_ts_spark.operators import clustering


def _planted_matrix():
    # two tight groups of 4, far apart
    n = 8
    D = np.zeros((n, n))
    for i in range(n):
        for j in range(n):
            if i == j:
                continue
            same = (i < 4) == (j < 4)
            D[i, j] = 1.0 if same else 10.0
    return D


def test_pam_separates_planted_clusters():
    D = _planted_matrix()
    _, labels, cost = clustering.pam_kmedoids(D, 2)
    assert len(set(labels[:4])) == 1 and len(set(labels[4:])) == 1
    assert labels[0] != labels[4]
    assert cost == pytest.approx(6.0)  # 3 members per cluster at d=1


def test_clara_and_clarans_match_pam():
    D = _planted_matrix()
    for fn in (clustering.clara, clustering.clarans):
        _, labels, _ = fn(D, 2)
        assert labels[0] != labels[4]
        assert len(set(labels[:4])) == 1 and len(set(labels[4:])) == 1


def test_agglomerative_and_spectral_and_dbscan():
    D = _planted_matrix()
    for labels in (
        clustering.agglomerative_labels(D, 2),
        clustering.spectral_labels(D, 2),
        clustering.dbscan_labels(D, eps=2.0, min_samples=2),
    ):
        assert labels[0] != labels[4]
        assert len(set(labels[:4])) == 1 and len(set(labels[4:])) == 1


def test_evaluation_scores_prefer_true_partition():
    D = _planted_matrix()
    good = np.array([0, 0, 0, 0, 1, 1, 1, 1])
    bad = np.array([0, 1, 0, 1, 0, 1, 0, 1])
    assert clustering.silhouette_score(D, good) > clustering.silhouette_score(D, bad)
    assert clustering.davies_bouldin_score(D, good) < clustering.davies_bouldin_score(D, bad)
    assert clustering.calinski_harabasz_score(D, good) > clustering.calinski_harabasz_score(D, bad)


@pytest.fixture(scope="module")
def two_group_panel(spark):
    ts = pd.date_range("2024-01-01", periods=30, freq="D")
    t = np.arange(30)
    rows = []
    rng = np.random.default_rng(0)
    for i in range(4):  # sine group
        rows.append(pd.DataFrame({
            "unique_id": f"s{i}", "ds": ts,
            "y": np.sin(t / 3) + rng.normal(0, 0.05, 30)}))
    for i in range(4):  # trend group
        rows.append(pd.DataFrame({
            "unique_id": f"t{i}", "ds": ts,
            "y": t / 10.0 + rng.normal(0, 0.05, 30)}))
    return spark.createDataFrame(pd.concat(rows))


def test_kmedoids_operator(two_group_panel):
    out = clustering.kmedoids(two_group_panel, k=2, method="dtw").toPandas()
    lab = dict(zip(out["unique_id"], out["cluster"]))
    assert len({lab[f"s{i}"] for i in range(4)}) == 1
    assert len({lab[f"t{i}"] for i in range(4)}) == 1
    assert lab["s0"] != lab["t0"]


def test_kshape_operator(two_group_panel):
    out = clustering.kshape(two_group_panel, k=2).toPandas()
    lab = dict(zip(out["unique_id"], out["cluster"]))
    assert lab["s0"] != lab["t0"]
    assert len({lab[f"s{i}"] for i in range(4)}) == 1


def test_kmeans_dba_operator(two_group_panel):
    out = clustering.kmeans_dba(two_group_panel, k=2, max_iter=3).toPandas()
    lab = dict(zip(out["unique_id"], out["cluster"]))
    assert lab["s0"] != lab["t0"]


def test_auto_cluster(two_group_panel):
    best, results = clustering.auto_cluster(
        two_group_panel, methods=["kmedoids"], distances=["dtw"], k_range=[2, 3])
    assert len(results) == 2
    lab = dict(zip(best.toPandas()["unique_id"], best.toPandas()["cluster"]))
    assert lab["s0"] != lab["t0"]


def test_knn_classify(two_group_panel, spark):
    labels = spark.createDataFrame(
        [(f"s{i}", "sine") for i in range(3)] + [(f"t{i}", "trend") for i in range(3)],
        ["unique_id", "label"],
    )
    train = two_group_panel.filter(~F.col("unique_id").isin("s3", "t3"))
    test = two_group_panel.filter(F.col("unique_id").isin("s3", "t3"))
    out = clustering.knn_classify(train, test, labels, k=3).toPandas()
    pred = dict(zip(out["unique_id"], out["label_pred"]))
    assert pred == {"s3": "sine", "t3": "trend"}


def test_iterative_clusterers_collect_at_most_cap_plus_one(two_group_panel, monkeypatch):
    """kshape / kmeans_dba / kasba / shapelet refine centroids on the
    driver by design, so the array-panel collect is capped in
    observations: over the cap they raise with guidance after the
    driver received at most cap + 1 observations, and a panel of
    exactly the cap still clusters."""
    from pyspark.sql.classic.dataframe import DataFrame

    from polars_ts_spark import session
    from polars_ts_spark.operators import clustering as C

    assert session.DRIVER_VALUES_CAP == C.DRIVER_VALUES_CAP == 32_000_000
    collected = []
    orig = DataFrame.collect

    def spy(self):
        rows = orig(self)
        if rows and "vals" in rows[0].__fields__:
            collected.append(sum(len(r["vals"]) for r in rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    n_obs = two_group_panel.count()  # 8 series x 30 days
    clusterers = (C.kshape, C.kmeans_dba, C.kasba, C.shapelet_cluster)
    monkeypatch.setattr(C, "DRIVER_VALUES_CAP", 10)
    for fn in clusterers:
        with pytest.raises(ValueError, match="driver-collect cap"):
            fn(two_group_panel, k=2)
    assert collected == [11] * len(clusterers)
    monkeypatch.setattr(C, "DRIVER_VALUES_CAP", n_obs)
    for fn in clusterers:
        out = fn(two_group_panel, k=2).toPandas()
        assert len(out) == 8
    assert collected[len(clusterers):] == [n_obs] * len(clusterers)


def test_spectral_power_solver_recovers_planted_clusters():
    """solver='power' (the engine-replicable eigensolver) must recover
    planted clusters like eigh does — the statistical layer for the
    replication oracle. Near-degenerate NJW spectra (the median-sigma
    affinity keeps cross-cluster weights ~0.9 here) need more subspace
    iterations than the oracle default; the n_iter knob covers that."""
    import numpy as np

    from polars_ts_spark.operators.clustering import (
        spectral_labels, spectral_labels_power)
    rng = np.random.default_rng(3)
    series = [base + rng.normal(0, 0.5, 12)
              for base in (0.0, 50.0, 200.0) for _ in range(3)]
    n = len(series)
    D = np.zeros((n, n))
    for a in range(n):
        for b in range(n):
            D[a, b] = np.abs(series[a] - series[b]).sum()
    got = spectral_labels_power(D, 3, n_iter=200)
    ref = spectral_labels(D, 3)
    # same partition as eigh (up to label permutation), pure clusters
    for g in range(3):
        assert len(set(got[3 * g: 3 * g + 3])) == 1
    assert len(set(got)) == 3
    groups_got = {tuple(np.flatnonzero(got == c)) for c in set(got)}
    groups_ref = {tuple(np.flatnonzero(ref == c)) for c in set(ref)}
    assert groups_got == groups_ref


def test_power_encode_matches_svd_subspace():
    """power_encode's embedding spans the same top-k right-singular
    subspace as svd_encode (principal angles ~0) on a random low-rank
    matrix — validates the replication oracle's encoder statistically."""
    import numpy as np

    from polars_ts_spark.operators.deep_cluster import power_encode, svd_encode
    rng = np.random.default_rng(11)
    X = rng.normal(0, 1, (40, 4)) @ rng.normal(0, 1, (4, 20)) \
        + rng.normal(0, 0.01, (40, 20))
    Zs = svd_encode(X, 3)
    Zp = power_encode(X, 3, n_iter=100)
    # same column space: project one onto the other, compare norms
    qs, _ = np.linalg.qr(Zs)
    resid = Zp - qs @ (qs.T @ Zp)
    assert np.linalg.norm(resid) < 1e-6 * np.linalg.norm(Zp)
