"""Deep / embedding clustering and CNN classifiers (SURVEY §2.16 tail).

Reference parity:
- DECClusterer / IDECClusterer -> polars_ts/clustering/deep_cluster.py:32-384
  (CNN autoencoder pretrain + KL-divergence fine-tune)
- ContrastiveClusterer         -> polars_ts/clustering/contrastive.py:25-224
  (augmentation contrastive encoder + k-means)
- InceptionTimeClassifier / ResNetClassifier ->
  polars_ts/classification/inception_time.py:98-230,
  resnet_classifier.py:72-200 (1-D CNNs)

torch is absent in this container, so the split mirrors operators/deep.py:

- The series→matrix assembly, deterministic k-means, and the DEC
  soft-assignment refinement loop are torch-free and fully tested.
- The ENCODER is pluggable: by default DEC uses a linear autoencoder
  (exact truncated SVD — the optimum of the linear reconstruction loss
  the reference pretrains toward), and any ``encode_hook(X) -> Z`` can
  inject a trained deep encoder. The torch CNN classes raise a clear
  ImportError where torch is missing.

Scale notes: the per-series array collection is the same driver-scale
matrix every §2.16 clusterer uses (SURVEY §1.4); assignment could be
redistributed via broadcast centroids when n_series outgrows the
driver.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_ts_spark.panel import ID, TARGET, TIME, ordered_values
from polars_ts_spark.session import materialize


def _series_matrix(df: DataFrame, id_col: str, time_col: str, target_col: str):
    """(ids, X) with each z-normalized series resampled by truncation/
    zero-pad to the median length — the common fixed-width input the
    reference's `_prepare_data` builds (deep_cluster.py:150-170).
    Uses the clusterers' capped collector — the encoder refit is
    driver-side by design, but the collect must not OOM silently."""
    from polars_ts_spark.operators.clustering import _collect_array_panel

    rows = sorted(
        _collect_array_panel(df, id_col, time_col, target_col, "series_matrix"),
        key=lambda r: r[id_col],
    )  # sorted ids: row order (hence any index-seeded init) must not
    # depend on Spark's collect order
    ids = [r[id_col] for r in rows]
    arrays = [np.asarray(r["vals"], float) for r in rows]
    L = int(np.median([len(a) for a in arrays]))
    X = np.zeros((len(ids), L))
    for i, a in enumerate(arrays):
        a = a[:L]
        sd = a.std()
        a = (a - a.mean()) / (sd if sd > 0 else 1.0)
        X[i, :len(a)] = a
    return ids, X


def svd_encode(X: np.ndarray, dim: int) -> np.ndarray:
    """Exact linear-autoencoder embedding: top-``dim`` right singular
    directions of the centered series matrix."""
    Xc = X - X.mean(axis=0, keepdims=True)
    _, _, Vt = np.linalg.svd(Xc, full_matrices=False)
    return Xc @ Vt[: min(dim, Vt.shape[0])].T


def power_encode(X: np.ndarray, dim: int, n_iter: int = 30, seed: int = 42) -> np.ndarray:
    """Engine-replicable linear encoder: fixed-count subspace iteration
    with modified Gram-Schmidt on the centered Gram matrix Xcᵀ Xc from
    an md5-hash init, returning Z = Xc @ V. Same embedding subspace as
    ``svd_encode`` at convergence, but — unlike LAPACK's SVD — every
    float op is a branch-free, SQL-replayable composition (the
    spectral_labels_power construction)."""
    from polars_ts_spark.functions.numutils import hash_unit

    Xc = X - X.mean(axis=0, keepdims=True)
    L = Xc.shape[1]
    dim = min(dim, L)
    G = Xc.T @ Xc
    V = np.array([
        [hash_unit(f"{seed}:enc:{i}:{j}") - 0.5 for j in range(dim)]
        for i in range(L)
    ])
    for _ in range(n_iter):
        V = G @ V
        for j in range(dim):       # modified Gram-Schmidt, fixed order
            for l in range(j):
                V[:, j] -= (V[:, l] @ V[:, j]) * V[:, l]
            V[:, j] /= max(float(np.linalg.norm(V[:, j])), 1e-12)
    return Xc @ V


def _lcg_kmeans(Z: np.ndarray, k: int, seed: int, n_iter: int = 50):
    """Deterministic k-means (LCG-seeded farthest-point-ish init)."""
    n = len(Z)
    state = seed * 6364136223846793005 + 1442695040888963407
    first = (state >> 33) % n
    cents = [Z[first]]
    for _ in range(1, k):
        d = np.min([((Z - c) ** 2).sum(axis=1) for c in cents], axis=0)
        cents.append(Z[int(np.argmax(d))])
    C = np.array(cents)
    labels = np.zeros(n, dtype=int)
    for _ in range(n_iter):
        D = ((Z[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        new = np.argmin(D, axis=1)
        if np.array_equal(new, labels) and _ > 0:
            break
        labels = new
        for c in range(k):
            sel = labels == c
            if sel.any():
                C[c] = Z[sel].mean(axis=0)
    return labels, C


class DECClusterer:
    """DEC (deep_cluster.py:32-231): embed, k-means init, then the
    KL(target‖soft-assignment) refinement loop over Student-t
    responsibilities. With the default linear (SVD) encoder the encoder
    stays fixed and the loop refines centroids by target-weighted
    means; pass ``encode_hook`` to use a trained deep encoder."""

    def __init__(self, n_clusters: int = 2, embedding_dim: int = 16,
                 finetune_iters: int = 30, seed: int = 42,
                 encode_hook=None, encoder: str = "svd", exact: bool = False,
                 id_col: str = ID, time_col: str = TIME, target_col: str = TARGET):
        """``encoder='power'`` swaps the LAPACK SVD for the
        engine-replicable subspace-iteration encoder (``power_encode``);
        ``exact=True`` removes the refinement loop's allclose early stop
        so the whole trajectory is branch-free (oracle-able)."""
        self.n_clusters = n_clusters
        self.embedding_dim = embedding_dim
        self.finetune_iters = finetune_iters
        self.seed = seed
        self.encode_hook = encode_hook
        self.encoder = encoder
        self.exact = exact
        self.id_col, self.time_col, self.target_col = id_col, time_col, target_col
        self.labels_: DataFrame | None = None
        self.embeddings_: np.ndarray | None = None

    @staticmethod
    def _soft_assign(Z: np.ndarray, C: np.ndarray) -> np.ndarray:
        """Student-t similarity q_ij (deep_cluster.py:200-210)."""
        D = ((Z[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        q = 1.0 / (1.0 + D)
        return q / q.sum(axis=1, keepdims=True)

    @staticmethod
    def _target(q: np.ndarray) -> np.ndarray:
        """Sharpened target distribution p (deep_cluster.py:212-218)."""
        w = q ** 2 / q.sum(axis=0, keepdims=True)
        return w / w.sum(axis=1, keepdims=True)

    def fit(self, df: DataFrame) -> "DECClusterer":
        spark = df.sparkSession
        ids, X = _series_matrix(df, self.id_col, self.time_col, self.target_col)
        encode = self.encode_hook or (
            (lambda M: power_encode(M, self.embedding_dim, seed=self.seed))
            if self.encoder == "power"
            else (lambda M: svd_encode(M, self.embedding_dim)))
        Z = np.asarray(encode(X), dtype=float)
        self.embeddings_ = Z
        labels, C = _lcg_kmeans(Z, self.n_clusters, self.seed)
        for _ in range(self.finetune_iters):
            q = self._soft_assign(Z, C)
            p = self._target(q)
            # centroid update = stationary point of the KL objective in C
            # for a fixed encoder
            C_new = (p.T @ Z) / np.maximum(p.sum(axis=0)[:, None], 1e-12)
            if not self.exact and np.allclose(C_new, C, atol=1e-10):
                C = C_new
                break
            C = C_new
        labels = np.argmax(self._soft_assign(Z, C), axis=1)
        self.labels_ = spark.createDataFrame(
            pd.DataFrame({self.id_col: ids, "cluster": labels.astype("int32")})
        )
        return self

    def fit_predict(self, df: DataFrame) -> DataFrame:
        return self.fit(df).labels_


class IDECClusterer(DECClusterer):
    """IDEC (deep_cluster.py:234-384): DEC plus a reconstruction term
    keeping the embedding faithful. The SVD encoder is already the
    reconstruction optimum, so in lite mode the loop matches DEC; with
    a deep ``encode_hook`` the hook owner balances the two losses."""


class ContrastiveClusterer:
    """Contrastive embedding + k-means (contrastive.py:25-224):
    instance-level NT-Xent over two stochastically augmented views
    (per-step jitter + per-series scaling) of each series, encoded by a
    small 1-D CNN with a projection head; after training, the encoder
    (without the head) embeds every series and the deterministic LCG
    k-means clusters the embeddings. The torch encoder trains on the
    driver over the n_series×len matrix (driver-small by the
    SURVEY §2.16 contract — the panel itself never leaves Spark until
    the per-series collect); ``encode_hook`` plugs any embedding and
    skips torch entirely."""

    def __init__(self, n_clusters: int = 2, embedding_dim: int = 16,
                 projection_dim: int = 8, n_filters: int = 16,
                 max_epochs: int = 50, lr: float = 1e-3, batch_size: int = 32,
                 temperature: float = 0.5, jitter_sigma: float = 0.1,
                 scale_sigma: float = 0.1, seed: int = 42, encode_hook=None,
                 id_col: str = ID, time_col: str = TIME, target_col: str = TARGET):
        self.n_clusters = n_clusters
        self.embedding_dim = embedding_dim
        self.projection_dim = projection_dim
        self.n_filters = n_filters
        self.max_epochs = max_epochs
        self.lr = lr
        self.batch_size = batch_size
        self.temperature = temperature
        self.jitter_sigma = jitter_sigma
        self.scale_sigma = scale_sigma
        self.seed = seed
        self.encode_hook = encode_hook
        self.id_col, self.time_col, self.target_col = id_col, time_col, target_col
        self.labels_: DataFrame | None = None
        self.embeddings_: np.ndarray | None = None

    # -- torch pieces (built lazily; pragma: torch absent in CI) ----------

    def _build_encoder(self):  # pragma: no cover - torch absent in CI
        from polars_ts_spark.operators.deep import _torch

        torch, nn = _torch()

        f, e, pdim = self.n_filters, self.embedding_dim, self.projection_dim

        class _Enc(nn.Module):
            def __init__(self):
                super().__init__()
                self.conv = nn.Sequential(
                    nn.Conv1d(1, f, 7, padding=3, bias=False), nn.BatchNorm1d(f),
                    nn.ReLU(),
                    nn.Conv1d(f, 2 * f, 5, padding=2, bias=False),
                    nn.BatchNorm1d(2 * f), nn.ReLU(),
                    nn.Conv1d(2 * f, 2 * f, 3, padding=1, bias=False),
                    nn.BatchNorm1d(2 * f), nn.ReLU(),
                    nn.AdaptiveAvgPool1d(1),
                )
                self.embed = nn.Linear(2 * f, e)
                self.head = nn.Sequential(nn.Linear(e, e), nn.ReLU(),
                                          nn.Linear(e, pdim))

            def forward(self, x):
                return self.embed(self.conv(x).squeeze(-1))

            def project(self, x):
                return self.head(self.forward(x))

        return torch, _Enc()

    @staticmethod
    def _nt_xent(torch, p1, p2, temperature: float):
        """NT-Xent (SimCLR): cosine-similarity logits over the 2B views,
        each view's positive is its augmentation twin."""
        import torch.nn.functional as TF

        b = p1.shape[0]
        z = TF.normalize(torch.cat([p1, p2], dim=0), dim=1)
        logits = (z @ z.t()) / temperature
        logits.fill_diagonal_(float("-inf"))
        target = torch.cat([torch.arange(b, 2 * b), torch.arange(0, b)])
        return TF.cross_entropy(logits, target)

    def _train_encode(self, X: np.ndarray) -> np.ndarray:  # pragma: no cover
        torch, enc = self._build_encoder()
        torch.manual_seed(self.seed)
        mu, sd = float(X.mean()), float(X.std()) or 1.0
        Xt = torch.tensor((X - mu) / sd, dtype=torch.float32).unsqueeze(1)
        opt = torch.optim.Adam(enc.parameters(), lr=self.lr)
        gen = torch.Generator().manual_seed(self.seed)
        n = Xt.shape[0]
        enc.train()
        for _ in range(self.max_epochs):
            order = torch.randperm(n, generator=gen)
            for i0 in range(0, n, self.batch_size):
                batch = Xt[order[i0:i0 + self.batch_size]]
                if batch.shape[0] < 2:
                    continue  # NT-Xent needs >= 2 instances
                views = []
                for _v in range(2):
                    v = batch + self.jitter_sigma * torch.randn(
                        batch.shape, generator=gen)
                    v = v * (1.0 + self.scale_sigma * torch.randn(
                        (batch.shape[0], 1, 1), generator=gen))
                    views.append(v)
                loss = self._nt_xent(torch, enc.project(views[0]),
                                     enc.project(views[1]), self.temperature)
                opt.zero_grad()
                loss.backward()
                opt.step()
        enc.eval()
        with torch.no_grad():
            return enc(Xt).numpy().astype(float)

    def fit(self, df: DataFrame) -> "ContrastiveClusterer":
        spark = df.sparkSession
        ids, X = _series_matrix(df, self.id_col, self.time_col, self.target_col)
        if self.encode_hook is not None:
            Z = np.asarray(self.encode_hook(X), dtype=float)
        else:
            Z = self._train_encode(X)  # raises a clear ImportError sans torch
        self.embeddings_ = Z
        labels, _ = _lcg_kmeans(Z, self.n_clusters, self.seed)
        self.labels_ = spark.createDataFrame(
            pd.DataFrame({self.id_col: ids, "cluster": labels.astype("int32")})
        )
        return self

    def fit_predict(self, df: DataFrame) -> DataFrame:
        return self.fit(df).labels_


class _TorchCNNClassifier:
    """Shared machinery for the CNN series classifiers: series-matrix
    assembly + per-series label gather (Spark side, tested without
    torch), global-stat normalization, seeded training loop, and a
    distributed-predict that broadcasts the trained net. Subclasses
    provide ``_build_net(n_classes)``. Fit requires torch (absent in
    this container — guarded with a clear ImportError)."""

    def __init__(self, n_filters: int | None = None, max_epochs: int = 100,
                 lr: float = 1e-3, batch_size: int = 32, seed: int = 42,
                 id_col: str = ID, time_col: str = TIME, target_col: str = TARGET):
        self.n_filters = n_filters
        self.max_epochs, self.lr, self.batch_size, self.seed = \
            max_epochs, lr, batch_size, seed
        self.id_col, self.time_col, self.target_col = id_col, time_col, target_col
        self._model = None
        self._classes: list[str] = []
        self._mu = 0.0
        self._sd = 1.0

    def _build_net(self, n_classes: int):  # pragma: no cover - abstract
        raise NotImplementedError

    def _labeled_matrix(self, df: DataFrame, label_col: str):
        ids, X = _series_matrix(df, self.id_col, self.time_col, self.target_col)
        lab = {
            str(r[0]): str(r[1])
            for r in df.groupBy(self.id_col)
            .agg(F.first(label_col).alias("__l")).collect()
        }
        y = [lab[str(i)] for i in ids]
        return ids, X, y

    def fit(self, df: DataFrame, label_col: str = "label"):
        try:
            import torch
            import torch.nn as nn
        except ImportError as e:
            raise ImportError(
                f"torch is required for {type(self).__name__}"
            ) from e
        # pragma: no cover start - torch absent in CI
        _, X, y = self._labeled_matrix(df, label_col)
        self._classes = sorted(set(y))
        enc = {c: i for i, c in enumerate(self._classes)}
        self._mu = float(np.mean(X))
        self._sd = float(np.std(X)) or 1.0
        torch.manual_seed(self.seed)
        net = self._build_net(len(self._classes))
        Xt = torch.tensor((X - self._mu) / self._sd, dtype=torch.float32).unsqueeze(1)
        yt = torch.tensor([enc[c] for c in y], dtype=torch.long)
        opt = torch.optim.Adam(net.parameters(), lr=self.lr)
        loss_fn = nn.CrossEntropyLoss()
        gen = torch.Generator().manual_seed(self.seed)
        net.train()
        for _ in range(self.max_epochs):
            order = torch.randperm(len(Xt), generator=gen)
            for i0 in range(0, len(Xt), self.batch_size):
                sel = order[i0:i0 + self.batch_size]
                opt.zero_grad()
                loss = loss_fn(net(Xt[sel]), yt[sel])
                loss.backward()
                opt.step()
        net.eval()
        self._model = net
        return self
        # pragma: no cover end

    def predict(self, df: DataFrame) -> DataFrame:
        """Distributed inference: the trained net + normalization stats
        ride ONE Spark broadcast; each task batches its own series
        (same median-length truncate/zero-pad + per-series z-norm as
        ``_series_matrix``) and runs torch forward passes in-process —
        no driver materialization of the predict panel."""
        if self._model is None:
            raise RuntimeError("call fit() first")
        spark = df.sparkSession
        id_col, time_col, target_col = self.id_col, self.time_col, self.target_col
        # fixed input width = median series length (the _series_matrix
        # contract), observed while the grouped series are materialized
        grouped, row = materialize(
            df.groupBy(F.col(id_col).cast("string").alias(id_col))
            .agg(ordered_values(target_col, time_col).alias("vals")),
            F.expr("percentile(size(vals), 0.5)").alias("L"))
        L = int(row["L"] or 1)
        bc = spark.sparkContext.broadcast(
            (self._model, list(self._classes), self._mu, self._sd))

        def infer(batches):
            try:
                import torch
            except ImportError:
                torch = None  # plain-callable net (tests inject one)

            net, classes, mu, sd = bc.value
            if hasattr(net, "eval"):
                net.eval()
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.zeros((len(pdf), L))
                for i, v in enumerate(pdf["vals"]):
                    a = np.asarray(v, float)[:L]
                    s = a.std()
                    X[i, : len(a)] = (a - a.mean()) / (s if s > 0 else 1.0)
                Xn = (X - mu) / sd
                if torch is not None and isinstance(net, torch.nn.Module):
                    with torch.no_grad():
                        logits = net(torch.tensor(
                            Xn, dtype=torch.float32).unsqueeze(1)).numpy()
                else:
                    logits = np.asarray(net(Xn))
                pred = logits.argmax(axis=1)
                yield pd.DataFrame({
                    id_col: pdf[id_col],
                    "label_pred": [classes[int(p)] for p in pred],
                })

        return grouped.mapInPandas(infer, schema=f"{id_col} string, label_pred string")


class InceptionTimeClassifier(_TorchCNNClassifier):
    """InceptionTime 1-D CNN (ref inception_time.py:98-230; Fawaz et
    al. 2020): a residual block of three inception modules — each a
    1x1 bottleneck feeding three parallel convs at receptive fields
    10/20/40 plus a maxpool->1x1 branch, concatenated through
    BatchNorm+ReLU — then global average pooling and a linear head.
    Requires torch."""

    def _build_net(self, n_classes: int):  # pragma: no cover - torch
        import torch
        import torch.nn as nn

        f = self.n_filters or 32

        class _Module(nn.Module):
            def __init__(self, cin):
                super().__init__()
                self.neck = nn.Conv1d(cin, f, 1, bias=False)
                self.branches = nn.ModuleList([
                    nn.Conv1d(f, f, ks, padding=ks // 2, bias=False)
                    for ks in (10, 20, 40)
                ])
                self.pool = nn.MaxPool1d(3, stride=1, padding=1)
                self.pool_conv = nn.Conv1d(cin, f, 1, bias=False)
                self.bn = nn.BatchNorm1d(4 * f)
                self.act = nn.ReLU()

            def forward(self, x):
                z = self.neck(x)
                outs = [b(z) for b in self.branches]
                outs.append(self.pool_conv(self.pool(x)))
                L = min(o.shape[2] for o in outs)
                return self.act(self.bn(torch.cat([o[:, :, :L] for o in outs], dim=1)))

        class _Net(nn.Module):
            def __init__(self):
                super().__init__()
                self.m1, self.m2, self.m3 = _Module(1), _Module(4 * f), _Module(4 * f)
                self.res = nn.Sequential(nn.Conv1d(1, 4 * f, 1, bias=False),
                                         nn.BatchNorm1d(4 * f))
                self.act = nn.ReLU()
                self.gap = nn.AdaptiveAvgPool1d(1)
                self.fc = nn.Linear(4 * f, n_classes)

            def forward(self, x):
                out = self.m3(self.m2(self.m1(x)))
                r = self.res(x)
                L = min(out.shape[2], r.shape[2])
                out = self.act(out[:, :, :L] + r[:, :, :L])
                return self.fc(self.gap(out).squeeze(-1))

        return _Net()


class ResNetClassifier(_TorchCNNClassifier):
    """1-D ResNet classifier (ref resnet_classifier.py:72-200; Wang et
    al. 2017): three residual conv blocks (kernel sizes 8/5/3, BN+ReLU,
    1x1 shortcut on channel change), global average pooling, linear
    head. Requires torch."""

    def _build_net(self, n_classes: int):  # pragma: no cover - torch
        import torch.nn as nn

        f = self.n_filters or 64

        class _Block(nn.Module):
            def __init__(self, cin, cout):
                super().__init__()
                self.path = nn.Sequential(
                    nn.Conv1d(cin, cout, 8, padding=4, bias=False),
                    nn.BatchNorm1d(cout), nn.ReLU(),
                    nn.Conv1d(cout, cout, 5, padding=2, bias=False),
                    nn.BatchNorm1d(cout), nn.ReLU(),
                    nn.Conv1d(cout, cout, 3, padding=1, bias=False),
                    nn.BatchNorm1d(cout),
                )
                self.short = (nn.Sequential(nn.Conv1d(cin, cout, 1, bias=False),
                                            nn.BatchNorm1d(cout))
                              if cin != cout else nn.Identity())
                self.act = nn.ReLU()

            def forward(self, x):
                out = self.path(x)
                r = self.short(x)
                L = min(out.shape[2], r.shape[2])
                return self.act(out[:, :, :L] + r[:, :, :L])

        class _Net(nn.Module):
            def __init__(self):
                super().__init__()
                self.b1, self.b2, self.b3 = _Block(1, f), _Block(f, 2 * f), _Block(2 * f, 2 * f)
                self.gap = nn.AdaptiveAvgPool1d(1)
                self.fc = nn.Linear(2 * f, n_classes)

            def forward(self, x):
                return self.fc(self.gap(self.b3(self.b2(self.b1(x)))).squeeze(-1))

        return _Net()
