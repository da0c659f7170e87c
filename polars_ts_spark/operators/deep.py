"""Deep-learning forecaster scaffolding (SURVEY §2.12 DL tail).

Reference parity:
- NBEATSForecaster  -> polars_ts/dl/nbeats.py:142-300 (stacked
  generic/trend/seasonality blocks with backcast subtraction)
- PatchTSTForecaster -> polars_ts/dl/patchtst.py:103-260 (patch
  embedding + transformer encoder + linear head)
- batch inference    -> the shared predict() loop of both
  (nbeats.py:260-295), here batched across series per task

torch is NOT in this container, so the split is explicit:

- The **Spark plumbing is torch-free and fully tested**: window
  assembly (`build_training_windows`) is a Catalyst plan,
  `batch_forecast` runs any `predict_batch(contexts) -> forecasts`
  hook over per-bucket context matrices (one vectorized call per
  bucket of series, Arrow both directions), and
  `RidgeWindowForecaster` is a closed-form window->horizon linear map
  fitted from distributed sufficient statistics — the same
  train/predict surface as the torch classes, usable as a baseline
  anywhere.
- The torch model classes import torch lazily and raise a clear
  ImportError where it is unavailable; their fit/predict reuse the
  identical plumbing, so dropping torch into the environment is the
  only step needed to run them at full fidelity.

Scale notes: window assembly is one shuffle (the per-series
collect_list); training-window sampling is deterministic (hash-mod) so
the driver-side optimizer sees a bounded sample; inference never
collects — contexts stay in executors, one model call per bucket.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from polars_ts_spark.operators.kernel import for_series_batches
from polars_ts_spark.panel import ID, TARGET, TIME, ordered_values, require_columns


def _torch():
    try:
        import torch
        import torch.nn as nn
    except ImportError as e:  # pragma: no cover - torch absent in CI
        raise ImportError(
            "torch is required for this forecaster; install pytorch or use "
            "RidgeWindowForecaster / a custom predict_batch hook instead"
        ) from e
    return torch, nn


# ---------------------------------------------------------------------------
# window assembly (pure Spark plan)


def build_training_windows(
    df: DataFrame,
    input_size: int,
    h: int,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """Sliding (X: input_size, Y: h) training windows per series as a
    Catalyst plan: one collect_list per series, then posexplode over
    window starts + slice — no Python until the consumer.
    Output [id, start, x: array<double>, y_fut: array<double>]."""
    require_columns(df, id_col, time_col, target_col)
    series = df.groupBy(id_col).agg(ordered_values(target_col, time_col).alias("__vals"))
    # series shorter than one full window are dropped BEFORE the explode:
    # sequence(1, 0) would be the descending [1, 0], not empty
    return (
        series.where(F.size("__vals") >= input_size + h)
        .select(
            id_col,
            F.posexplode(F.expr(f"sequence(1, size(__vals) - {input_size + h - 1})"))
            .alias("__i", "start"),
            "__vals",
        )
        .select(
            id_col,
            (F.col("start") - 1).alias("start"),
            F.expr(f"slice(__vals, start, {input_size})").alias("x"),
            F.expr(f"slice(__vals, start + {input_size}, {h})").alias("y_fut"),
        )
    )


# ---------------------------------------------------------------------------
# batched inference (pluggable model hook)


def batch_forecast(
    df: DataFrame,
    predict_batch,
    input_size: int,
    h: int,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """h-step forecasts from any window model: per bucket of series,
    stack the last ``input_size`` observations (leading-zero padded,
    ref nbeats.py:283-289) into one (S × input_size) matrix and make a
    SINGLE ``predict_batch`` call -> (S × h). Python dispatch is per
    bucket, not per series or per step. Output [id, ds, y_hat]."""

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, ctxs, last_ts, freqs = [], [], [], []
        for sid, g in pdf.groupby(id_col, sort=False):
            y = g[target_col].to_numpy(dtype=float)
            ctx = np.zeros(input_size)
            ctx[-min(len(y), input_size):] = y[-input_size:]
            ids.append(sid)
            ctxs.append(ctx)
            ts = pd.to_datetime(g[time_col])
            last_ts.append(ts.iloc[-1])
            freqs.append(ts.diff().dropna().median() if len(ts) > 1 else pd.Timedelta(days=1))
        if not ids:
            return pd.DataFrame({id_col: pd.Series([], dtype="str"),
                                 time_col: pd.Series([], dtype="datetime64[us]"),
                                 "y_hat": pd.Series([], dtype="float64")})
        Yhat = np.asarray(predict_batch(np.vstack(ctxs)), dtype=float)
        frames = [
            pd.DataFrame({
                id_col: sid,
                time_col: [t0 + (i + 1) * fr for i in range(h)],
                "y_hat": Yhat[s],
            })
            for s, (sid, t0, fr) in enumerate(zip(ids, last_ts, freqs))
        ]
        return pd.concat(frames, ignore_index=True)

    schema = f"{id_col} string, {time_col} timestamp, y_hat double"
    return for_series_batches(df, kern, schema, id_col=id_col, time_col=time_col)


# ---------------------------------------------------------------------------
# torch-free baseline with the same surface


class RidgeWindowForecaster:
    """Closed-form linear window->horizon map: the torch classes'
    train/predict surface without torch. Fit solves h independent ridge
    regressions from ONE Spark aggregation of sufficient statistics
    (X'X is input_size², X'Y is input_size×h — independent of panel
    size)."""

    def __init__(self, h: int = 12, input_size: int = 36, alpha: float = 1.0,
                 id_col: str = ID, time_col: str = TIME, target_col: str = TARGET):
        self.h, self.input_size, self.alpha = h, input_size, alpha
        self.id_col, self.time_col, self.target_col = id_col, time_col, target_col
        self.W: np.ndarray | None = None  # (input_size+1, h)

    def fit(self, df: DataFrame) -> "RidgeWindowForecaster":
        win = build_training_windows(df, self.input_size, self.h,
                                     self.id_col, self.time_col, self.target_col)
        d, hh = self.input_size, self.h
        x = [F.col("x")[i] for i in range(d)]
        yf = [F.col("y_fut")[j] for j in range(hh)]
        exprs = []
        for i in range(d):
            for j in range(i, d):
                exprs.append(F.sum(x[i] * x[j]).alias(f"xx_{i}_{j}"))
            exprs.append(F.sum(x[i]).alias(f"xs_{i}"))
            for j in range(hh):
                exprs.append(F.sum(x[i] * yf[j]).alias(f"xy_{i}_{j}"))
        for j in range(hh):
            exprs.append(F.sum(yf[j]).alias(f"ys_{j}"))
        exprs.append(F.count(F.lit(1)).alias("__n"))
        row = win.agg(*exprs).collect()[0]
        if row["__n"] == 0:
            raise ValueError(
                f"no training windows: series shorter than input_size+h = {d + hh}"
            )
        A = np.zeros((d + 1, d + 1))
        B = np.zeros((d + 1, hh))
        for i in range(d):
            for j in range(i, d):
                A[i, j] = A[j, i] = row[f"xx_{i}_{j}"]
            A[i, d] = A[d, i] = row[f"xs_{i}"]
            for j in range(hh):
                B[i, j] = row[f"xy_{i}_{j}"]
        A[d, d] = float(row["__n"])
        for j in range(hh):
            B[d, j] = row[f"ys_{j}"]
        A[np.arange(d), np.arange(d)] += self.alpha
        self.W = np.linalg.solve(A, B)
        return self

    def predict_batch(self, contexts: np.ndarray) -> np.ndarray:
        if self.W is None:
            raise RuntimeError("call fit() first")
        X1 = np.column_stack([contexts, np.ones(len(contexts))])
        return X1 @ self.W

    def predict(self, df: DataFrame) -> DataFrame:
        return batch_forecast(df, self.predict_batch, self.input_size, self.h,
                              self.id_col, self.time_col, self.target_col)


# ---------------------------------------------------------------------------
# torch ports (lazy import; same plumbing)


class _TorchWindowForecaster:
    """Shared fit/predict plumbing for the torch models: windows from
    the Spark plan (deterministically hash-sampled to ``max_windows``
    for the driver-side optimizer, as the reference trains driver-side
    too), prediction through batch_forecast with the trained net
    broadcast to executors."""

    def __init__(self, h: int, input_size: int, max_epochs: int, lr: float,
                 batch_size: int, max_windows: int,
                 id_col: str, time_col: str, target_col: str):
        self.h, self.input_size = h, input_size
        self.max_epochs, self.lr, self.batch_size = max_epochs, lr, batch_size
        self.max_windows = max_windows
        self.id_col, self.time_col, self.target_col = id_col, time_col, target_col
        self._mean, self._std = 0.0, 1.0
        self._model = None

    def _build_net(self):  # pragma: no cover - torch absent
        raise NotImplementedError

    def fit(self, df: DataFrame):
        torch, _nn = _torch()  # pragma: no cover - torch absent
        win = build_training_windows(df, self.input_size, self.h,
                                     self.id_col, self.time_col, self.target_col)
        n = win.count()
        if n > self.max_windows:
            frac_mod = max(2, n // self.max_windows)
            win = win.where(
                F.pmod(F.xxhash64(self.id_col, "start"), F.lit(frac_mod)) == 0
            )
        pdf = win.select("x", "y_fut").toPandas()
        X = np.vstack(pdf["x"])
        Y = np.vstack(pdf["y_fut"])
        self._mean = float(X.mean())
        self._std = float(X.std()) or 1.0
        Xt = torch.tensor((X - self._mean) / self._std, dtype=torch.float32)
        Yt = torch.tensor((Y - self._mean) / self._std, dtype=torch.float32)
        model = self._build_net()
        opt = torch.optim.Adam(model.parameters(), lr=self.lr)
        loss_fn = torch.nn.MSELoss()
        ds = torch.utils.data.TensorDataset(Xt, Yt)
        loader = torch.utils.data.DataLoader(ds, batch_size=self.batch_size, shuffle=True)
        model.train()
        for _ in range(self.max_epochs):
            for xb, yb in loader:
                opt.zero_grad()
                loss = loss_fn(model(xb), yb)
                loss.backward()
                opt.step()
        self._model = model
        return self

    def predict_batch(self, contexts: np.ndarray) -> np.ndarray:  # pragma: no cover
        torch, _nn = _torch()
        self._model.eval()
        with torch.no_grad():
            x = torch.tensor((contexts - self._mean) / self._std, dtype=torch.float32)
            return self._model(x).numpy() * self._std + self._mean

    def predict(self, df: DataFrame) -> DataFrame:
        if self._model is None:
            raise RuntimeError("call fit() first")
        return batch_forecast(df, self.predict_batch, self.input_size, self.h,
                              self.id_col, self.time_col, self.target_col)


class NBEATSForecaster(_TorchWindowForecaster):
    """N-BEATS port (dl/nbeats.py:142-300): stacks of
    generic/trend/seasonality blocks, each emitting (backcast,
    forecast); the residual backcast feeds the next block and the
    forecasts sum. Requires torch."""

    def __init__(self, h: int = 12, input_size: int = 36, hidden_size: int = 128,
                 n_stacks: int = 2, n_blocks: int = 3,
                 stack_types: list[str] | None = None,
                 max_epochs: int = 100, lr: float = 1e-3, batch_size: int = 32,
                 max_windows: int = 100_000,
                 id_col: str = ID, time_col: str = TIME, target_col: str = TARGET):
        super().__init__(h, input_size, max_epochs, lr, batch_size, max_windows,
                         id_col, time_col, target_col)
        self.hidden_size = hidden_size
        self.n_blocks = n_blocks
        self.stack_types = stack_types or ["generic"] * n_stacks

    def _build_net(self):  # pragma: no cover - torch absent in CI
        torch, nn = _torch()
        input_size, h, hidden = self.input_size, self.h, self.hidden_size

        class GenericBlock(nn.Module):
            def __init__(self):
                super().__init__()
                layers = []
                prev = input_size
                for _ in range(4):
                    layers += [nn.Linear(prev, hidden), nn.ReLU()]
                    prev = hidden
                self.mlp = nn.Sequential(*layers)
                self.backcast = nn.Linear(hidden, input_size)
                self.forecast = nn.Linear(hidden, h)

            def forward(self, x):
                z = self.mlp(x)
                return self.backcast(z), self.forecast(z)

        class BasisBlock(nn.Module):
            """Trend (polynomial) / seasonality (harmonic) basis blocks
            (nbeats.py:43-111): the MLP emits basis coefficients."""

            def __init__(self, Bb, Bf):
                super().__init__()
                layers = []
                prev = input_size
                for _ in range(4):
                    layers += [nn.Linear(prev, hidden), nn.ReLU()]
                    prev = hidden
                self.mlp = nn.Sequential(*layers)
                self.theta_b = nn.Linear(hidden, Bb.shape[0])
                self.theta_f = nn.Linear(hidden, Bf.shape[0])
                self.register_buffer("Bb", torch.tensor(Bb, dtype=torch.float32))
                self.register_buffer("Bf", torch.tensor(Bf, dtype=torch.float32))

            def forward(self, x):
                z = self.mlp(x)
                return self.theta_b(z) @ self.Bb, self.theta_f(z) @ self.Bf

        def poly_basis(n, degree=3):
            t = np.arange(n) / max(n, 1)
            return np.vstack([t ** d for d in range(degree + 1)])

        def harm_basis(n, harmonics=5):
            t = np.arange(n) / max(n, 1)
            rows = [np.ones(n)]
            for k in range(1, harmonics + 1):
                rows += [np.cos(2 * np.pi * k * t), np.sin(2 * np.pi * k * t)]
            return np.vstack(rows)

        def make_block(kind):
            if kind == "generic":
                return GenericBlock()
            if kind == "trend":
                return BasisBlock(poly_basis(input_size), poly_basis(h))
            if kind == "seasonality":
                return BasisBlock(harm_basis(input_size), harm_basis(h))
            raise ValueError(f"unknown stack type {kind!r}")

        class Net(nn.Module):
            def __init__(self, stack_types, n_blocks):
                super().__init__()
                self.blocks = nn.ModuleList(
                    [make_block(k) for k in stack_types for _ in range(n_blocks)]
                )

            def forward(self, x):
                residual = x
                forecast = 0.0
                for blk in self.blocks:
                    back, fore = blk(residual)
                    residual = residual - back
                    forecast = forecast + fore
                return forecast

        return Net(self.stack_types, self.n_blocks)


class PatchTSTForecaster(_TorchWindowForecaster):
    """PatchTST port (dl/patchtst.py:103-260): non-overlapping patches
    -> linear embedding -> transformer encoder -> flatten -> linear
    head. Requires torch."""

    def __init__(self, h: int = 12, input_size: int = 36, patch_len: int = 8,
                 d_model: int = 64, n_heads: int = 4, n_layers: int = 2,
                 max_epochs: int = 100, lr: float = 1e-3, batch_size: int = 32,
                 max_windows: int = 100_000,
                 id_col: str = ID, time_col: str = TIME, target_col: str = TARGET):
        super().__init__(h, input_size, max_epochs, lr, batch_size, max_windows,
                         id_col, time_col, target_col)
        self.patch_len, self.d_model = patch_len, d_model
        self.n_heads, self.n_layers = n_heads, n_layers

    def _build_net(self):  # pragma: no cover - torch absent in CI
        torch, nn = _torch()
        input_size, h = self.input_size, self.h
        patch_len, d_model = self.patch_len, self.d_model
        n_patches = -(-input_size // patch_len)
        pad = n_patches * patch_len - input_size

        class Net(nn.Module):
            def __init__(self, n_heads, n_layers):
                super().__init__()
                self.embed = nn.Linear(patch_len, d_model)
                self.pos = nn.Parameter(torch.zeros(n_patches, d_model))
                layer = nn.TransformerEncoderLayer(
                    d_model=d_model, nhead=n_heads, batch_first=True,
                    dim_feedforward=2 * d_model,
                )
                self.encoder = nn.TransformerEncoder(layer, num_layers=n_layers)
                self.head = nn.Linear(n_patches * d_model, h)

            def forward(self, x):
                if pad:
                    x = torch.nn.functional.pad(x, (pad, 0))
                p = x.reshape(x.shape[0], n_patches, patch_len)
                z = self.embed(p) + self.pos
                z = self.encoder(z)
                return self.head(z.reshape(z.shape[0], -1))

        return Net(self.n_heads, self.n_layers)


# ---------------------------------------------------------------------------
# multivariate deep forecasters (ref dl/multivariate.py:127-523):
# several value columns forecast JOINTLY so the net can exploit
# cross-variate correlation


def build_multivariate_windows(
    df: DataFrame,
    value_cols: list[str],
    input_size: int,
    h: int,
    id_col: str = ID,
    time_col: str = TIME,
) -> DataFrame:
    """Sliding multivariate training windows per series, as a Catalyst
    plan (the univariate builder with an array-of-variates payload).
    Output [id, start, x: array<array<double>> (input_size rows, each
    [v1..vk]), y_fut: array<array<double>> (h rows)]."""
    require_columns(df, id_col, time_col, *value_cols)
    series = df.groupBy(id_col).agg(ordered_values(value_cols, time_col).alias("__vals"))
    return (
        series.where(F.size("__vals") >= input_size + h)
        .select(
            id_col,
            F.posexplode(F.expr(f"sequence(1, size(__vals) - {input_size + h - 1})"))
            .alias("__i", "start"),
            "__vals",
        )
        .select(
            id_col,
            (F.col("start") - 1).alias("start"),
            F.expr(f"slice(__vals, start, {input_size})").alias("x"),
            F.expr(f"slice(__vals, start + {input_size}, {h})").alias("y_fut"),
        )
    )


def stack_contexts(
    pdf: pd.DataFrame,
    value_cols: list[str],
    input_size: int,
    id_col: str = ID,
    time_col: str = TIME,
    with_times: bool = True,
):
    """Shared per-bucket context stacking for the batched inference
    kernels: per series, the last ``input_size`` rows of every variate,
    leading-zero padded. Returns (ids, contexts (S, input_size, n_vars),
    lengths, last_ts, freqs) — ``lengths`` is the count of REAL (non-
    pad) trailing steps per series, which masking consumers (foundation
    embedders) need to avoid treating pad zeros as observations.
    ``with_times=False`` skips the datetime/frequency work (and its
    to_datetime coercion) for consumers that only embed, not forecast."""
    n_vars = len(value_cols)
    ids, ctxs, lengths, last_ts, freqs = [], [], [], [], []
    for sid, g in pdf.groupby(id_col, sort=False):
        g = g.sort_values(time_col)
        arr = g[value_cols].to_numpy(dtype=float)
        ctx = np.zeros((input_size, n_vars))
        take = min(len(arr), input_size)
        ctx[-take:] = arr[-input_size:]
        ids.append(sid)
        ctxs.append(ctx)
        lengths.append(take)
        if with_times:
            ts = pd.to_datetime(g[time_col])
            last_ts.append(ts.iloc[-1])
            freqs.append(ts.diff().dropna().median() if len(ts) > 1
                         else pd.Timedelta(days=1))
    return ids, ctxs, lengths, last_ts, freqs


def batch_forecast_multivariate(
    df: DataFrame,
    predict_batch,
    value_cols: list[str],
    input_size: int,
    h: int,
    id_col: str = ID,
    time_col: str = TIME,
) -> DataFrame:
    """Joint h-step forecasts: per bucket of series, stack the last
    ``input_size`` rows of every variate (leading-zero padded) into one
    (S, input_size, n_vars) tensor and make a SINGLE ``predict_batch``
    call -> (S, h, n_vars). Output [id, ds, <col>_hat ...]."""
    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, ctxs, _lens, last_ts, freqs = stack_contexts(
            pdf, value_cols, input_size, id_col, time_col)
        cols = {id_col: pd.Series([], dtype="str"),
                time_col: pd.Series([], dtype="datetime64[us]")}
        cols.update({f"{c}_hat": pd.Series([], dtype="float64") for c in value_cols})
        if not ids:
            return pd.DataFrame(cols)
        Yhat = np.asarray(predict_batch(np.stack(ctxs)), dtype=float)  # (S, h, nv)
        frames = []
        for s, (sid, t0, fr) in enumerate(zip(ids, last_ts, freqs)):
            row = {id_col: sid, time_col: [t0 + (i + 1) * fr for i in range(h)]}
            for v, c in enumerate(value_cols):
                row[f"{c}_hat"] = Yhat[s, :, v]
            frames.append(pd.DataFrame(row))
        return pd.concat(frames, ignore_index=True)

    hats = ", ".join(f"`{c}_hat` double" for c in value_cols)
    schema = f"{id_col} string, {time_col} timestamp, {hats}"
    return for_series_batches(df, kern, schema, id_col=id_col, time_col=time_col)


class _TorchMVWindowForecaster:
    """Shared plumbing for the multivariate torch forecasters: windows
    from the Spark plan (hash-sampled to ``max_windows`` for the
    driver-side optimizer), per-variate normalization, prediction via
    batch_forecast_multivariate with the trained net shipped in the
    kernel closure."""

    def __init__(self, h: int, input_size: int, value_cols: list[str] | None,
                 max_epochs: int, lr: float, batch_size: int, max_windows: int,
                 id_col: str, time_col: str):
        self.h, self.input_size = h, input_size
        self.value_cols = list(value_cols or [TARGET])
        self.max_epochs, self.lr, self.batch_size = max_epochs, lr, batch_size
        self.max_windows = max_windows
        self.id_col, self.time_col = id_col, time_col
        self._mean = self._std = None
        self._model = None

    def _build_net(self):  # pragma: no cover - torch absent
        raise NotImplementedError

    def fit(self, df: DataFrame):  # pragma: no cover - torch absent in container
        torch, _nn = _torch()
        win = build_multivariate_windows(df, self.value_cols, self.input_size,
                                         self.h, self.id_col, self.time_col)
        n = win.count()
        if n == 0:
            raise ValueError(
                f"no training windows: series shorter than input_size+h = "
                f"{self.input_size + self.h}")
        if n > self.max_windows:
            frac_mod = max(2, n // self.max_windows)
            win = win.where(
                F.pmod(F.xxhash64(self.id_col, "start"), F.lit(frac_mod)) == 0
            )
        pdf = win.select("x", "y_fut").toPandas()
        X = np.asarray([np.asarray(r, dtype=float) for r in pdf["x"]])
        Y = np.asarray([np.asarray(r, dtype=float) for r in pdf["y_fut"]])
        self._mean = X.mean(axis=(0, 1), keepdims=True)
        self._std = X.std(axis=(0, 1), keepdims=True) + 1e-8
        Xt = torch.tensor((X - self._mean) / self._std, dtype=torch.float32)
        Yt = torch.tensor((Y - self._mean) / self._std, dtype=torch.float32)
        model = self._build_net()
        opt = torch.optim.Adam(model.parameters(), lr=self.lr)
        loss_fn = torch.nn.MSELoss()
        ds = torch.utils.data.TensorDataset(Xt, Yt)
        loader = torch.utils.data.DataLoader(ds, batch_size=self.batch_size, shuffle=True)
        model.train()
        for _ in range(self.max_epochs):
            for xb, yb in loader:
                opt.zero_grad()
                loss = loss_fn(model(xb), yb)
                loss.backward()
                opt.step()
        self._model = model
        return self

    def predict_batch(self, contexts: np.ndarray) -> np.ndarray:  # pragma: no cover
        torch, _nn = _torch()
        self._model.eval()
        with torch.no_grad():
            x = torch.tensor((contexts - self._mean) / self._std, dtype=torch.float32)
            return self._model(x).numpy() * self._std + self._mean

    def predict(self, df: DataFrame) -> DataFrame:
        if self._model is None:
            raise RuntimeError("call fit() first")
        return batch_forecast_multivariate(
            df, self.predict_batch, self.value_cols, self.input_size, self.h,
            self.id_col, self.time_col)


class MultivariatePatchTSTForecaster(_TorchMVWindowForecaster):
    """Channel-mixing PatchTST (ref dl/multivariate.py:127-390): every
    patch flattens ALL variates (patch_len*n_vars -> d_model), so
    attention mixes across channels; head emits h*n_vars jointly.
    Requires torch."""

    def __init__(self, h: int = 12, input_size: int = 32, patch_len: int = 8,
                 value_cols: list[str] | None = None, d_model: int = 64,
                 n_heads: int = 4, n_layers: int = 2, dropout: float = 0.1,
                 max_epochs: int = 50, lr: float = 1e-3, batch_size: int = 32,
                 max_windows: int = 200_000,
                 id_col: str = ID, time_col: str = TIME):
        super().__init__(h, input_size, value_cols, max_epochs, lr, batch_size,
                         max_windows, id_col, time_col)
        self.patch_len, self.d_model = patch_len, d_model
        self.n_heads, self.n_layers, self.dropout = n_heads, n_layers, dropout

    def _build_net(self):  # pragma: no cover - torch absent
        torch, nn = _torch()
        nv, pl_, dm = len(self.value_cols), self.patch_len, self.d_model
        # ceil-patches + LEFT zero-pad (the univariate PatchTST
        # convention): input_size that is shorter than, or not a
        # multiple of, patch_len pads instead of crashing / silently
        # dropping the oldest observations
        n_patches = -(-self.input_size // pl_)
        pad = n_patches * pl_ - self.input_size
        h = self.h

        class Net(nn.Module):
            def __init__(self, n_heads, n_layers, dropout):
                super().__init__()
                self.proj = nn.Linear(pl_ * nv, dm)
                self.pos = nn.Parameter(torch.randn(1, n_patches, dm) * 0.02)
                layer = nn.TransformerEncoderLayer(
                    d_model=dm, nhead=n_heads, dim_feedforward=dm * 4,
                    dropout=dropout, batch_first=True)
                self.encoder = nn.TransformerEncoder(layer, num_layers=n_layers)
                self.head = nn.Linear(n_patches * dm, h * nv)

            def forward(self, x):  # (b, input_size, nv) -> (b, h, nv)
                b = x.shape[0]
                if pad:
                    x = torch.nn.functional.pad(x, (0, 0, pad, 0))
                p = x.reshape(b, n_patches, pl_ * nv)
                z = self.encoder(self.proj(p) + self.pos)
                return self.head(z.reshape(b, -1)).reshape(b, h, nv)

        return Net(self.n_heads, self.n_layers, self.dropout)


class ITransformerForecaster(_TorchMVWindowForecaster):
    """Inverted transformer (ref dl/multivariate.py:194-523): each
    VARIATE is a token (its full history projected to d_model), so
    attention runs across variables, not time. Requires torch."""

    def __init__(self, h: int = 12, input_size: int = 32,
                 value_cols: list[str] | None = None, d_model: int = 64,
                 n_heads: int = 4, n_layers: int = 2, dropout: float = 0.1,
                 max_epochs: int = 50, lr: float = 1e-3, batch_size: int = 32,
                 max_windows: int = 200_000,
                 id_col: str = ID, time_col: str = TIME):
        super().__init__(h, input_size, value_cols, max_epochs, lr, batch_size,
                         max_windows, id_col, time_col)
        self.d_model = d_model
        self.n_heads, self.n_layers, self.dropout = n_heads, n_layers, dropout

    def _build_net(self):  # pragma: no cover - torch absent
        torch, nn = _torch()
        nv, dm, isz, h = len(self.value_cols), self.d_model, self.input_size, self.h

        class Net(nn.Module):
            def __init__(self, n_heads, n_layers, dropout):
                super().__init__()
                self.proj = nn.Linear(isz, dm)
                self.pos = nn.Parameter(torch.randn(1, nv, dm) * 0.02)
                layer = nn.TransformerEncoderLayer(
                    d_model=dm, nhead=n_heads, dim_feedforward=dm * 4,
                    dropout=dropout, batch_first=True)
                self.encoder = nn.TransformerEncoder(layer, num_layers=n_layers)
                self.head = nn.Linear(dm, h)

            def forward(self, x):  # (b, input_size, nv) -> (b, h, nv)
                z = self.encoder(self.proj(x.transpose(1, 2)) + self.pos)
                return self.head(z).transpose(1, 2)

        return Net(self.n_heads, self.n_layers, self.dropout)
