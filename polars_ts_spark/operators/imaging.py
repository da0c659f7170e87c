"""Series -> image-tensor transforms (SURVEY §2.19 imaging
subpackage): Gramian angular fields, Markov transition fields,
recurrence plots + RQA statistics, spectrogram, path signatures.

Reference parity:
- gasf / gadf       -> polars_ts/imaging/angular.py:50,83
- mtf               -> polars_ts/imaging/transition.py:52
- recurrence_plot / rqa -> polars_ts/imaging/recurrence.py:42,117
- spectrogram       -> polars_ts/imaging/spectral.py:93
- path_signature    -> polars_ts/imaging/signature.py:117,175

Spark mapping: per-series numpy kernels under applyInPandas emitting
``array<array<double>>`` image columns (SURVEY §2.19). numpy cores are
importable directly for driver-side use.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from polars_ts_spark.functions.numutils import hash_u32
from polars_ts_spark.panel import ID, TARGET, TIME

# ---------------------------------------------------------------------------
# numpy cores


def _minmax_scale(x: np.ndarray) -> np.ndarray:
    lo, hi = x.min(), x.max()
    if hi == lo:
        return np.zeros_like(x)
    return 2.0 * (x - lo) / (hi - lo) - 1.0


def gasf(x: np.ndarray) -> np.ndarray:
    """Gramian Angular Summation Field: cos(phi_i + phi_j)."""
    s = np.clip(_minmax_scale(np.asarray(x, float)), -1, 1)
    phi = np.arccos(s)
    return np.cos(phi[:, None] + phi[None, :])


def gadf(x: np.ndarray) -> np.ndarray:
    """Gramian Angular Difference Field: sin(phi_i - phi_j)."""
    s = np.clip(_minmax_scale(np.asarray(x, float)), -1, 1)
    phi = np.arccos(s)
    return np.sin(phi[:, None] - phi[None, :])


def mtf(x: np.ndarray, n_bins: int = 8) -> np.ndarray:
    """Markov Transition Field from quantile-binned states."""
    x = np.asarray(x, float)
    edges = np.quantile(x, np.linspace(0, 1, n_bins + 1)[1:-1])
    states = np.searchsorted(edges, x)
    W = np.zeros((n_bins, n_bins))
    for a, b in zip(states[:-1], states[1:]):
        W[a, b] += 1
    W = W / np.maximum(W.sum(axis=1, keepdims=True), 1)
    return W[states[:, None], states[None, :]]


def recurrence_plot(
    x: np.ndarray, epsilon: float | None = None, dim: int = 2, delay: int = 1
) -> np.ndarray:
    """Thresholded recurrence matrix on time-delay-embedded states
    (Takens embedding, dim m / delay tau): without embedding a scalar
    signal recurs at mirror phases too (sin hits each value twice per
    period), polluting the diagonal-line structure."""
    x = np.asarray(x, float)
    m = max(1, dim)
    n_emb = len(x) - (m - 1) * delay
    if n_emb < 2:
        m, n_emb = 1, len(x)
    E = np.stack([x[i * delay : i * delay + n_emb] for i in range(m)], axis=1)
    D = np.sqrt(((E[:, None, :] - E[None, :, :]) ** 2).sum(axis=2))
    eps = epsilon if epsilon is not None else float(np.quantile(D, 0.1))
    return (D <= eps).astype(float)


def rqa_stats(R: np.ndarray, min_line: int = 2) -> dict[str, float]:
    """Recurrence-rate + determinism (diagonal-line ratio)
    (recurrence.py:117-180)."""
    n = len(R)
    rr = float(R.sum() - np.trace(R)) / max(n * n - n, 1)
    diag_pts = in_lines = 0
    for k in range(1, n):
        d = np.diagonal(R, offset=k)
        diag_pts += 2 * d.sum()
        run = 0
        for v in np.concatenate([d, [0]]):
            if v:
                run += 1
            else:
                if run >= min_line:
                    in_lines += 2 * run
                run = 0
    det = float(in_lines) / max(float(diag_pts), 1.0)
    return {"recurrence_rate": rr, "determinism": det}


def spectrogram(x: np.ndarray, nperseg: int = 32, overlap: float = 0.5) -> np.ndarray:
    """Magnitude STFT (Hann window) — (n_freqs, n_frames)."""
    x = np.asarray(x, float)
    step = max(1, int(nperseg * (1 - overlap)))
    win = np.hanning(nperseg)
    frames = []
    for start in range(0, len(x) - nperseg + 1, step):
        seg = x[start : start + nperseg] * win
        frames.append(np.abs(np.fft.rfft(seg)))
    if not frames:
        return np.zeros((nperseg // 2 + 1, 0))
    return np.stack(frames, axis=1)


def _morlet(M: int, s: float = 1.0, w: float = 5.0) -> np.ndarray:
    """Complex Morlet wavelet (imaging/spectral.py:40-44)."""
    t = np.arange(-M // 2, M // 2 + 1, dtype=np.float64)
    return np.exp(1j * w * t / s) * np.exp(-0.5 * (t / s) ** 2) * np.pi ** (-0.25)


def _ricker(M: int, a: float = 1.0) -> np.ndarray:
    """Mexican-hat (Ricker) wavelet (imaging/spectral.py:47-50)."""
    t = np.arange(-M // 2, M // 2 + 1, dtype=np.float64) / a
    return (2.0 / (np.sqrt(3 * a) * np.pi ** 0.25)) * (1 - t ** 2) * np.exp(-0.5 * t ** 2)


def scalogram(x: np.ndarray, wavelet: str = "morlet",
              scales: np.ndarray | None = None, n_scales: int = 32) -> np.ndarray:
    """CWT magnitude scalogram (scale × time), log-spaced scales
    1..len/4 by default (imaging/spectral.py:53-91,134-177). Convolution
    via np.convolve — the container has no scipy; same 'same'-mode
    cross-correlation semantics as the reference's fftconvolve."""
    x = np.asarray(x, float)
    n = len(x)
    if wavelet in ("mexh",):
        wavelet = "ricker"
    if wavelet in ("morl",):
        wavelet = "morlet"
    if wavelet not in ("morlet", "ricker"):
        raise ValueError(f"Unknown wavelet {wavelet!r}")
    if scales is None:
        scales = np.geomspace(1, max(n // 4, 2), num=n_scales)
    coeffs = np.zeros((len(scales), n), dtype=np.complex128)
    for i, scale in enumerate(scales):
        M = max(min(10 * int(np.ceil(scale)), n), 1)
        w = _morlet(M, s=scale) if wavelet == "morlet" else _ricker(M, a=scale).astype(complex)
        # scipy-'same' centering on x: np.convolve('same') would size to
        # the LONGER input when the wavelet exceeds the series
        full = np.convolve(x, w[::-1].conj(), mode="full")
        start = (len(w) - 1) // 2
        coeffs[i] = full[start:start + n]
    return np.abs(coeffs)


def path_signature_level2(x: np.ndarray) -> np.ndarray:
    """Level-2 signature of the path (t, x): [S1_t, S1_x, S2_tt, S2_tx,
    S2_xt, S2_xx] (signature.py:117-175, truncated depth 2)."""
    x = np.asarray(x, float)
    n = len(x)
    t = np.linspace(0, 1, n)
    dt, dx = np.diff(t), np.diff(x)
    s1_t, s1_x = dt.sum(), dx.sum()
    ct, cx = np.concatenate([[0], np.cumsum(dt)[:-1]]), np.concatenate([[0], np.cumsum(dx)[:-1]])
    s2_tt = float((ct * dt).sum() + 0.5 * (dt * dt).sum())
    s2_xx = float((cx * dx).sum() + 0.5 * (dx * dx).sum())
    s2_tx = float((ct * dx).sum() + 0.5 * (dt * dx).sum())
    s2_xt = float((cx * dt).sum() + 0.5 * (dx * dt).sum())
    return np.array([s1_t, s1_x, s2_tt, s2_tx, s2_xt, s2_xx])


# ---------------------------------------------------------------------------
# panel operators

_IMAGE_KERNELS = {
    "gasf": gasf,
    "gadf": gadf,
    "mtf": mtf,
    "recurrence": recurrence_plot,
    "scalogram": scalogram,
    "spectrogram": spectrogram,
}


def series_to_image(
    df: DataFrame,
    method: str = "gasf",
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
    **kw,
) -> DataFrame:
    """[id, image: array<array<double>>] per series."""
    fn = _IMAGE_KERNELS[method]

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        img = fn(pdf[target_col].to_numpy(dtype=float), **kw)
        return pd.DataFrame({
            id_col: [str(pdf[id_col].iloc[0])],
            "image": [[list(map(float, row)) for row in img]],
        })

    schema = f"{id_col} string, image array<array<double>>"
    return df.groupBy(id_col).applyInPandas(kern, schema=schema)


def _default_torchvision_embed(P: np.ndarray, dim: int) -> np.ndarray:
    """Default vision backbone (ref imaging/embeddings.py:172-260
    'resnet' path): resnet18 truncated before its fc head, i.e. up to
    global average pooling. Flat grayscale pixel vectors are reshaped
    square, tiled to 3 channels, bilinear-resized to the backbone's
    224x224 input; the (n, 512) features are projected to ``dim`` by
    truncation / zero-pad. Import-guarded: without torch/torchvision
    this raises the same honest ImportError as before."""
    try:
        import torch
        import torchvision
    except ImportError as e:
        raise ImportError(
            "torch/torchvision required for default vision embeddings; "
            "pass embed_batch= for a custom (or stub) model"
        ) from e
    model = getattr(_default_torchvision_embed, "_model", None)
    if model is None:
        net = torchvision.models.resnet18(weights=None)
        model = torch.nn.Sequential(*list(net.children())[:-1]).eval()
        _default_torchvision_embed._model = model
    n, npix = P.shape
    side = int(np.sqrt(npix))
    imgs = torch.tensor(
        P[:, : side * side].reshape(n, 1, side, side), dtype=torch.float32
    ).repeat(1, 3, 1, 1)
    imgs = torch.nn.functional.interpolate(
        imgs, size=(224, 224), mode="bilinear", align_corners=False)
    with torch.no_grad():
        feat = model(imgs).reshape(n, -1).numpy()
    if feat.shape[1] >= dim:
        return feat[:, :dim]
    return np.pad(feat, ((0, 0), (0, dim - feat.shape[1])))


def vision_embeddings(
    decoded_df: DataFrame,
    embed_batch=None,
    dim: int = 64,
    pixel_col: str = "pixels",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vision-model embeddings over decoded images -> [id, embedding]
    (ref imaging/embeddings.py:172-260: torchvision resnet/vit/clip).

    The Spark plumbing (Arrow-batched pixel stacking, ONE model call
    per batch, array<float> output) is real; the model is a pluggable
    ``embed_batch(P: (n, n_pixels)) -> (n, dim)`` hook. Without a hook
    and without torch installed this raises ImportError — the same
    honest-stub pattern as operators/multimodal.decode_image."""
    import pandas as pd

    if embed_batch is None:
        embed_batch = lambda P: _default_torchvision_embed(P, dim)  # noqa: E731

    def gen(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            P = np.vstack([np.asarray(p, dtype=np.float64) for p in pdf[pixel_col]])
            E = np.asarray(embed_batch(P), dtype=np.float32)
            yield pd.DataFrame({
                id_col: pdf[id_col],
                "embedding": list(E),
            })

    id_dtype = dict(decoded_df.dtypes)[id_col]
    return decoded_df.select(id_col, pixel_col).mapInPandas(
        gen, schema=f"{id_col} {id_dtype}, embedding array<float>"
    )


def embed_weight(i: int, j: int, d_in: int) -> float:
    """Deterministic projection weight in [-1, 1]/sqrt(d_in), derived
    from md5 — the same no-RNG construction as the LSH hyperplanes
    (embedsim._plane_value), so an exact SQL oracle can embed the
    weights as literals."""
    h = hash_u32(f"visw_{i}_{j}")
    return ((h % 2000001) / 1000000.0 - 1.0) / float(np.sqrt(d_in))


def deterministic_embed_hook(dim: int = 64):
    """Deterministic stand-in for a vision model: row-centered pixels
    through a fixed md5-derived projection (no RNG — reproducible in
    SQL). Keeps the embedding pipeline testable end-to-end without
    torch."""

    def hook(P: np.ndarray) -> np.ndarray:
        d_in = P.shape[1]
        W = np.array(
            [[embed_weight(i, j, d_in) for j in range(dim)] for i in range(d_in)]
        )
        return (P - P.mean(axis=1, keepdims=True)) @ W

    return hook


def rqa_features(
    df: DataFrame,
    epsilon: float | None = None,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """[id, recurrence_rate, determinism] per series."""

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        stats = rqa_stats(recurrence_plot(pdf[target_col].to_numpy(dtype=float), epsilon))
        return pd.DataFrame({id_col: [str(pdf[id_col].iloc[0])], **{k: [v] for k, v in stats.items()}})

    schema = f"{id_col} string, recurrence_rate double, determinism double"
    return df.groupBy(id_col).applyInPandas(kern, schema=schema)


def signature_features(
    df: DataFrame,
    id_col: str = ID,
    time_col: str = TIME,
    target_col: str = TARGET,
) -> DataFrame:
    """[id, sig_0..sig_5] level-2 path signatures per series."""

    def kern(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(time_col)
        sig = path_signature_level2(pdf[target_col].to_numpy(dtype=float))
        out = {id_col: [str(pdf[id_col].iloc[0])]}
        for i, v in enumerate(sig):
            out[f"sig_{i}"] = [float(v)]
        return pd.DataFrame(out)

    cols = ", ".join(f"sig_{i} double" for i in range(6))
    schema = f"{id_col} string, {cols}"
    return df.groupBy(id_col).applyInPandas(kern, schema=schema)
