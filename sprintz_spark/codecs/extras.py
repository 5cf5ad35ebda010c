"""Auxiliary codecs + loss functions + size model from the reference's
Python layer (SURVEY.md §2.2), re-implemented from scratch.

  * ByteShuffle   — Blosc-style byte transpose (reference: codec.py:418-435)
  * ColSumPredictor — predict one column as the sum of others, store the
                    residual (reference: codec.py:538-591)
  * Bzip2 / Lzma / Zstd — whole-column byte-stream general-purpose codecs
                    (reference: codec.py:688-732). zstd_encode dispatches
                    at runtime: true zstd when the zstandard module is
                    importable, stdlib lzma otherwise, with a 1-byte tag
                    recording the producer so blobs decode either way.
  * Lambda / Debug — arbitrary fn-pair wrapper / reverse (codec.py:646-664,
                    192-207)
  * compute_loss  — l1/l2/linf/logabs block losses for codec selection
                    (codec.py:20-38)
  * nbits_cost    — bits needed per value, signed/unsigned (compress.py:14-63)
  * sprintz_packed_size — the reference's size model: pad to 8-row
                    windows, per-window nbits headers (3b/4b), zero-row
                    runs cost 1 byte (compress.py:282-362)
"""

from __future__ import annotations

import bz2 as _bz2
import lzma as _lzma

import numpy as np

from sprintz_spark.codecs import bitpack
from sprintz_spark.codecs.rle import CorruptBlobError

BLOCK = 8


# --- byte shuffle -----------------------------------------------------------

def byteshuffle_encode(x: np.ndarray) -> np.ndarray:
    """Transpose the N x itemsize byte matrix (groups significant bytes)."""
    x = np.ascontiguousarray(x)
    k = x.dtype.itemsize
    b = x.view(np.uint8).reshape(-1, k)
    return np.asfortranarray(b).T.reshape(-1).copy()


def byteshuffle_decode(shuffled: np.ndarray, dtype, n: int) -> np.ndarray:
    """CorruptBlobError unless ``shuffled`` holds n values' bytes."""
    k = np.dtype(dtype).itemsize
    if shuffled.size != k * n:
        raise CorruptBlobError(f"{shuffled.size} shuffled bytes for {n} {k}-byte values")
    b = shuffled.reshape(k, n).T
    return np.ascontiguousarray(b).reshape(-1).view(dtype)


# --- cross-column predictor -------------------------------------------------
#
# Reference ColSumPredictor (codec.py:538-591): predictions = sum of the
# predictor columns, each optionally FIR-filtered by its weight taps
# (scipy.signal.correlate mode='same'; np.correlate is the identical 1-D
# operation and scipy is absent in this environment). encode stores
# target - predictions.astype(target.dtype); decode recomputes the same
# predictions from the (read-only) predictor columns, so the round trip
# is exact regardless of float weights.


def colsum_predictions(
    predictors: list[np.ndarray],
    weights: np.ndarray | None = None,
    padding: str = "same",
) -> np.ndarray:
    """Weighted/FIR prediction stream. ``weights`` is (taps, n_predictors):
    taps==1 is a plain per-column scalar weight; taps>1 cross-correlates
    each predictor with its tap column. None = unweighted sum."""
    if not predictors:
        raise ValueError("at least one predictor column is required")
    if weights is not None:
        weights = np.atleast_2d(np.asarray(weights, np.float64))
        if weights.shape[1] != len(predictors):
            raise ValueError(
                f"weights has {weights.shape[1]} columns for {len(predictors)} predictors"
            )
    preds = None
    for i, p in enumerate(predictors):
        v = np.asarray(p)
        if weights is not None:
            v = np.correlate(v.astype(np.float64), weights[:, i], mode=padding)
        preds = v.copy() if preds is None else preds + v
    return preds


def colsum_residual(
    target: np.ndarray,
    predictors: list[np.ndarray],
    weights: np.ndarray | None = None,
    padding: str = "same",
) -> np.ndarray:
    """Residual of target vs the (optionally weighted/FIR) predictor sum,
    wraparound in the target dtype."""
    pred = colsum_predictions(predictors, weights, padding)
    return target - pred.astype(target.dtype)


def colsum_restore(
    residual: np.ndarray,
    predictors: list[np.ndarray],
    weights: np.ndarray | None = None,
    padding: str = "same",
) -> np.ndarray:
    pred = colsum_predictions(predictors, weights, padding)
    return residual + pred.astype(residual.dtype)


def train_colsum_weights(
    target: np.ndarray, predictors: list[np.ndarray], taps: int = 1
) -> np.ndarray:
    """Least-squares weight fit (taps, n_predictors) on a bounded sample —
    the regression the reference leaves as TODO (codec.py:545). For
    taps > 1, each predictor contributes ``taps`` lagged copies centered
    like correlate(mode='same')."""
    t = np.asarray(target, np.float64)
    n = len(t)
    cols = []
    half = taps // 2
    for p in predictors:
        v = np.asarray(p, np.float64)
        for k in range(taps):
            # correlate(v, w, 'same')[j] = sum_k v[j + k - half] * w[k]
            shifted = np.zeros(n)
            lo, hi = max(0, half - k), min(n, n + half - k)
            shifted[lo:hi] = v[lo + k - half : hi + k - half]
            cols.append(shifted)
    A = np.stack(cols, axis=1)
    w, *_ = np.linalg.lstsq(A, t, rcond=None)
    return w.reshape(len(predictors), taps).T  # (taps, n_predictors)


# --- byte-stream codecs -----------------------------------------------------

def bzip2_encode(x: np.ndarray) -> bytes:
    return _bz2.compress(np.ascontiguousarray(x).tobytes(), 9)


def bzip2_decode(buf: bytes, dtype) -> np.ndarray:
    return np.frombuffer(_bz2.decompress(buf), dtype=dtype)


def _lzma_compress(raw: bytes) -> bytes:
    """lzma with the dictionary capped at the input size (64 KB floor,
    1 MB ceiling = the preset-1 default): identical output container and
    byte size, but ~30x faster on the sub-KB chunks the codec-search
    probe feeds it — preset-1's fixed 1 MB dictionary init dominated
    tiny calls. XZ frames are self-describing, so decompress needs no
    matching config."""
    ds = max(1 << 16, min(1 << 20, 1 << (max(len(raw), 1) - 1).bit_length()))
    return _lzma.compress(
        raw, filters=[{"id": _lzma.FILTER_LZMA2, "preset": 1, "dict_size": ds}]
    )


def lzma_encode(x: np.ndarray) -> bytes:
    return _lzma_compress(np.ascontiguousarray(x).tobytes())


def lzma_decode(buf: bytes, dtype) -> np.ndarray:
    return np.frombuffer(_lzma.decompress(buf), dtype=dtype)


# Runtime Zstd dispatch (reference python/codec.py:718-732): true zstd when
# the zstandard module is importable, stdlib lzma otherwise — with the
# producing codec recorded in a 1-byte tag so blobs decode either way.
try:
    import zstandard as _zstandard
except ImportError:  # pragma: no cover - module absent in this sandbox
    _zstandard = None


def zstd_encode(x: np.ndarray, level: int = 3) -> bytes:
    raw = np.ascontiguousarray(x).tobytes()
    if _zstandard is not None:
        return b"Z" + _zstandard.ZstdCompressor(level=level).compress(raw)
    return b"L" + _lzma_compress(raw)


def zstd_decode(buf: bytes, dtype) -> np.ndarray:
    tag, body = buf[:1], bytes(buf[1:])
    if tag == b"Z":
        if _zstandard is None:
            raise RuntimeError(
                "blob was zstd-compressed but zstandard is not importable"
            )
        return np.frombuffer(
            _zstandard.ZstdDecompressor().decompress(body), dtype=dtype
        )
    if tag != b"L":
        raise ValueError(f"bad zstd-dispatch tag {tag!r}")
    return np.frombuffer(_lzma.decompress(body), dtype=dtype)


def bool_to_categorical_encode(vals) -> tuple[np.ndarray, bool]:
    """Boolean -> uint8 category codes — the codec the reference declares
    but never implements (codec.py:595-601: "maps np bools -> bools and
    nullable bools -> uint8s; doesn't bitpack so that stuff like delta
    coding will run on it normally"). Plain numpy bools pass through as
    codes 0/1 (nullable=False); nullable booleans (pandas BooleanDtype
    or object arrays carrying None/NA) become codes 0/1 with NA as 2
    (nullable=True). Codes are a normal uint8 column, so booldelta /
    delta / RLE run on them unchanged — no bitpacking here by design."""
    import pandas as pd

    if isinstance(vals, pd.Series):
        if vals.dtype == np.dtype(bool):
            return vals.to_numpy(np.uint8), False
        arr = vals.array
    else:
        arr = vals
    if isinstance(arr, np.ndarray) and arr.dtype.kind == "b":
        return arr.view(np.uint8).copy(), False
    arr = pd.array(arr, dtype="boolean")
    codes = arr.fillna(False).to_numpy(np.uint8)
    codes[pd.isna(arr)] = 2
    return codes, True


def bool_to_categorical_decode(codes: np.ndarray, nullable: bool):
    if not nullable:
        return codes.view(bool).copy()
    import pandas as pd

    return pd.arrays.BooleanArray(codes == 1, codes == 2)


def make_lambda_codec(enc_fn, dec_fn):
    """Arbitrary fn-pair wrapper (reference Lambda codec)."""
    return enc_fn, dec_fn


def debug_reverse_encode(x: np.ndarray) -> np.ndarray:
    return x[::-1].copy()


def debug_reverse_decode(y: np.ndarray) -> np.ndarray:
    return y[::-1].copy()


# --- losses / bit costs -----------------------------------------------------

def compute_loss(resid: np.ndarray, loss: str = "logabs") -> float:
    a = np.abs(resid.astype(np.float64))
    if loss == "l1":
        return float(a.sum())
    if loss == "l2":
        return float((a * a).sum())
    if loss == "linf":
        return float(a.max(initial=0.0))
    if loss == "logabs":
        return float(np.log2(1.0 + a).sum())
    if loss == "nbytes":
        return float(nbits_cost(resid).sum()) / 8.0
    raise ValueError(f"unknown loss {loss}")


def nbits_cost(x: np.ndarray, signed: bool | None = None) -> np.ndarray:
    """Bits needed to represent each value (two's complement when signed)."""
    x = np.asarray(x)
    if signed is None:
        signed = x.dtype.kind == "i"
    if not signed:
        return bitpack.bit_length(x.astype(np.uint64))
    v = x.astype(np.int64)
    # negative n needs bit_length(~n) + 1; positive needs bit_length(n) + 1
    mag = np.where(v < 0, ~v, v).astype(np.uint64)
    out = bitpack.bit_length(mag) + np.uint8(1)
    out[v == 0] = 0
    return out


def sprintz_packed_size(
    x: np.ndarray, nbits_per_header: int | None = None
) -> int:
    """The reference's sprintz size model in bits: values assumed already
    residual-coded; per 8-row window the max nbits is charged per value
    plus a header (3 bits for 8-bit data, 4 for 16-bit), width w-1
    promoted to w; all-zero windows cost 1 byte flat."""
    x = np.asarray(x)
    w = x.dtype.itemsize * 8
    hdr = nbits_per_header or (3 if w == 8 else 4)
    u = bitpack.pad_to_block(np.abs(x.astype(np.int64)).astype(np.uint64))
    nb = bitpack.bit_length(np.bitwise_or.reduce(u.reshape(-1, BLOCK), axis=1))
    nb = nb.astype(np.int64)
    nb[nb == w - 1] = w
    zero = nb == 0
    return int((nb[~zero] * BLOCK + hdr).sum() + zero.sum() * 8)
