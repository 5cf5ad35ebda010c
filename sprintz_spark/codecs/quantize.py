"""Lossless quantizer: float/int/nullable columns -> unsigned ints + params.

Semantics follow the reference's quantizer (reference:
python/dfquantize2.py:17-223): infer a decimal scale 10^k (k <= 6) such
that scaled values are exact integers, offset = min, choose the smallest
unsigned dtype that fits the span; NaN/±inf/NA encode as the max value of
the chosen dtype (sentinel), shrinking the usable range by one when
non-finite values are present (a span that exactly fills the dtype then
bumps to the next wider dtype — reference: dfquantize2.py:59-63).

Implementation is from scratch (numpy/pandas only). Round trip is exact:
``unquantize(quantize(x)) == x`` elementwise NaN-aware, including pandas
nullable Int/boolean columns.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

MAX_SCALE_EXP = 6  # largest decimal scale 10^6 (reference: dfquantize2.py)

_UINT_DTYPES = (np.uint8, np.uint16, np.uint32, np.uint64)


@dataclass(frozen=True)
class QuantizeParams:
    dtype: str  # quantized unsigned dtype name
    offset: float  # integer offset in *scaled* units (min of round(x*scale))
    scale: float  # multiplier making values integral (10^k)
    orig_dtype: str  # pandas dtype string of the original column
    allfinite: bool  # True -> no NaN sentinel in use
    n: int

    def to_dict(self) -> dict:
        return {
            "dtype": self.dtype,
            "offset": self.offset,
            "scale": self.scale,
            "orig_dtype": self.orig_dtype,
            "allfinite": self.allfinite,
            "n": self.n,
        }

    @staticmethod
    def from_dict(d: dict) -> "QuantizeParams":
        return QuantizeParams(**d)


def _infer_scale(finite: np.ndarray) -> float:
    """Smallest 10^k (k<=6) making all values integral; 1.0 if impossible
    (then we fall back to float64-bit passthrough upstream)."""
    for k in range(MAX_SCALE_EXP + 1):
        scale = 10.0**k
        scaled = finite * scale
        if np.allclose(scaled, np.round(scaled), rtol=0, atol=1e-9):
            # exactness check: must round-trip through the integer rep
            if (np.round(scaled) / scale == finite).all():
                return scale
    return float("nan")


def _choose_uint(span: int, need_sentinel: bool) -> np.dtype:
    for dt in _UINT_DTYPES:
        hi = np.iinfo(dt).max
        if span <= hi - (1 if need_sentinel else 0):
            return np.dtype(dt)
    raise ValueError(f"span {span} too large for uint64")


def quantize(series: pd.Series) -> tuple[np.ndarray, QuantizeParams]:
    orig_dtype = str(series.dtype)
    if pd.api.types.is_bool_dtype(series.dtype) and not isinstance(
        series.dtype, pd.BooleanDtype
    ):
        vals = series.to_numpy().astype(np.float64)
        isna = np.zeros(len(series), dtype=bool)
    else:
        isna = series.isna().to_numpy()
        vals = series.astype("float64").to_numpy(dtype=np.float64, na_value=np.nan)
    nonfinite = isna | ~np.isfinite(vals)
    finite = vals[~nonfinite]
    allfinite = not nonfinite.any()
    if len(finite) == 0:
        params = QuantizeParams("uint8", 0.0, 1.0, orig_dtype, allfinite, len(series))
        out = np.full(len(series), np.iinfo(np.uint8).max, dtype=np.uint8)
        return out, params
    if np.abs(finite).max() >= 2**53:
        raise ValueError("values exceed float64 exact-integer range")
    scale = _infer_scale(finite)
    if not np.isfinite(scale):
        raise ValueError("no decimal scale makes column integral")
    # work entirely in the scaled-integer domain so reconstruction
    # (u + offset) / scale is exactly the validated round(x*scale)/scale
    scaled_int = np.round(finite * scale)
    offset = float(scaled_int.min())
    span = int(scaled_int.max() - offset)
    dt = _choose_uint(span, need_sentinel=not allfinite)
    sentinel = np.iinfo(dt).max
    out = np.empty(len(series), dtype=dt)
    scaled = np.round(vals * scale) - offset
    scaled[nonfinite] = 0
    out[:] = scaled.astype(dt)
    out[nonfinite] = sentinel
    params = QuantizeParams(
        str(np.dtype(dt)), offset, scale, orig_dtype, allfinite, len(series)
    )
    return out, params


def unquantize(u: np.ndarray, params: QuantizeParams) -> pd.Series:
    dt = np.dtype(params.dtype)
    sentinel = np.iinfo(dt).max
    isna = np.zeros(len(u), dtype=bool) if params.allfinite else (u == sentinel)
    vals = (u.astype(np.float64) + params.offset) / params.scale
    orig = params.orig_dtype
    if orig.startswith(("float", "Float")):
        vals[isna] = np.nan
        s = pd.Series(vals)
        return s.astype(orig)
    if orig == "bool":
        return pd.Series(vals.astype(bool))
    # integer / nullable integer / boolean-nullable targets
    ints = np.round(vals).astype(np.int64)
    if orig in ("Int8", "Int16", "Int32", "Int64", "UInt8", "UInt16", "UInt32",
                "UInt64", "boolean"):
        s = pd.Series(ints, dtype="Int64")
        s[isna] = pd.NA
        return s.astype(orig)
    if isna.any():
        s = pd.Series(vals)
        s[isna] = np.nan
        return s
    return pd.Series(ints).astype(orig)
