"""Sprintz encode/decode of bucketed series as Arrow-batched Spark UDFs.

Maps the reference's dataframe-compression pipeline (reference:
python/dfsqueeze.py:15-231 encode→measure→decode→verify; codec selection
python/codec.py:439-535) onto Spark. Every operator here is Arrow-native
(groupBy().applyInArrow / mapInArrow) and every encoded store holds UTC
epoch micros, so neither the bytes nor the decoded instants depend on
the session time zone. Both encoders share one front end
(``_sort_pieces``): a stable Arrow sort on (keys…, ts), series starts
from ``pc.run_end_encode``, ts as a zero-copy int64 cast, series cut
into row-sliced pieces of at most chunk_rows rows.

  * ``encode_series``: groupBy(hash part) → applyInArrow; every piece of
    every value column goes through quantize → per-column cost-based mode
    selection (delta / doubledelta / fire / raw; fire only for u8/u16,
    like the reference's C core) → SZ1 block format. Timestamps get
    delta-of-delta. Float columns that defeat the decimal quantizer fall
    back to Gorilla XOR. Output: ONE ROW PER (key, chunk) with binary
    blobs + metrics.
  * ``decode_series``: mapInArrow — decoding needs no shuffle at all;
    each encoded row explodes back to its original rows, exactly.
  * ``query_encoded``: fused decode+aggregate (reference query-on-
    compressed, cpp/Compress/query.hpp) — mapInArrow emits per-chunk
    partials straight from the blobs, Catalyst's partial+final aggregate
    combines. Never materializes the decoded table.
  * ``encode_series_container``/``decode_series_container``/
    ``query_encoded_container``: the multi-series 'C' format — one blob
    per (partition, column) holding ALL series of the slice, so output
    rows/files are O(partitions) not O(keys) and tiny series cost a few
    bytes each; series longer than chunk_rows are cut into row-sliced
    pieces. This is the retention tier store's only layout.

The per-series operators (``encode_series`` / ``decode_series`` /
``query_encoded``) write no store: they are the codec testbed of the
gated codec queries (sprintz, huffman, codec search, gorilla, booldelta,
quantize, colsum and squeeze round trips), where one row per series
keeps every codec and mode choice visible. The retention store
(plans.retention) is the engine's one write path.

Scale notes: group state is O(chunk) not O(series); chunk_rows bounds
executor memory; a year of 1-minute buckets per url is ~525k rows → a few
chunks. Hot urls are bounded by the time axis, not crawl count, because
encoding happens AFTER rollup.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sprintz_spark.codecs import gorilla
from sprintz_spark.codecs import quantize as Q
from sprintz_spark.codecs import search as CS
from sprintz_spark.codecs import sprintz as sz
from sprintz_spark.codecs.extras import colsum_residual, colsum_restore

try:  # C JSON parser if present — chunk metas are parsed once per blob
    from orjson import loads as _json_loads  # type: ignore
except ImportError:  # pragma: no cover - environment-dependent
    _json_loads = json.loads

DEFAULT_CHUNK = 1 << 16
_UTC_US = pa.timestamp("us", "UTC")


def _encode_value_column(s: pd.Series, force: str | None = None) -> tuple[bytes, dict]:
    """quantize → mode search → SZ1; fallback to gorilla for floats.

    ``force``: 'gorilla' bypasses the quantizer (Gorilla XOR float codec),
    'quantize' requires the decimal quantizer to succeed (raises otherwise),
    'search' routes through the CodecSearch max-ratio container (reference
    python/codec.py:439-535), 'search:NAME' forces that one pipeline
    (e.g. 'search:huffman' for the canonical-Huffman entropy stage), and
    'search!NAME[,NAME...]' probes with the named pipelines excluded
    (used by environment-pinned goldens to drop backend-dependent
    pipelines — see codecs.search.search_encode).
    """
    if force == "gorilla":
        return gorilla.encode(s.to_numpy(np.float64)), {"codec": "gorilla"}
    if force == "booldelta":
        from sprintz_spark.codecs.extras import bool_to_categorical_encode

        codes, nullable = bool_to_categorical_encode(s)
        # nullable flags the INPUT DTYPE; only actual NAs (code 2) are
        # unrepresentable here — a null-free nullable-boolean series
        # (arrow-backed pandas produces these) encodes fine
        if nullable and (codes == 2).any():
            raise ValueError("booldelta series path takes non-null booleans")
        return (
            sz.encode_column(codes, "booldelta"),
            {"codec": "sprintz", "mode": "booldelta", "np_dtype": "uint8",
             "bool": True},
        )
    if force is not None and force.startswith("search"):
        excl = tuple(x for x in force.partition("!")[2].split(",") if x)
        name = force.partition(":")[2] or None
        return (
            CS.search_encode(s.to_numpy(), pipeline=name, exclude=excl),
            {"codec": "search"},
        )
    kind = s.dtype.kind
    if kind in "iu" and not s.isna().any():
        vals = s.to_numpy()
        width = vals.dtype.itemsize * 8
        u, qp = None, None
        if width == 64:
            arr = vals.astype(np.int64)
        else:
            arr = vals
    else:
        try:
            u, qp = Q.quantize(s)
            arr = u
        except (ValueError, TypeError):
            if force == "quantize":
                raise
            buf = gorilla.encode(s.to_numpy(np.float64))
            return buf, {"codec": "gorilla"}
    candidates = ("delta", "doubledelta", "fire", "raw") if arr.dtype.itemsize <= 2 else (
        "delta", "doubledelta", "raw")
    mode = sz.choose_mode(arr, candidates)
    meta = {"codec": "sprintz", "mode": mode, "np_dtype": str(arr.dtype)}
    if qp is not None:
        meta["qparams"] = qp.to_dict()
    return sz.encode_column(arr, mode), meta


def _transform_decoded(arr: np.ndarray, meta: dict) -> np.ndarray | pd.Series:
    """Undo a sprintz blob's meta transform on its decode_batch output."""
    out = arr.view(np.dtype(meta["np_dtype"]))
    if "qparams" in meta:
        return Q.unquantize(
            out.view(np.dtype(meta["qparams"]["dtype"])),
            Q.QuantizeParams.from_dict(meta["qparams"]),
        )
    if meta.get("bool"):
        return out.view(bool)
    return out


def decode_value_columns_batch(
    blobs: list[bytes], metas: list[dict]
) -> list[np.ndarray | pd.Series]:
    """Decode one value column's per-series blobs, each by the codec its
    meta names: sprintz blobs share decode_batch's global passes and then
    undo their meta transform (unquantize, bool view), search blobs share
    search_decode_batch's batched inner decoders, gorilla blobs decode
    one at a time. A codec no encoder writes raises KeyError."""
    idx: dict[str, list[int]] = {"sprintz": [], "search": [], "gorilla": []}
    for i, m in enumerate(metas):
        idx[m["codec"]].append(i)
    out: list = [None] * len(blobs)
    sz_idx, cs_idx = idx["sprintz"], idx["search"]
    for i, a in zip(sz_idx, sz.decode_batch([blobs[i] for i in sz_idx])):
        out[i] = _transform_decoded(a, metas[i])
    for i, a in zip(cs_idx, CS.search_decode_batch([blobs[i] for i in cs_idx])):
        out[i] = a
    for i in idx["gorilla"]:
        out[i] = gorilla.decode(blobs[i])
    return out


_UINT_BY_W = {8: np.uint8, 16: np.uint16, 32: np.uint32, 64: np.uint64}


def _encode_float_batch(
    vals: np.ndarray,
    piece_starts: np.ndarray,
    piece_lens: np.ndarray,
    orig_dtype: str,
) -> tuple[list, list] | None:
    """Batched per-piece decimal quantization + sprintz encode for a plain
    float column — the vectorized analog of quantize()+encode_column per
    piece (identical semantics: same scale inference, offset, dtype choice,
    NaN sentinel; verified by the round-trip tests). Pieces that defeat the
    quantizer (no decimal scale, span > u64, all-NaN, |x| >= 2^53) return
    None in their slot so the caller can fall back per piece."""
    n_pieces = len(piece_starts)
    vals = vals.astype(np.float64, copy=False)
    nonfinite = ~np.isfinite(vals)
    clean = np.where(nonfinite, 0.0, vals)
    nf_cnt = np.add.reduceat(nonfinite.astype(np.int64), piece_starts)
    allfinite = nf_cnt == 0
    n_finite = piece_lens - nf_cnt
    ok = n_finite > 0
    ok &= np.maximum.reduceat(np.abs(clean), piece_starts) < 2.0**53
    # per-piece smallest 10^k (k<=6) making all finite values integral,
    # with the same exact-roundtrip check as quantize._infer_scale
    scales = np.full(n_pieces, np.nan)
    pending = ok.copy()
    for k in range(Q.MAX_SCALE_EXP + 1):
        if not pending.any():
            break
        scale = 10.0**k
        scaled = clean * scale
        r = np.round(scaled)
        viol = (np.abs(scaled - r) > 1e-9) | (r / scale != clean)
        viol &= ~nonfinite
        bad = np.add.reduceat(viol.astype(np.int64), piece_starts) > 0
        hit = pending & ~bad
        scales[hit] = scale
        pending &= bad
    ok &= np.isfinite(scales)
    if not ok.any():
        return None
    scale_el = np.repeat(np.where(ok, np.nan_to_num(scales, nan=1.0), 1.0), piece_lens)
    scaled_int = np.round(clean * scale_el)
    inf_hi = np.where(nonfinite, np.inf, scaled_int)
    inf_lo = np.where(nonfinite, -np.inf, scaled_int)
    mins = np.minimum.reduceat(inf_hi, piece_starts)
    maxs = np.maximum.reduceat(inf_lo, piece_starts)
    spans = np.where(ok, maxs - mins, 0.0)
    need_sent = (~allfinite).astype(np.int64)
    width = np.full(n_pieces, 64, np.int64)
    for w in (32, 16, 8):
        hi = float(np.iinfo(_UINT_BY_W[w]).max)
        width = np.where(spans <= hi - need_sent, w, width)
    ok &= spans <= float(np.iinfo(np.uint64).max) - need_sent
    u_all = scaled_int - np.repeat(np.where(ok, np.nan_to_num(mins, nan=0.0), 0.0), piece_lens)
    u_all[nonfinite] = 0.0  # sentinel applied after the uint cast (as quantize())
    blobs: list = [None] * n_pieces
    metas: list = [None] * n_pieces
    for w in (8, 16, 32, 64):
        dt = _UINT_BY_W[w]
        sel = np.flatnonzero(ok & (width == w))
        if not len(sel):
            continue
        lens_w = piece_lens[sel]
        tot = int(lens_w.sum())
        off0 = np.concatenate([[0], np.cumsum(lens_w)[:-1]])
        gather = np.arange(tot, dtype=np.int64) + np.repeat(piece_starts[sel] - off0, lens_w)
        sub = u_all[gather].astype(dt)
        nf_sub = nonfinite[gather]
        if nf_sub.any():
            sub[nf_sub] = np.iinfo(dt).max
        # three-way cost pick (delta/dd/fire) for narrow widths — the
        # same candidate set the scalar path's choose_mode considers
        bl = sz.encode_batch_concat_auto(sub, lens_w)
        for j, i in enumerate(sel):
            qp = Q.QuantizeParams(
                str(np.dtype(dt)),
                float(mins[i]),
                float(scales[i]),
                orig_dtype,
                bool(allfinite[i]),
                int(piece_lens[i]),
            )
            blobs[i] = bl[j]
            metas[i] = {
                "codec": "sprintz",
                "mode": sz.blob_mode(bl[j]),
                "np_dtype": str(np.dtype(dt)),
                "qparams": qp.to_dict(),
            }
    return blobs, metas


def _enc_schema(key_cols: list[str], value_cols: list[str], key_types) -> StructType:
    fields = [StructField(k, t) for k, t in zip(key_cols, key_types)]
    fields += [
        StructField("chunk", LongType()),
        StructField("start_bucket", TimestampType()),
        StructField("end_bucket", TimestampType()),
        StructField("n", LongType()),
        StructField("ts_blob", BinaryType()),
        StructField("meta", StringType()),
        StructField("raw_bytes", LongType()),
        StructField("comp_bytes", LongType()),
    ]
    fields += [StructField(f"blob_{c}", BinaryType()) for c in value_cols]
    return StructType(fields)


def _series_pieces(
    starts: np.ndarray, chunk_rows: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Cut key-sorted rows into row-sliced pieces of at most ``chunk_rows``
    rows that never cross a series boundary; ``starts`` marks each row
    that begins a series. Pure numpy: pieces by arithmetic. Returns each
    piece's index within its series, first row and row count; the pieces
    tile the rows in order."""
    s_starts = np.flatnonzero(starts)
    s_lens = np.diff(np.append(s_starts, len(starts)))
    reps = (s_lens + chunk_rows - 1) // chunk_rows
    piece_series = np.repeat(np.arange(len(s_starts)), reps)
    piece_ord = np.arange(int(reps.sum()), dtype=np.int64) - np.repeat(
        np.concatenate([[0], np.cumsum(reps)[:-1]]), reps
    )
    piece_starts = s_starts[piece_series] + piece_ord * chunk_rows
    piece_lens = np.minimum(chunk_rows, s_lens[piece_series] - piece_ord * chunk_rows)
    return piece_ord, piece_starts, piece_lens


def _sort_pieces(
    table: pa.Table, key_cols: list[str], ts_col: str, chunk_rows: int
) -> tuple[pa.Table, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """The encoders' shared front end. A stable sort on (keys…, ts) — rows
    tied on it keep their input order; a series starts wherever any key
    column's run (``pc.run_end_encode``) starts; the series are cut by
    ``_series_pieces``. Returns the sorted table, its ts as UTC epoch
    micros, and each piece's index within its series, first row and row
    count."""
    t = table.take(pc.sort_indices(
        table, [(k, "ascending") for k in key_cols] + [(ts_col, "ascending")]
    ))
    starts = np.zeros(t.num_rows, dtype=bool)
    for k in key_cols:
        run_ends = pc.run_end_encode(t.column(k).combine_chunks()).run_ends.to_numpy()
        starts[np.append(0, run_ends[:-1])] = True
    # Spark hands Arrow UDFs the session zone's view of UTC micros:
    # the zero-copy int64 cast yields the UTC micros, zone-free
    ts = t.column(ts_col).cast(pa.int64()).to_numpy()
    return (t, ts, *_series_pieces(starts, chunk_rows))


def _pin_parts(
    df: DataFrame, key_cols: list[str], part_col: str | None, n_parts: int | None
) -> tuple[DataFrame, str, bool]:
    """Derive ``_enc_part`` (the keys hashed into ``n_parts`` buckets, default
    defaultParallelism * 2) unless the caller names ``part_col``, then pin
    the encode task count. Returns (df, part_col, derived)."""
    derived = part_col is None
    if derived:
        part_col = "_enc_part"
        n_parts = n_parts or df.sparkSession.sparkContext.defaultParallelism * 2
        df = df.withColumn(
            part_col, F.pmod(F.xxhash64(*key_cols), F.lit(n_parts)).cast("int")
        )
    if n_parts:
        # explicit repartition-by-NUM pins the encode stage's task count:
        # the groupBy exchange alone lets AQE coalesce by BYTES, and the
        # probe/pack kernels are CPU-bound per row, not per byte — at
        # sf0.1 AQE squeezed the whole codec-search encode onto ONE task
        # (5.6 s wall vs 0.9 s pinned, r10 A/B). AQE never coalesces a
        # user-specified numbered repartition, and the hash partitioning
        # satisfies the groupBy requirement so no second exchange
        # appears. n_parts stays scale-adaptive (defaultParallelism*2).
        df = df.repartition(n_parts, part_col)
    return df, part_col, derived


def _partials_schema(key_fields: list[StructField]) -> StructType:
    """Per-blob query partials: the key fields, then p_sum/p_max/p_min/p_cnt."""
    parts = ("p_sum", "p_max", "p_min", "p_cnt")
    return StructType(key_fields + [StructField(p, LongType()) for p in parts])


def _combine_partials(part: DataFrame, key_cols: list[str], value_col: str) -> DataFrame:
    """Final per-key aggregate over _partials_schema rows."""
    return part.groupBy(*key_cols).agg(
        F.sum("p_sum").alias(f"{value_col}_sum"),
        F.max("p_max").alias(f"{value_col}_max"),
        F.min("p_min").alias(f"{value_col}_min"),
        F.sum("p_cnt").alias("n_points"),
    )


def encode_series(
    df: DataFrame,
    key_cols: list[str] = ("url",),
    ts_col: str = "bucket",
    value_cols: list[str] = ("crawl_count", "byte_size_sum", "byte_size_max"),
    chunk_rows: int = DEFAULT_CHUNK,
    codecs: dict | None = None,
) -> DataFrame:
    """One output row per (series, chunk).

    Physical grouping is by a derived hash partition, NOT per series: one
    Arrow table carries many series and the per-series cut is numpy
    arithmetic. This keeps applyInArrow group count == shuffle partition
    count — per-group Arrow overhead is amortized over thousands of
    series, which is also the correct shape at 100 TB (bounded group
    memory, no million-group scheduling). Integer columns without nulls
    and float columns encode in batched calls; only the fallback codecs
    (quantizer misses, gorilla, booldelta, search*) see a pandas Series."""
    key_cols = list(key_cols)
    value_cols = list(value_cols)
    df, part_col, _ = _pin_parts(df, key_cols, None, None)
    schema = _enc_schema(key_cols, value_cols, [df.schema[k].dataType for k in key_cols])
    ts_meta = {"ts": {"codec": "sprintz", "mode": "doubledelta"}}

    def enc(table: pa.Table) -> pa.Table:
        t, ts, piece_ord, piece_starts, piece_lens = _sort_pieces(
            table, key_cols, ts_col, chunk_rows
        )
        n_pieces = len(piece_starts)
        out = {k: t.column(k).take(piece_starts) for k in key_cols}
        out["ts_blob"] = sz.encode_batch_concat(ts, piece_lens, "doubledelta")
        raws = piece_lens * 8
        col_metas = []
        for c in value_cols:
            vals = t.column(c).to_numpy()
            force = (codecs or {}).get(c)
            blobs, metas = [None] * n_pieces, [None] * n_pieces
            if force is None and vals.dtype.kind in "iu":
                blobs = sz.encode_batch_concat(vals, piece_lens, None)
                metas = [
                    {"codec": "sprintz", "mode": sz.blob_mode(b), "np_dtype": str(vals.dtype)}
                    for b in blobs
                ]
            elif force != "gorilla" and vals.dtype.kind == "f":
                blobs, metas = _encode_float_batch(
                    vals, piece_starts, piece_lens, str(vals.dtype)
                ) or (blobs, metas)
            # the fallback codecs and the quantizer-defeating pieces
            misses = [i for i, b in enumerate(blobs) if b is None]
            s = pd.Series(vals) if misses else None
            for i in misses:
                st = piece_starts[i]
                blobs[i], metas[i] = _encode_value_column(s.iloc[st : st + piece_lens[i]], force)
            raws = raws + max(t.schema.field(c).type.bit_width // 8, 1) * piece_lens
            out[f"blob_{c}"] = blobs
            col_metas.append(metas)
        out |= {
            "chunk": piece_ord,
            "start_bucket": pa.array(ts[piece_starts], _UTC_US),
            "end_bucket": pa.array(ts[piece_starts + piece_lens - 1], _UTC_US),
            "n": piece_lens,
            "meta": [
                json.dumps({**ts_meta, **{c: m[i] for c, m in zip(value_cols, col_metas)}})
                for i in range(n_pieces)
            ],
            "raw_bytes": raws,
            "comp_bytes": [
                sum(map(len, bs))
                for bs in zip(out["ts_blob"], *(out[f"blob_{c}"] for c in value_cols))
            ],
        }
        return pa.Table.from_pydict(out).select(schema.names)

    return df.groupBy(part_col).applyInArrow(enc, schema)


def decode_series(
    enc: DataFrame,
    key_cols: list[str] = ("url",),
    ts_col: str = "bucket",
    value_cols: list[str] = ("crawl_count", "byte_size_sum", "byte_size_max"),
    value_types: dict | None = None,
) -> DataFrame:
    """Explode encoded chunks back to rows — narrow (no shuffle).

    mapInArrow: the decoded output is millions of rows whose key columns
    are string repeats, and pandas object arrays would pay one Python
    object per row (r10). Arrow-side ``take`` repeats the key columns in
    C++ and the numeric columns wrap decode buffers zero-copy, so the
    Python boundary carries only the blob bytes in and Arrow buffers
    out. The stored micros are UTC and decode as UTC instants."""
    from pyspark.sql.pandas.types import to_arrow_type

    key_cols = list(key_cols)
    value_cols = list(value_cols)
    key_fields = [enc.schema[k] for k in key_cols]
    _named = {"long": LongType(), "double": DoubleType(),
              "boolean": BooleanType()}
    vt = {
        c: (_named[t] if isinstance(t, str) else t)
        for c, t in (value_types or {}).items()
    }
    fields = key_fields + [StructField(ts_col, TimestampType())]
    fields += [StructField(c, vt.get(c, LongType())) for c in value_cols]
    schema = StructType(fields)
    val_arrow = {c: to_arrow_type(vt.get(c, LongType())) for c in value_cols}
    names = key_cols + [ts_col] + value_cols

    def dec(batches):
        for b in batches:
            n_rows = b.num_rows
            if not n_rows:
                continue
            col = {n: b.column(i) for i, n in enumerate(b.schema.names)}
            metas = [_json_loads(m) for m in col["meta"].to_pylist()]
            ns = col["n"].to_numpy(zero_copy_only=False).astype(
                np.int64, copy=False
            )
            ts_arrays = sz.decode_batch(col["ts_blob"].to_pylist())
            ts_concat = (
                np.concatenate([a.view(np.int64) for a in ts_arrays])
                if ts_arrays
                else np.zeros(0, np.int64)
            )
            idx = pa.array(np.repeat(np.arange(n_rows, dtype=np.int64), ns))
            arrays = [col[k].take(idx) for k in key_cols]
            arrays.append(pa.array(ts_concat, _UTC_US))
            for c in value_cols:
                vals = decode_value_columns_batch(
                    col[f"blob_{c}"].to_pylist(), [m[c] for m in metas]
                )
                cat = (
                    np.concatenate([np.asarray(v) for v in vals])
                    if vals
                    else np.zeros(0)
                )
                # safe cast (not astype): a non-integral float reaching a
                # long column must error as the pandas path did
                arrays.append(pa.array(cat).cast(val_arrow[c]))
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    return enc.mapInArrow(dec, schema)


def query_encoded(
    enc: DataFrame,
    value_col: str,
    key_cols: list[str] = ("url",),
) -> DataFrame:
    """Per-key sum/max/min/count of a value column computed from blobs —
    the reference's REDUCE_SUM/REDUCE_MAX without materialization."""
    key_cols = list(key_cols)
    schema = _partials_schema([enc.schema[k] for k in key_cols])
    blob_col = f"blob_{value_col}"

    def partials(batches):
        for b in batches:
            if not b.num_rows:
                continue
            metas = [_json_loads(m)[value_col] for m in b.column("meta").to_pylist()]
            blobs = b.column(blob_col).to_pylist()
            ns, sums, maxs, mins = np.zeros((4, len(blobs)), np.int64)
            # plain int64 sprintz blobs (no value transform in meta) take
            # the codec-level RLE-run fast path: zero-width blocks
            # aggregate from headers with no payload unpack
            is_plain = np.array([
                m.get("codec") == "sprintz" and m.get("np_dtype") == "int64"
                and "qparams" not in m
                for m in metas
            ], dtype=bool)
            plain, rest = np.flatnonzero(is_plain), np.flatnonzero(~is_plain)
            if len(plain):
                ns[plain], sums[plain], maxs[plain], mins[plain] = sz.query_batch_partials(
                    [blobs[i] for i in plain]
                )
            vals = decode_value_columns_batch(
                [blobs[i] for i in rest], [metas[i] for i in rest]
            )
            for i, v in zip(rest, vals):
                a = np.asarray(v, dtype=np.int64)
                ns[i] = len(a)
                sums[i], maxs[i], mins[i] = a.sum(), a.max(), a.min()
            arrays = [b.column(k) for k in key_cols]
            arrays += [pa.array(x) for x in (sums, maxs, mins, ns)]
            yield pa.RecordBatch.from_arrays(arrays, names=schema.names)

    return _combine_partials(enc.mapInArrow(partials, schema), key_cols, value_col)


# --- multi-series containers (the retention store layout) ------------------
#
# Each container row's ``meta`` records two lossless transforms its
# encoder chose, and every reader undoes them from that meta alone:
#
#   * ``"ts": {..., "scale": s}`` — the ts blob holds ts // s, where s is
#     the gcd of the container's ts (1 when that gcd is 0): a tier's
#     whole-bucket micros are stored in bucket units.
#   * ``"<col>": {..., "pred": "<base>"}`` — the blob holds the int64
#     residual col - base (extras.colsum_residual; wraps) against a
#     value column earlier in the meta, which lists the encoder's
#     value_cols in order.
#
# A key the meta lacks means no transform: stores written before the
# transforms read unchanged. Every blob is still a plain container of
# the values it decodes to.

_I64_MAX = int(np.iinfo(np.int64).max)

# Fewest bytes a residual blob must save to be kept: a predicted column
# cannot aggregate from block headers. On the perfbench stores predicting
# byte_size_sum saved at most 11 B a container, byte_size_max/min 48 B+.
_PRED_MIN_SAVING = 16


def container_schema(key_t: DataType, value_cols: list[str]) -> StructType:
    """The container row, declared once. It stores nothing a reader can
    derive: series count, raw and compressed bytes follow from ``keys``,
    ``n`` and the blob lengths."""
    return StructType(
        [
            StructField("keys", ArrayType(key_t)),
            StructField("start_bucket", TimestampType()),
            StructField("end_bucket", TimestampType()),
            StructField("n", LongType()),
            StructField("ts_blob", BinaryType()),
            StructField("meta", StringType()),
        ]
        + [StructField(f"blob_{c}", BinaryType()) for c in value_cols]
    )


def _encode_container_row(
    ts: np.ndarray, vals: list[np.ndarray], value_cols: list[str], lens: np.ndarray
) -> tuple[list[bytes], str]:
    """The blobs (ts first, then ``value_cols``) and meta of one
    container. A value column after the first is stored as its residual
    against the column before it only when that blob is at least
    ``_PRED_MIN_SAVING`` bytes smaller."""
    g = int(np.gcd.reduce(ts)) if len(ts) else 0
    scale = g if g > 0 else 1
    blobs = [sz.encode_container(ts // scale if scale > 1 else ts, lens, "doubledelta")]
    meta = {"ts": {"codec": "sprintz-container", "mode": "doubledelta", "scale": scale}}
    for j, (c, v) in enumerate(zip(value_cols, vals)):
        blob = sz.encode_container(v, lens, "auto")
        meta[c] = {"codec": "sprintz-container", "np_dtype": "int64"}
        if j:
            resid = sz.encode_container(colsum_residual(v, [vals[j - 1]]), lens, "auto")
            if len(resid) + _PRED_MIN_SAVING <= len(blob):
                blob = resid
                meta[c]["pred"] = value_cols[j - 1]
        blobs.append(blob)
    return blobs, json.dumps(meta)


def container_meta(meta: str) -> tuple[int, dict[str, str]]:
    """(ts scale, {predicted column: base column}) of a container row's
    meta. CorruptBlobError unless the meta is a JSON object of objects,
    the scale a positive int64 and every base a column earlier in it."""
    try:
        m = _json_loads(meta)
    except (ValueError, TypeError) as e:
        raise sz.CorruptBlobError(f"container meta is not JSON ({e})") from None
    if not isinstance(m, dict) or not all(isinstance(v, dict) for v in m.values()):
        raise sz.CorruptBlobError("container meta is not a JSON object of objects")
    scale = m.get("ts", {}).get("scale", 1)
    if type(scale) is not int or not 0 < scale <= _I64_MAX:
        raise sz.CorruptBlobError(f"container meta: ts scale {scale!r} is not a positive int64")
    preds: dict[str, str] = {}
    earlier: list[str] = []
    for c, cm in m.items():
        if c == "ts":
            continue
        if "pred" in cm:
            if cm["pred"] not in earlier:
                raise sz.CorruptBlobError(
                    f"container meta: {c} is predicted from {cm['pred']!r}, "
                    "not from an earlier column"
                )
            preds[c] = cm["pred"]
        earlier.append(c)
    return scale, preds


def _int64_values(v: np.ndarray, col: str) -> np.ndarray:
    if v.dtype.itemsize != 8:
        raise sz.CorruptBlobError(
            f"{col}: {8 * v.dtype.itemsize}-bit elements, the store writes 64"
        )
    return v.view(np.int64)


def unscale_ts(ts: np.ndarray, scale: int) -> np.ndarray:
    """A ts blob's decoded values times the meta's ``scale``, as int64
    micros; CorruptBlobError when a product overflows int64."""
    v = _int64_values(ts, "ts_blob")
    if scale == 1:
        return v
    if len(v) and (v.max() > _I64_MAX // scale or v.min() < -((_I64_MAX + 1) // scale)):
        raise sz.CorruptBlobError(f"ts_blob: a value times its scale {scale} overflows int64")
    return v * np.int64(scale)


def _restore(
    column, i: int, col: str, preds: dict, memo: dict
) -> tuple[np.ndarray, np.ndarray]:
    """(int64 values, series lengths) of value column ``col`` of
    container row ``i``: its blob (``column(col)[i]``) decoded and, when
    ``preds`` names a base for it, the base's values (restored the same
    way, kept in ``memo``) added back."""
    if col not in memo:
        v, lens = sz.decode_container(column(col)[i])
        v = _int64_values(v, f"blob_{col}")
        base = preds.get(col)
        if base is not None:
            bv, blens = _restore(column, i, base, preds, memo)
            if not np.array_equal(lens, blens):
                raise sz.CorruptBlobError(f"blob_{col} and its base blob_{base} disagree")
            v = colsum_restore(v, [bv])
        memo[col] = v, lens
    return memo[col]


def _blob_columns(b: pa.RecordBatch):
    """col -> the batch's ``blob_<col>`` cells as bytes, each column read
    once; CorruptBlobError for a column the batch has no blobs of."""
    cache: dict[str, list] = {}

    def column(col: str) -> list:
        if col not in cache:
            if b.schema.get_field_index(f"blob_{col}") < 0:
                raise sz.CorruptBlobError(f"container meta names {col}, which has no blobs")
            cache[col] = b.column(f"blob_{col}").to_pylist()
        return cache[col]

    return column


def encode_series_container(
    df: DataFrame,
    key_cols: list[str] = ("url",),
    ts_col: str = "bucket",
    value_cols: list[str] = ("crawl_count", "byte_size_sum", "byte_size_max"),
    chunk_rows: int = DEFAULT_CHUNK,
    part_col: str | None = None,
    n_parts: int | None = None,
) -> DataFrame:
    """One output row per (partition, container): ALL series of the slice
    packed into one blob per column (codecs.sprintz.encode_container).
    For tiers whose per-key series are tiny (the daily tier's 1-3 points)
    this amortizes per-blob framing to ~2-9 B per series — per-series rows
    would pay 10-21 B of head each. A series longer than ``chunk_rows`` is
    cut into row-sliced pieces of at most ``chunk_rows`` rows (the
    per-series chunking of encode_series); pieces are packed by their
    cumulative row offset, so a key appears at most once per container,
    a container holds fewer than 2 * ``chunk_rows`` rows (decode memory
    is bounded regardless of series length), and TTL expiry finds whole
    old pieces to drop. ``start_bucket`` / ``end_bucket`` are the
    container's min / max bucket. int64 measures only.

    Two lossless transforms run per container before encode_container,
    each recorded in the row's ``meta`` JSON (see the section comment):
    the ts blob holds ts // ``scale`` (the gcd of the container's ts, so
    a tier's bucket micros become bucket units), and each value column
    after the first, in ``value_cols`` order, is stored as its int64
    residual against the column before it, with ``"pred": <that
    column>`` in its meta, when that blob saves at least
    ``_PRED_MIN_SAVING`` bytes. Rows follow container_schema, after
    ``part_col`` when the caller names it."""
    if len(list(key_cols)) != 1:
        raise ValueError("container encoding supports a single key column")
    key = list(key_cols)[0]
    value_cols = list(value_cols)
    df, part_col, drop_part = _pin_parts(df, [key], part_col, n_parts)
    schema = container_schema(df.schema[key].dataType, value_cols)
    if not drop_part:
        part_f = StructField(part_col, df.schema[part_col].dataType)
        schema = StructType([part_f] + schema.fields)

    def enc(table: pa.Table) -> pa.Table:
        t, ts, _, p_starts, p_lens = _sort_pieces(table, [key], ts_col, chunk_rows)
        n = t.num_rows
        # the pieces tile the rows, so a piece's first row is its
        # cumulative offset: container = offset // chunk_rows. A piece has
        # at most chunk_rows rows, so one series' consecutive pieces land
        # in consecutive containers — a key appears at most once per
        # container
        cont = p_starts // chunk_rows
        firsts = np.flatnonzero(np.diff(cont, prepend=-1))
        bounds = np.append(p_starts[firsts], n)
        offsets = np.append(firsts, len(p_starts))  # of each container's keys
        p_ends = p_starts + p_lens - 1
        lens = np.split(p_lens, firsts[1:])
        vals = [t.column(c).to_numpy().astype(np.int64, copy=False) for c in value_cols]
        rows = [
            _encode_container_row(ts[lo:hi], [v[lo:hi] for v in vals], value_cols, ln)
            for lo, hi, ln in zip(bounds[:-1], bounds[1:], lens)
        ]
        out = {
            "keys": pa.ListArray.from_arrays(
                offsets, t.column(key).take(p_starts).combine_chunks()
            ),
            # each piece is time-sorted, so the container's bucket range
            # spans its pieces' first and last buckets
            "start_bucket": pa.array(np.minimum.reduceat(ts[p_starts], firsts), _UTC_US),
            "end_bucket": pa.array(np.maximum.reduceat(ts[p_ends], firsts), _UTC_US),
            "n": np.diff(bounds),
            "ts_blob": [r[0][0] for r in rows],
            "meta": [r[1] for r in rows],
        }
        out |= {f"blob_{c}": [r[0][j] for r in rows] for j, c in enumerate(value_cols, 1)}
        if not drop_part:
            out[part_col] = pa.repeat(table.column(part_col)[0], len(rows))
        return pa.Table.from_pydict(out).select(schema.names)

    return df.groupBy(part_col).applyInArrow(enc, schema)


def _series_lengths(counts: tuple[np.ndarray, ...], keys: pa.ListArray) -> np.ndarray:
    """Concatenated per-series lengths of a batch's container blobs;
    CorruptBlobError unless each row's blob holds one series per key."""
    if not np.array_equal([len(c) for c in counts], keys.value_lengths()):
        raise sz.CorruptBlobError("container blob's series count differs from its keys")
    return np.concatenate(counts)


def decode_series_container(
    enc: DataFrame,
    key_cols: list[str] = ("url",),
    ts_col: str = "bucket",
    value_cols: list[str] = ("crawl_count", "byte_size_sum", "byte_size_max"),
) -> DataFrame:
    """Explode container rows back to the original series rows (narrow;
    mapInArrow, one output batch per input batch). Any scalar column
    outside container_schema (e.g. the encoder's part_col, whatever it
    was named) passes through per row. Each row's ``meta``
    says how to undo its transforms: ts values are multiplied by its
    ``scale`` and a column with a ``pred`` gets its base column's values
    added back (the base restored first); absent keys mean neither. A
    row whose blobs disagree with its ``keys`` / ``n`` or each other, or
    whose meta is not valid (see container_meta) or scales a ts past
    int64, raises CorruptBlobError."""
    key = list(key_cols)[0]
    value_cols = list(value_cols)
    key_t = enc.schema["keys"].dataType.elementType
    wire = set(container_schema(key_t, value_cols).names)
    extra = [c for c in enc.columns if c not in wire]
    schema = StructType(
        [StructField(p, enc.schema[p].dataType) for p in extra]
        + [StructField(key, key_t), StructField(ts_col, TimestampType())]
        + [StructField(c, LongType()) for c in value_cols]
    )

    def dec(batches):
        for b in batches:
            if not b.num_rows:
                continue
            keys, n = b.column("keys"), b.column("n").to_numpy(zero_copy_only=False)
            metas = list(map(container_meta, b.column("meta").to_pylist()))
            ts, counts = zip(*map(sz.decode_container, b.column("ts_blob").to_pylist()))
            series_ns = _series_lengths(counts, keys)
            if not np.array_equal([c.sum() for c in counts], n):
                raise sz.CorruptBlobError("container blob's row count differs from n")
            rows = np.repeat(np.arange(b.num_rows), n)
            arrays = [b.column(p).take(rows) for p in extra]
            key_idx = np.repeat(np.arange(len(series_ns)), series_ns)
            arrays.append(keys.flatten().take(key_idx))
            arrays.append(pa.array(
                np.concatenate([unscale_ts(t, m[0]) for t, m in zip(ts, metas)]), _UTC_US
            ))
            column = _blob_columns(b)
            memos = [{} for _ in metas]
            for c in value_cols:
                vals = []
                for i, ((_, preds), memo) in enumerate(zip(metas, memos)):
                    v, lens = _restore(column, i, c, preds, memo)
                    if not np.array_equal(lens, counts[i]):
                        raise sz.CorruptBlobError(f"blob_{c} disagrees with ts_blob")
                    vals.append(v)
                arrays.append(pa.array(np.concatenate(vals)))
            yield pa.RecordBatch.from_arrays(arrays, names=schema.names)

    return enc.mapInArrow(dec, schema)


def query_encoded_container(
    enc: DataFrame,
    value_col: str,
    key_col: str = "url",
) -> DataFrame:
    """query_encoded over the container format: per-series sum/max/min/count
    partials come from one query_container_partials per blob (the RLE-run
    fast path where enough blocks are zero-width, else a decode of the
    parsed head and a reduceat); Catalyst's partial+final aggregate
    combines across containers/partitions. No materialization. A row
    whose meta gives ``value_col`` a ``pred`` cannot aggregate from
    headers (max(base + r) is not built from partials): it decodes the
    column and its chain of base columns and reduces the restored values
    (codecs.sprintz.series_partials). The ts blob and its ``scale`` are
    not read. A row with an invalid meta raises CorruptBlobError."""
    key_t = enc.schema["keys"].dataType.elementType
    schema = _partials_schema([StructField(key_col, key_t)])

    def partials(batches):
        for b in batches:
            if not b.num_rows:
                continue
            column = _blob_columns(b)
            parts = []
            for i, m in enumerate(b.column("meta").to_pylist()):
                _, preds = container_meta(m)
                if value_col in preds:
                    v, lens = _restore(column, i, value_col, preds, {})
                    parts.append((lens, *sz.series_partials(v, lens)))
                else:
                    # RLE-run fast path: per-series partials from block
                    # headers (constant/affine runs never unpack payload)
                    parts.append(sz.query_container_partials(column(value_col)[i]))
            ns, sums, maxs, mins = zip(*parts)
            keys = b.column("keys")
            arrays = [keys.flatten()]
            arrays += [pa.array(np.concatenate(x)) for x in (sums, maxs, mins)]
            arrays.append(pa.array(_series_lengths(ns, keys)))
            yield pa.RecordBatch.from_arrays(arrays, names=schema.names)

    return _combine_partials(enc.mapInArrow(partials, schema), [key_col], value_col)
