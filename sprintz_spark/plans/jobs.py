"""Fused high-throughput job: derive ALL retention tiers + sprintz-encode
in a single shuffle.

Shape (the 100 TB design):

    pages ──project──> (url, ts_us, nbytes, part)          # ~40B rows, not pages
          ──shuffle on part=hash(url)──> applyInPandas:
               per partition (every row of its urls is present):
                 sort once by (url, ts)
                 for each tier: bucket-truncate (pure epoch arithmetic,
                 UTC), group boundaries by (url, bucket) change points,
                 aggregate with np.*.reduceat, then encode the per-url
                 series with the batched sprintz kernels
          ──> one output row per (tier, url, chunk) with binary blobs

One wide job, one shuffle, no intermediate materialization. Compared to
the modular plan (plans.retention), this trades per-tier resumability for
~4x less fixed overhead. The UDF gets ``unix_micros(warc_ts)`` and
returns UTC instants, so buckets are UTC epoch arithmetic whatever the
session time zone, and the store holds UTC micros like every encoded
store. The modular plan's ``R.derive_series`` truncates with
``date_trunc``, which follows the session zone: the two produce
bit-identical tier values under a UTC session (tested), which
``get_spark`` pins.

``codec='fire'`` offset-quantizes each measure piece to u8/u16 when its
span fits and runs the FIRE forecaster (the reference's max-ratio
setting); otherwise the delta/double-delta cost-based path is used.
"""

from __future__ import annotations

import json
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from sprintz_spark.codecs import sprintz as sz
from sprintz_spark.operators.encode import (
    _series_pieces,
    decode_series,
    decode_value_columns_batch,
)

try:  # C JSON parser if present (meta parse is once per chunk row)
    from orjson import loads as _json_loads  # type: ignore
except ImportError:  # pragma: no cover - environment-dependent
    _json_loads = json.loads

US = 1_000_000
TIER_US = {"1m": 60 * US, "1h": 3600 * US, "1d": 86400 * US}
MEASURES = ["crawl_count", "byte_size_sum", "byte_size_max", "byte_size_min"]

_SCHEMA = StructType(
    [
        StructField("tier", StringType()),
        StructField("part", LongType()),
        StructField("url", StringType()),
        StructField("chunk", LongType()),
        StructField("start_bucket", TimestampType()),
        StructField("end_bucket", TimestampType()),
        StructField("n", LongType()),
        StructField("ts_blob", BinaryType()),
        StructField("meta", StringType()),
        StructField("raw_bytes", LongType()),
        StructField("comp_bytes", LongType()),
        StructField("encode_secs", DoubleType()),
    ]
    + [StructField(f"blob_{m}", BinaryType()) for m in MEASURES]
)
_COLS = [f.name for f in _SCHEMA.fields]

# UDF-side schema when shuffling url ids instead of strings: the url
# column is an xxhash64 id inside the shuffle/UDF and the strings are
# joined back onto the ~1000x smaller chunk output afterwards
_SCHEMA_ID = StructType(
    [
        StructField("url_id", LongType()) if f.name == "url" else f
        for f in _SCHEMA.fields
    ]
)
_COLS_ID = [f.name for f in _SCHEMA_ID.fields]


def _encode_measure(vals, piece_starts, piece_lens, codec, deflate=False):
    """Encode one measure column cut into pieces; returns (blobs, metas).

    For codec='fire': per-piece offset quantization to the narrowest of
    u8/u16 via reduceat min/max; pieces whose span exceeds u16 fall back
    to the 64-bit delta path (mixed-width pieces are grouped per width so
    each width is one batched call). The fused job is the reference's
    'fastest setting' (results.tex:168): deflate post-pass off by default;
    the modular retention path is the 'max-ratio setting' (deflate on)."""
    n_pieces = len(piece_starts)
    if codec != "fire":
        blobs = sz.encode_batch_concat(vals, piece_lens, None, deflate)
        metas = [
            {"codec": "sprintz", "mode": sz.blob_mode(b), "np_dtype": "int64"}
            for b in blobs
        ]
        return blobs, metas
    idx = np.minimum(piece_starts, max(len(vals) - 1, 0))
    mins = np.minimum.reduceat(vals, idx) if len(vals) else np.zeros(n_pieces, np.int64)
    maxs = np.maximum.reduceat(vals, idx) if len(vals) else np.zeros(n_pieces, np.int64)
    spans = maxs - mins
    width = np.where(spans <= 0xFF, 8, np.where(spans <= 0xFFFF, 16, 64))
    blobs: list = [None] * n_pieces
    metas: list = [None] * n_pieces
    for w, dt in ((8, np.uint8), (16, np.uint16), (64, None)):
        sel = np.flatnonzero(width == w)
        if not len(sel):
            continue
        lens_w = piece_lens[sel]
        if len(sel) == n_pieces:
            sub = vals  # pieces tile vals exactly; no gather needed
        else:
            # vectorized gather of the selected pieces into one concat
            tot = int(lens_w.sum())
            off0 = np.concatenate([[0], np.cumsum(lens_w)[:-1]])
            gather = (
                np.arange(tot, dtype=np.int64)
                + np.repeat(piece_starts[sel] - off0, lens_w)
            )
            sub = vals[gather]
        if w == 64:
            bl = sz.encode_batch_concat(sub, lens_w, None, deflate)
            for j, i in enumerate(sel):
                blobs[i] = bl[j]
                metas[i] = {
                    "codec": "sprintz",
                    "mode": sz.blob_mode(bl[j]),
                    "np_dtype": "int64",
                }
        else:
            offs = np.repeat(mins[sel], lens_w)
            q = (sub - offs).astype(dt)
            bl = sz.encode_batch_concat_fire(q, lens_w, deflate)
            for j, i in enumerate(sel):
                blobs[i] = bl[j]
                metas[i] = {
                    "codec": "sprintz",
                    "mode": "fire",
                    "np_dtype": f"uint{w}",
                    "offset": int(mins[i]),
                }
    return blobs, metas


def _meta_frag(m: dict) -> str:
    """JSON fragment for one measure meta — hand-assembled (json.loads-
    compatible; keys are fixed identifiers, values ints) because
    json.dumps on 30k tiny dicts per partition was ~10% of UDF wall."""
    if "offset" in m:
        return (
            '{"codec": "sprintz", "mode": "fire", "np_dtype": "%s", "offset": %d}'
            % (m["np_dtype"], m["offset"])
        )
    return '{"codec": "sprintz", "mode": "%s", "np_dtype": "int64"}' % m["mode"]


def _segment(url_arr, bucket_arr):
    """Group boundaries where (url, bucket) changes; arrays must be sorted."""
    n = len(url_arr)
    change = np.zeros(n, dtype=bool)
    change[0] = True
    change[1:] = (url_arr[1:] != url_arr[:-1]) | (bucket_arr[1:] != bucket_arr[:-1])
    starts = np.flatnonzero(change)
    return starts


SILVER_COLUMNS = "url string, warc_ts timestamp, nbytes bigint, text_hash bigint, part bigint"


def ingest_silver(
    pages: DataFrame,
    path: str,
    table: str = "silver_pages",
    n_parts: int = 1024,
    n_buckets: int = 64,
) -> str:
    """Bronze→silver ingest projection: the ONE scan of the raw ``html``
    blobs, run once per snapshot at ingest time.

    Persists the narrow columns every recurring rollup needs —
    ``(url, warc_ts, nbytes, text_hash, part)`` — as a parquet table
    bucketed by ``part = pmod(xxhash64(url), n_parts)``. Recurring
    derive+encode jobs (``fused_rollup_encode``) then read ~40 B/row
    instead of ~2 KB/row of html, and because the table is bucketed on
    the same key the fused job groups by, Catalyst drops the row-scale
    Exchange entirely: the recurring job is scan→sort→UDF, zero shuffle
    (asserted in tests/test_plans.py). ``text_hash = xxhash64(text)``
    carries the byte-identity lineage for extraction verification
    without re-reading html.

    ``n_parts`` is deliberately ~16x ``n_buckets``: bucket assignment is
    murmur3(part) % n_buckets, so a high-cardinality part key spreads
    evenly over buckets (64 distinct parts into 64 buckets would leave
    ~1/e of buckets empty and others doubled — task skew).

    At 100 TB this is the bronze→silver hop of a medallion layout: the
    html scan happens exactly once per ingested snapshot, amortized over
    every downstream rollup, gap-fill, and retention job.
    """
    spark = pages.sparkSession
    silver = pages.select(
        "url",
        "warc_ts",
        F.length("html").cast("long").alias("nbytes"),
        F.xxhash64("text").alias("text_hash"),
        F.pmod(F.xxhash64("url"), F.lit(n_parts)).alias("part"),
    )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        silver.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, "part")
        .sortBy("part")
        .option("path", path)
        .saveAsTable(table)
    )
    return table


def register_silver(
    spark, path: str, table: str = "silver_pages", n_buckets: int = 64
) -> DataFrame:
    """Re-attach an existing silver store in a fresh session.

    The sandbox's in-memory catalog does not persist table metadata
    across sessions, so a new session must re-declare the external
    bucketed table over the files ``ingest_silver`` wrote (Spark reads
    each file's bucket id from the bucketed-writer file names). On a
    real deployment the catalog (Hive/Glue/Iceberg) persists this and
    the DDL happens once.
    """
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    spark.sql(
        f"CREATE TABLE {table} ({SILVER_COLUMNS}) USING parquet "
        f"CLUSTERED BY (part) SORTED BY (part) INTO {n_buckets} BUCKETS "
        f"LOCATION '{path}'"
    )
    return spark.table(table)


def fused_rollup_encode(
    pages: DataFrame,
    tiers: tuple[str, ...] = ("1m", "1h", "1d"),
    n_parts: int | None = None,
    codec: str = "auto",
    chunk_rows: int = 1 << 16,
    with_crc: bool = True,
    shuffle_ids: bool = False,
) -> DataFrame:
    """``with_crc`` stores a crc32 of each piece's raw values in the meta
    so verify_encoded can prove decode(encode(x)) == x without the
    original table.

    ``shuffle_ids`` (round 5): the big shuffle carries an 8-byte
    ``xxhash64(url)`` id instead of the url string, and the UDF receives
    int64 ids (no per-row Python string materialization). Strings are
    joined back (shuffle-hash, never broadcast of the blob side) onto
    the chunk-level OUTPUT — one row per url*tier*chunk, ~3 orders of
    magnitude smaller than the input — from a distinct-url dimension.
    At 10^12 rows with long urls this trades ~50 TB of string shuffle
    for a url-column distinct plus a chunk-level join; in-sandbox at
    48M rows the two plans measure within noise of each other
    (interleaved A/B: 40.7-42.2 s vs 38.9-43.0 s at local[8]), so the
    single-shuffle string plan stays the default and the id plan is the
    opt-in for wide-url/row-heavy corpora. Collision note: two urls
    sharing an xxhash64 value (P ~ n^2/2^65, ~1e-8 at 10^6 urls) would
    merge their series; callers needing certainty at 10^10+ urls should
    verify with the modular retention path."""
    import zlib

    if codec not in ("auto", "fire"):
        raise ValueError(f"unknown codec {codec!r}: use 'auto' or 'fire'")
    spark = pages.sparkSession
    n_parts = n_parts or spark.sparkContext.defaultParallelism * 2
    out_cols = _COLS_ID if shuffle_ids else _COLS
    # UTC epoch micros, never the session zone's wall clock
    utc_us = F.unix_micros("warc_ts").alias("ts_us")

    def udf(pdf: pd.DataFrame) -> pd.DataFrame:
        t0 = time.perf_counter()
        if not len(pdf):
            return pd.DataFrame(columns=out_cols)
        # group by url via integer codes + lexsort instead of a string
        # mergesort: ~3x less CPU and far less memory traffic per row in
        # the bandwidth-critical leg. Grouping order becomes
        # first-appearance (arbitrary), which is fine — chunk CONTENT is
        # per-url ts-sorted either way and all bucket aggregates are
        # order-independent integer ops.
        if shuffle_ids:
            url_codes = pdf["url_id"].to_numpy()
        else:
            url_codes = pd.factorize(pdf["url"].to_numpy(), sort=False)[0]
        ts_us = pdf["ts_us"].to_numpy()
        order = np.lexsort((ts_us, url_codes))
        url_codes = url_codes[order]
        ts_us = ts_us[order]
        url_arr = url_codes if shuffle_ids else pdf["url"].to_numpy()[order]
        nbytes = pdf["nbytes"].to_numpy()[order]
        part = int(pdf["part"].iloc[0])
        ones = np.ones(len(pdf), dtype=np.int64)
        frames = []
        for tier in tiers:
            step = TIER_US[tier]
            bucket = ts_us - ts_us % step
            g_starts = _segment(url_codes, bucket)
            counts = np.add.reduceat(ones, g_starts)
            sums = np.add.reduceat(nbytes, g_starts)
            maxs = np.maximum.reduceat(nbytes, g_starts)
            mins = np.minimum.reduceat(nbytes, g_starts)
            g_url = url_arr[g_starts]
            g_codes = url_codes[g_starts]
            g_bucket = bucket[g_starts]
            # series (per-url) boundaries over the grouped arrays
            s_change = np.ones(len(g_starts), dtype=bool)
            s_change[1:] = g_codes[1:] != g_codes[:-1]
            p_ord, p_starts, p_lens = _series_pieces(s_change, chunk_rows)
            n_pieces = len(p_starts)
            ts_blobs = sz.encode_batch_concat(g_bucket, p_lens, "doubledelta", False)
            raws = p_lens * 8
            comps = np.fromiter((len(b) for b in ts_blobs), np.int64, n_pieces)
            out = pd.DataFrame(
                {
                    "tier": tier,
                    "part": part,
                    ("url_id" if shuffle_ids else "url"): g_url[p_starts],
                    "chunk": p_ord,
                    "start_bucket": pd.to_datetime(g_bucket[p_starts], unit="us", utc=True),
                    "end_bucket": pd.to_datetime(
                        g_bucket[p_starts + p_lens - 1], unit="us", utc=True
                    ),
                    "n": p_lens,
                    "ts_blob": ts_blobs,
                }
            )
            crc_frags = [""] * n_pieces
            if with_crc:
                for i in range(n_pieces):
                    sl = slice(p_starts[i], p_starts[i] + p_lens[i])
                    crc_frags[i] = (
                        ', "crc": {"ts": %d, "crawl_count": %d, "byte_size_sum": %d,'
                        ' "byte_size_max": %d, "byte_size_min": %d}'
                        % (
                            zlib.crc32(g_bucket[sl].tobytes()),
                            zlib.crc32(counts[sl].tobytes()),
                            zlib.crc32(sums[sl].tobytes()),
                            zlib.crc32(maxs[sl].tobytes()),
                            zlib.crc32(mins[sl].tobytes()),
                        )
                    )
            meas_frags: dict[str, list] = {}
            for name, arr in (
                ("crawl_count", counts),
                ("byte_size_sum", sums),
                ("byte_size_max", maxs),
                ("byte_size_min", mins),
            ):
                blobs, metas = _encode_measure(arr, p_starts, p_lens, codec)
                out[f"blob_{name}"] = blobs
                meas_frags[name] = [_meta_frag(m) for m in metas]
                raws = raws + 8 * p_lens
                comps = comps + np.fromiter((len(b) for b in blobs), np.int64, n_pieces)
            cc, bs, bx, bn = (
                meas_frags["crawl_count"], meas_frags["byte_size_sum"],
                meas_frags["byte_size_max"], meas_frags["byte_size_min"],
            )
            out["meta"] = [
                '{"ts": {"codec": "sprintz", "mode": "doubledelta"}%s,'
                ' "crawl_count": %s, "byte_size_sum": %s, "byte_size_max": %s,'
                ' "byte_size_min": %s}' % (crc_frags[i], cc[i], bs[i], bx[i], bn[i])
                for i in range(n_pieces)
            ]
            out["raw_bytes"] = raws
            out["comp_bytes"] = comps
            frames.append(out)
        res = pd.concat(frames, ignore_index=True)
        res["encode_secs"] = (time.perf_counter() - t0) / max(len(res), 1)
        return res[out_cols]

    if "nbytes" in pages.columns:
        # silver input (ingest_silver output): nbytes was projected from
        # html once at ingest; if the table also carries a precomputed
        # part key the groupBy below is Exchange-free on a bucketed read
        # (the recurring-rollup fast path — see ingest_silver docstring).
        if shuffle_ids:
            # the id plan exists to shrink the big STRING shuffle; silver
            # is already narrow and (when bucketed) shuffle-free, so the
            # combination buys nothing — and the UDF would KeyError on
            # the absent url_id column. Fail loudly instead.
            raise ValueError(
                "shuffle_ids=True is not supported for silver-table input "
                "(no 'html'/'url_id' column; the silver path is already "
                "narrow and exchange-free — call with shuffle_ids=False)"
            )
        part_col = (
            F.col("part")
            if "part" in pages.columns
            else F.pmod(F.xxhash64("url"), F.lit(n_parts)).alias("part")
        )
        slim = pages.select("url", utc_us, "nbytes", part_col)
        return slim.groupBy("part").applyInPandas(udf, _SCHEMA)
    if shuffle_ids:
        slim = pages.select(
            F.xxhash64("url").alias("url_id"),
            utc_us,
            F.length("html").cast("long").alias("nbytes"),
            F.pmod(F.xxhash64("url"), F.lit(n_parts)).alias("part"),
        )
        enc = slim.groupBy("part").applyInPandas(udf, _SCHEMA_ID)
        urls = pages.select("url", F.xxhash64("url").alias("url_id")).distinct()
        # shuffle-hash, not broadcast: Catalyst has no stats for the UDF
        # output and would otherwise BROADCAST the blob-carrying side
        # (measured: driver collect of ~2M blob rows). Both join inputs
        # here are chunk/url-dim scale — orders of magnitude below the
        # row-scale input — so a hash join on url_id is the 100 TB shape.
        return enc.join(urls.hint("shuffle_hash"), "url_id").select(*_COLS)
    slim = pages.select(
        "url",
        utc_us,
        F.length("html").cast("long").alias("nbytes"),
        F.pmod(F.xxhash64("url"), F.lit(n_parts)).alias("part"),
    )
    return slim.groupBy("part").applyInPandas(udf, _SCHEMA)


def verify_encoded(enc: DataFrame) -> DataFrame:
    """Lossless-round-trip verification stage (the reference's
    encode→decode→verify harness, python/dfsqueeze.py:133-231, as a narrow
    Spark stage): decode every blob of every chunk and check it against
    the crc32 of the raw values captured at encode time. Returns one row
    per (tier, part) with chunk/row counts; raises CorruptBlobError inside
    the task on any length or crc mismatch, failing the job loudly.

    No shuffle: mapInPandas straight over the encoded rows.
    """
    import zlib

    schema = "tier string, part long, n_chunks long, n_rows long, n_cols_checked long"

    def gen(it):
        for pdf in it:
            if not len(pdf):
                continue
            metas = [_json_loads(m) for m in pdf["meta"]]
            ns = pdf["n"].to_numpy(np.int64)
            checked = np.zeros(len(pdf), dtype=np.int64)
            cols = {"ts": sz.decode_batch(list(pdf["ts_blob"]))}
            for m in MEASURES:
                cols[m] = decode_value_columns_batch(
                    list(pdf[f"blob_{m}"]), [mt[m] for mt in metas]
                )
            for name, arrays in cols.items():
                for i, (v, meta, n) in enumerate(zip(arrays, metas, ns)):
                    arr = np.asarray(v).astype(np.int64, copy=False)
                    if len(arr) != n:
                        raise sz.CorruptBlobError(f"{name} length mismatch")
                    crc = meta.get("crc", {}).get(name)
                    if crc is not None:
                        if zlib.crc32(arr.tobytes()) != crc:
                            raise sz.CorruptBlobError(f"{name} crc mismatch")
                        checked[i] += 1
            stats = pd.DataFrame(
                {
                    "tier": pdf["tier"].to_numpy(),
                    "part": pdf["part"].to_numpy(),
                    "n": ns,
                    "checked": checked,
                }
            )
            g = stats.groupby(["tier", "part"], sort=False).agg(
                n_chunks=("n", "size"), n_rows=("n", "sum"), n_cols_checked=("checked", "sum")
            ).reset_index()
            yield g[["tier", "part", "n_chunks", "n_rows", "n_cols_checked"]]

    return enc.mapInPandas(gen, schema)


def decode_fused_tier(enc: DataFrame, tier: str) -> DataFrame:
    """Decode one tier of the fused output back to plain series rows.

    Task-granularity note (r10, measured): coalescing the tier scan so
    each decode task carries ~32 MB of blobs made end-to-end decode 5.6x
    SLOWER (1.8M -> 0.32M pts/s at the bench shape) — the wall is
    per-BLOB Python/numpy fixed cost on ~40-row chunks (meta parse,
    per-blob transforms), not task scheduling, so fewer bigger tasks
    just serialize that cost. The fix lives in the decode kernels
    (vectorized meta parse + batched transforms in operators/encode.py,
    codecs/sprintz.py), not in partitioning."""
    return decode_series(
        enc.where(F.col("tier") == tier),
        key_cols=["part", "url"],
        value_cols=MEASURES,
    ).drop("part")
