"""Codec-family scale rehearsal (round-6; matches the dedup/CC and
timeseries rehearsals recorded in BASELINE.md).

The encode path is the north-star metric, but its scale evidence was the
38.4M-row fused bench only. This script measures the three codec paths —
sprintz batch (auto delta/dd), the multi-series container, and the
CodecSearch probe+encode — at 10x point-count steps on four deterministic
tier-corpus-shaped families, recording encode, decode and (sprintz and
container) query-partials throughput (M points/s) and compression ratio
at each step. Flat-or-rising throughput and stable ratios across steps
are the evidence the kernels (global numpy passes, chunked at 2^16 like
the fused job) have no super-linear component. The sprintz path also
runs at 40-row chunks (``sprintz40``), the small-chunk shape of the r10
profile, where per-blob parse cost shows.

Usage: python scripts/scale_rehearsal_codec.py   (pure numpy, no Spark)
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sprintz_spark.codecs import search as S  # noqa: E402
from sprintz_spark.codecs import sprintz as sz  # noqa: E402

CHUNK = 1 << 16  # the fused job's chunk_rows
SMALL_CHUNK = 40  # the r10 profile's small-chunk shape


def families(n: int) -> dict[str, np.ndarray]:
    rng = np.random.default_rng(42)
    smooth = np.cumsum(rng.integers(-3, 4, n)).astype(np.int64)
    steps = np.repeat(
        rng.integers(0, 5000, max(n // 500, 1)).astype(np.int64), 500
    )[:n]
    resid = rng.integers(0, 300, n).astype(np.uint16)
    entropy = rng.integers(0, 1 << 62, n).astype(np.int64)
    return {
        "smooth_counter": smooth,
        "steppy": np.ascontiguousarray(steps),
        "resid_u16": resid,
        "entropy": entropy,
    }


def chunk_lens(n: int, chunk: int) -> np.ndarray:
    full, rem = divmod(n, chunk)
    lens = [chunk] * full + ([rem] if rem else [])
    return np.asarray(lens, dtype=np.int64)


def check_partials(partials, x: np.ndarray, lens: np.ndarray) -> None:
    """Query partials (counts, sums, maxs, mins) equal an int64
    aggregate of the stored unsigned values, chunk by chunk."""
    v = x.view(np.dtype(f"u{x.dtype.itemsize}")).astype(np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    want = (lens, np.add.reduceat(v, starts), np.maximum.reduceat(v, starts),
            np.minimum.reduceat(v, starts))
    assert all(np.array_equal(p, w) for p, w in zip(partials, want))


def best2(fn) -> float:
    w = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn()
        w = min(w, time.perf_counter() - t0)
    return w


def run_path(path: str, x: np.ndarray) -> dict:
    lens = chunk_lens(len(x), SMALL_CHUNK if path == "sprintz40" else CHUNK)
    qw = None
    if path in ("sprintz", "sprintz40"):
        blobs = sz.encode_batch_concat(x, lens, None, False)
        ew = best2(lambda: sz.encode_batch_concat(x, lens, None, False))
        dw = best2(lambda: sz.decode_batch(blobs))
        qw = best2(lambda: sz.query_batch_partials(blobs))
        out = sz.decode_batch(blobs)
        assert np.array_equal(np.concatenate(out).view(x.dtype), x)
        assert all(len(o) == n for o, n in zip(out, lens))
        check_partials(sz.query_batch_partials(blobs), x, lens)
        size = sum(len(b) for b in blobs)
    elif path == "container":
        blob = sz.encode_container(x, lens, "auto", False)
        ew = best2(lambda: sz.encode_container(x, lens, "auto", False))
        dw = best2(lambda: sz.decode_container(blob))
        qw = best2(lambda: sz.query_container_partials(blob))
        vals, ns = sz.decode_container(blob)
        assert np.array_equal(vals.view(x.dtype), x) and np.array_equal(ns, lens)
        check_partials(sz.query_container_partials(blob), x, lens)
        size = len(blob)
    elif path == "search":
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        def enc():
            return [
                S.search_encode(x[s : s + l]) for s, l in zip(starts, lens)
            ]
        blobs = enc()
        ew = best2(enc)
        dw = best2(lambda: [S.search_decode(b) for b in blobs])
        out = np.concatenate([S.search_decode(b).view(x.dtype) for b in blobs])
        assert np.array_equal(out, x)
        size = sum(len(b) for b in blobs)
    else:
        raise ValueError(path)
    return {
        "enc_mpts": round(len(x) / ew / 1e6, 2),
        "dec_mpts": round(len(x) / dw / 1e6, 2),
        "query_mpts": None if qw is None else round(len(x) / qw / 1e6, 2),
        "ratio": round(x.nbytes / size, 2),
    }


def main() -> None:
    sizes = [100_000, 1_000_000, 10_000_000]
    results: dict = {}
    for n in sizes:
        fams = families(n)
        for fam, x in fams.items():
            for path in ("sprintz", "sprintz40", "container", "search"):
                if path == "search" and n > 1_000_000:
                    continue  # probe cost is per-chunk-constant; 10^6 shows the trend
                r = run_path(path, x)
                results[f"{fam}/{path}/{n}"] = r
                q = "" if r["query_mpts"] is None else f"  query {r['query_mpts']:7.2f} Mpts/s"
                print(
                    f"{fam:15s} {path:9s} n={n:>9,d}  "
                    f"enc {r['enc_mpts']:7.2f} Mpts/s  dec {r['dec_mpts']:7.2f} Mpts/s"
                    f"{q}  ratio {r['ratio']:6.2f}x"
                )
    out = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                       ".data", "codec_rehearsal.json")
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    print(f"\nwrote {out}")


if __name__ == "__main__":
    main()
