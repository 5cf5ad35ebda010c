"""CodecSearch: try K codec pipelines per column, keep the smallest
(reference: python/codec.py:439-535 CodecSearch; pipeline set mirrors
python/main_dfsqueeze.py:53-80 — combinations of quantize, delta variants,
byte shuffle, and general-purpose byte codecs).

Container format (v1): u8 magic 0xA5 | u8 version | u8 pipeline-id |
u8 dtype-code | u32 n | payload.
``search_encode`` is the max-ratio path (try-all, data-dependent);
the hot path remains sprintz.encode_batch_concat's cheap delta/dd cost
model. Pipelines always round-trip exactly (tests sweep the reference's
input families).
"""

from __future__ import annotations

import numpy as np

from sprintz_spark.codecs import extras, gorilla
from sprintz_spark.codecs import sprintz as sz
from sprintz_spark.codecs.rle import CorruptBlobError

_DTYPES = [np.uint8, np.uint16, np.uint32, np.uint64,
           np.int8, np.int16, np.int32, np.int64, np.float64]
_DTYPE_CODE = {np.dtype(d): i for i, d in enumerate(_DTYPES)}


def _view(a: np.ndarray, dt: np.dtype, n: int) -> np.ndarray:
    """A decoded inner payload ``a`` as the head's ``n`` values of
    ``dt``. Sprintz payloads decode to their own element width, byte
    payloads (bzip2, huffman) to uint8 and gorilla to float64;
    CorruptBlobError unless ``a`` holds exactly n values' bytes in
    elements of dt's width or single bytes (a head dtype code of the
    wrong width, or a wrong n)."""
    if a.nbytes != n * dt.itemsize or a.dtype.itemsize not in (1, dt.itemsize):
        raise CorruptBlobError(
            f"search payload of {a.nbytes} bytes in {8 * a.dtype.itemsize}-bit "
            f"elements; its head says {n} values of {dt}"
        )
    return a.view(dt)


def _sz(mode):
    return (
        lambda x: sz.encode_column(x, mode),
        lambda b, dt, n: _view(sz.decode_column(b), dt, n),
    )


def _bzip2():
    return (
        extras.bzip2_encode,
        lambda b, dt, n: _view(extras.bzip2_decode(b, np.uint8), dt, n),
    )


def _shuffle_lzma():
    return (
        lambda x: extras.lzma_encode(extras.byteshuffle_encode(x)),
        lambda b, dt, n: extras.byteshuffle_decode(
            extras.lzma_decode(b, np.uint8), dt, n
        ),
    )


def _shuffle_zstd():
    return (
        lambda x: extras.zstd_encode(extras.byteshuffle_encode(x)),
        lambda b, dt, n: extras.byteshuffle_decode(
            extras.zstd_decode(b, np.uint8), dt, n
        ),
    )


def _huffman():
    from sprintz_spark.codecs import huffman as hf

    return (
        lambda x: hf.huffman_encode(x.view(np.uint8)),
        lambda b, dt, n: _view(hf.huffman_decode(b), dt, n),
    )


def _shuffle_huffman():
    from sprintz_spark.codecs import huffman as hf

    return (
        lambda x: hf.huffman_encode(extras.byteshuffle_encode(x)),
        lambda b, dt, n: extras.byteshuffle_decode(hf.huffman_decode(b), dt, n),
    )


def _gorilla():
    return (
        lambda x: gorilla.encode(x.astype(np.float64, copy=False)),
        lambda b, dt, n: _view(gorilla.decode(b), dt, n),
    )


# APPEND-ONLY: the list index is the on-disk pipeline id (byte 2 of the
# v1 search container, after the magic/version bytes), so existing entries must never be reordered or
# removed — new pipelines go at the END. (Round-2 briefly inserted
# entries mid-list; restored to the original prefix + appended tail.)
PIPELINES: list[tuple[str, tuple]] = [
    ("sprintz-delta", _sz("delta")),
    ("sprintz-doubledelta", _sz("doubledelta")),
    ("sprintz-dyndelta", _sz("dyndelta")),
    ("sprintz-fire", _sz("fire")),  # u8/u16 only; skipped otherwise
    ("raw", _sz("raw")),
    ("bzip2", _bzip2()),
    ("byteshuffle-lzma", _shuffle_lzma()),
    ("gorilla", _gorilla()),  # float64 only
    ("sprintz-ewma", _sz("ewma")),  # u8/u16 only (online.hpp moving avg)
    ("byteshuffle-zstd", _shuffle_zstd()),  # true zstd when importable
    ("huffman", _huffman()),  # canonical Huffman (the paper's entropy stage)
    ("byteshuffle-huffman", _shuffle_huffman()),
]

# Single-core decode throughput per pipeline, MB of DECODED output per
# second — geometric mean over four tier-corpus-shaped inputs (smooth
# int64 counters, steppy int64, u16 residuals, high-entropy int64; 1-4 MB
# each), measured in-sandbox 2026-08-17 (round 5; full table in
# BASELINE.md "Decode-cost crossover"). Only the ORDERING within a size
# tolerance band matters, so coarse class values are fine. At 100 TB the
# decode leg is pure CPU: a pipeline that is 6x slower to decode must
# buy a materially smaller blob to be worth choosing — Huffman's 30-40
# MB/s vs the zlib-class 160 MB/s is exactly the case the balanced
# objective exists for.
DECODE_MBPS: dict[str, float] = {
    "sprintz-delta": 140.0,
    "sprintz-doubledelta": 125.0,
    "sprintz-dyndelta": 28.0,
    "sprintz-fire": 3.0,
    "raw": 117.0,
    "bzip2": 32.0,
    "byteshuffle-lzma": 161.0,
    "gorilla": 122.0,
    "sprintz-ewma": 53.0,
    # lzma-fallback figure; overridden below when real zstd is importable
    # (otherwise the lowest-id tie-break would systematically pick the
    # ~3x-slower lzma pipeline whenever both land in the size band)
    "byteshuffle-zstd": 161.0,
    # round-7 16-bit decode window (WIN_BITS): ~42 uniform / ~56 skewed
    "huffman": 50.0,
    "byteshuffle-huffman": 42.0,
}
if getattr(extras, "_zstandard", None) is not None:
    # true zstd decodes ~3x faster than the lzma fallback
    DECODE_MBPS["byteshuffle-zstd"] = 480.0

# Default size tolerance of the balanced objective: among pipelines whose
# probe blob is within (1 + tolerance) of the smallest, pick the fastest
# decoder. 10%: a slow codec must win >10% on size to justify its decode
# cost — at 100 TB that trades <=10% storage for up to ~5x decode CPU.
SIZE_TOLERANCE = 0.10

# ewma's encode is a per-sample scan (IIR with nonlinear truncation — no
# per-block state boundary, so it cannot batch like FIRE; the reference's
# own C++ encode is the same sequential scan, online.hpp:251-285). Decode
# is fully vectorized (wrapping-cumsum accumulator, ewma.py), so the cap
# only bounds the one-time ENCODE cost a probe victory can commit a column
# to: ~0.4 s at this cap with the branch-free loop (2.7 Msamples/s).
EWMA_MAX_LEN = 1 << 20

# search container header: magic | version | pipeline-id | dtype | u32 n.
# The magic/version pair makes stale or reordered-id blobs fail loudly
# instead of silently decoding with the wrong pipeline (the id byte is an
# index into the APPEND-ONLY table above).
MAGIC = 0xA5
VERSION = 1


def _applicable(name: str, dt: np.dtype, n: int) -> str | None:
    """None if `name` may encode an (dtype, length) column, else the
    reason — shared by the probe loop and forced-pipeline validation."""
    is_float = dt.kind == "f"
    w = dt.itemsize * 8
    if name == "gorilla" and not is_float:
        return "gorilla encodes float64 columns only"
    if name != "gorilla" and is_float:
        return f"{name} encodes integer columns only (floats quantize first)"
    if name in ("sprintz-fire", "sprintz-ewma") and w not in (8, 16):
        return f"{name} supports u8/u16 widths only, got {w}-bit"
    if name == "sprintz-ewma" and n > EWMA_MAX_LEN:
        return f"sprintz-ewma capped at {EWMA_MAX_LEN} samples (per-sample encode scan)"
    return None


def zstd_backend() -> str:
    """Which backend the 'byteshuffle-zstd' pipeline is using in this
    environment: 'zstandard' (real zstd importable) or 'lzma-fallback'.
    Codec-search winners can differ between the two (probe sizes AND the
    DECODE_MBPS entry differ), so parity artifacts record this so a
    cross-environment comparison knows whether goldens are comparable."""
    return "zstandard" if getattr(extras, "_zstandard", None) is not None else "lzma-fallback"


def search_encode(
    x: np.ndarray,
    sample: int = 1 << 16,
    pipeline: str | None = None,
    size_tolerance: float = SIZE_TOLERANCE,
    exclude: tuple[str, ...] = (),
) -> bytes:
    """Try every applicable pipeline (on a bounded sample for very long
    columns, then encode fully with the winner); return the container.

    Objective (round-5, decode-cost-aware): among pipelines whose probe
    blob is within ``(1 + size_tolerance)`` of the smallest, pick the
    one with the highest DECODE_MBPS (ties -> lowest pipeline id, so the
    choice is deterministic). ``size_tolerance=0.0`` restores the pure
    max-ratio objective of the reference CodecSearch (python/
    codec.py:439-535). The default 10% band means an entropy stage like
    Huffman (30-40 MB/s/core) is chosen only where its ratio win over a
    zlib-class pipeline exceeds 10% — the crossover table lives in
    BASELINE.md.

    ``pipeline`` forces a named pipeline instead of probing (used by
    tests/queries that gate one codec end-to-end); the forced name is
    validated against the pipeline table and the same dtype/width gates
    as the probe loop, so a mismatched codec config raises a clear
    ValueError instead of a deep TypeError.

    ``exclude`` removes named pipelines from the probe (no effect on a
    forced ``pipeline``). Used by environment-pinned golden queries to
    drop 'byteshuffle-zstd', whose probe output AND decode-speed entry
    depend on whether the real zstd backend is importable (see
    ``zstd_backend``) — with it in the probe set, the same data could
    pick different winners on different machines."""
    x = np.ascontiguousarray(x)
    dt = x.dtype
    if pipeline is not None:
        names = [n for n, _ in PIPELINES]
        if pipeline not in names:
            raise ValueError(
                f"unknown search pipeline {pipeline!r}; valid: {', '.join(names)}"
            )
        reason = _applicable(pipeline, dt, len(x))
        if reason is not None:
            raise ValueError(
                f"pipeline {pipeline!r} cannot encode dtype {dt} column: {reason}"
            )
        best_i = names.index(pipeline)
        enc, _dec = PIPELINES[best_i][1]
        payload = enc(x)
        head = bytes([MAGIC, VERSION, best_i, _DTYPE_CODE[dt]])
        return head + np.uint32(len(x)).tobytes() + payload
    if exclude:
        # mirror the forced-pipeline validation: a typo'd exclude name
        # would otherwise silently exclude nothing, defeating the
        # environment-pinning purpose the parameter exists for
        names = {n for n, _ in PIPELINES}
        unknown = [n for n in exclude if n not in names]
        if unknown:
            raise ValueError(
                f"unknown exclude pipeline(s) {unknown!r}; "
                f"valid: {', '.join(sorted(names))}"
            )
    probe = x[:sample] if len(x) > sample else x
    sizes: dict[int, int] = {}
    for i, (name, (enc, _dec)) in enumerate(PIPELINES):
        if name in exclude or _applicable(name, dt, len(x)) is not None:
            continue
        try:
            sizes[i] = len(enc(probe))
        except (TypeError, ValueError):
            continue
    min_size = min(sizes.values())
    band = [i for i, s in sizes.items() if s <= min_size * (1.0 + size_tolerance)]
    best_i = max(band, key=lambda i: (DECODE_MBPS.get(PIPELINES[i][0], 1.0), -i))
    enc, _dec = PIPELINES[best_i][1]
    payload = enc(x)
    head = bytes([MAGIC, VERSION, best_i, _DTYPE_CODE[dt]])
    return head + np.uint32(len(x)).tobytes() + payload


def _head(buf: bytes) -> tuple[int, np.dtype, int]:
    """(pipeline id, dtype, n) of a v1 container's 8-byte head.
    CorruptBlobError for a blob shorter than the head, wrong magic/version
    bytes, or a pipeline id or dtype code outside its table. A dtype code
    of the wrong width fails in the decoders (``_view``, byteshuffle's
    byte count), but a wrong code of the payload's own width (uint16 for
    int16, int64 for float64) decodes to the wrong type: the head has
    no check bits to catch it."""
    if len(buf) < 8:
        raise CorruptBlobError(f"search container of {len(buf)} bytes, under its 8-byte head")
    if buf[0] != MAGIC or buf[1] != VERSION:
        raise CorruptBlobError(
            "not a search container (bad magic/version bytes "
            f"{buf[0]:#04x} {buf[1]:#04x}); refusing to guess a pipeline id"
        )
    if buf[2] >= len(PIPELINES) or buf[3] >= len(_DTYPES):
        raise CorruptBlobError(f"search head names pipeline {buf[2]}, dtype code {buf[3]}")
    return buf[2], np.dtype(_DTYPES[buf[3]]), int(np.frombuffer(buf[4:8], np.uint32)[0])


def search_decode(buf: bytes) -> np.ndarray:
    """Decode a v1 search container. A bad head (see _head), or a payload
    that decodes to other than the head's n values of its dtype's width,
    raises CorruptBlobError."""
    pipeline_i, dt, n = _head(buf)
    _name, (_enc, dec) = PIPELINES[pipeline_i]
    return dec(buf[8:], dt, n)


_SPRINTZ_PIPELINES = frozenset({
    "sprintz-delta", "sprintz-doubledelta", "sprintz-dyndelta",
    "sprintz-fire", "raw", "sprintz-ewma",
})


def search_decode_batch(blobs: list[bytes]) -> list[np.ndarray]:
    """Decode MANY search containers with batched inner decoders.

    Containers group by pipeline family: sprintz-* / raw payloads go
    through sz.decode_batch (global width-grouped passes), huffman /
    byteshuffle-huffman through huffman_decode_batch (lockstep across
    blobs); every other pipeline decodes one blob at a time. Non-v1
    heads, length and width mismatches raise CorruptBlobError, as in
    search_decode. Output arrays are identical to search_decode per blob
    (tests/test_search.py pins it)."""
    heads = [_head(buf) for buf in blobs]
    out: list = [None] * len(blobs)
    sz_grp, hf_grp, shf_grp = [], [], []  # blob indices per pipeline family
    for i, (buf, (pipeline_i, dt, n)) in enumerate(zip(blobs, heads)):
        name, (_enc, dec) = PIPELINES[pipeline_i]
        if name in _SPRINTZ_PIPELINES:
            sz_grp.append(i)
        elif name == "huffman":
            hf_grp.append(i)
        elif name == "byteshuffle-huffman":
            shf_grp.append(i)
        else:
            out[i] = dec(buf[8:], dt, n)
    for i, a in zip(sz_grp, sz.decode_batch([blobs[i][8:] for i in sz_grp])):
        out[i] = _view(a, *heads[i][1:])
    if hf_grp or shf_grp:
        from sprintz_spark.codecs import huffman as hf

        arrs = hf.huffman_decode_batch([blobs[i][8:] for i in hf_grp + shf_grp])
        for i, a in zip(hf_grp, arrs):
            out[i] = _view(a, *heads[i][1:])
        for i, a in zip(shf_grp, arrs[len(hf_grp):]):
            _pipeline_i, dt, n = heads[i]
            out[i] = extras.byteshuffle_decode(a, dt, n)
    return out


def search_report(x: np.ndarray) -> dict:
    """Size of every applicable pipeline — the encode-measure harness
    (reference: python/dfsqueeze.py encode_measure_decode)."""
    out = {}
    for name, (enc, dec) in PIPELINES:
        try:
            buf = enc(x)
            out[name] = len(buf)
        except (TypeError, ValueError):
            continue
    out["raw_bytes"] = x.nbytes
    return out
