"""The composed sprintz column codec + self-describing wire format.

Pipeline per column (reference pipeline shape: forecast -> zigzag ->
bit-pack -> RLE; communicate/method.tex §3, cpp/Compress/sprintz_delta_rle.cpp
and sprintz_xff_rle.cpp — re-architected for numpy vectorization, not a
byte-level port):

    residuals = forecast(x)   # delta | doubledelta | dyndelta | fire | ewma
    z = zigzag(residuals)           # fire already returns zigzagged errs
    nbits[b] = block width per 8-sample block (w-1 -> w promotion)
    headers = RLE(value, varint runlen) over the nbits stream
    payload = width-grouped little-endian bit packing

Wire formats (one BinaryType cell per series chunk; first byte selects):

  'Y' (0x59) — compact head + out-of-band firsts (delta/doubledelta,
      1 <= n <= 65536): 'Y' | mode(3b)|w_code(2b)|pad(3b) | (n-1) u16 |
      uvarint zz(x0) [| uvarint zz(d1) for doubledelta] | uvarint nruns |
      run values u8[] | run lengths varint[] | payload. The leading
      residual slots and trailing pad-slot residuals are zeroed, and
      trailing zero payload bytes are stripped (decode zero-extends), so
      a regular series of any length costs ~21 B.
  'Z' (0x5A) — compact head, in-stream firsts (fire/raw, small chunks):
      'Z' | packed | n u16 | nruns u8 | headers | payload.
  'SZ1' (0x53…) — full head (large n or dyndelta's extra):
      'SZ1' | mode u8 | w u8 | n u32 | pad u8 | extra_len u16 | extra |
      headers (u32-nruns) | payload.
  'C' (0x43) — multi-series container: many series of one column in a
      single blob (shared headers/payload, per-series varint length +
      varint firsts) — see encode_container; every retention tier is
      stored as containers.
  'W' (0x57) — zlib wrapper around any of the above, applied per blob
      when it shrinks it (cost-based entropy post-pass — the paper's
      Huffman stage, method.tex:300-303).

Supported element widths: 8, 16, 32, 64 (FIRE: 8/16 only, like the
reference's C core — cpp/Compress/sprintz_delta_rle.cpp:58-61).
"""

from __future__ import annotations

import zlib
from typing import NamedTuple

import numpy as np

from sprintz_spark.codecs import bitpack, delta, ewma, fire, rle, zigzag
from sprintz_spark.codecs.rle import CorruptBlobError

MAGIC = b"SZ1"
MAGIC2 = 0x5A  # b'Z': compact head for small chunks (n < 65536, no extra)
MAGIC3 = 0x59  # b'Y': compact head + out-of-band first value(s)
MAGIC_DEFLATE = 0x57  # b'W': zlib-wrapped blob (cost-based post-pass)
BLOCK = bitpack.BLOCK

# Entropy-coding post-pass (the paper's Huffman stage, method.tex:300-303,
# expressed with stdlib zlib): applied per blob when it actually shrinks
# it. ~10µs/blob; disable for max-throughput encoding.
DEFLATE_MIN = 64  # don't bother below this size


def _maybe_deflate(blob: bytes, enable: bool = True) -> bytes:
    if not enable or len(blob) < DEFLATE_MIN:
        return blob
    z = zlib.compress(blob, 6)
    return bytes([MAGIC_DEFLATE]) + z if len(z) + 1 < len(blob) else blob


def _inflate(buf: bytes) -> bytes:
    try:
        out = zlib.decompress(memoryview(buf)[1:]) if buf[0] == MAGIC_DEFLATE else buf
    except (IndexError, zlib.error) as e:
        raise CorruptBlobError(f"empty blob or bad zlib stream ({e})") from None
    if not out:
        raise CorruptBlobError("empty blob inside its zlib stream")
    return out

MODES = {"delta": 0, "doubledelta": 1, "dyndelta": 2, "fire": 3, "raw": 4,
         "ewma": 5, "booldelta": 6}
_MODE_NAMES = {v: k for k, v in MODES.items()}
_W_CODE = {8: 0, 16: 1, 32: 2, 64: 3}
_W_FROM_CODE = {v: k for k, v in _W_CODE.items()}


def _head2(mode: str, w: int, n: int, pad: int) -> bytes:
    """4-byte compact head: 'Z' | mode(3b)|w_code(2b)|pad(3b) | n u16.
    Tiny series pay 12+ bytes of head in the v1 format — for 1-3-point
    daily-tier chunks that overhead alone exceeded the raw data."""
    packed = (MODES[mode] << 5) | (_W_CODE[w] << 3) | pad
    return bytes([MAGIC2, packed]) + int(n).to_bytes(2, "little")


def _headers_compact(nbits: np.ndarray) -> bytes:
    """rle.encode_headers with a 1-byte run count (nruns < 256)."""
    full = rle.encode_headers(nbits)
    nruns = int.from_bytes(full[:4], "little")
    assert nruns < 256
    return bytes([nruns]) + full[4:]


# --- v2 'Y' format: first value(s) out-of-band -----------------------------
#
# A series' first residual under delta is the raw start value (and under
# double-delta the second residual embeds the first gap). For epoch-µs
# timestamps that is ~52 bits, blowing the first 8-sample block up to
# ~52 bytes even for a 2-point series. 'Y' stores x0 (and d1 for
# doubledelta) as zigzag-varints in the head, zeroes those residual slots,
# and strips trailing zero payload bytes (decode zero-extends). A regular
# daily series of ANY length then packs to ~20 bytes: head(4) + varints +
# all-zero-block headers(3) + empty payload.
#
#   'Y' | mode(3b)|w_code(2b)|pad(3b) | (n-1) u16 | uvarint zz(x0)
#   [| uvarint zz(d1) if doubledelta] | uvarint nruns | run vals u8[] |
#   run lens varint[] | payload (trailing zeros stripped)


def _payload_ends(payload: bytes, lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """Per-series payload end offsets with trailing zero bytes stripped —
    the vectorized equivalent of payload[lo:hi].rstrip(b'\\x00') per
    series (decode zero-extends, so truncation is lossless)."""
    lo = np.asarray(lo, np.int64)
    hi = np.asarray(hi, np.int64)
    if not len(payload):
        return lo.copy()
    arr = np.frombuffer(payload, np.uint8)
    nz = np.flatnonzero(arr)
    pos = np.searchsorted(nz, hi, side="left") - 1
    ends = np.where(pos >= 0, nz[np.maximum(pos, 0)] + 1, 0)
    return np.maximum(ends, lo)


def _headers_batch(nb: np.ndarray, blk_starts: np.ndarray, blk_hi: np.ndarray):
    """Header-stream serialization pieces for MANY series in global numpy
    passes (byte-identical to rle.encode_headers per series). Series i's
    header body is vb[f[i]:f_hi[i]] + lb[lo[f[i]]:lo[f_hi[i]]] with
    nruns = f_hi[i] - f[i]; callers prepend their run-count framing."""
    r_starts, r_vals, r_lens = rle.rle_runs_segmented(nb, blk_starts)
    f = np.searchsorted(r_starts, blk_starts).astype(np.int64)
    f_hi = np.searchsorted(r_starts, blk_hi).astype(np.int64)
    vb = r_vals.astype(np.uint8).tobytes()
    lb = rle.varint_encode(r_lens)
    lo = _cumsum0(np.where(r_lens < 128, 1, 2))
    return f, f_hi, vb, lb, lo


def _zero_extend(payload: bytes, nbits: np.ndarray) -> bytes:
    """Undo trailing-zero truncation: block b holds exactly nbits[b] bytes."""
    expected = int(nbits.astype(np.int64).sum())
    if len(payload) < expected:
        return bytes(payload) + b"\x00" * (expected - len(payload))
    return payload

_UNSIGNED = {8: np.uint8, 16: np.uint16, 32: np.uint32, 64: np.uint64}
_SIGNED = {8: np.int8, 16: np.int16, 32: np.int32, 64: np.int64}


def _pad_repeat_last(u: np.ndarray) -> tuple[np.ndarray, int]:
    """Pad to a block multiple by repeating the last value (zero residuals
    under delta), returning (padded, pad_count)."""
    n = len(u)
    rem = (-n) % BLOCK
    if rem == 0:
        return u, 0
    fill = u[-1] if n else u.dtype.type(0)
    return np.concatenate([u, np.full(rem, fill, dtype=u.dtype)]), rem


def encode_column(x: np.ndarray, mode: str = "delta", deflate: bool = True) -> bytes:
    """Encode an integer numpy array into the SZ1 format."""
    x = np.asarray(x)
    if x.dtype.kind == "b":
        x = x.view(np.uint8)
    w = x.dtype.itemsize * 8
    if w not in _UNSIGNED:
        raise ValueError(f"unsupported element width {w}")
    if mode in ("fire", "ewma") and w not in (8, 16):
        raise ValueError(f"{mode} supports 8/16-bit elements only")
    if mode == "booldelta" and w != 8:
        raise ValueError("booldelta takes bool/uint8 arrays")
    if x.dtype.kind not in "iu":
        raise TypeError(
            f"encode_column takes integer arrays, got {x.dtype}; "
            "quantize floats first (codecs.quantize) or use codecs.gorilla"
        )
    u = x.view(_UNSIGNED[w])
    n = len(u)
    padded, pad = _pad_repeat_last(u)
    extra = b""
    firsts = None
    if mode == "delta":
        z = zigzag.encode(delta.delta_encode(padded))
        if 1 <= n <= 65536:
            firsts = [int(padded[0])]
            z[0] = 0
    elif mode == "doubledelta":
        z = zigzag.encode(delta.double_delta_encode(padded))
        z[n:] = 0  # pad slots are decode-discarded; repeat-last padding
        # would otherwise put a -d1 spike in the last block
        if 1 <= n <= 65536:
            d1 = (int(padded[1]) - int(padded[0])) & ((1 << w) - 1)
            firsts = [int(padded[0]), d1]
            z[0] = 0
            z[1] = 0
    elif mode == "dyndelta":
        resid, mask = delta.dynamic_delta_encode(padded, BLOCK)
        z = zigzag.encode(resid)
        extra = mask.tobytes()
    elif mode == "fire":
        z = fire.fire_encode(padded, w)
        z[n:] = 0  # pad-slot prediction errors are decode-discarded
    elif mode == "ewma":
        z = ewma.ewma_encode(padded, w)
        z[n:] = 0  # pads are trailing: zeroing can't affect earlier state
    elif mode == "booldelta":
        # XOR-delta for booleans — the codec the reference declares but
        # never implements (codec.py:238-239: "can't just uint8 because
        # -1 and +1 delta are the same"): XOR with the previous value is
        # the self-inverse change indicator, residuals stay in {0,1}
        # (no zigzag), and constant runs become zero runs so bitpack/RLE
        # see the same structure integer delta exposes. Repeat-last
        # padding XORs to 0 in the pad slots for free.
        z = np.bitwise_xor(padded, np.concatenate((padded[:1] * 0, padded[:-1])))
    elif mode == "raw":
        z = padded
    else:
        raise ValueError(f"unknown mode {mode}")
    nbits = bitpack.block_nbits(z, BLOCK)
    payload = bitpack.pack_blocks(z, nbits, BLOCK).rstrip(b"\x00")
    if firsts is not None:  # 'Y' head: firsts and nruns as varints
        hdr = rle.encode_headers(nbits)
        zz = zigzag.encode(np.array(firsts, _UNSIGNED[w])).tolist()
        varints, _ = rle.uvarint_batch(zz + [int.from_bytes(hdr[:4], "little")])
        head = bytes([MAGIC3, (MODES[mode] << 5) | (_W_CODE[w] << 3) | pad])
        return _maybe_deflate(
            head + (n - 1).to_bytes(2, "little") + varints + hdr[4:] + payload,
            deflate,
        )
    if not extra and n < 65536 and len(nbits) <= 255:
        return _maybe_deflate(
            _head2(mode, w, n, pad) + _headers_compact(nbits) + payload, deflate
        )
    head = (
        MAGIC
        + bytes([MODES[mode], w])
        + np.uint32(n).tobytes()
        + bytes([pad])
        + np.uint16(len(extra)).tobytes()
        + extra
    )
    return _maybe_deflate(head + rle.encode_headers(nbits) + payload, deflate)


def _mode_name(code: int) -> str:
    try:
        return _MODE_NAMES[code]
    except KeyError:
        raise CorruptBlobError(f"unknown mode code {code}") from None


def blob_mode(buf: bytes) -> str:
    """Codec mode of a blob (works for all head formats)."""
    buf = _inflate(buf)
    if buf[0] in (MAGIC2, MAGIC3):
        return _MODE_NAMES[buf[1] >> 5]
    return _MODE_NAMES[buf[3]]


# element widths each mode's decoder takes (the encoder's own limits)
_MODE_WIDTHS = {"fire": (8, 16), "ewma": (8, 16), "booldelta": (8,)}


def _check_head(mode, w, n, pad, firsts, nbits, payload) -> None:
    """CorruptBlobError unless a parsed SZ1 head agrees with itself and
    with its block headers, as every encoder writes them: the blocks
    hold exactly the n + pad padded samples, no block is wider than w,
    the payload is no longer than the blocks' bytes, the mode takes w,
    and out-of-band firsts come only with delta / doubledelta."""
    if w not in _UNSIGNED or w not in _MODE_WIDTHS.get(mode, (w,)):
        raise CorruptBlobError(f"{mode} blob of {w}-bit elements")
    if firsts is not None and mode not in ("delta", "doubledelta"):
        raise CorruptBlobError(f"{mode} blob with out-of-band first values")
    if pad >= BLOCK or BLOCK * len(nbits) != n + pad:
        raise CorruptBlobError("blob head disagrees with its block headers")
    if len(nbits) and (nbits.max() > w or len(payload) > int(nbits.sum(dtype=np.int64))):
        raise CorruptBlobError("blob head disagrees with its block headers")


def _parse(buf: bytes):
    """Returns (mode, w, n, pad, extra, nbits, payload, firsts).

    ``firsts`` is None for in-stream-start formats ('Z'/SZ1) or
    ``(x0, d1_or_None)`` unsigned bit patterns for the 'Y' format.
    ``payload`` may be trailing-zero truncated (see _zero_extend).
    A head that is cut short or disagrees with its block headers raises
    CorruptBlobError (_check_head).
    """
    buf = _inflate(buf)
    if buf[0] in (MAGIC2, MAGIC3):  # compact heads
        if len(buf) < 5:
            raise CorruptBlobError("blob truncated inside its head")
        packed = buf[1]
        mode = _mode_name(packed >> 5)
        w = _W_FROM_CODE[(packed >> 3) & 0x3]
        pad = packed & 0x7
        n = int.from_bytes(buf[2:4], "little")
        if buf[0] == MAGIC2:  # 'Z': in-stream firsts, u8 nruns
            firsts, nruns, pos = None, buf[4], 5
        else:  # 'Y': n-1, varints zz(x0) [zz(d1)] nruns
            n += 1
            v, pos = rle.read_uvarints(buf, 4, 2 + (mode == "doubledelta"))
            *zz, nruns = v.tolist()
            f = [((z >> 1) ^ -(z & 1)) & ((1 << w) - 1) for z in zz]  # unzigzag
            firsts = (f[0], f[1] if len(f) > 1 else None)
        vals, lens, end = rle.read_runs(buf, pos, nruns)
        nbits = np.repeat(vals, lens)
        _check_head(mode, w, n, pad, firsts, nbits, buf[end:])
        return mode, w, n, pad, b"", nbits, buf[end:], firsts
    if buf[:3] != MAGIC:
        raise CorruptBlobError(f"bad magic {bytes(buf[:3])!r}")
    if len(buf) < 12:
        raise CorruptBlobError("blob truncated inside its head")
    mode = _mode_name(buf[3])
    w = buf[4]
    n = int.from_bytes(buf[5:9], "little")
    pad = buf[9]
    extra_len = int.from_bytes(buf[10:12], "little")
    if 12 + extra_len + 4 > len(buf):
        raise CorruptBlobError("blob truncated inside its head")
    extra = buf[12 : 12 + extra_len]
    rest = buf[12 + extra_len :]
    nbits, used = rle.decode_headers(rest)
    payload = rest[used:]
    _check_head(mode, w, n, pad, None, nbits, payload)
    if mode == "dyndelta" and 8 * len(extra) < len(nbits):
        raise CorruptBlobError("dyndelta blob's block mask is cut short")
    return mode, w, n, pad, extra, nbits, payload, None


def decode_column(buf: bytes) -> np.ndarray:
    """Decode SZ1 bytes back to the original unsigned array (length n).

    Callers that encoded signed data should .view() the signed dtype.
    """
    mode, w, n, pad, extra, nbits, payload, firsts = _parse(buf)
    payload = _zero_extend(payload, nbits)
    z = bitpack.unpack_blocks(payload, nbits, _UNSIGNED[w], BLOCK)
    su = _UNSIGNED[w]
    if firsts is not None:
        zd = zigzag.decode(z).view(su)
        zd[0] = su(firsts[0])
        if mode == "doubledelta":
            zd[1] = su((firsts[1] - firsts[0]) & ((1 << w) - 1))
        if mode == "delta":
            out = delta.delta_decode(zd.view(_SIGNED[w])).view(su)
        else:
            out = delta.double_delta_decode(zd.view(_SIGNED[w])).view(su)
        return out[:n]
    if mode == "delta":
        out = delta.delta_decode(zigzag.decode(z)).view(_UNSIGNED[w])
    elif mode == "doubledelta":
        out = delta.double_delta_decode(zigzag.decode(z)).view(_UNSIGNED[w])
    elif mode == "dyndelta":
        mask = np.frombuffer(extra, dtype=np.uint8)
        out = delta.dynamic_delta_decode(zigzag.decode(z), mask, BLOCK).view(
            _UNSIGNED[w]
        )
    elif mode == "fire":
        out = fire.fire_decode(z, w)
    elif mode == "ewma":
        out = ewma.ewma_decode(z, w)
    elif mode == "booldelta":
        out = np.bitwise_xor.accumulate(z)
    elif mode == "raw":
        out = z
    else:  # pragma: no cover
        raise ValueError(mode)
    return out[:n]


def _segmented_cumsum(d: np.ndarray, starts: np.ndarray, plens: np.ndarray) -> np.ndarray:
    """Wraparound cumsum restarting at each segment (whose first element is
    stored as an absolute value by the encoders)."""
    c = np.cumsum(d, dtype=d.dtype)
    off = c[starts] - d[starts]
    return c - np.repeat(off, plens)


class _Group(NamedTuple):
    """Many block-padded series of one (mode, w), concatenated: the
    series of one container blob, or many SZ1 blobs once parsed.
    ``oob`` marks the series whose first values are stored out of band
    ('Y' heads and container series); ``x0s`` / ``d1s`` hold their
    first value and doubledelta first gap as uint64 bit patterns (0
    for the other series). ``payload`` is zero-extended to its blocks'
    bytes."""

    mode: str
    w: int
    ns: np.ndarray
    oob: np.ndarray
    x0s: np.ndarray
    d1s: np.ndarray
    nbits: np.ndarray
    payload: bytes | np.ndarray


def _group_pass(g: _Group) -> tuple[np.ndarray, np.ndarray]:
    """Inverse transform of a group: unpack, then for delta /
    doubledelta zigzag-decode, put the out-of-band firsts back and undo
    one or two segmented cumsums. Returns the block-padded values and
    each series' start in them."""
    su = _UNSIGNED[g.w]
    plens = g.ns + (-g.ns) % BLOCK
    dst_starts = _cumsum0(plens)
    starts = dst_starts[:-1]
    z = bitpack.unpack_blocks(g.payload, g.nbits, su, BLOCK)
    if g.mode == "raw":
        return z, starts
    if g.mode == "fire":
        return fire.fire_decode_multi(z, dst_starts, plens, g.w), starts
    d = zigzag.decode(z).view(su)
    f_pos = starts[g.oob]
    x0s = g.x0s[g.oob].astype(su, copy=False)
    d[f_pos] = x0s
    if g.mode == "doubledelta":
        # unsigned subtraction wraps mod 2^w: the residual-domain d1 - x0
        d[f_pos + 1] = g.d1s[g.oob].astype(su) - x0s
    nonempty = plens > 0
    s_idx, seg = starts[nonempty], plens[nonempty]
    x = _segmented_cumsum(d, s_idx, seg)
    return (_segmented_cumsum(x, s_idx, seg) if g.mode == "doubledelta" else x), starts


def _group_values(g: _Group) -> np.ndarray:
    """The concatenated values of a group, pad slots dropped."""
    x, starts = _group_pass(g)
    keep = np.ones(len(x), dtype=bool)
    keep[_pad_positions(g.ns, (-g.ns) % BLOCK, starts)] = False
    return x[keep]


# batchable compact-head modes (delta / doubledelta / fire / raw);
# dyndelta / ewma / booldelta carry per-blob state and stay scalar
_BATCH_MODES = frozenset((0, 1, 3, 4))
_BATCH_MAX_RUNS = 128  # larger headers amortize the scalar parse fine


def _parse_batch(blobs: list[bytes]) -> tuple[list, list[int]]:
    """Parse MANY SZ1 blobs into (blob indices, _Group) pairs, plus the
    indices of the dyndelta / ewma / booldelta blobs, whose per-blob
    state only decode_column inverts.

    Compact heads ('Z'/'Y', the small-chunk wire format) parse in
    vectorized passes over ONE concatenation of all blob bytes
    (_parse_compact: the per-blob ``_parse`` loop was >40% of decode
    wall on ~40-row chunks, r10 profile). v1 heads, deflated blobs and
    headers of more than _BATCH_MAX_RUNS runs take the per-blob
    ``_parse``; both routes' blobs of one (mode, w) form one group."""
    compact: list = []
    scalar: list = []
    for i, buf in enumerate(blobs):
        # a compact head is >= 5 bytes; shorter blobs go to _parse, which
        # names what is cut
        if len(buf) >= 5 and (buf[0] == MAGIC2 or buf[0] == MAGIC3) and (
            (buf[1] >> 5) in _BATCH_MODES
        ):
            compact.append(i)
        else:
            scalar.append(i)
    groups, over = _parse_compact(blobs, compact) if compact else ([], [])
    items: dict = {}
    state = []
    for i in scalar + over:
        mode, w, n, pad, extra, nbits, payload, firsts = _parse(blobs[i])
        if mode in ("dyndelta", "ewma", "booldelta"):
            state.append(i)
        else:
            items.setdefault((mode, w), []).append(
                (i, n, nbits, _zero_extend(payload, nbits), firsts)
            )
    for (mode, w), its in items.items():
        idx, ns, nbits, payloads, firsts = zip(*its)
        x0s = np.array([f[0] if f else 0 for f in firsts], np.uint64)
        d1s = np.array([(f[1] or 0) if f else 0 for f in firsts], np.uint64)
        groups.append((list(idx), _Group(
            mode, w, np.array(ns, np.int64),
            np.array([f is not None for f in firsts]), x0s, d1s,
            np.concatenate(nbits), np.frombuffer(b"".join(payloads), np.uint8),
        )))
    # one group per (mode, w): a pass per group has a fixed cost
    merged: dict = {}
    for idx, g in groups:
        if (g.mode, g.w) in merged:
            idx0, g0 = merged[g.mode, g.w]
            idx, g = idx0 + idx, _Group(g.mode, g.w, *map(np.concatenate, zip(g0[2:], g[2:])))
        merged[g.mode, g.w] = (idx, g)
    return list(merged.values()), state


def decode_batch(blobs: list[bytes]) -> list[np.ndarray]:
    """Decode MANY SZ1 blobs with shared numpy passes: _parse_batch
    groups them by (mode, w), and each group decodes in one unpack +
    segmented-cumsum / FIRE pass (_group_pass); dyndelta / ewma /
    booldelta blobs decode one at a time. Returns arrays of the blob's
    stored unsigned dtype (callers .view() as their meta dictates)."""
    out: list = [None] * len(blobs)
    groups, state = _parse_batch(blobs)
    for idx, g in groups:
        x, starts = _group_pass(g)
        for i, lo, n in zip(idx, starts.tolist(), g.ns.tolist()):
            out[i] = x[lo : lo + n]
    for i in state:
        out[i] = decode_column(blobs[i])
    return out


def _parse_compact(blobs, batch) -> tuple[list, list[int]]:
    """Vectorized parse of the 'Z'/'Y' compact-head blobs at indices
    ``batch``: (blob indices, _Group) pairs, one per (mode, w), gathered
    from ONE concatenation of the blobs' bytes, plus the indices of
    over-large headers (> _BATCH_MAX_RUNS runs), left to the per-blob
    parse. Every read is bounded by its own blob's end, and a blob whose
    head disagrees with its block headers raises CorruptBlobError (the
    checks of _check_head, vectorized)."""
    m = len(batch)
    L = np.fromiter((len(blobs[i]) for i in batch), np.int64, m)
    # trailing guard bytes: they end a head varint cut at the last blob's
    # end (see y_varints)
    big = np.frombuffer(
        b"".join([blobs[i] for i in batch] + [b"\x00\x00"]), np.uint8
    )
    offs = _cumsum0(L)[:-1]
    ends = offs + L
    packed = big[offs + 1].astype(np.int64)
    mode_c = (packed >> 5).astype(np.int64)
    w_arr = np.array([8, 16, 32, 64], np.int64)[(packed >> 3) & 3]
    pads = (packed & 7).astype(np.int64)
    is_y = big[offs] == MAGIC3
    if (is_y & (mode_c > MODES["doubledelta"])).any():
        raise CorruptBlobError("fire/raw blob with out-of-band first values")
    if ((mode_c == MODES["fire"]) & (w_arr > 16)).any():
        raise CorruptBlobError("fire blob of more than 16-bit elements")
    ns = (
        big[offs + 2].astype(np.int64)
        | (big[offs + 3].astype(np.int64) << 8)
    ) + is_y  # 'Y' stores n-1
    pos = (offs + 4).astype(np.int64)
    zz0 = np.zeros(m, np.uint64)
    zz1 = np.zeros(m, np.uint64)
    y_sel = np.flatnonzero(is_y)

    def y_varints(sel):
        # the guard zeros end any varint by big's end; one that ends
        # past its own blob's last byte is cut (nruns still follows)
        v, p = rle.uvarints_at(big, pos[sel])
        if (p >= ends[sel]).any():
            raise CorruptBlobError("blob truncated inside a varint")
        pos[sel] = p
        return v

    if len(y_sel):
        zz0[y_sel] = y_varints(y_sel)
        dd_sel = y_sel[mode_c[y_sel] == 1]
        if len(dd_sel):
            zz1[dd_sel] = y_varints(dd_sel)
    nruns = np.zeros(m, np.int64)
    z_sel = np.flatnonzero(~is_y)
    if len(z_sel):
        nruns[z_sel] = big[pos[z_sel]]
        pos[z_sel] += 1
    if len(y_sel):
        v, p = rle.uvarints_at(big, pos[y_sel])
        if (p > ends[y_sel]).any():
            raise CorruptBlobError("blob truncated inside a varint")
        # a count past int64 stays positive: it goes to _parse, which rejects it
        nruns[y_sel] = np.minimum(v, np.uint64(1 << 62)).astype(np.int64)
        pos[y_sel] = p
    # over-large headers -> per-blob parse (bounded masked-pass loop below)
    keep = nruns <= _BATCH_MAX_RUNS
    over = [b for b, k in zip(batch, keep) if not k]
    if over:
        batch = [b for b, k in zip(batch, keep) if k]
        (L, offs, ends, mode_c, w_arr, pads, is_y, ns, pos, zz0, zz1, nruns) = (
            L[keep], offs[keep], ends[keep], mode_c[keep], w_arr[keep],
            pads[keep], is_y[keep], ns[keep], pos[keep], zz0[keep], zz1[keep],
            nruns[keep],
        )
        m = len(batch)
    groups: list = []
    if not m:
        return groups, over
    if (pos + nruns > ends).any():
        raise CorruptBlobError("blob truncated: more header runs than bytes left")
    # header run values: nruns[i] bytes at pos[i]
    total_runs = int(nruns.sum())
    run_base = _cumsum0(nruns)[:-1]
    within = np.arange(total_runs, dtype=np.int64) - np.repeat(run_base, nruns)
    run_vals = big[np.repeat(pos, nruns) + within]
    # run lengths: nruns[i] sequential varints (1-2 bytes, RUN_CAP bound),
    # read in one pass over a window of each blob's next 2 * nruns[i]
    # bytes, cut at its end: varint k ends at the window's k-th byte
    # below 0x80, and starts one byte past the previous one's end
    c0 = pos + nruns
    win = np.minimum(2 * nruns, ends - c0)
    wb = _cumsum0(win)
    at = np.arange(int(wb[-1]), dtype=np.int64) + np.repeat(c0 - wb[:-1], win)
    wbytes = big[at].astype(np.int64)
    t = np.flatnonzero(wbytes < 0x80)
    first = np.searchsorted(t, wb[:-1])
    if (np.searchsorted(t, wb[1:]) - first < nruns).any():
        raise CorruptBlobError("blob truncated inside a header run length")
    e = t[np.repeat(first, nruns) + within]
    b = np.where(within == 0, np.repeat(wb[:-1], nruns), np.append(-1, e[:-1]) + 1)
    if (e - b > 1).any():
        raise CorruptBlobError("blob truncated inside a header run length")
    run_lens = np.where(e > b, (wbytes[b] & 0x7F) | (wbytes[e] << 7), wbytes[e])
    cur = c0.copy()
    last = (run_base + nruns - 1)[nruns > 0]
    cur[nruns > 0] = at[e[last]] + 1
    # per-blob block counts / expected+available payload bytes (BLOCK=8:
    # a b-bit block is exactly b payload bytes)
    rl_cum = _cumsum0(run_lens)
    nblocks = rl_cum[run_base + nruns] - rl_cum[run_base]
    exp_cum = _cumsum0(run_vals.astype(np.int64) * run_lens)
    exp_bytes = exp_cum[run_base + nruns] - exp_cum[run_base]
    avail = ends - cur
    if (
        (BLOCK * nblocks != ns + pads).any()
        or (avail > exp_bytes).any()
        or (run_vals > np.repeat(w_arr, nruns)).any()
    ):
        raise CorruptBlobError("blob head disagrees with its block headers")
    nbits_all = np.repeat(run_vals, run_lens)
    blk_base = _cumsum0(nblocks)[:-1]
    # group by (mode, w) and gather each group's concat arrays
    for mc in np.unique(mode_c):
        mode = _mode_name(int(mc))
        for w in np.unique(w_arr[mode_c == mc]):
            g = np.flatnonzero((mode_c == mc) & (w_arr == w))
            # nbits gather
            nb_g = nblocks[g]
            tot_b = int(nb_g.sum())
            gidx = np.arange(tot_b, dtype=np.int64) + np.repeat(
                blk_base[g] - _cumsum0(nb_g)[:-1], nb_g
            )
            nbits_g = nbits_all[gidx]
            # zero-extended payload gather: copy each blob's available
            # bytes into its expected-size slot (tail stays zero)
            av_g = avail[g]
            exp_g = exp_bytes[g]
            dst0 = _cumsum0(exp_g)[:-1]
            tot_av = int(av_g.sum())
            src = np.arange(tot_av, dtype=np.int64) + np.repeat(
                cur[g] - _cumsum0(av_g)[:-1], av_g
            )
            dst = np.arange(tot_av, dtype=np.int64) + np.repeat(
                dst0 - _cumsum0(av_g)[:-1], av_g
            )
            payload_g = np.zeros(int(exp_g.sum()), np.uint8)
            payload_g[dst] = big[src]
            groups.append(([batch[j] for j in g], _Group(
                mode, int(w), ns[g], is_y[g],
                zigzag.decode(zz0[g]).view(np.uint64),
                zigzag.decode(zz1[g]).view(np.uint64), nbits_g, payload_g,
            )))
    return groups, over


def choose_mode(x: np.ndarray, candidates=("delta", "doubledelta", "fire")) -> str:
    """Cost-based per-column codec selection: argmin encoded size over the
    candidate pipelines (reference: CodecSearch, python/codec.py:439-535).
    Selection runs on a bounded sample for large columns."""
    x = np.asarray(x)
    sample = x[: 4096] if len(x) > 4096 else x
    w = x.dtype.itemsize * 8
    best, best_size = "delta", None
    for mode in candidates:
        if mode == "fire" and w not in (8, 16):
            continue
        size = len(encode_column(sample, mode))
        if best_size is None or size < best_size:
            best, best_size = mode, size
    return best


def _cumsum0(a: np.ndarray) -> np.ndarray:
    return np.concatenate([[0], np.cumsum(a)])


def _pad_positions(ns: np.ndarray, pads: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """Indices of pad slots in the block-padded concat array whose
    series begin at ``starts``."""
    sel = pads > 0
    p = pads[sel]
    if not len(p):
        return np.zeros(0, np.int64)
    base = starts[sel] + ns[sel]
    intra = np.arange(int(p.sum()), dtype=np.int64) - np.repeat(_cumsum0(p)[:-1], p)
    return np.repeat(base, p) + intra


def _pad_concat(values: np.ndarray, ns: np.ndarray, su) -> tuple:
    """Scatter a concatenated segment array into a block-padded concat
    (each segment padded by repeating its last value) — all vectorized."""
    pads = (-ns) % BLOCK
    plens = ns + pads
    src_starts = _cumsum0(ns)
    dst_starts = _cumsum0(plens)
    v = values.view(su)
    u = np.zeros(int(dst_starts[-1]), dtype=su)
    if len(v):
        pos = np.arange(len(v), dtype=np.int64) + np.repeat(
            dst_starts[:-1] - src_starts[:-1], ns
        )
        u[pos] = v
        sel = (pads > 0) & (ns > 0)
        if sel.any():
            p = pads[sel]
            base = dst_starts[:-1][sel] + ns[sel]
            intra = np.arange(int(p.sum()), dtype=np.int64) - np.repeat(_cumsum0(p)[:-1], p)
            u[np.repeat(base, p) + intra] = np.repeat(v[src_starts[1:][sel] - 1], p)
    return u, pads, plens, dst_starts


def encode_batch_concat(
    values: np.ndarray, lengths: np.ndarray, mode: str | None = None, deflate: bool = True
) -> list[bytes]:
    """encode_batch over a single concatenated value array cut into
    segments of ``lengths`` — zero per-series array slicing. All padding,
    forecasting, packing and costing are global numpy passes; only the
    final per-series blob assembly is a Python loop of cheap slices."""
    values = np.asarray(values)
    if values.dtype.kind not in "iu":
        raise TypeError(f"encode_batch_concat takes integer arrays, got {values.dtype}")
    w = values.dtype.itemsize * 8
    su = _UNSIGNED[w]
    ns = np.asarray(lengths, dtype=np.int64)
    if mode == "fire":
        return encode_batch_concat_fire(values, ns, deflate)
    if mode in ("raw", "dyndelta", "ewma"):
        starts = _cumsum0(ns)
        return [
            encode_column(values[starts[i] : starts[i + 1]], mode, deflate)
            for i in range(len(ns))
        ]
    u, pads, plens, dst_starts = _pad_concat(values, ns, su)
    return _encode_padded_concat(u, ns, pads, plens, dst_starts, w, mode, deflate)


def encode_batch_concat_auto(
    values: np.ndarray, lengths: np.ndarray, deflate: bool = True
) -> list[bytes]:
    """Per-series argmin-size pick across delta/doubledelta AND fire —
    the batch analog of choose_mode's three-candidate cost selection
    (scalar path: operators/encode.py _encode_value_column). delta-vs-dd
    is decided inside _encode_padded_concat from shared block costs; the
    FIRE candidate is a real encode (fire_encode_multi batches across
    series) and wins per series on actual blob size, so e.g. quantized
    float columns whose residuals suit the adaptive filter get mode 3
    exactly like the scalar path would give them."""
    values = np.asarray(values)
    w = values.dtype.itemsize * 8
    base = encode_batch_concat(values, lengths, None, deflate)
    if w not in (8, 16):
        return base
    fireb = encode_batch_concat_fire(values, lengths, deflate)
    return [f if len(f) < len(b) else b for b, f in zip(base, fireb)]


def encode_batch_concat_fire(
    values: np.ndarray, lengths: np.ndarray, deflate: bool = True
) -> list[bytes]:
    """Batched FIRE encoding: the forecaster itself is per-segment (its
    coefficient state is sequential by design — reference:
    sprintz_xff_rle.cpp:203-275), but padding, bitwidth computation,
    packing, and blob assembly are shared global passes."""
    values = np.asarray(values)
    w = values.dtype.itemsize * 8
    if w not in (8, 16):
        raise ValueError("fire supports 8/16-bit elements only")
    su = _UNSIGNED[w]
    ns = np.asarray(lengths, dtype=np.int64)
    u, pads, plens, dst_starts = _pad_concat(values, ns, su)
    if len(ns) >= 8:
        # across-series vectorization wins for many series; for a few long
        # series the scalar per-block loop has less gather/scatter overhead
        z = fire.fire_encode_multi(u, dst_starts, plens, w)
        if len(z) == 0:
            z = np.zeros_like(u)
    else:
        z = np.empty_like(u)
        for i in range(len(ns)):
            lo, hi = dst_starts[i], dst_starts[i + 1]
            if hi > lo:
                z[lo:hi] = fire.fire_encode(u[lo:hi], w)
    if len(u):
        z[_pad_positions(ns, pads, dst_starts[:-1])] = 0  # match encode_column
    nb = bitpack.block_nbits(z, BLOCK) if len(u) else np.zeros(0, np.uint8)
    payload = bitpack.pack_blocks(z, nb, BLOCK) if len(u) else b""
    byte_off = _cumsum0(nb.astype(np.int64))
    blk_starts = (dst_starts[:-1] // BLOCK).astype(np.int64)
    blk_hi = blk_starts + plens // BLOCK
    pv = memoryview(payload)
    head_mid = bytes([MODES["fire"], w])
    f, f_hi, vb, lb, lo = _headers_batch(nb, blk_starts, blk_hi)
    nruns_arr = f_hi - f
    heads4 = np.empty((len(ns), 4), np.uint8)
    heads4[:, 0] = MAGIC2
    heads4[:, 1] = (
        np.uint8((MODES["fire"] << 5) | (_W_CODE[w] << 3)) | pads.astype(np.uint8)
    )
    nm = ns.astype(np.uint16)
    heads4[:, 2] = (nm & 0xFF).astype(np.uint8)
    heads4[:, 3] = (nm >> 8).astype(np.uint8)
    hb = heads4.tobytes()
    p_lo = byte_off[blk_starts]
    p_hi = _payload_ends(payload, p_lo, byte_off[blk_hi])
    compact = (ns < 65536) & (blk_hi - blk_starts <= 255)
    join = b"".join
    out = []
    for i in range(len(ns)):
        nruns = int(nruns_arr[i])
        i4 = 4 * i
        if compact[i]:
            blob = join((
                hb[i4 : i4 + 4], bytes([nruns]),
                vb[f[i] : f_hi[i]], lb[lo[f[i]] : lo[f_hi[i]]],
                pv[p_lo[i] : p_hi[i]],
            ))
        else:
            blob = join((
                MAGIC, head_mid, int(ns[i]).to_bytes(4, "little"),
                bytes([pads[i]]), b"\x00\x00", nruns.to_bytes(4, "little"),
                vb[f[i] : f_hi[i]], lb[lo[f[i]] : lo[f_hi[i]]],
                pv[p_lo[i] : p_hi[i]],
            ))
        out.append(_maybe_deflate(blob, deflate) if deflate else blob)
    return out


def _residuals(u, ns, pads, plens, dst_starts, w, oob):
    """Zigzagged delta (z1) and double-delta (z2) residuals of a
    block-padded concat ``u``, restarting at each series, plus each
    series' x0 and first gap. Series in the mask ``oob`` carry those
    firsts out of band, so their leading residual slots are zeroed and
    the first block packs small. Pad-slot double-deltas are zeroed for
    every series: decode discards them, and repeat-last padding would
    otherwise put a -d1 spike in the last block. Returns (z1, z2, x0s,
    gaps)."""
    starts = dst_starts[:-1]
    nonempty = plens > 0
    s_idx = starts[nonempty]
    d1 = np.empty_like(u)
    d1[:1] = u[:1]
    np.subtract(u[1:], u[:-1], out=d1[1:])
    d1[s_idx] = u[s_idx]
    d2 = np.empty_like(u)
    d2[:1] = d1[:1]
    np.subtract(d1[1:], d1[:-1], out=d2[1:])
    d2[s_idx] = u[s_idx]
    x0s = np.zeros(len(ns), dtype=u.dtype)
    gaps = np.zeros(len(ns), dtype=u.dtype)
    x0s[nonempty] = u[s_idx]
    gaps[nonempty] = u[s_idx + 1] - u[s_idx]  # plens >= BLOCK when nonempty
    z1 = zigzag.encode(d1.view(_SIGNED[w]))
    z2 = zigzag.encode(d2.view(_SIGNED[w]))
    e_idx = starts[oob]
    z1[e_idx] = 0
    z2[e_idx] = 0
    z2[e_idx + 1] = 0
    z2[_pad_positions(ns, pads, starts)] = 0
    return z1, z2, x0s, gaps


def _encode_padded_concat(u, ns, pads, plens, dst_starts, w, mode, deflate=True):
    starts = dst_starts[:-1]
    # out-of-band firsts: the 'Y' head
    elig = (ns >= 1) & (ns <= 65536)
    z1, z2, x0s, gaps = _residuals(u, ns, pads, plens, dst_starts, w, elig)
    nb1 = bitpack.block_nbits(z1, BLOCK)
    nb2 = bitpack.block_nbits(z2, BLOCK)
    blk_starts = (starts // BLOCK).astype(np.int64)
    blk_lens = plens // BLOCK
    n_series = len(ns)
    if mode == "delta":
        choose2 = np.zeros(n_series, dtype=bool)
    elif mode == "doubledelta":
        choose2 = np.ones(n_series, dtype=bool)
    else:
        if len(nb1):
            idx = np.minimum(blk_starts, len(nb1) - 1)
            cost1 = np.add.reduceat(nb1.astype(np.int64), idx)
            cost2 = np.add.reduceat(nb2.astype(np.int64), idx)
            choose2 = cost2 < cost1
        else:
            choose2 = np.zeros(n_series, dtype=bool)
    blk_mask = np.repeat(choose2, blk_lens)
    nb = np.where(blk_mask, nb2, nb1).astype(np.uint8)
    samp_mask = np.repeat(choose2, plens)
    z = np.where(samp_mask, z2, z1)
    payload = bitpack.pack_blocks(z, nb, BLOCK)
    byte_off = _cumsum0(nb.astype(np.int64))
    out: list[bytes] = []
    pv = memoryview(payload)
    blk_hi = blk_starts + blk_lens
    mode_bytes = [bytes([MODES["delta"]]), bytes([MODES["doubledelta"]])]
    wb = bytes([w])
    zero16 = b"\x00\x00"
    f, f_hi, vb, lb, lo = _headers_batch(nb, blk_starts, blk_hi)
    nruns_arr = f_hi - f
    # vectorized compact heads ('Y'/'Z' share the 4-byte layout) and varints
    packed = (
        (choose2.astype(np.uint8) << 5)
        | np.uint8(_W_CODE[w] << 3)
        | pads.astype(np.uint8)
    )
    nm = np.where(elig, ns - 1, ns).astype(np.uint16)
    heads4 = np.empty((n_series, 4), np.uint8)
    heads4[:, 0] = np.where(elig, MAGIC3, MAGIC2)
    heads4[:, 1] = packed
    heads4[:, 2] = (nm & 0xFF).astype(np.uint8)
    heads4[:, 3] = (nm >> 8).astype(np.uint8)
    hb = heads4.tobytes()
    vx_b, vx_off = rle.uvarint_batch(zigzag.encode(x0s).astype(np.uint64))
    vd_b, vd_off = rle.uvarint_batch(zigzag.encode(gaps).astype(np.uint64))
    vr_b, vr_off = rle.uvarint_batch(nruns_arr)
    p_lo = byte_off[blk_starts]
    p_hi = _payload_ends(payload, p_lo, byte_off[blk_hi])
    compact_ok = (ns < 65536) & (blk_hi - blk_starts <= 255)
    join = b"".join
    for i in range(n_series):
        nruns = int(nruns_arr[i])
        i4 = 4 * i
        if elig[i]:
            blob = join((
                hb[i4 : i4 + 4],
                vx_b[vx_off[i] : vx_off[i + 1]],
                vd_b[vd_off[i] : vd_off[i + 1]] if choose2[i] else b"",
                vr_b[vr_off[i] : vr_off[i + 1]],
                vb[f[i] : f_hi[i]], lb[lo[f[i]] : lo[f_hi[i]]],
                pv[p_lo[i] : p_hi[i]],
            ))
        elif compact_ok[i]:  # n==0 path
            blob = join((
                hb[i4 : i4 + 4], bytes([nruns]),
                vb[f[i] : f_hi[i]], lb[lo[f[i]] : lo[f_hi[i]]],
                pv[p_lo[i] : p_hi[i]],
            ))
        else:
            blob = join((
                MAGIC, mode_bytes[int(choose2[i])], wb,
                int(ns[i]).to_bytes(4, "little"), bytes([pads[i]]), zero16,
                nruns.to_bytes(4, "little"),
                vb[f[i] : f_hi[i]], lb[lo[f[i]] : lo[f_hi[i]]],
                pv[p_lo[i] : p_hi[i]],
            ))
        out.append(_maybe_deflate(blob, deflate) if deflate else blob)
    return out


def encode_batch(
    arrays: list[np.ndarray], mode: str | None = None
) -> list[bytes]:
    """Encode MANY series with one set of global numpy passes.

    The per-series wire format is identical to encode_column (decode_column
    reads each blob unchanged); only the computation is batched. See
    encode_batch_concat for the zero-copy variant used by the Spark UDFs.
    """
    if not arrays:
        return []
    for a in arrays:
        if np.asarray(a).dtype.kind not in "iu":
            raise TypeError(f"encode_batch takes integer arrays, got {a.dtype}")
    lengths = np.array([len(a) for a in arrays], dtype=np.int64)
    values = (
        np.concatenate([np.asarray(a) for a in arrays])
        if len(arrays) > 1
        else np.asarray(arrays[0])
    )
    return encode_batch_concat(values, lengths, mode)


_I64_MIN = np.iinfo(np.int64).min
_I64_MAX = np.iinfo(np.int64).max


def _run_partials_i64(g: _Group) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-series (sum, max, min) of a 64-bit delta / doubledelta group
    from block headers WITHOUT unpacking zero-width blocks — the RLE-run
    fast path (reference: cpp/Compress/query.hpp:77-136 aggregates runs
    as func(v, prev, prev, ncopies); sprintz_delta_rle_query.hpp:272-311).

    Series are block-aligned (every encoder pads each series to a BLOCK
    multiple), so a series occupies whole blocks. Zero-width blocks carry
    no payload bytes at all; under delta they are constant runs
    (sum += value * run_len, one compare for max/min) and under
    doubledelta affine ramps (closed-form arithmetic-series sum, extremes
    at the endpoints). Only nonzero blocks are bit-unpacked. Cost is
    O(nonzero blocks + total blocks), not O(n).

    64-bit only: int64 wraparound arithmetic is bit-identical to the
    decoder's modular unsigned cumsum, so SUMS match decode+aggregate
    exactly even across +-2^63 wraps (the same element-width wraparound
    the reference's C kernels assume). MAX/MIN on doubledelta zero blocks
    take the ramp ENDPOINTS, which assumes the affine ramp is monotonic
    in int64 — a run whose values wrap past +-2^63 mid-block would report
    a different extreme than the decoder. Purely theoretical for this
    engine's domain (counters/sizes never approach 2^63); callers with
    adversarial inputs should force the decode path.

    The group's ``x0s`` / ``d1s`` are 0 for in-stream-firsts series,
    whose stream embeds x0, so they enter the sums with no branch.
    """
    ns, nbits, mode = g.ns, g.nbits, g.mode
    x0s, d1s = g.x0s.view(np.int64), g.d1s.view(np.int64)
    n_series = len(ns)
    pads = (-ns) % BLOCK
    plens = ns + pads
    bps = plens // BLOCK  # blocks per series
    nblocks = len(nbits)
    b0 = _cumsum0(bps)[:-1]
    has_blocks = bps > 0
    sob = np.repeat(np.arange(n_series, dtype=np.int64), bps)  # series of block
    b0rep = np.repeat(b0, bps)
    nz = nbits > 0
    z = bitpack.unpack_blocks(g.payload, nbits[nz], np.uint64, BLOCK)
    e_nz = zigzag.decode(z).view(np.int64).reshape(-1, BLOCK)
    c_nz = e_nz.cumsum(axis=1)  # within-block cumsum of residuals
    S1 = np.zeros(nblocks, np.int64)
    if len(c_nz):
        S1[nz] = c_nz[:, -1]
    # valid samples per block: the final block of a padded series is short
    vc = np.full(nblocks, BLOCK, np.int64)
    short = has_blocks & (pads > 0)
    vc[(b0 + bps - 1)[short]] = BLOCK - pads[short]
    PS1 = np.cumsum(S1) - S1  # exclusive prefix of per-block residual sums
    bsum = np.empty(nblocks, np.int64)
    bmax = np.empty(nblocks, np.int64)
    bmin = np.empty(nblocks, np.int64)
    zb = ~nz
    cols = np.arange(BLOCK, dtype=np.int64)[None, :]
    if mode == "delta":
        # x[j] = x0 + cumsum(e)[j]; value entering block b is constant
        # across a zero block (the RLE constant run)
        x_in = x0s[sob] + PS1 - PS1[b0rep]
        bsum[zb] = vc[zb] * x_in[zb]
        bmax[zb] = x_in[zb]
        bmin[zb] = x_in[zb]
        if nz.any():
            xx = x_in[nz][:, None] + c_nz
            m = cols < vc[nz][:, None]
            bsum[nz] = np.where(m, xx, 0).sum(axis=1)
            bmax[nz] = np.where(m, xx, _I64_MIN).max(axis=1)
            bmin[nz] = np.where(m, xx, _I64_MAX).min(axis=1)
    elif mode == "doubledelta":
        # x = cumsum(cumsum(e)) + x0 + j*d1 (out-of-band firsts enter by
        # linear superposition). Block carries: d_in = first-diff entering
        # the block, X_in = value through the previous block.
        d_in = PS1 - PS1[b0rep]
        T = np.zeros(nblocks, np.int64)
        if len(c_nz):
            T[nz] = c_nz.sum(axis=1)
        inc = BLOCK * d_in + T  # x-advance contributed by each block
        PX = np.cumsum(inc) - inc
        X_in = PX - PX[b0rep]
        jb = (np.arange(nblocks, dtype=np.int64) - b0rep) * BLOCK
        slope = d_in + d1s[sob]  # per-sample advance inside a zero block
        v0 = X_in + d_in + x0s[sob] + jb * d1s[sob]  # value at block slot 0
        vz, s0, m0 = vc[zb], v0[zb], slope[zb]
        bsum[zb] = vz * s0 + m0 * (vz * (vz - 1) // 2)
        hi = s0 + (vz - 1) * m0
        bmax[zb] = np.maximum(s0, hi)
        bmin[zb] = np.minimum(s0, hi)
        if nz.any():
            C2 = c_nz.cumsum(axis=1)
            xx = (
                X_in[nz][:, None]
                + C2
                + (cols + 1) * d_in[nz][:, None]
                + x0s[sob[nz]][:, None]
                + (jb[nz][:, None] + cols) * d1s[sob[nz]][:, None]
            )
            m = cols < vc[nz][:, None]
            bsum[nz] = np.where(m, xx, 0).sum(axis=1)
            bmax[nz] = np.where(m, xx, _I64_MIN).max(axis=1)
            bmin[nz] = np.where(m, xx, _I64_MAX).min(axis=1)
    else:  # pragma: no cover
        raise ValueError(f"no run fast path for mode {mode}")
    return _series_partials(bsum, bmax, bmin, b0, has_blocks)


def _series_partials(vsum, vmax, vmin, starts, nonempty):
    """Per-series (sum, max, min) of element arrays cut at ``starts``; an
    empty series (``nonempty`` False) gives (0, INT64_MIN, INT64_MAX)."""
    n = len(nonempty)
    sums = np.zeros(n, np.int64)
    maxs = np.full(n, _I64_MIN)
    mins = np.full(n, _I64_MAX)
    if nonempty.any():
        i = starts[nonempty]
        sums[nonempty] = np.add.reduceat(vsum, i)
        maxs[nonempty] = np.maximum.reduceat(vmax, i)
        mins[nonempty] = np.minimum.reduceat(vmin, i)
    return sums, maxs, mins


def series_partials(values: np.ndarray, lengths: np.ndarray):
    """Per-series (sum, max, min) of int64 ``values`` cut by ``lengths``,
    as query_container_partials reports them."""
    lengths = np.asarray(lengths, np.int64)
    return _series_partials(values, values, values, _cumsum0(lengths)[:-1], lengths > 0)


# Run fast path only when enough blocks are zero-width to pay for the
# block-level bookkeeping; below this the plain vectorized cumsum decode
# is faster (measured ~0.9x on run-free random walks, 4-10x on runs).
_RUN_FRACTION_MIN = 0.10


def _group_partials(g: _Group) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-series (sum, max, min) of a group, and the one place the
    RLE-run fast path is chosen: a 64-bit delta / doubledelta group with
    enough zero-width blocks aggregates from its block headers
    (_run_partials_i64); any other group decodes, then aggregates."""
    nb = g.nbits
    if (
        g.w == 64 and g.mode in ("delta", "doubledelta") and len(nb)
        and (nb == 0).sum() >= _RUN_FRACTION_MIN * len(nb)
    ):
        return _run_partials_i64(g)
    return series_partials(_group_values(g).astype(np.int64), g.ns)


def query_batch_partials(
    blobs: list[bytes],
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(counts, sums, maxs, mins) across many SZ1 blobs, from the groups
    decode_batch parses (_parse_batch): each group's partials come from
    _group_partials; dyndelta / ewma / booldelta blobs decode one at a
    time. An empty blob gives (0, 0, INT64_MIN, INT64_MAX)."""
    cnts = np.zeros(len(blobs), np.int64)
    sums, maxs, mins = cnts.copy(), cnts.copy(), cnts.copy()
    groups, state = _parse_batch(blobs)
    for idx, g in groups:
        cnts[idx] = g.ns
        sums[idx], maxs[idx], mins[idx] = _group_partials(g)
    if state:
        vals = [decode_column(blobs[i]).astype(np.int64) for i in state]
        cnts[state] = [len(v) for v in vals]
        sums[state], maxs[state], mins[state] = series_partials(
            np.concatenate(vals), cnts[state]
        )
    return cnts, sums, maxs, mins


def query_compressed(buf: bytes, op: str) -> int | None:
    """Fused aggregate over a compressed blob without materializing the
    series — the analog of the reference's query-on-compressed path
    (reference: cpp/Compress/query.hpp:22-296,
    sprintz_delta_rle_query.hpp:272-311).

    op in {'max', 'min', 'sum', 'count'}. 64-bit delta/doubledelta blobs
    use the RLE-run fast path (see _group_partials): zero-width blocks
    contribute value*run_length to sums and one compare to max/min with
    no bit unpacking; only nonzero blocks touch payload. Other modes
    decode then aggregate. Values are int64 (wraparound-identical to the
    decoder).
    """
    if op == "count":
        return _parse(buf)[2]
    if op not in ("sum", "max", "min"):
        raise ValueError(f"unknown op {op}")
    n, s, mx, mn = (int(a[0]) for a in query_batch_partials([buf]))
    if op == "sum":
        return s
    if n == 0:
        return None
    return mx if op == "max" else mn


def compressed_size_report(buf: bytes) -> dict:
    """Size accounting per section (for compression-ratio metrics)."""
    mode, w, n, pad, extra, nbits, payload, _firsts = _parse(buf)
    raw_bytes = n * (w // 8)
    return {
        "mode": mode,
        "w": int(w),
        "n": int(n),
        "raw_bytes": int(raw_bytes),
        "compressed_bytes": len(buf),
        "payload_bytes": len(payload),
        "ratio": (raw_bytes / len(buf)) if len(buf) else float("nan"),
        "zero_blocks": int((nbits == 0).sum()),
        "nblocks": int(len(nbits)),
    }


# --- multi-series container ('C') ------------------------------------------
#
# One blob for MANY series of one column (tier stores with tiny per-key
# series — e.g. the daily tier's 1-3-point series — would otherwise pay
# ~10-21 B of per-blob framing each). Per-series data shrinks to a varint
# length + varint zigzag first value(s); block headers and payload are
# shared across the whole container, and since every series' leading
# residuals and pad slots are zeroed, a 1-point series contributes zero
# payload bits. Layout:
#
#   'C' | mode(3b)|w_code(2b)|0 | uvarint n_series | uvarint n[i]... |
#   uvarint zz(x0[i])... [| uvarint zz(d1[i])... if doubledelta] |
#   uvarint nruns | run values u8[] | run lengths varint[] |
#   payload (trailing zeros stripped)

MAGIC_CONTAINER = 0x43  # b'C'


def encode_container(
    values: np.ndarray, lengths: np.ndarray, mode: str = "delta", deflate: bool = True
) -> bytes:
    """Encode many series (concatenated ``values`` cut by ``lengths``) of
    one column into ONE blob. mode: 'delta' | 'doubledelta' | 'auto'
    ('auto' cost-selects by summed block bitwidths before packing)."""
    if mode not in ("delta", "doubledelta", "auto"):
        raise ValueError("container supports delta/doubledelta/auto")
    values = np.asarray(values)
    if values.dtype.kind not in "iu":
        raise TypeError(f"encode_container takes integer arrays, got {values.dtype}")
    w = values.dtype.itemsize * 8
    ns = np.asarray(lengths, dtype=np.int64)
    u, pads, plens, dst_starts = _pad_concat(values, ns, _UNSIGNED[w])
    z1, z2, x0s, gaps = _residuals(u, ns, pads, plens, dst_starts, w, ns > 0)
    if mode == "auto":
        nb1 = bitpack.block_nbits(z1, BLOCK)
        nb2 = bitpack.block_nbits(z2, BLOCK)
        # dd pays an extra varint per series for d1; compare payload+firsts
        dd = int(nb2.sum()) + len(ns) < int(nb1.sum())
        z, nb = (z2, nb2) if dd else (z1, nb1)
    else:
        dd = mode == "doubledelta"
        z = z2 if dd else z1
        nb = bitpack.block_nbits(z, BLOCK)
    payload = bitpack.pack_blocks(z, nb, BLOCK).rstrip(b"\x00")
    hdr = rle.encode_headers(nb)
    head = [[len(ns)], ns, zigzag.encode(x0s)] + [zigzag.encode(gaps)] * dd
    head.append([int.from_bytes(hdr[:4], "little")])  # nruns
    varints, _ = rle.uvarint_batch(
        np.concatenate([np.asarray(h).astype(np.uint64) for h in head])
    )
    packed = (MODES["doubledelta" if dd else "delta"] << 5) | (_W_CODE[w] << 3)
    return _maybe_deflate(
        bytes([MAGIC_CONTAINER, packed]) + varints + hdr[4:] + payload, deflate
    )


def _parse_container(buf: bytes) -> _Group:
    """The _Group of a container blob, shared by decode_container and
    query_container_partials: every non-empty series has out-of-band
    firsts. A head that runs past the blob or disagrees with its block
    headers raises CorruptBlobError."""
    buf = _inflate(buf)
    if buf[0] != MAGIC_CONTAINER:
        raise CorruptBlobError(f"bad container magic {buf[0]:#04x}")
    if len(buf) < 2 or buf[1] >> 5 not in (MODES["delta"], MODES["doubledelta"]):
        raise CorruptBlobError("container truncated or of a mode it cannot hold")
    mode = _MODE_NAMES[buf[1] >> 5]
    w = _W_FROM_CODE[(buf[1] >> 3) & 0x3]
    (m,), pos = rle.read_uvarints(buf, 2, 1)
    if m > len(buf) - pos:
        raise CorruptBlobError("container truncated: more series than bytes left")
    m = int(m)
    # ns, zz(x0)s [, zz(d1)s], nruns
    head, pos = rle.read_uvarints(buf, pos, (3 if mode == "doubledelta" else 2) * m + 1)
    run_vals, run_lens, pos = rle.read_runs(buf, pos, int(head[-1]))
    blocks = int(run_lens.sum())
    ns = head[:m]
    if (ns > BLOCK * blocks).any() or run_vals.max(initial=0) > w:
        raise CorruptBlobError("container head disagrees with its block headers")
    ns = ns.astype(np.int64)
    if (ns + (-ns) % BLOCK).sum() != BLOCK * blocks:
        raise CorruptBlobError("container head disagrees with its block headers")
    x0s = zigzag.decode(head[m : 2 * m]).view(np.uint64)
    if mode == "doubledelta":
        d1s = zigzag.decode(head[2 * m : 3 * m]).view(np.uint64)
    else:
        d1s = np.zeros(m, np.uint64)
    nbits = np.repeat(run_vals, run_lens)
    return _Group(mode, w, ns, ns > 0, x0s, d1s, nbits, _zero_extend(buf[pos:], nbits))


def query_container_partials(
    buf: bytes,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Per-series (counts, sums, maxs, mins) straight from a container blob.

    Container series are individually block-padded, so each series owns
    whole blocks and _group_partials' RLE-run fast path applies per
    series: the tiny constant-heavy daily-tier series aggregate from
    headers alone. An empty series gives (0, 0, INT64_MIN, INT64_MAX)."""
    g = _parse_container(buf)
    return g.ns, *_group_partials(g)


def decode_container(buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_container: (values_concat, lengths)."""
    g = _parse_container(buf)
    return _group_values(g), g.ns
