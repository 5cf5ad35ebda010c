"""Run-length coding of the per-block bitwidth (header) stream, and the
package's varint codes.

The reference RLE-codes runs of all-zero blocks with a 7-bit-continuation
varint run counter capped at 0x7fff blocks (reference:
cpp/Compress/sprintz_delta_rle.cpp:214-276, run cap at :68). We generalize:
the whole header stream is (value, run-length) coded — a run of zero-width
blocks (constant signal under delta) costs ~3 bytes total regardless of
length, and so does any other constant-width stretch.

Two varint codes live here. Run lengths use a one-or-two-byte code
(varint_encode / varint_decode) whose second byte holds 8 bits, so it is
LEB128 only below 2^14. Everything else — 'Y' and container heads, run
counts, Huffman block offsets — is LEB128 u64 (uvarint_batch to write;
read_uvarints for consecutive varints, uvarints_at for one varint at
each of many offsets).
"""

from __future__ import annotations

import numpy as np

RUN_CAP = 0x7FFF  # max blocks per run (reference: sprintz_delta_rle.cpp:68)
# read_uvarints loops in Python up to this count: numpy's fixed per-call
# cost (~30-45 us) beats the loop from ~40 container-head varints (1-, 4-
# and 8-byte mix) and ~150 one-byte ones (4 vCPUs, best of 5 x 200 calls)
_FEW_VARINTS = 32


class CorruptBlobError(ValueError):
    """A blob that is malformed (bad magic, truncated) or that its row contradicts."""


def varint_encode(values: np.ndarray) -> bytes:
    """The header run-length code, vectorized, for values <= RUN_CAP:
    one byte below 128, else two — (v & 0x7F) | 0x80, then v >> 7. The
    second byte holds 8 bits, so from 2^14 on this is not LEB128."""
    values = np.asarray(values, dtype=np.int64)
    assert (values >= 0).all() and (values <= RUN_CAP).all()
    small = values < 128
    out = np.empty(int(len(values) + (~small).sum()), dtype=np.uint8)
    # positions: each value takes 1 or 2 bytes
    sizes = np.where(small, 1, 2)
    starts = np.concatenate([[0], np.cumsum(sizes)[:-1]])
    out[starts[small]] = values[small]
    big = ~small
    out[starts[big]] = (values[big] & 0x7F) | 0x80
    out[starts[big] + 1] = values[big] >> 7
    return out.tobytes()


def varint_decode(buf, count: int) -> tuple[np.ndarray, int]:
    """Decode ``count`` run lengths of varint_encode's code from the start
    of ``buf``; returns (values int64, bytes consumed). A code cut off by
    the end of ``buf`` raises CorruptBlobError."""
    vals, pos = [], 0
    try:
        for _ in range(count):
            b0 = buf[pos]
            vals.append((b0 & 0x7F) | buf[pos + 1] << 7 if b0 >= 0x80 else b0)
            pos += 1 + (b0 >= 0x80)
    except IndexError:
        raise CorruptBlobError("blob truncated inside a run length") from None
    return np.array(vals, np.int64), pos


def rle_encode(seq: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(values, run_lengths) for a 1-D array, runs capped at RUN_CAP."""
    seq = np.asarray(seq)
    if len(seq) == 0:
        return np.empty(0, seq.dtype), np.empty(0, np.int64)
    change = np.flatnonzero(np.diff(seq) != 0)
    starts = np.concatenate([[0], change + 1])
    lengths = np.diff(np.concatenate([starts, [len(seq)]]))
    values = seq[starts]
    if lengths.max() > RUN_CAP:
        # split over-cap runs (vectorized expansion)
        reps = (lengths + RUN_CAP - 1) // RUN_CAP
        values = np.repeat(values, reps)
        split = []
        for length, r in zip(lengths, reps):
            if r == 1:
                split.append(length)
            else:
                split.extend([RUN_CAP] * (r - 1) + [length - RUN_CAP * (r - 1)])
        lengths = np.asarray(split, dtype=np.int64)
    return values, lengths.astype(np.int64)


_VARINT_LIMITS = np.uint64(1) << np.arange(7, 64, 7, dtype=np.uint64)  # 2^7 .. 2^63


def uvarint_batch(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """LEB128 varints for arbitrary uint64 values, vectorized across the
    batch; returns (concatenated bytes, offsets[n+1]) so value i's varint
    is buf[offsets[i]:offsets[i+1]]."""
    v = np.asarray(values, dtype=np.uint64)
    nb = 1 + np.searchsorted(_VARINT_LIMITS, v, side="right")  # bytes each
    offs = np.concatenate([[0], np.cumsum(nb)])
    idx = np.repeat(np.arange(len(v)), nb)
    j = np.arange(offs[-1]) - offs[idx]  # byte j of value idx
    out = (v[idx] >> (7 * j).astype(np.uint64)) & np.uint64(0x7F)
    out |= (j < nb[idx] - 1).astype(np.uint64) << np.uint64(7)  # continuation
    return out.astype(np.uint8).tobytes(), offs


def read_uvarints(buf, pos: int, count: int) -> tuple[np.ndarray, int]:
    """Read ``count`` consecutive LEB128 varints from ``buf[pos:]`` in one
    vectorized pass. Returns (values u64, position after the last one).
    A varint cut off by the end of ``buf`` or longer than 64 bits raises
    CorruptBlobError."""
    if count <= _FEW_VARINTS:
        # a handful: numpy's per-call cost would dominate, so loop
        vals = []
        try:
            for _ in range(count):
                v = shift = 0
                while buf[pos] >= 0x80:
                    v |= (buf[pos] & 0x7F) << shift
                    pos += 1
                    shift += 7
                    if shift > 63:
                        raise CorruptBlobError("varint overflows 64 bits")
                vals.append(v | buf[pos] << shift)
                pos += 1
        except IndexError:
            raise CorruptBlobError("blob truncated inside a varint") from None
        if vals and max(vals) >> 64:
            raise CorruptBlobError("varint overflows 64 bits")
        return np.array(vals, np.uint64), pos
    # a u64 varint is at most 10 bytes: scan only that prefix
    arr = np.frombuffer(buf, np.uint8, offset=pos)[: 10 * count]
    term = np.flatnonzero(arr < 0x80)[:count]
    if len(term) < count:
        raise CorruptBlobError("blob truncated inside a varint")
    starts = np.empty(count, np.int64)
    starts[0] = 0
    starts[1:] = term[:-1] + 1
    widths = term + 1 - starts
    # 10 bytes carry 70 bits: the 10th may only hold bit 63
    if widths.max() > 10 or (arr[term[widths == 10]] > 1).any():
        raise CorruptBlobError("varint overflows 64 bits")
    end = int(term[-1]) + 1
    shift = 7 * (np.arange(end, dtype=np.int64) - np.repeat(starts, widths))
    vals = (arr[:end] & 0x7F).astype(np.uint64) << shift.astype(np.uint64)
    return np.bitwise_or.reduceat(vals, starts), pos + end


def uvarints_at(big: np.ndarray, pos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Read one LEB128 varint starting at each position of ``pos`` in the
    u8 array ``big`` — vectorized across positions (<= 10 masked passes,
    one per varint byte). Returns (values u64, positions after them)."""
    m = len(pos)
    vals = np.zeros(m, np.uint64)
    cur = pos.astype(np.int64).copy()
    if not m:
        return vals, cur
    active = np.arange(m)
    shift = np.uint64(0)
    while len(active):
        b = big[cur[active]].astype(np.uint64)
        vals[active] |= (b & np.uint64(0x7F)) << shift
        cur[active] += 1
        active = active[(b & np.uint64(0x80)) != 0]
        shift += np.uint64(7)
    return vals, cur


def rle_runs_segmented(
    seq: np.ndarray, seg_starts: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Global RLE of a concatenated stream with runs FORCED to break at
    segment boundaries (and at RUN_CAP) — equivalent to rle_encode run
    independently per segment, in one vectorized pass.

    Returns (run_starts, run_values, run_lengths); run_starts is sorted so
    each segment's runs are the slice searchsorted(run_starts, seg_start)
    .. searchsorted(run_starts, seg_end)."""
    seq = np.asarray(seq)
    n = len(seq)
    if n == 0:
        return np.empty(0, np.int64), np.empty(0, seq.dtype), np.empty(0, np.int64)
    brk = np.zeros(n, dtype=bool)
    brk[0] = True
    brk[1:] = seq[1:] != seq[:-1]
    ss = np.asarray(seg_starts, dtype=np.int64)
    brk[ss[(ss >= 0) & (ss < n)]] = True
    r_starts = np.flatnonzero(brk).astype(np.int64)
    r_lens = np.diff(np.append(r_starts, n))
    r_vals = seq[r_starts]
    if r_lens.max() > RUN_CAP:
        reps = (r_lens + RUN_CAP - 1) // RUN_CAP
        idx = np.repeat(np.arange(len(r_lens)), reps)
        k = np.arange(int(reps.sum()), dtype=np.int64) - np.repeat(
            np.concatenate([[0], np.cumsum(reps)[:-1]]), reps
        )
        r_starts = r_starts[idx] + k * RUN_CAP
        r_lens = np.minimum(r_lens[idx] - k * RUN_CAP, RUN_CAP)
        r_vals = r_vals[idx]
    return r_starts, r_vals, r_lens.astype(np.int64)


def encode_headers(nbits: np.ndarray) -> bytes:
    """Serialize the per-block bitwidth stream: u32 #runs, then run values
    (u8 each), then run lengths (varint each)."""
    if len(nbits) < 64:
        # pure-python fast path: numpy call overhead dominates tiny headers
        vals, lens = [], []
        prev, run = None, 0
        for b in nbits.tolist():
            if b == prev and run < RUN_CAP:
                run += 1
            else:
                if prev is not None:
                    vals.append(prev)
                    lens.append(run)
                prev, run = b, 1
        if prev is not None:
            vals.append(prev)
            lens.append(run)
        out = bytearray(len(vals).to_bytes(4, "little"))
        out += bytes(vals)
        for ln in lens:
            if ln < 128:
                out.append(ln)
            else:
                out.append((ln & 0x7F) | 0x80)
                out.append(ln >> 7)
        return bytes(out)
    values, lengths = rle_encode(nbits.astype(np.uint8))
    nruns = np.uint32(len(values)).tobytes()
    return nruns + values.astype(np.uint8).tobytes() + varint_encode(lengths)


def read_runs(buf, pos: int, nruns: int) -> tuple[np.ndarray, np.ndarray, int]:
    """The ``nruns`` header runs at ``buf[pos:]`` — run values (u8 each),
    then run lengths (varint_encode's code each). Returns (values,
    lengths, end)."""
    if nruns > len(buf) - pos:
        raise CorruptBlobError("blob truncated: more header runs than bytes left")
    values = np.frombuffer(buf, np.uint8, nruns, pos)
    lengths, used = varint_decode(memoryview(buf)[pos + nruns :], nruns)
    return values, lengths, pos + nruns + used


def decode_headers(buf: bytes) -> tuple[np.ndarray, int]:
    """Inverse of encode_headers: (nbits array, bytes consumed)."""
    values, lengths, end = read_runs(buf, 4, int.from_bytes(buf[:4], "little"))
    return np.repeat(values, lengths), end
