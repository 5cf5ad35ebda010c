"""Canonical Huffman entropy coder over bytes — the reference's entropy
stage done for real (the sprintz paper applies Huffman after bit-packing;
the repo's C++ ships it only in the paper experiments, so round 2 used a
zlib analog 'W'; this module closes that gap with an actual canonical
Huffman code).

Design (all public-knowledge: canonical Huffman per DEFLATE RFC 1951 §3.2.2
code construction):

* encode: byte histogram -> Huffman tree (two-queue O(n) merge) ->
  code LENGTHS only ->
  canonical codes assigned in (length, symbol) order. Bit-packing is
  vectorized byte-wise: each code (<=15 bits at a <=7-bit phase) is
  left-aligned in a 24-bit window spanning exactly 3 output bytes, and
  each byte lane is OR-merged with np.bitwise_or.reduceat (indices within
  a lane are sorted because symbol start offsets are increasing).
* decode: table-driven canonical decode, vectorized ACROSS sub-blocks:
  the stream is cut into independent sub-blocks at encode time (bit
  offsets in the header), so decode advances in EVERY sub-block at once.
  Two speed tricks on top of the basic one-symbol-per-iteration loop:
  (1) MULTI-SYMBOL lookup tables (the Huff0 trick): each 2^WIN_BITS-
  entry table hit emits every complete code in the 16-bit window (up
  to 8) — the window is one bit WIDER than the longest code so two
  8-bit codes always pair, which is what keeps the trick alive on
  byte-uniform data; (2) the window itself is read as a 24-bit
  big-endian integer from a precomputed per-byte base array — one
  gather + shifts instead of a 16-wide bit gather. Work is O(n) with
  numpy ops of width n_blocks — the same "independent blocks make
  entropy decode parallel" observation the reference's block format is
  built on. Measured ~42 MB/s/core on 8-bit/symbol uniform data and
  ~55-58 MB/s/core on highly skewed data; the remaining wall is numpy
  per-op dispatch over the ~10K-lane emit vectors (BASELINE.md has the
  closing ceiling analysis).
* max code length is capped at 15 by flattening the histogram (repeated
  sqrt) until the tree fits — the standard depth-limiting heuristic —
  which is what the 4-bit nibble length table requires; the decode
  table is 2^WIN_BITS = 2^16 entries (window width is decoder-internal
  and independent of the wire format).

Container: 'HUF1' magic | u32 n_symbols | u16 block_syms | 128 B nibble-
packed code lengths | u32 n_blocks | varint bit-offset deltas | payload.

The sub-block size adapts per blob (power of two, 64..4096, targeting
~16k blocks): decode's vectorized loop runs block_syms/mean_m iterations
over n_blocks-wide gathers, so small blobs must not pay thousands of
fixed numpy-call overheads, while huge blobs keep wide lanes (the
per-block header cost stays 2-4 varint bytes, <1% of payload).
"""

from __future__ import annotations

import numpy as np

from sprintz_spark.codecs.rle import CorruptBlobError, read_uvarints, uvarint_batch

MAGIC = b"HUF1"
MAX_LEN = 15
# Decoder window width, DECOUPLED from the code-length cap (round 7):
# codes stay <= 15 bits (the 4-bit nibble length table pins that wire
# format), but the lookup window is 16 bits so two 8-bit codes fit in
# one window — on uniform-ish byte data the multi-symbol trick was dead
# at a 15-bit window (k_max = 15//8 = 1, one symbol per visit) and this
# alone doubles its throughput. Window reads still come from the same
# 24-bit per-byte base: offset o in 0..7 leaves 24-o >= 17 >= 16 bits.
WIN_BITS = 16
BLOCK_SYMS = 4096  # max symbols per independently-decodable sub-block
MIN_BLOCK_SYMS = 64
# Decode wall-time is (iterations ~ block_syms) x (per-numpy-call overhead
# amortized over n_blocks lanes): targeting ~8-16k blocks on big blobs
# keeps every vectorized op thousands of lanes wide while the per-block
# header cost (2-4 varint bytes) stays <1% of payload.
TARGET_BLOCKS = 16384


def _block_syms(n: int) -> int:
    """Power-of-two sub-block size in [MIN_BLOCK_SYMS, BLOCK_SYMS]."""
    if n <= 0:
        return MIN_BLOCK_SYMS
    bs = 1 << max(0, (n // TARGET_BLOCKS)).bit_length()
    return max(MIN_BLOCK_SYMS, min(BLOCK_SYMS, bs))


def _code_lengths(counts: np.ndarray) -> np.ndarray:
    """Huffman code lengths per symbol (0 = unused), depth-capped at
    MAX_LEN by histogram flattening.

    Tree construction is the classic two-queue O(n) merge (van Leeuwen
    1976): with leaves pre-sorted by weight, merged internal nodes are
    produced in nondecreasing weight order, so the two smallest live
    nodes are always at the heads of the leaf queue and the internal
    FIFO — no heap. Depths then come from one parent-pointer pass in
    reverse creation order. ~5x faster than heapq on the per-chunk
    probe path (the build runs once per encoded blob)."""
    counts = counts.astype(np.float64)
    while True:
        sym = np.flatnonzero(counts)
        if len(sym) == 0:
            return np.zeros(256, np.uint8)
        if len(sym) == 1:
            out = np.zeros(256, np.uint8)
            out[sym[0]] = 1
            return out
        order = np.argsort(counts[sym], kind="stable")
        leaf_sym = sym[order]
        n = len(leaf_sym)
        # node ids: 0..n-1 leaves (in sorted-weight order), n.. internal
        # .tolist() yields native floats: the merge loop below runs on
        # plain-Python scalars, not numpy-scalar dispatch (~20% faster)
        weights = counts[leaf_sym].tolist() + [0.0] * (n - 1)
        left = [0] * (n - 1)
        right = [0] * (n - 1)
        li = 0  # leaf queue head
        ii = n  # internal FIFO head (node id)
        nxt = n  # next internal id to create

        def _pop():
            nonlocal li, ii
            if li < n and (ii >= nxt or weights[li] <= weights[ii]):
                li += 1
                return li - 1
            ii += 1
            return ii - 1

        for _ in range(n - 1):
            a = _pop()
            b = _pop()
            left[nxt - n] = a
            right[nxt - n] = b
            weights[nxt] = weights[a] + weights[b]
            nxt += 1
        depth = [0] * (2 * n - 1)
        for node in range(nxt - 1, n - 1, -1):  # reverse creation = top-down
            k = node - n
            depth[left[k]] = depth[node] + 1
            depth[right[k]] = depth[node] + 1
        lens = np.zeros(256, np.uint8)
        lens[leaf_sym] = np.maximum(np.asarray(depth[:n], np.int64), 1)
        if lens.max() <= MAX_LEN:
            return lens
        # flatten the histogram and retry (standard depth-limit heuristic)
        counts = np.where(counts > 0, np.ceil(np.sqrt(counts)), 0.0)


def _canonical_codes(lens: np.ndarray) -> np.ndarray:
    """Canonical code per symbol from lengths (RFC 1951 construction)."""
    codes = np.zeros(256, np.uint32)
    code = 0
    bl_count = np.bincount(lens, minlength=MAX_LEN + 1)
    bl_count[0] = 0  # unused symbols must not advance the code (RFC 1951)
    next_code = np.zeros(MAX_LEN + 2, np.uint32)
    for l in range(1, MAX_LEN + 1):
        code = (code + int(bl_count[l - 1])) << 1
        next_code[l] = code
    order = np.lexsort((np.arange(256), lens))
    for s in order:
        if lens[s]:
            codes[s] = next_code[lens[s]]
            next_code[lens[s]] += 1
    return codes


def _block_bit_starts(mv: memoryview) -> tuple[np.ndarray, int]:
    """Bit offsets of the block starts (cumsum of the varint deltas after
    the u32 block count at byte 138) and the payload's byte offset."""
    n_blocks = int(np.frombuffer(mv[138:142], np.uint32)[0])
    deltas, pos = read_uvarints(mv, 142, n_blocks)
    if (deltas >= np.uint64(1 << 63)).any():
        # would wrap the int64 bit offsets negative
        raise CorruptBlobError("varint overflows int64 in block header")
    return np.cumsum(deltas.astype(np.int64)), pos


def huffman_encode(data) -> bytes:
    """bytes/uint8 array -> canonical-Huffman container."""
    x = np.frombuffer(data, np.uint8) if isinstance(data, (bytes, bytearray)) else np.ascontiguousarray(data, np.uint8)
    n = len(x)
    lens_tbl = _code_lengths(np.bincount(x, minlength=256)) if n else np.zeros(256, np.uint8)
    codes_tbl = _canonical_codes(lens_tbl)
    # int32 bit-position arithmetic throughout: a single blob is bounded
    # far below 2^31 bits (256 MB) by the chunked encode path; narrower
    # temporaries halve the memory traffic of this streaming pass
    sym_lens = lens_tbl[x].astype(np.int32)
    sym_codes = codes_tbl[x]
    bs = _block_syms(n)
    # sub-block bit offsets (every bs symbols)
    ends = np.cumsum(sym_lens, dtype=np.int64)
    total_bits = int(ends[-1]) if n else 0
    if total_bits >= (1 << 31):  # data-integrity bound: never an assert
        raise ValueError("blob too large for one huffman frame (>=2^31 bits)")
    ends = ends.astype(np.int32)
    starts_bits = ends - sym_lens  # per-symbol start bit
    blk_starts = starts_bits[::bs].astype(np.int64) if n else np.zeros(0, np.int64)
    # vectorized pack, byte-lane OR-merge: left-align each code in a
    # 24-bit window at byte (start>>3); window bits outside the code are
    # zero, so overlapping windows combine by OR
    n_payload = (total_bits + 7) >> 3
    out = np.zeros(n_payload + 2, np.uint8)  # +2: last window may overrun
    if n:
        shift = (24 - sym_lens - (starts_bits & 7)).astype(np.uint32)
        win = sym_codes << shift
        base = starts_bits >> 3
        # group boundaries are identical for all three lanes (base+k only
        # translates every index), and OR is bytewise — so ONE uint32
        # reduceat merges each group's whole 24-bit window, and the three
        # output byte lanes are split from the already-reduced groups
        # (4.5M values) instead of reducing the full stream three times
        cut = np.empty(n, bool)
        cut[0] = True
        np.not_equal(base[1:], base[:-1], out=cut[1:])
        gpos = np.flatnonzero(cut)
        ob = base[gpos]
        merged = np.bitwise_or.reduceat(win, gpos)
        for k in range(3):
            out[ob + k] |= (merged >> np.uint32(16 - 8 * k)).astype(np.uint8)
    payload = out[:n_payload].tobytes()
    nibbles = (lens_tbl[0::2] << 4) | lens_tbl[1::2]
    head = bytearray(MAGIC)
    head += np.uint32(n).tobytes()
    head += np.uint16(bs).tobytes()
    head += nibbles.astype(np.uint8).tobytes()  # 128 bytes of code lengths
    head += np.uint32(len(blk_starts)).tobytes()
    # vectorized LEB128 of the block-start deltas (a per-block Python loop
    # was ~0.5us per block and capped how many decode lanes a blob could
    # afford)
    deltas, _offs = uvarint_batch(np.diff(blk_starts, prepend=0).astype(np.uint64))
    head += deltas
    return bytes(head) + payload


def _decode_table(lens_tbl: np.ndarray):
    """2^WIN_BITS lookup: window -> (symbol, code length).

    Built with one np.repeat: canonical codes sorted by (length, symbol)
    tile the window space contiguously from 0 (next base = prev base +
    prev span, the canonical-code invariant), so the table IS the
    run-length expansion of that ordering. Incomplete codes (Kraft < 1)
    leave only a zero tail."""
    # (the tiling invariant is pinned by the roundtrip + prefix-freedom
    # tests against _canonical_codes, so the codes need not be built here)
    used = np.flatnonzero(lens_tbl)
    sym = np.zeros(1 << WIN_BITS, np.uint8)
    ln = np.zeros(1 << WIN_BITS, np.uint8)
    if len(used):
        order = used[np.lexsort((used, lens_tbl[used]))]
        l = lens_tbl[order].astype(np.int64)
        spans = 1 << (WIN_BITS - l)
        total = int(spans.sum())
        sym[:total] = np.repeat(order.astype(np.uint8), spans)
        ln[:total] = np.repeat(l.astype(np.uint8), spans)
    return sym, ln


def _multi_decode_table(lens_tbl: np.ndarray, n_syms: int = 1 << 30):
    """Multi-symbol lookup tables (the Huff0/FSE trick): for every
    WIN_BITS-bit window, how many COMPLETE codes it holds (up to K), the symbols they
    decode to, the cumulative bit length after each, and the bits
    consumed by taking all of them. One table hit then emits several
    symbols, dividing the vectorized loop's iteration count by the mean
    symbols-per-window (~2-3 at typical 4-6-bit codes, more on skewed
    data).

    Built over SHRINKING window subsets: pass k looks up the
    single-symbol table at each still-valid window shifted past its
    first k codes; a window leaves the working set once the next code no
    longer fits in WIN_BITS bits (bits beyond the window are unknown at
    table-build time). Cost is W * (1 + fit2_frac + fit3_frac + ...)
    rather than K * W — the build runs per decoded blob, so it must stay
    well under a millisecond for small-chunk workloads.

    Returns (syms[K][W], clen[K][W], cnt[W], K, advfull[W])."""
    sym_t, len_t = _decode_table(lens_tbl)
    used = lens_tbl[lens_tbl > 0]
    minlen = int(used.min()) if len(used) else 1
    # each extra table pass costs ~2^WIN_BITS (= 2^16) vectorized ops up
    # front (~11 ms total at k_max=8 on this host); cap the
    # depth by blob size so small blobs don't pay a build they can never
    # amortize (k=1 degenerates to the single-symbol table)
    k_max = max(1, min(8, WIN_BITS // minlen, n_syms >> 14))
    w_count = 1 << WIN_BITS
    syms = np.zeros((k_max, w_count), np.uint8)
    clen = np.zeros((k_max, w_count), np.uint8)
    cnt = np.zeros(w_count, np.uint8)
    advfull = np.zeros(w_count, np.uint8)
    idx = np.arange(w_count, dtype=np.int32)
    curw = idx
    cum = np.zeros(w_count, np.int32)
    for k in range(k_max):
        lk = len_t[curw].astype(np.int32)
        ok = (lk > 0) & (cum + lk <= WIN_BITS)
        if not ok.all():
            idx = idx[ok]
            curw = curw[ok]
            cum = cum[ok]
            lk = lk[ok]
        if not len(idx):
            break
        cum = cum + lk
        syms[k, idx] = sym_t[curw]
        clen[k, idx] = cum
        cnt[idx] = k + 1
        advfull[idx] = cum
        curw = (idx << cum) & (w_count - 1)
    return syms, clen, cnt, k_max, advfull


def huffman_decode_batch(blobs: list[bytes]) -> list[np.ndarray]:
    """Decode MANY small HUF1 containers in ONE lockstep pass.

    The per-blob decoder builds a 2^16-entry multi-symbol table per blob
    (~1.3 ms) and runs its vectorized loop over that blob's few
    sub-block lanes — tiny-chunk workloads (hundreds of symbols per
    blob) pay ~2.8 ms/blob of fixed cost (r10 profile). Here every blob
    >= 2^14 symbols still takes that route (the wide tables amortize),
    but all smaller blobs decode together: per-blob SINGLE-SYMBOL
    tables sized 2^Lmax_b (Lmax_b = the blob's longest code, typically
    2^9-2^12 entries, built by two global np.repeat passes) are
    concatenated, payloads are concatenated behind one 24-bit window
    base, and one masked loop advances every (blob, sub-block) lane at
    once — iteration count is the sub-block size (64 for small blobs)
    while lane width is the TOTAL block count across blobs."""
    out: list = [None] * len(blobs)
    small: list[tuple] = []
    for i, buf in enumerate(blobs):
        mv = memoryview(buf)
        if bytes(mv[:4]) != MAGIC:
            raise CorruptBlobError(f"not a HUF1 container: {bytes(mv[:4])!r}")
        n = int(np.frombuffer(mv[4:8], np.uint32)[0])
        if n == 0 or n >= (1 << 14):
            out[i] = huffman_decode(buf)
            continue
        bs = int(np.frombuffer(mv[8:10], np.uint16)[0])
        nib = np.frombuffer(mv[10:138], np.uint8)
        lens_tbl = np.empty(256, np.uint8)
        lens_tbl[0::2] = nib >> 4
        lens_tbl[1::2] = nib & 0x0F
        blk_bits, pos = _block_bit_starts(mv)
        small.append((i, n, bs, lens_tbl, blk_bits, bytes(mv[pos:])))
    if not small:
        return out
    m = len(small)
    # per-blob small windows: L_b = longest code present (>= 1)
    Ls = np.array([max(int(s[3].max()), 1) for s in small], np.int64)
    tbl_sizes = (np.int64(1) << Ls).astype(np.int64)
    tbl_off = np.concatenate([[0], np.cumsum(tbl_sizes)])
    sym_g = np.zeros(int(tbl_off[-1]), np.uint8)
    len_g = np.zeros(int(tbl_off[-1]), np.uint8)
    # canonical tiling per blob, all blobs in two global repeats: blob
    # b's codes sorted by (length, symbol) tile [tbl_off[b], ...) with
    # spans 2^(L_b - l); the Kraft tail stays zero
    ord_parts, span_parts, lsub_parts, filled = [], [], [], np.zeros(m, np.int64)
    for k, (_i, _n, _bs, lens_tbl, _bb, _pl) in enumerate(small):
        used = np.flatnonzero(lens_tbl)
        order = used[np.lexsort((used, lens_tbl[used]))]
        l = lens_tbl[order].astype(np.int64)
        spans = np.int64(1) << (Ls[k] - l)
        ord_parts.append(order.astype(np.uint8))
        span_parts.append(spans)
        lsub_parts.append(l.astype(np.uint8))
        filled[k] = int(spans.sum())
    span_cat = np.concatenate(span_parts)
    rep_sym = np.repeat(np.concatenate(ord_parts), span_cat)
    rep_len = np.repeat(np.concatenate(lsub_parts), span_cat)
    dst = np.arange(len(rep_sym), dtype=np.int64) + np.repeat(
        tbl_off[:-1] - np.concatenate([[0], np.cumsum(filled)[:-1]]), filled
    )
    sym_g[dst] = rep_sym
    len_g[dst] = rep_len
    # concatenated payloads + global 24-bit window base
    pay_lens = np.array([len(s[5]) for s in small], np.int64)
    pay_off = np.concatenate([[0], np.cumsum(pay_lens)])
    pb = np.frombuffer(
        b"".join([s[5] for s in small] + [b"\x00" * 8]), np.uint8
    ).astype(np.int32)
    win_base = (pb[:-2] << 16) | (pb[1:-1] << 8) | pb[2:]
    # one lane per (blob, sub-block)
    nb_per = np.array([len(s[4]) for s in small], np.int64)
    lane_blob = np.repeat(np.arange(m), nb_per)
    cursors = np.concatenate([s[4] for s in small]).astype(np.int64) + np.repeat(
        pay_off[:-1] * 8, nb_per
    )
    ns = np.array([s[1] for s in small], np.int64)
    bss = np.array([s[2] for s in small], np.int64)
    out_off = np.concatenate([[0], np.cumsum(ns)])
    blk_ord = np.arange(len(lane_blob), dtype=np.int64) - np.repeat(
        np.concatenate([[0], np.cumsum(nb_per)[:-1]]), nb_per
    )
    out_pos = out_off[:-1][lane_blob] + blk_ord * bss[lane_blob]
    remaining = np.minimum(
        bss[lane_blob], ns[lane_blob] - blk_ord * bss[lane_blob]
    )
    out_g = np.empty(int(out_off[-1]), np.uint8)
    lane_L = Ls[lane_blob]
    lane_toff = tbl_off[:-1][lane_blob]
    lane_shift = 24 - lane_L
    lane_mask = (np.int64(1) << lane_L) - 1
    ai = np.flatnonzero(remaining > 0)
    while len(ai):
        cur = cursors[ai]
        win = (
            win_base[cur >> 3] >> (lane_shift[ai] - (cur & 7))
        ) & lane_mask[ai]
        t = lane_toff[ai] + win
        out_g[out_pos[ai]] = sym_g[t]
        cursors[ai] = cur + len_g[t]
        out_pos[ai] += 1
        remaining[ai] -= 1
        sel = remaining[ai] > 0
        if not sel.all():
            ai = ai[sel]
    for k, (i, n, _bs, _lt, _bb, _pl) in enumerate(small):
        out[i] = out_g[out_off[k] : out_off[k] + n]
    return out


def huffman_decode(buf: bytes) -> np.ndarray:
    mv = memoryview(buf)
    if bytes(mv[:4]) != MAGIC:
        raise CorruptBlobError(f"not a HUF1 container: {bytes(mv[:4])!r}")
    n = int(np.frombuffer(mv[4:8], np.uint32)[0])
    bs = int(np.frombuffer(mv[8:10], np.uint16)[0])
    nib = np.frombuffer(mv[10:138], np.uint8)
    lens_tbl = np.empty(256, np.uint8)
    lens_tbl[0::2] = nib >> 4
    lens_tbl[1::2] = nib & 0x0F
    blk_bits, pos = _block_bit_starts(mv)
    n_blocks = len(blk_bits)
    payload = np.frombuffer(mv[pos:], np.uint8)
    if not n:
        return np.zeros(0, np.uint8)
    syms_t, clen_t, cnt_t, k_max, advfull_t = _multi_decode_table(lens_tbl, n)
    # 24-bit big-endian window base per BYTE position, built once: the
    # 16-bit window at bit cursor c is (win_base[c>>3] >> (8-(c&7))) &
    # 0xFFFF — one gather + arithmetic instead of a 16-wide bit gather
    # (offset c&7 <= 7 leaves 24-7 = 17 >= WIN_BITS bits in the base)
    pb = np.concatenate([payload, np.zeros(8, np.uint8)]).astype(np.int32)
    win_base = (pb[:-2] << 16) | (pb[1:-1] << 8) | pb[2:]
    out = np.empty(n, np.uint8)
    cursors = blk_bits.copy()
    blk_lens = np.full(n_blocks, bs, np.int64)
    if n_blocks:
        blk_lens[-1] = n - bs * (n_blocks - 1)
    out_pos = np.arange(n_blocks, dtype=np.int64) * bs
    remaining = blk_lens.copy()
    # Phase 1 — whole-array lockstep over every block except the last
    # (all have exactly bs symbols): no active-index gathers, no
    # remaining-cap (m = full window count <= k_max <= remaining), and the
    # advance is the single-gather advfull_t. Runs until any block is
    # within k_max symbols of its end. (A staged contiguous-emit variant
    # was measured slower: its cost scales with 8/m slot padding, losing
    # badly at m < 3; the masked scatters below scale with m.)
    if n_blocks > 1:
        cur = cursors[:-1]
        op = out_pos[:-1]
        rem = remaining[:-1]
        while rem.min() > k_max:
            win = (win_base[cur >> 3] >> (8 - (cur & 7))) & 0xFFFF
            m = cnt_t[win].astype(np.int64)
            out[op] = syms_t[0][win]
            for j in range(1, int(m.max())):
                sel = np.flatnonzero(m > j)
                out[op[sel] + j] = syms_t[j][win[sel]]
            cur += advfull_t[win]
            op += m
            rem -= m
    # Phase 2 — tail cleanup (plus the short last block): active blocks
    # tracked as an integer index vector, emission capped by remaining so
    # bits that belong to the NEXT block (windows are bit-contiguous
    # across block boundaries) are never emitted.
    ai = np.flatnonzero(remaining > 0)
    while len(ai):
        cur = cursors[ai]
        win = (win_base[cur >> 3] >> (8 - (cur & 7))) & 0xFFFF
        m = np.minimum(cnt_t[win].astype(np.int64), remaining[ai])
        op = out_pos[ai]
        out[op] = syms_t[0][win]  # every active block emits >= 1 symbol
        for j in range(1, int(m.max())):
            sel = np.flatnonzero(m > j)
            out[op[sel] + j] = syms_t[j][win[sel]]
        cursors[ai] = cur + clen_t[m - 1, win]
        out_pos[ai] = op + m
        rem = remaining[ai] - m
        remaining[ai] = rem
        if (rem <= 0).any():
            ai = ai[rem > 0]
    return out
