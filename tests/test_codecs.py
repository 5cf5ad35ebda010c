"""Codec round-trip tests mirroring the reference's test input families
(reference: cpp/Compress/test/compress_testing.hpp:252-455 — known
patterns, zeros, seeded fuzz at decreasing entropy, sparse spikes, sizes
crossing the 8-sample block and 16-sample group boundaries)."""

import numpy as np
import pandas as pd
import pytest

from sprintz_spark.codecs import (
    bitpack,
    delta,
    fire,
    gorilla,
    quantize,
    rle,
    zigzag,
)
from sprintz_spark.codecs import sprintz as sz

SIZES = [1, 2, 7, 8, 15, 16, 17, 31, 32, 33, 63, 64, 66, 71, 72, 73, 127,
         128, 129, 135, 136, 137, 4096, 4113]

rng = np.random.default_rng(123)


def _families(n, dtype):
    info = np.iinfo(dtype)
    i = np.arange(n)
    fams = {
        "mod64": (i % 64).astype(dtype),
        "mod128": ((i + 64) % 128).astype(dtype),
        "mod256": ((i + 96) % 256 % (int(info.max) + 1)).astype(dtype),
        "squares": (((i % 16) ** 2 + (i // 16) % 16) % (int(info.max) + 1)).astype(dtype),
        "zeros": np.zeros(n, dtype=dtype),
        "fuzz": rng.integers(0, info.max, n, dtype=dtype, endpoint=True),
        "fuzz_shift4": rng.integers(0, info.max, n, dtype=dtype, endpoint=True) >> np.uint8(4),
        "sparse": rng.integers(0, info.max, n, dtype=dtype, endpoint=True) // dtype(250),
    }
    return fams


@pytest.mark.parametrize("dtype", [np.int8, np.int16, np.int32, np.int64])
def test_zigzag_roundtrip(dtype):
    info = np.iinfo(dtype)
    x = rng.integers(info.min, int(info.max) + 1, 1000).astype(dtype)
    x[:4] = [info.min, info.max, 0, -1 if info.min < 0 else 1]
    z = zigzag.encode(x)
    assert z.dtype.kind == "u"
    np.testing.assert_array_equal(zigzag.decode(z), x)
    # small magnitudes map to small codes
    assert zigzag.encode(np.array([0, -1, 1, -2, 2], dtype=dtype)).tolist() == [0, 1, 2, 3, 4]


@pytest.mark.parametrize("dtype", [np.uint8, np.uint16, np.uint64])
def test_delta_families_roundtrip(dtype):
    for n in SIZES:
        for name, x in _families(n, dtype).items():
            for enc, dec in [
                (delta.delta_encode, delta.delta_decode),
                (delta.double_delta_encode, delta.double_delta_decode),
                (delta.triple_delta_encode, delta.triple_delta_decode),
            ]:
                y = dec(enc(x))
                np.testing.assert_array_equal(
                    y.view(dtype), x, err_msg=f"{name} n={n} {enc.__name__}"
                )


def test_predictor_identities():
    # reference: test_online.cpp:55-140 — const input -> delta residuals all
    # zero after element 0; linear ramp -> double-delta zero after element 1
    const = np.full(42, 7, dtype=np.uint8)
    d = delta.delta_encode(const)
    assert (d[1:] == 0).all() and d[0] == 7
    ramp = (7 + 3 * np.arange(48)).astype(np.uint8)
    dd = delta.double_delta_encode(ramp)
    assert (dd[2:] == 0).all()
    td = delta.triple_delta_encode((np.arange(48) ** 2).astype(np.uint16))
    assert (td[3:] == 0).all()


def test_dynamic_delta_roundtrip_and_choice():
    # blocks of constants (delta wins) then steep ramps (double-delta wins)
    a = np.concatenate([
        np.full(32, 5, np.uint16),
        (1000 + 37 * np.arange(32)).astype(np.uint16),
        rng.integers(0, 1 << 16, 32).astype(np.uint16),
    ])
    resid, mask = delta.dynamic_delta_encode(a)
    back = delta.dynamic_delta_decode(resid, mask)
    np.testing.assert_array_equal(back.view(np.uint16), a)
    bits = np.unpackbits(mask, count=len(a) // 8, bitorder="little")
    assert bits[4:8].all()  # ramp blocks chose double-delta
    assert not bits[1:4].any()  # constant blocks chose delta


def test_bit_length_exact():
    assert bitpack.bit_length(np.array([0], np.uint64))[0] == 0
    for k in range(64):
        v = np.uint64(1) << np.uint64(k)
        assert bitpack.bit_length(np.array([v]))[0] == k + 1
        if k:
            assert bitpack.bit_length(np.array([v - np.uint64(1)]))[0] == k


@pytest.mark.parametrize("dtype", [np.uint8, np.uint16, np.uint32, np.uint64])
def test_bitpack_roundtrip(dtype):
    for n in [8, 64, 4096]:
        for name, x in _families(n, dtype).items():
            nbits = bitpack.block_nbits(x)
            w = np.dtype(dtype).itemsize * 8
            assert nbits.max(initial=0) <= w
            payload = bitpack.pack_blocks(x, nbits)
            back = bitpack.unpack_blocks(payload, nbits, dtype)
            np.testing.assert_array_equal(back, x, err_msg=f"{name} n={n}")


def test_bitpack_width_promotion():
    # w-1 promoted to w (reference: method.tex:291)
    x = np.full(8, 127, np.uint8)  # needs 7 bits -> promoted to 8
    assert bitpack.block_nbits(x)[0] == 8
    x16 = np.full(8, (1 << 15) - 1, np.uint16)
    assert bitpack.block_nbits(x16)[0] == 16


def test_rle_varint_and_headers():
    lengths = np.array([0, 1, 127, 128, 129, 16384, rle.RUN_CAP])
    buf = rle.varint_encode(lengths)
    # one byte below 128, else two whose second holds 8 bits (so from
    # 2^14 on the run-length code is not LEB128)
    assert buf[-4:] == b"\x80\x80\xff\xff"
    vals, used = rle.varint_decode(buf, len(lengths))
    assert used == len(buf)
    np.testing.assert_array_equal(vals, lengths)
    many = np.tile(lengths, 20)  # a header of 140 runs
    vals, used = rle.varint_decode(rle.varint_encode(many) + b"\xff", len(many))
    assert used == len(rle.varint_encode(many))
    np.testing.assert_array_equal(vals, many)
    # long zero run crosses the 0x7fff cap (reference run cap semantics)
    nbits = np.concatenate([
        np.full(rle.RUN_CAP + 10, 0, np.uint8),
        np.array([3, 3, 5], np.uint8),
    ])
    hdr = rle.encode_headers(nbits)
    back, used = rle.decode_headers(hdr)
    assert used == len(hdr)
    np.testing.assert_array_equal(back, nbits)
    assert len(hdr) < 30  # run of 32k blocks costs a few bytes


@pytest.mark.parametrize("w", [8, 16])
def test_fire_roundtrip(w):
    dtype = np.uint8 if w == 8 else np.uint16
    for n in [8, 64, 128, 4096]:
        for name, x in _families(n, dtype).items():
            z = fire.fire_encode(x, w)
            back = fire.fire_decode(z, w)
            np.testing.assert_array_equal(back, x, err_msg=f"{name} n={n}")


@pytest.mark.parametrize("w", [8, 16])
def test_fire_decode_multi_matches_scalar(w):
    # the optimistic zero-coef scan must stay bit-identical to the scalar
    # per-segment decoder on shapes that exercise every branch: zero-coef
    # runs, learned nonzero coefs, oscillating/wrapping counters, nblk
    # skew (one long + many tiny series), and empty segments
    dtype = np.uint8 if w == 8 else np.uint16
    rng = np.random.default_rng(w)
    cases = []
    lens = rng.integers(1, 30, 200) * 8
    cases.append(("small-delta", lens,
                  np.cumsum(rng.integers(0, 3, lens.sum()), dtype=dtype)))
    lens = rng.integers(1, 40, 100) * 8
    slope = np.repeat(rng.integers(1, 50, 100), lens)
    cases.append(("slope", lens, np.cumsum(slope, dtype=dtype)))
    lens = np.full(20, 8 * 200)
    t = np.arange(lens.sum())
    cases.append(("oscillate", lens,
                  np.where((t // 64) % 2 == 0, t * 37, -t * 23).astype(dtype)))
    lens = np.concatenate([[8 * 500], rng.integers(1, 6, 400) * 8])
    cases.append(("skewed", lens,
                  np.cumsum(rng.integers(0, 2, lens.sum()), dtype=dtype)))
    lens = np.array([0, 16, 0, 8, 64, 0])
    cases.append(("empties", lens,
                  np.cumsum(rng.integers(0, 4, lens.sum()), dtype=dtype)))
    for name, lens, vals in cases:
        lens = np.asarray(lens, np.int64)
        starts = np.concatenate([[0], np.cumsum(lens)])
        z = fire.fire_encode_multi(vals, starts, lens, w)
        got = fire.fire_decode_multi(z, starts, lens, w)
        np.testing.assert_array_equal(got, vals, err_msg=name)
        # per-segment scalar reference on a sample of segments
        for i in rng.choice(len(lens), size=min(10, len(lens)), replace=False):
            lo, hi = starts[i], starts[i + 1]
            np.testing.assert_array_equal(
                got[lo:hi],
                fire.fire_decode(z[lo:hi], w),
                err_msg=f"{name} seg {i}",
            )


def test_fire_learns_slope():
    # pure-slope series: residual magnitudes shrink once coef converges
    # (reference: test_online.cpp FIRE behavior; method.tex:153-271)
    # learning rate scales with |delta| (sign-gradient uses prev_delta as
    # magnitude), so use a steep slope for fast convergence
    x = (np.arange(8192) * 1000 % (1 << 16)).astype(np.uint16)
    z = fire.fire_encode(x, 16)
    errs = np.abs(zigzag.decode(z).astype(np.int64))
    assert errs[-1024:].mean() < errs[8:256].mean() / 100
    assert (errs[-1024:] == 0).mean() > 0.9


@pytest.mark.parametrize("mode", ["delta", "doubledelta", "dyndelta", "fire", "raw"])
@pytest.mark.parametrize("dtype", [np.uint8, np.uint16])
def test_sprintz_column_roundtrip(mode, dtype):
    for n in SIZES:
        for name, x in _families(n, dtype).items():
            buf = sz.encode_column(x, mode)
            back = sz.decode_column(buf)
            np.testing.assert_array_equal(back, x, err_msg=f"{name} n={n} {mode}")


@pytest.mark.parametrize("mode", ["delta", "doubledelta", "dyndelta"])
def test_sprintz_wide_ints(mode):
    # 64-bit path for counters / byte sizes / epoch timestamps
    for n in [1, 7, 8, 63, 4096]:
        walk = np.cumsum(rng.integers(-50, 51, n)).astype(np.int64) + 10**12
        buf = sz.encode_column(walk, mode)
        np.testing.assert_array_equal(sz.decode_column(buf).view(np.int64), walk)


def test_sprintz_compresses_constant_runs():
    x = np.full(100_000, 1234, dtype=np.int64)
    buf = sz.encode_column(x, "delta")
    assert len(buf) < 100  # all-zero residual blocks cost ~bytes via RLE
    rep = sz.compressed_size_report(buf)
    assert rep["zero_blocks"] == rep["nblocks"] - 1 or rep["zero_blocks"] == rep["nblocks"]
    np.testing.assert_array_equal(sz.decode_column(buf).view(np.int64), x)


def test_sprintz_query_compressed():
    x = np.abs(np.cumsum(rng.integers(-3, 4, 10_000))).astype(np.int64)
    buf = sz.encode_column(x, "delta")
    assert sz.query_compressed(buf, "sum") == int(x.sum())
    assert sz.query_compressed(buf, "max") == int(x.max())
    assert sz.query_compressed(buf, "min") == int(x.min())
    assert sz.query_compressed(buf, "count") == len(x)


def test_choose_mode_prefers_cheaper():
    const = np.full(512, 9, np.uint8)
    assert sz.choose_mode(const) in ("delta", "doubledelta")
    # steadily accelerating series favors doubledelta over delta
    acc = (np.arange(512) * 3).astype(np.uint16)
    assert len(sz.encode_column(acc, "doubledelta")) <= len(sz.encode_column(acc, "delta"))


def test_gorilla_roundtrip():
    for n in [0, 1, 7, 8, 9, 1000]:
        x = np.cumsum(rng.normal(0, 1, n))
        buf = gorilla.encode(x)
        np.testing.assert_array_equal(gorilla.decode(buf).view(np.uint64),
                                      x.view(np.uint64), err_msg=f"n={n}")
    # specials: NaN, infs, -0.0, denormals round-trip bit-exactly
    s = np.array([np.nan, np.inf, -np.inf, -0.0, 0.0, 5e-324, 1.0])
    np.testing.assert_array_equal(gorilla.decode(gorilla.encode(s)).view(np.uint64),
                                  s.view(np.uint64))
    # slowly-varying series compresses
    smooth = 20.0 + np.cumsum(np.full(10_000, 0.0))
    assert len(gorilla.encode(smooth)) < 8 * 10_000 / 4


def test_quantize_edge_cases():
    # reference: python/test_dfquantize.py, test_dfsqueeze.py:249-305
    cases = [
        (pd.Series([pd.NA, 0], dtype="Int8"), "uint8"),
        (pd.Series([np.nan, 1, 2, 3], dtype="float32"), "uint8"),
        (pd.Series([0, 1, np.nan, 3], dtype="float32"), "uint8"),
        (pd.Series([np.nan, np.nan], dtype="float32"), "uint8"),
        (pd.Series(np.arange(4), dtype="int64"), "uint8"),
        (pd.Series((2**33 + np.arange(6)).astype(np.uint64)), "uint8"),
        (pd.Series([0, 255, np.nan], dtype="float32"), "uint16"),  # sentinel bump
        (pd.Series([0, 254, np.nan], dtype="float32"), "uint8"),
        (pd.Series([100.12, -100.34, 100.56, -100.78]), "uint16"),
    ]
    for s, expect_dtype in cases:
        u, params = quantize.quantize(s)
        assert params.dtype == expect_dtype, f"{s.dtype}: {params.dtype}"
        back = quantize.unquantize(u, params)
        pd.testing.assert_series_equal(back, s.reset_index(drop=True),
                                       check_names=False)
    _, p = quantize.quantize(pd.Series([100.12, -100.34]))
    assert p.scale == 100.0


def test_quantize_timestamp_like_and_roundtrip_floats():
    s = pd.Series(np.round(np.cumsum(rng.normal(0, 0.25, 1000)), 2))
    u, params = quantize.quantize(s)
    back = quantize.unquantize(u, params)
    pd.testing.assert_series_equal(back, s, check_names=False)


def test_ewma_roundtrip_and_wire():
    """EWMA predictor (reference online.hpp:251-285): exact round trip
    through the filter and through the full SZ1 wire format."""
    from sprintz_spark.codecs import ewma

    for w, dt in ((8, np.uint8), (16, np.uint16)):
        x = (rng.integers(0, 2**w, 1024)).astype(dt)
        z = ewma.ewma_encode(x, w)
        np.testing.assert_array_equal(ewma.ewma_decode(z, w), x)
    for dt in (np.uint16, np.int16, np.uint8):
        arr = rng.integers(np.iinfo(dt).min, np.iinfo(dt).max, 333).astype(dt)
        buf = sz.encode_column(arr, "ewma")
        np.testing.assert_array_equal(
            sz.decode_column(buf).view(dt), arr
        )
        assert sz.blob_mode(buf) == "ewma"


def test_ewma_matches_reference_recurrence():
    """The vectorized decode (wrapping-cumsum accumulator) and the
    branch-free unsigned-acc encode loop must be byte-identical to the
    reference's signed-counter recurrence (online.hpp:251-285), pinned
    here as a literal per-sample scan."""
    from sprintz_spark.codecs import ewma
    from sprintz_spark.codecs import zigzag as zz

    def wrap(v, bits):
        mask = (1 << bits) - 1
        v &= mask
        return v - (1 << bits) if v & (1 << (bits - 1)) else v

    def ref_encode(x, w):
        wmask, cbits = (1 << w) - 1, ewma._COUNTER_BITS[w]
        acc, errs = 0, np.empty(len(x), ewma._SIGNED[w])
        for t, xt in enumerate(x.tolist()):
            pred = (acc >> ewma.SHIFT) & wmask  # signed-counter shift
            err = wrap(xt - pred, w)
            errs[t] = err
            acc = wrap(acc + err, cbits)
        return zz.encode(errs)

    for w, dt in ((8, np.uint8), (16, np.uint16)):
        for x in (
            rng.integers(0, 2**w, 1024).astype(dt),
            np.zeros(64, dt),
            np.full(256, (1 << w) - 1, dt),
            (np.arange(2048) % (1 << w)).astype(dt),
        ):
            z = ewma.ewma_encode(x, w)
            np.testing.assert_array_equal(z, ref_encode(x, w))
            np.testing.assert_array_equal(ewma.ewma_decode(z, w), x)


def test_ewma_tracks_noisy_mean():
    """On stationary noise around a level, EWMA residuals must be tighter
    than delta residuals (the predictor's reason to exist)."""
    from sprintz_spark.codecs import ewma
    from sprintz_spark.codecs import zigzag as zz

    x = (1000 + rng.integers(-40, 41, 4096)).astype(np.uint16)
    e_ewma = zz.decode(ewma.ewma_encode(x, 16)).view(np.int16).astype(np.int64)
    d = np.diff(x.astype(np.int64))
    assert np.abs(e_ewma[64:]).mean() < np.abs(d[63:]).mean()


def test_ewma_rejects_wide_dtypes():
    with pytest.raises(ValueError):
        sz.encode_column(np.arange(100, dtype=np.int64), "ewma")


def _uvarint(v: int) -> bytes:
    """Scalar LEB128 reference: 7-bit groups low first, high bit = more."""
    out = bytearray()
    while True:
        out.append((v & 0x7F) | (0x80 if v >> 7 else 0))
        v >>= 7
        if not v:
            return bytes(out)


def test_uvarint_batch_matches_scalar():
    from sprintz_spark.codecs import rle

    vals = np.concatenate(
        [rng.integers(0, 2**k, 100) for k in (7, 14, 28, 49, 63)]
        + [np.array([0, 1, 127, 128, 16383, 16384, 2**63 - 1])]
    ).astype(np.uint64)
    vals = np.append(vals, np.array([2**63, 2**64 - 1], np.uint64))
    buf, offs = rle.uvarint_batch(vals)
    for i, v in enumerate(vals.tolist()):
        assert buf[offs[i] : offs[i + 1]] == _uvarint(int(v))
    # the shared reader inverts it, 10-byte varints included
    got, end = rle.read_uvarints(b"\xaa" + buf, 1, len(vals))
    np.testing.assert_array_equal(got, vals)
    assert end == 1 + len(buf)


def test_rle_runs_segmented_matches_per_segment():
    from sprintz_spark.codecs import rle

    seq = np.concatenate(
        [np.zeros(40000, np.uint8),  # over RUN_CAP: forces cap splits
         np.repeat(np.array([3, 0, 3, 7], np.uint8), [5, 9, 1, 2]),
         np.full(6, 7, np.uint8)]
    )
    seg_starts = np.array([0, 40000, 40017], np.int64)
    r_starts, r_vals, r_lens = rle.rle_runs_segmented(seq, seg_starts)
    # equivalence: per-segment rle_encode
    seg_hi = np.append(seg_starts[1:], len(seq))
    want_vals, want_lens = [], []
    for lo, hi in zip(seg_starts, seg_hi):
        v, l = rle.rle_encode(seq[lo:hi])
        want_vals.extend(v.tolist())
        want_lens.extend(l.tolist())
    assert r_vals.tolist() == want_vals
    assert r_lens.tolist() == want_lens
    assert (np.diff(r_starts) > 0).all()


def test_payload_ends_matches_rstrip():
    from sprintz_spark.codecs.sprintz import _payload_ends

    payload = bytes([1, 0, 0, 5, 0, 0, 0, 0, 9, 0])
    lo = np.array([0, 3, 4, 8, 10], np.int64)
    hi = np.array([3, 4, 8, 10, 10], np.int64)
    ends = _payload_ends(payload, lo, hi)
    for a, b, e in zip(lo, hi, ends):
        assert payload[a:e] == payload[a:b].rstrip(b"\x00"), (a, b, e)


def _container_golden_input(w):
    lens = np.array([0, 1, 13, 5, 40, 1], np.int64)  # empty, 1 point, > 1 block
    i = np.arange(int(lens.sum()), dtype=np.int64)
    if w in (8, 32):  # ramps: 'auto' picks doubledelta
        v = 3 * i + (i == 30)
    else:  # a jittered walk: 'auto' picks delta
        v = (i * 7 + (i * i) % 11 - 20) % (1 << min(w - 1, 20))
    v = v.astype(f"int{w}")
    if w == 64:  # firsts whose zigzag needs a 10-byte varint
        v[1] = -(2**63) + 5
        v[-1] = 2**63 - 3
    return v, lens


# sha256 of encode_container's output, recorded before the container
# codec moved onto the shared batch kernels: the wire bytes must not move
_CONTAINER_GOLDEN = {
    (8, "delta", False): "cd1d2e6c08cf427794402ab3fec117821bf92c8b1566ec8b9838230cb18a3dcc",
    (8, "delta", True): "cd1d2e6c08cf427794402ab3fec117821bf92c8b1566ec8b9838230cb18a3dcc",
    (8, "doubledelta", False): "ac32523169bc928ec29f065cc02ca1af104a0ca4bcff95e2ef349d413534b40b",
    (8, "doubledelta", True): "ac32523169bc928ec29f065cc02ca1af104a0ca4bcff95e2ef349d413534b40b",
    (8, "auto", False): "ac32523169bc928ec29f065cc02ca1af104a0ca4bcff95e2ef349d413534b40b",
    (8, "auto", True): "ac32523169bc928ec29f065cc02ca1af104a0ca4bcff95e2ef349d413534b40b",
    (16, "delta", False): "28be1e5c0560294f55f42ec2c2c5af03522c29a18fc9ac2af28df439326997d7",
    (16, "delta", True): "28be1e5c0560294f55f42ec2c2c5af03522c29a18fc9ac2af28df439326997d7",
    (16, "doubledelta", False): "e0a0a208d05b263bc7ee0c9c63e897db2670c8d5d9b6f5f9da5ccb13ded85691",
    (16, "doubledelta", True): "4b2bf8e9618c3e328c15fcc8ea3722795e58c1dec228217e9e419a94094835da",
    (16, "auto", False): "28be1e5c0560294f55f42ec2c2c5af03522c29a18fc9ac2af28df439326997d7",
    (16, "auto", True): "28be1e5c0560294f55f42ec2c2c5af03522c29a18fc9ac2af28df439326997d7",
    (32, "delta", False): "8d458d09cc54a469220d6e2ea4b550de5474809b8e4baf4c347ea56a3218f1ba",
    (32, "delta", True): "8d458d09cc54a469220d6e2ea4b550de5474809b8e4baf4c347ea56a3218f1ba",
    (32, "doubledelta", False): "5e2561cd97b3c45474b5c735f73b0a2dbe40d65213f9d785465f3e55464683b4",
    (32, "doubledelta", True): "5e2561cd97b3c45474b5c735f73b0a2dbe40d65213f9d785465f3e55464683b4",
    (32, "auto", False): "5e2561cd97b3c45474b5c735f73b0a2dbe40d65213f9d785465f3e55464683b4",
    (32, "auto", True): "5e2561cd97b3c45474b5c735f73b0a2dbe40d65213f9d785465f3e55464683b4",
    (64, "delta", False): "dded64015cf7db9718a32c8e9e825f8a8d77be851b3c73838f560c51b674b5d0",
    (64, "delta", True): "321e177617b60d068eca2b6941400c789f7cc422cd2bfd12cf4e093857f60b4b",
    (64, "doubledelta", False): "e4a04be3325f06695f472ce2da576790b4ebbdb62e453ad7558cc4d95bcba201",
    (64, "doubledelta", True): "780e32c3c47baf5969b4943bf26b012a80106ad44a90fff5afa840b3b3d0b515",
    (64, "auto", False): "dded64015cf7db9718a32c8e9e825f8a8d77be851b3c73838f560c51b674b5d0",
    (64, "auto", True): "321e177617b60d068eca2b6941400c789f7cc422cd2bfd12cf4e093857f60b4b",
}


@pytest.mark.parametrize("w", [8, 16, 32, 64])
def test_container_wire_bytes_golden(w):
    import hashlib

    v, lens = _container_golden_input(w)
    for mode in ("delta", "doubledelta", "auto"):
        for deflate in (False, True):
            blob = sz.encode_container(v, lens, mode, deflate)
            got = hashlib.sha256(blob).hexdigest()
            assert got == _CONTAINER_GOLDEN[w, mode, deflate], (mode, deflate)
            back, ns = sz.decode_container(blob)
            np.testing.assert_array_equal(ns, lens)
            np.testing.assert_array_equal(back.view(v.dtype), v)


def test_long_header_run_wire_bytes():
    """A run of 17,500 zero-width blocks takes the run-length code's
    two-byte form with a high second byte (dc 88): the container and SZ1
    bytes, recorded before the container moved onto the shared kernels,
    must not move."""
    v = np.concatenate([np.full(140_000, 7, np.int64), np.arange(5, dtype=np.int64)])
    lens = np.array([140_000, 5])
    cont = sz.encode_container(v, lens, "delta", deflate=False)
    assert cont.hex() == "431802e0c508050e00020002dc8801a802"
    back, ns = sz.decode_container(cont)
    np.testing.assert_array_equal(back.view(np.int64), v)
    np.testing.assert_array_equal(ns, lens)
    col = sz.encode_column(v[:140_000], "delta", deflate=False)
    assert col.hex() == "535a310040e022020000000002000000040001db880e"
    np.testing.assert_array_equal(sz.decode_column(col).view(np.int64), v[:140_000])


def _corrupt_blobs():
    vals = np.arange(200, dtype=np.int64) ** 2
    lens = np.array([50, 150])
    return (
        sz.encode_column(np.arange(70000, dtype=np.uint64) * 5, "delta", deflate=False),
        sz.encode_container(vals, lens, "auto"),  # zlib-wrapped
        sz.encode_container(vals, lens, "auto", deflate=False),
    )


def test_corrupt_blob_bad_magic():
    sz1, _, cont = _corrupt_blobs()
    assert sz1[:3] == b"SZ1" and cont[:1] == b"C"
    with pytest.raises(sz.CorruptBlobError, match="bad magic"):
        sz.decode_column(b"SZ9" + sz1[3:])
    for fn in (sz.decode_container, sz.query_container_partials):
        with pytest.raises(sz.CorruptBlobError, match="bad container magic"):
            fn(b"D" + cont[1:])
    with pytest.raises(sz.CorruptBlobError):
        sz.decode_container(b"")
    assert issubclass(sz.CorruptBlobError, ValueError)


def test_corrupt_blob_truncated():
    _, deflated, cont = _corrupt_blobs()
    assert deflated[:1] == b"W"
    with pytest.raises(sz.CorruptBlobError, match="zlib"):
        sz.decode_container(deflated[: len(deflated) // 2])
    with pytest.raises(sz.CorruptBlobError, match="truncated"):
        sz.decode_container(cont[:4])
    with pytest.raises(sz.CorruptBlobError, match="truncated"):
        sz.query_container_partials(cont[:4])


def test_corrupt_raw_container_raises_only_corrupt_blob_error():
    """Cut, bit-flipped and 0xFF-stamped raw containers either return or
    raise CorruptBlobError: no IndexError, OverflowError or bare numpy
    ValueError gets out. (A cut payload tail or a flipped payload bit
    can decode silently: the format strips trailing zeros and has no
    checksum.)"""
    r = np.random.default_rng(8)
    blobs = []
    for w in (8, 16, 32, 64):
        info = np.iinfo(f"int{w}")
        for mode in ("delta", "doubledelta", "auto"):
            lens = r.integers(0, 30, 40)  # empty series included
            n = int(lens.sum())
            for v in (
                np.cumsum(r.integers(-3, 4, n)),
                r.integers(info.min, info.max, n, endpoint=True),
                np.repeat(r.integers(-50, 50, len(lens)), lens),  # run fast path
            ):
                blobs.append(
                    sz.encode_container(v.astype(f"int{w}"), lens, mode, deflate=False)
                )

    def mutants(blob, k):
        for _ in range(k):
            yield blob[: int(r.integers(0, len(blob)))]
        for _ in range(k):
            b = bytearray(blob)
            b[int(r.integers(0, len(b)))] ^= 1 << int(r.integers(0, 8))
            yield bytes(b)
        for _ in range(k):
            b = bytearray(blob)
            b[int(r.integers(2, min(40, len(b))))] = 0xFF  # head bytes
            yield bytes(b)

    for blob in blobs:
        assert blob[:1] == b"C"
        for bad in mutants(blob, 40):
            for fn in (sz.decode_container, sz.query_container_partials):
                try:
                    fn(bad)
                except sz.CorruptBlobError:
                    pass


def test_corrupt_raw_sz1_blob_raises_only_corrupt_blob_error():
    """Cut and 0xFF-stamped raw compact-head SZ1 blobs ('Y' for delta /
    doubledelta, 'Z' for fire / raw) either return or raise
    CorruptBlobError from decode_batch, decode_column and
    query_batch_partials: no IndexError, KeyError (an unknown mode code)
    or bare numpy ValueError gets out."""
    r = np.random.default_rng(9)
    blobs = []
    for w in (8, 16, 32, 64):
        modes = ["delta", "doubledelta", "raw"] + ["fire"] * (w <= 16)
        for mode in modes:
            n = int(r.integers(20, 60))
            v = np.cumsum(r.integers(-300, 300, n)).astype(f"int{w}")
            blobs.append(sz.encode_column(v, mode, deflate=False))

    def mutants(blob):
        for k in range(len(blob)):
            yield blob[:k]
        for _ in range(60):
            b = bytearray(blob)
            b[int(r.integers(0, len(b)))] = 0xFF
            yield bytes(b)

    calls = (
        lambda b: sz.decode_batch([b]),
        sz.decode_column,
        lambda b: sz.query_batch_partials([b]),
    )
    for blob in blobs:
        assert blob[:1] in (b"Y", b"Z")
        for bad in mutants(blob):
            for fn in calls:
                try:
                    fn(bad)
                except sz.CorruptBlobError:
                    pass


def test_magic_check_survives_python_O():
    """The SZ1, container and HUF1 magic checks are raises, not asserts:
    ``python -O`` keeps them."""
    import pathlib
    import subprocess
    import sys

    probe = (
        "import numpy as np\n"
        "from sprintz_spark.codecs import huffman as hf\n"
        "from sprintz_spark.codecs import sprintz as sz\n"
        "blob = sz.encode_column(np.arange(70000, dtype=np.uint64), 'delta',"
        " deflate=False)\n"
        "cont = sz.encode_container(np.arange(9), np.array([9]), deflate=False)\n"
        "huf = b'HUF9' + hf.huffman_encode(np.arange(300, dtype=np.uint8) % 7)[4:]\n"
        "for fn, bad in ((sz.decode_column, b'SZ9' + blob[3:]),"
        " (sz.decode_container, b'D' + cont[1:]), (hf.huffman_decode, huf),"
        " (lambda b: hf.huffman_decode_batch([b]), huf)):\n"
        "    try:\n"
        "        fn(bad)\n"
        "    except sz.CorruptBlobError:\n"
        "        continue\n"
        "    raise SystemExit('no CorruptBlobError')\n"
    )
    root = pathlib.Path(__file__).resolve().parents[1]

    def run(src):
        return subprocess.run(
            [sys.executable, "-O", "-c", src], cwd=root, capture_output=True,
            text=True, timeout=120,
        )

    assert run("assert False").returncode == 0  # -O strips asserts
    r = run(probe)
    assert r.returncode == 0, r.stderr
