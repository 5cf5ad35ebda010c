"""RLE-run fast-path correctness: query partials computed from block
headers (no payload unpack for zero-width blocks) must equal full
decode+aggregate, bit-for-bit, across wire formats and modes."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sprintz_spark.codecs import sprintz as sz


def _agg(vals: np.ndarray):
    v = vals.astype(np.int64)
    return len(v), int(v.sum()), int(v.max()), int(v.min())


def _blob_partials(buf: bytes):
    return tuple(int(a[0]) for a in sz.query_batch_partials([buf]))


def _check_blob(arr: np.ndarray, mode: str):
    buf = sz.encode_column(arr, mode)
    want = _agg(sz.decode_column(buf))
    got = _blob_partials(buf)
    assert got == want, f"mode={mode} n={len(arr)}"


CASES = [
    # constant-heavy (pure zero blocks after the first)
    np.full(1000, 42, np.int64),
    # ramp: dd gives all-zero blocks, delta gives constant-width runs
    np.arange(0, 5000, 7, dtype=np.int64),
    # piecewise constant with run breaks not on block boundaries
    np.repeat(np.array([5, 5, 9, 9, 9, 2], np.int64), [100, 3, 50, 1, 7, 200]),
    # negatives and sign flips
    np.array([-5, -5, -5, 3, -1000, 7], np.int64),
    # single point / sub-block lengths (pad handling)
    np.array([123456789], np.int64),
    np.array([10, 20], np.int64),
    np.arange(13, dtype=np.int64) * -3 + 7,
    # large values (epoch-µs scale)
    np.int64(1_700_000_000_000_000) + np.arange(100, dtype=np.int64) * 60_000_000,
]


@pytest.mark.parametrize("mode", ["delta", "doubledelta"])
@pytest.mark.parametrize("i", range(len(CASES)))
def test_blob_fastpath_matches_decode(mode, i):
    _check_blob(CASES[i], mode)


@pytest.mark.parametrize("mode", ["delta", "doubledelta"])
def test_blob_fastpath_large_n_instream(mode):
    # n > 65536 forces the SZ1 in-stream-firsts head (x0 in the stream)
    rng = np.random.default_rng(7)
    arr = np.cumsum(rng.integers(-3, 4, 70000)).astype(np.int64)
    _check_blob(arr, mode)


@given(
    st.lists(st.integers(-(2**40), 2**40), min_size=1, max_size=300),
    st.sampled_from(["delta", "doubledelta"]),
)
@settings(max_examples=60, deadline=None)
def test_blob_fastpath_property(vals, mode):
    _check_blob(np.array(vals, np.int64), mode)


def test_batch_partials_mixed_modes():
    """One query_batch_partials call over every blob kind the batch
    parse routes: 'Y' and 'Z' heads (n = 0 among them), SZ1 heads with
    in-stream firsts, deflated blobs, a header of more than 128 runs,
    fire, dyndelta, ewma and booldelta, at widths 8 to 64. Each result
    equals decode_column followed by an int64 aggregate."""
    blobs = []
    rng = np.random.default_rng(3)
    for i in range(20):
        n = int(rng.integers(1, 200))
        arr = np.cumsum(rng.integers(-2, 3, n)).astype(np.int64) + i
        blobs.append(sz.encode_column(arr, ["delta", "doubledelta", "raw"][i % 3]))
    for w in (8, 16, 32, 64):
        arr = np.cumsum(rng.integers(-2, 3, 150)).astype(f"int{w}")
        for mode in ["delta", "doubledelta", "raw", "dyndelta"] + ["fire", "ewma"] * (w <= 16):
            blobs += [sz.encode_column(arr, mode, deflate=d) for d in (False, True)]
            blobs.append(sz.encode_column(arr[:0], mode))
    blobs.append(sz.encode_column(rng.integers(0, 2, 300).astype(bool), "booldelta"))
    # n > 65536: SZ1 head, firsts in the stream
    big = np.cumsum(rng.integers(-3, 4, 70_000)).astype(np.int64)
    blobs += [sz.encode_column(big, m, deflate=False) for m in ("delta", "doubledelta")]
    # alternating widths: one header run per block
    spiky = np.where(
        np.arange(4096) % 16 < 8,
        rng.integers(0, 3, 4096),
        rng.integers(1 << 30, 1 << 40, 4096),
    ).astype(np.int64)
    blobs.append(sz.encode_column(spiky, "delta", deflate=False))
    assert (np.diff(sz._parse(blobs[-1])[5]) != 0).sum() > 128
    assert {b"Y", b"Z", b"W"} <= {b[:1] for b in blobs}
    assert any(b[:3] == b"SZ1" for b in blobs)
    cnts, sums, maxs, mins = sz.query_batch_partials(blobs)
    for i, buf in enumerate(blobs):
        v = sz.decode_column(buf).astype(np.int64)
        want = (len(v), v.sum(), v.max(initial=np.iinfo(np.int64).min),
                v.min(initial=np.iinfo(np.int64).max))
        assert (cnts[i], sums[i], maxs[i], mins[i]) == want, i


def test_batch_partials_parse_compact_heads_in_one_pass(monkeypatch):
    """query_batch_partials reads raw compact-head blobs through the
    batch's vectorized parse: no per-blob _parse call."""
    rng = np.random.default_rng(4)
    arrs = [np.cumsum(rng.integers(-2, 3, 20)).astype(np.int64) for _ in range(250)]
    blobs = [sz.encode_column(a, "delta", deflate=False) for a in arrs]
    assert all(b[:1] == b"Y" for b in blobs)
    parse, calls = sz._parse, []
    monkeypatch.setattr(sz, "_parse", lambda buf: calls.append(1) or parse(buf))
    cnts, sums, maxs, mins = sz.query_batch_partials(blobs)
    assert len(calls) == 0
    assert [(cnts[i], sums[i], maxs[i], mins[i]) for i in range(250)] == [_agg(a) for a in arrs]


@pytest.mark.parametrize("mode", ["delta", "doubledelta", "auto"])
def test_container_partials(mode):
    """int64 takes the run fast path, int16 the decode fallback; both
    equal decode + aggregate, and an empty series, inside or last, gives
    (0, 0, INT64_MIN, INT64_MAX)."""
    rng = np.random.default_rng(11)
    lens = rng.integers(1, 40, 50).astype(np.int64)
    lens[[7, -1]] = 0
    vals = np.concatenate(
        [np.full(n, int(rng.integers(-100, 100)), np.int64) + np.arange(n) * int(rng.integers(-2, 3)) for n in lens]
    )
    for dtype in (np.int64, np.int16):
        buf = sz.encode_container(vals.astype(dtype), lens, mode)
        dec_vals, dec_ns = sz.decode_container(buf)
        ns, sums, maxs, mins = sz.query_container_partials(buf)
        assert (ns == dec_ns).all() and (ns == lens).all()
        v = dec_vals.astype(np.int64)
        for i, s in enumerate(np.split(v, np.cumsum(lens)[:-1])):
            want = (0, np.iinfo(np.int64).min, np.iinfo(np.int64).max)
            if len(s):
                want = (s.sum(), s.max(), s.min())
            assert (sums[i], maxs[i], mins[i]) == want, (dtype, i)


def test_fastpath_skips_payload_on_constant_runs():
    """A constant series after the first block is ALL zero-width blocks;
    the fast path must not unpack them (payload is empty past block 0)."""
    arr = np.full(100_000, 7, np.int64)
    buf = sz.encode_column(arr, "delta", deflate=False)
    mode, w, n, pad, extra, nbits, payload, firsts = sz._parse(buf)
    # in-stream head (n > 65536): block 0 carries x0, everything after is runs
    assert (nbits[1:] == 0).all()
    assert len(payload) <= int(nbits[0])  # block 0 only (+ zero-truncated)
    assert _blob_partials(buf) == (100_000, 700_000, 7, 7)


def test_query_compressed_ops():
    arr = np.repeat(np.array([3, -4, 10], np.int64), [50, 60, 70])
    buf = sz.encode_column(arr, "delta")
    assert sz.query_compressed(buf, "count") == 180
    assert sz.query_compressed(buf, "sum") == int(arr.sum())
    assert sz.query_compressed(buf, "max") == 10
    assert sz.query_compressed(buf, "min") == -4
