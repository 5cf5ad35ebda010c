"""Canonical Huffman entropy coder (codecs/huffman.py) — the reference
paper's entropy stage (reference README: sprintz = delta/FIRE + bitpack
+ entropy coding; the repo's C++ ships Huffman only in paper experiments,
so this engine implements it directly)."""

import numpy as np
import pytest

from sprintz_spark.codecs import search as S
from sprintz_spark.codecs.huffman import (
    BLOCK_SYMS,
    MAX_LEN,
    _canonical_codes,
    _code_lengths,
    huffman_decode,
    huffman_decode_batch,
    huffman_encode,
)

rng = np.random.default_rng(33)

CASES = [
    np.zeros(0, np.uint8),
    np.array([7], np.uint8),
    np.full(100_000, 42, np.uint8),
    rng.choice(np.array([3, 200], np.uint8), 50_000),
    rng.integers(0, 256, 100_000).astype(np.uint8),
    np.arange(256, dtype=np.uint8),
    rng.integers(0, 16, BLOCK_SYMS).astype(np.uint8),
    rng.integers(0, 16, BLOCK_SYMS + 1).astype(np.uint8),
    rng.integers(0, 16, BLOCK_SYMS - 1).astype(np.uint8),
]


@pytest.mark.parametrize("i", range(len(CASES)))
def test_roundtrip(i):
    x = CASES[i]
    np.testing.assert_array_equal(huffman_decode(huffman_encode(x)), x)


def test_roundtrip_skewed_compresses():
    p = 1.0 / np.arange(1, 257) ** 1.5
    x = rng.choice(256, 200_000, p=p / p.sum()).astype(np.uint8)
    blob = huffman_encode(x)
    np.testing.assert_array_equal(huffman_decode(blob), x)
    assert len(blob) < 0.6 * len(x)  # entropy ~4 bits/sym


def test_depth_cap_extreme_skew():
    # exponential histogram would build a >15-deep tree without the cap
    reps = (2 ** np.linspace(0, 20, 64)).astype(int)
    x = np.repeat(np.arange(64, dtype=np.uint8), reps)
    lens = _code_lengths(np.bincount(x, minlength=256))
    assert lens.max() <= MAX_LEN
    np.testing.assert_array_equal(huffman_decode(huffman_encode(x)), x)


def test_codes_are_prefix_free():
    p = 1.0 / np.arange(1, 257) ** 2
    x = rng.choice(256, 50_000, p=p / p.sum()).astype(np.uint8)
    lens = _code_lengths(np.bincount(x, minlength=256))
    codes = _canonical_codes(lens)
    used = [(int(codes[s]), int(lens[s])) for s in range(256) if lens[s]]
    # Kraft equality/inequality + pairwise prefix-freedom
    assert sum(2.0 ** -l for _, l in used) <= 1.0 + 1e-12
    bitstrs = [format(c, f"0{l}b") for c, l in used]
    for i, a in enumerate(bitstrs):
        for b in bitstrs[i + 1:]:
            assert not a.startswith(b) and not b.startswith(a)


def test_search_pipeline_roundtrip_and_id_stability():
    names = [n for n, _ in S.PIPELINES]
    # append-only contract: ids 10/11 are the huffman entries
    assert names.index("huffman") == 10
    assert names.index("byteshuffle-huffman") == 11
    # skewed low-entropy int column: huffman pipelines must roundtrip
    x = rng.choice(np.array([0, 1, 2, 255], np.int64), 9_000)
    for name in ("huffman", "byteshuffle-huffman"):
        enc, dec = dict(S.PIPELINES)[name]
        np.testing.assert_array_equal(dec(enc(x), x.dtype, len(x)), x)
    # and the search container still roundtrips end-to-end
    np.testing.assert_array_equal(S.search_decode(S.search_encode(x)), x)


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.binary(min_size=0, max_size=20_000),
    )
    def test_roundtrip_property(data):
        x = np.frombuffer(data, np.uint8)
        np.testing.assert_array_equal(huffman_decode(huffman_encode(x)), x)

except ImportError:  # pragma: no cover
    pass


def test_encode_value_column_forced_search():
    import pandas as pd

    from sprintz_spark.operators.encode import (
        _encode_value_column,
        decode_value_columns_batch,
    )

    s = pd.Series(np.cumsum(rng.integers(-5, 6, 4000)).astype(np.int64))
    for force in ("search", "search:huffman", "search:byteshuffle-huffman"):
        buf, meta = _encode_value_column(s, force)
        assert meta == {"codec": "search"}
        np.testing.assert_array_equal(decode_value_columns_batch([buf], [meta])[0], s)


def test_search_report_includes_huffman():
    x = rng.integers(0, 4, 5000).astype(np.uint8)
    rep = S.search_report(x)
    assert "huffman" in rep and "byteshuffle-huffman" in rep
    assert rep["huffman"] < rep["raw_bytes"]


def test_decode_throughput_floor():
    """Perf regression guard for the multi-symbol decode (round-4): the
    10M-symbol skewed bench reads ~29 MB/s/core on an idle sandbox; the
    floor is set at 10 MB/s — the single-symbol loop's speed — so a
    regression back to one-symbol-per-iteration fails loudly while host
    noise (+/-50% documented in BASELINE.md) cannot flake the test."""
    import time

    p = 1.0 / np.arange(1, 257) ** 1.5
    x = rng.choice(256, 10_000_000, p=p / p.sum()).astype(np.uint8)
    blob = huffman_encode(x)
    huffman_decode(blob)  # warm tables/page faults
    t0 = time.perf_counter()
    y = huffman_decode(blob)
    rate = len(x) / (time.perf_counter() - t0) / 1e6
    np.testing.assert_array_equal(y, x)
    assert rate > 10.0, f"huffman decode regressed to {rate:.1f} MB/s"


def test_uvarints_vec_matches_scalar():
    """Round-7: the vectorized block-header varint reader must be
    byte-identical to the scalar LEB128 loop it replaced, including
    multi-byte and zero deltas."""
    import numpy as np

    from sprintz_spark.codecs.rle import read_uvarints, uvarint_batch, uvarints_at

    rng = np.random.default_rng(11)
    vals = np.concatenate(
        [
            [0, 1, 127, 128, 129, 16383, 16384, 2**21 - 1, 2**28, 2**40],
            rng.integers(0, 2**30, 500),
        ]
    ).astype(np.int64)
    enc, offs = uvarint_batch(vals)
    buf = memoryview(b"\xff\xee" + enc + b"\xaa")
    got, end = read_uvarints(buf, 2, len(vals))
    np.testing.assert_array_equal(got, vals)
    assert end == 2 + len(enc)
    # the one-varint-per-offset reader agrees on every value and cursor
    big = np.frombuffer(buf, np.uint8)
    at, after = uvarints_at(big, offs[:-1] + 2)
    np.testing.assert_array_equal(at, vals)
    np.testing.assert_array_equal(after, offs[1:] + 2)
    # truncated header fails loudly
    import pytest

    with pytest.raises(ValueError):
        read_uvarints(memoryview(b"\x80\x80"), 0, 1)


def test_uvarints_vec_overflow_raises():
    """Round-8 (ADVICE): a 10-byte varint (value >= 2^63, or a corrupt
    header's long continuation run) must raise, not silently wrap the
    int64 shift negative and cumsum garbage block offsets."""
    import pytest

    from sprintz_spark.codecs.rle import read_uvarints, uvarint_batch

    blob, _ = uvarint_batch(np.array([2**63], np.uint64))  # 10 bytes
    assert len(blob) == 10
    good = huffman_encode(np.arange(3000, dtype=np.uint8) % 5)
    n_blocks = int(np.frombuffer(good[138:142], np.uint32)[0])
    assert n_blocks > 1
    # a HUF1 block-start delta of 2^63 overflows the int64 bit offsets
    bad = good[:142] + blob + good[143:]
    for fn in (huffman_decode, lambda b: huffman_decode_batch([b])):
        with pytest.raises(ValueError, match="overflows int64"):
            fn(bad)
    # 9 bytes (63 payload bits) is the int64 ceiling and still decodes
    ok, _ = uvarint_batch(np.array([2**63 - 1], np.uint64))
    assert len(ok) == 9
    got, end = read_uvarints(memoryview(ok), 0, 1)
    assert int(got[0]) == 2**63 - 1 and end == 9
