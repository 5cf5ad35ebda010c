import numpy as np
import pytest

from sprintz_spark.codecs import search as S

rng = np.random.default_rng(21)


@pytest.mark.parametrize("dtype", [np.uint8, np.uint16, np.int64])
def test_search_roundtrip_int(dtype):
    for x in [
        np.cumsum(rng.integers(-3, 4, 1000)).astype(dtype),
        np.zeros(777, dtype=dtype),
        rng.integers(0, 100, 13).astype(dtype),
        np.arange(0, 3000, 3).astype(dtype),
    ]:
        buf = S.search_encode(x)
        np.testing.assert_array_equal(
            S.search_decode(buf).view(dtype), x
        )


def test_search_roundtrip_float():
    x = np.round(np.cumsum(rng.normal(0, 1, 2000)), 3)
    buf = S.search_encode(x)
    np.testing.assert_array_equal(
        S.search_decode(buf).view(np.uint64), x.view(np.uint64)
    )


def test_search_picks_sensibly():
    const = np.full(10_000, 42, np.int64)
    assert len(S.search_encode(const)) < 200
    rep = S.search_report(np.cumsum(rng.integers(-2, 3, 5000)).astype(np.int64))
    assert rep["sprintz-delta"] < rep["raw"]
    assert set(rep) >= {"sprintz-delta", "sprintz-doubledelta", "bzip2",
                        "byteshuffle-lzma", "raw", "raw_bytes"}


def test_pipeline_table_layout_pinned():
    # the list index IS the on-disk pipeline id (byte 2 of the v1
    # container): any reorder/removal silently re-maps persisted blobs,
    # so the exact (index, name) layout is pinned here. APPEND-ONLY.
    assert [n for n, _ in S.PIPELINES] == [
        "sprintz-delta",
        "sprintz-doubledelta",
        "sprintz-dyndelta",
        "sprintz-fire",
        "raw",
        "bzip2",
        "byteshuffle-lzma",
        "gorilla",
        "sprintz-ewma",
        "byteshuffle-zstd",
        "huffman",
        "byteshuffle-huffman",
    ]


def test_container_magic_version():
    x = np.arange(64, dtype=np.int64)
    buf = S.search_encode(x)
    assert buf[0] == S.MAGIC and buf[1] == S.VERSION
    legacy = buf[2:]  # [id | dtype | u32 n | payload]
    # a blob whose first byte falls in the pipeline id range is refused,
    # not reinterpreted as a bare-id head
    with pytest.raises(ValueError, match="magic/version"):
        S.search_decode(legacy)
    # bytes that are neither v1 nor a plausible legacy id are refused
    with pytest.raises(ValueError, match="magic/version"):
        S.search_decode(bytes([0x7F]) + buf[1:])
    with pytest.raises(ValueError, match="magic/version"):
        S.search_decode(bytes([S.MAGIC, 99]) + buf[2:])


def test_corrupt_search_head_raises_only_corrupt_blob_error():
    """Every cut of the 8-byte v1 head, out-of-range pipeline ids and
    dtype codes, and a head n that differs from the payload's length
    raise CorruptBlobError from search_decode and search_decode_batch:
    no IndexError, reshape ValueError or silent decode gets out. Every
    in-range dtype code either decodes the payload's bytes (a code of
    the payload's own width) or raises CorruptBlobError."""
    from sprintz_spark.codecs.rle import CorruptBlobError

    r = np.random.default_rng(13)
    blobs = []
    for name, _ in S.PIPELINES:
        if name == "gorilla":
            xs = [np.round(np.cumsum(r.normal(0, 1, 101)), 2)]
        else:
            dts = (np.uint16,) if name in ("sprintz-fire", "sprintz-ewma") else (np.int64, np.int16)
            xs = [np.cumsum(r.integers(-3, 4, 101)).astype(dt) for dt in dts]
        blobs += [(x, S.search_encode(x, pipeline=name)) for x in xs]

    def mutants(blob):
        for k in range(8):
            yield blob[:k]
        for pos, table in ((2, S.PIPELINES), (3, S._DTYPES)):
            for v in (len(table), 0xFF, int(r.integers(len(table), 256))):
                b = bytearray(blob)
                b[pos] = v
                yield bytes(b)
        n = int(np.frombuffer(blob[4:8], np.uint32)[0])
        for m in (n - 1, n + 1, 5, 1_000_000):
            yield blob[:4] + np.uint32(m).tobytes() + blob[8:]

    decoders = (
        S.search_decode,
        lambda b: S.search_decode_batch([b])[0],
        lambda b: S.search_decode_batch([blob, b])[1],
    )
    for x, blob in blobs:
        assert len(S.search_decode(blob)) == 101
        for bad in mutants(blob):
            for fn in decoders:
                with pytest.raises(CorruptBlobError):
                    fn(bad)
        for code, dt in enumerate(S._DTYPES):
            bad = blob[:3] + bytes([code]) + blob[4:]
            for fn in decoders:
                if np.dtype(dt).itemsize == x.itemsize:
                    out = fn(bad)
                    assert out.dtype == dt and out.tobytes() == x.tobytes()
                else:
                    with pytest.raises(CorruptBlobError):
                        fn(bad)


def test_forced_pipeline_validation():
    ints = np.arange(64, dtype=np.int64)
    floats = np.linspace(0, 1, 64)
    with pytest.raises(ValueError, match="unknown search pipeline"):
        S.search_encode(ints, pipeline="nope")
    with pytest.raises(ValueError, match="float64 columns only"):
        S.search_encode(ints, pipeline="gorilla")
    with pytest.raises(ValueError, match="integer columns only"):
        S.search_encode(floats, pipeline="sprintz-delta")
    with pytest.raises(ValueError, match="u8/u16"):
        S.search_encode(ints, pipeline="sprintz-fire")
    with pytest.raises(ValueError, match="capped"):
        S.search_encode(
            np.zeros(S.EWMA_MAX_LEN + 8, dtype=np.uint8), pipeline="sprintz-ewma"
        )
    # valid forced pipelines still round-trip
    buf = S.search_encode(ints, pipeline="sprintz-doubledelta")
    np.testing.assert_array_equal(S.search_decode(buf).view(np.int64), ints)


def test_huffman_wins_band_on_skewed_categorical_ids():
    """Round-6 positive crossover example: a corpus where the entropy
    stage SHOULD win and the balanced objective actually picks it.

    Dictionary-coded categorical ids — vocab 64, zipf(a=1.5) frequency
    skew, ARBITRARY symbol mapping (a permutation, as dictionary ids
    are) — have no runs, no delta structure, and are byteshuffle-neutral
    (single-byte lanes), so the LZ class finds no matches and sprintz-raw
    pays the full per-block max bitwidth. Huffman's probe blob is >10%
    smaller than every non-entropy pipeline's (measured margin 1.14x vs
    the best of them), so the 10%-band objective selects it DESPITE its
    30-40 MB/s decoder — the case the band exists for, complementing the
    negative examples in BASELINE.md's crossover table."""
    rng = np.random.default_rng(5)
    vocab, a = 64, 1.5
    p = 1.0 / np.arange(1, vocab + 1) ** a
    p /= p.sum()
    perm = rng.permutation(vocab)
    x = perm[rng.choice(vocab, size=1 << 16, p=p)].astype(np.uint8)
    buf = S.search_encode(x)
    assert S.PIPELINES[buf[2]][0] == "huffman"
    np.testing.assert_array_equal(S.search_decode(buf).view(np.uint8), x)
    # the win is a real >band-width size margin over every non-entropy
    # pipeline, not a tie-break artifact
    huff_size = len(dict(S.PIPELINES)["huffman"][0](x))
    others = {
        nm: len(enc(x))
        for nm, (enc, _d) in S.PIPELINES
        if "huffman" not in nm and S._applicable(nm, x.dtype, len(x)) is None
    }
    assert min(others.values()) > huff_size * (1 + S.SIZE_TOLERANCE)


def test_exclude_removes_pipeline_from_probe():
    """Round-6 (environment pinning): excluding a pipeline keeps it out
    of the probe even when it would win; the container still round-trips."""
    rng = np.random.default_rng(7)
    x = rng.integers(0, 300, 1 << 14).astype(np.uint16)
    chosen = S.PIPELINES[S.search_encode(x)[2]][0]
    buf2 = S.search_encode(x, exclude=(chosen,))
    chosen2 = S.PIPELINES[buf2[2]][0]
    assert chosen2 != chosen
    np.testing.assert_array_equal(S.search_decode(buf2).view(np.uint16), x)


def test_balanced_objective_prefers_fast_decoder_within_band():
    """Round-5 decode-cost-aware objective: when a slow pipeline's size
    win is inside SIZE_TOLERANCE, the faster decoder is chosen;
    size_tolerance=0 restores the reference's pure max-ratio pick."""
    rng = np.random.default_rng(7)
    x = rng.integers(0, 300, 1 << 17).astype(np.uint16)
    # probe sizes on this corpus: bzip2 smallest, byteshuffle-lzma/zstd
    # within ~6% of it but ~5x faster to decode
    sizes = {n: len(enc(x)) for n, (enc, _d) in S.PIPELINES
             if S._applicable(n, x.dtype, len(x)) is None}
    best = min(sizes, key=sizes.get)
    fast = S.search_decode(S.search_encode(x))
    np.testing.assert_array_equal(fast.view(np.uint16), x)
    chosen_fast = S.PIPELINES[S.search_encode(x)[2]][0]
    chosen_ratio = S.PIPELINES[S.search_encode(x, size_tolerance=0.0)[2]][0]
    assert chosen_ratio == best
    assert sizes[chosen_fast] <= sizes[best] * (1 + S.SIZE_TOLERANCE)
    assert S.DECODE_MBPS[chosen_fast] >= S.DECODE_MBPS[best]
    # on this corpus the band genuinely changes the pick
    assert chosen_fast != chosen_ratio, (chosen_fast, sizes)


def test_exclude_unknown_name_raises():
    """Round-7 (ADVICE): a typo'd exclude name must fail loudly, not
    silently exclude nothing — the parameter exists for environment
    pinning and a no-op typo defeats it."""
    x = np.arange(100, dtype=np.uint16)
    with pytest.raises(ValueError, match="byteshufle-zstd"):
        S.search_encode(x, exclude=("byteshufle-zstd",))
