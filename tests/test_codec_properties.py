"""Property-based codec fuzzing (hypothesis) — the generative analog of the
reference's seeded-fuzz families (cpp/Compress/test/compress_testing.hpp:
317-370). Invariants under arbitrary integer inputs, all dtypes, all modes:

  * decode(encode(x)) == x exactly (incl. extremes: iinfo.min/max)
  * batched encoding is byte-identical to the scalar encoder per series
  * decode_batch over a shuffled mix of modes/widths/head-formats matches
    per-blob decode_column
"""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra import numpy as hnp

from sprintz_spark.codecs import sprintz as sz

_DTYPES = [np.uint8, np.uint16, np.int32, np.uint64, np.int64]
_MODES = ["delta", "doubledelta", "dyndelta", "raw"]


def _arrays(draw):
    dtype = draw(st.sampled_from(_DTYPES))
    info = np.iinfo(dtype)
    n = draw(st.integers(0, 300))
    arr = draw(
        hnp.arrays(
            dtype,
            n,
            elements=st.integers(int(info.min), int(info.max)),
        )
    )
    return arr


@settings(max_examples=120, deadline=None)
@given(st.data())
def test_roundtrip_any_input(data):
    arr = _arrays(data.draw)
    mode = data.draw(st.sampled_from(_MODES + (["fire"] if arr.dtype.itemsize <= 2 else [])))
    blob = sz.encode_column(arr, mode)
    back = sz.decode_column(blob).view(arr.dtype)
    np.testing.assert_array_equal(back, arr)


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_batch_bytes_match_scalar(data):
    dtype = data.draw(st.sampled_from(_DTYPES))
    info = np.iinfo(dtype)
    n_series = data.draw(st.integers(1, 8))
    arrays = [
        data.draw(
            hnp.arrays(
                dtype,
                data.draw(st.integers(0, 120)),
                elements=st.integers(int(info.min), int(info.max)),
            )
        )
        for _ in range(n_series)
    ]
    mode = data.draw(st.sampled_from(["delta", "doubledelta"]))
    blobs = sz.encode_batch(arrays, mode)
    for a, b in zip(arrays, blobs):
        assert b == sz.encode_column(a, mode)
        np.testing.assert_array_equal(sz.decode_column(b).view(dtype), a)


@settings(max_examples=40, deadline=None)
@given(st.data())
def test_decode_batch_mixed_formats(data):
    blobs, expect = [], []
    for _ in range(data.draw(st.integers(1, 12))):
        arr = _arrays(data.draw)
        mode = data.draw(
            st.sampled_from(_MODES + (["fire"] if arr.dtype.itemsize <= 2 else []))
        )
        blobs.append(sz.encode_column(arr, mode))
        expect.append(arr)
    out = sz.decode_batch(blobs)
    for got, arr in zip(out, expect):
        np.testing.assert_array_equal(got.view(arr.dtype), arr)


@given(st.binary(min_size=0, max_size=256))
@settings(max_examples=200, deadline=2000)
def test_decoders_never_hang_or_abort_on_garbage(buf):
    """Robustness: arbitrary bytes fed to the public decoders either
    raise a normal Python exception or return an ndarray — never hang,
    recurse forever, or kill the interpreter. (Round-5 fuzz pass; the
    search container additionally guarantees a *clear* ValueError for
    non-container bytes, tested in test_search.)"""
    import numpy as np

    from sprintz_spark.codecs import gorilla
    from sprintz_spark.codecs import search as S
    from sprintz_spark.codecs import sprintz as sz

    for dec in (
        sz.decode_column,
        S.search_decode,
        gorilla.decode,
    ):
        try:
            out = dec(buf)
            assert out is None or isinstance(out, np.ndarray)
        except Exception as e:  # any clean Python exception is acceptable
            assert isinstance(e, Exception)
