"""encode_batch must produce blobs that decode_column reads identically to
the per-series encoder, across boundary-heavy series mixes."""

import numpy as np
import pytest

from sprintz_spark.codecs import sprintz as sz

rng = np.random.default_rng(7)


@pytest.mark.parametrize("dtype", [np.uint8, np.uint16, np.int64])
@pytest.mark.parametrize("mode", [None, "delta", "doubledelta"])
def test_batch_matches_per_series(dtype, mode):
    arrays = []
    for n in [0, 1, 2, 7, 8, 9, 40, 64, 100, 1000]:
        walk = np.cumsum(rng.integers(-3, 4, n)).astype(dtype)
        arrays.append(walk)
        arrays.append(np.full(n, 7, dtype=dtype))  # constant (RLE path)
        arrays.append((np.arange(n) * 3).astype(dtype))  # ramp (dd wins)
    blobs = sz.encode_batch(arrays, mode)
    assert len(blobs) == len(arrays)
    for a, b in zip(arrays, blobs):
        back = sz.decode_column(b).view(a.dtype)
        np.testing.assert_array_equal(back, a)
        if mode is not None:
            # forced-mode batch output is byte-identical to encode_column
            assert b == sz.encode_column(a, mode)


def test_batch_auto_picks_doubledelta_for_ramps():
    ramp = (np.arange(640) * 997).astype(np.int64)
    const = np.full(640, 3, np.int64)
    blobs = sz.encode_batch([ramp, const], None)
    assert sz.blob_mode(blobs[0]) == "doubledelta"
    for a, b in zip([ramp, const], blobs):
        np.testing.assert_array_equal(sz.decode_column(b).view(np.int64), a)


def test_batch_fire_matches_encode_column():
    rng = np.random.default_rng(3)
    arrays = [
        (np.cumsum(rng.integers(-3, 4, n)) & 0xFFFF).astype(np.uint16)
        for n in [0, 1, 8, 40, 100]
    ]
    lens = np.array([len(a) for a in arrays])
    concat = np.concatenate([a for a in arrays if len(a)]) if any(lens) else np.zeros(0, np.uint16)
    blobs = sz.encode_batch_concat_fire(concat, lens)
    for a, b in zip(arrays, blobs):
        assert b == sz.encode_column(a, "fire")
        np.testing.assert_array_equal(sz.decode_column(b), a)

def test_batch_speed_on_tiny_series():
    import time

    arrays = [np.cumsum(rng.integers(-3, 4, 40)).astype(np.int64) for _ in range(2000)]
    t0 = time.perf_counter()
    blobs = sz.encode_batch(arrays, None)
    batch_t = time.perf_counter() - t0
    assert batch_t < 1.0, f"2000 tiny series took {batch_t:.2f}s in batch mode"
    for a, b in zip(arrays[:50], blobs[:50]):
        np.testing.assert_array_equal(sz.decode_column(b).view(np.int64), a)


def test_decode_batch_matches_decode_column():
    import time

    mixed = []
    for n in [0, 1, 7, 8, 40, 333, 4096]:
        walk = np.cumsum(rng.integers(-5, 6, n)).astype(np.int64)
        mixed.append(sz.encode_column(walk, "delta"))
        mixed.append(sz.encode_column(walk, "doubledelta"))
        mixed.append(sz.encode_column((walk & 0xFFFF).astype(np.uint16), "fire"))
        mixed.append(sz.encode_column((walk & 0xFF).astype(np.uint8), "raw"))
        mixed.append(sz.encode_column((walk & 0xFFFF).astype(np.uint16), "dyndelta"))
    outs = sz.decode_batch(mixed)
    for buf, got in zip(mixed, outs):
        np.testing.assert_array_equal(got, sz.decode_column(buf))


def test_decode_batch_speed():
    import time

    arrays = [np.cumsum(rng.integers(-3, 4, 40)).astype(np.int64) for _ in range(2000)]
    blobs = sz.encode_batch(arrays, None)
    t0 = time.perf_counter()
    outs = sz.decode_batch(blobs)
    t = time.perf_counter() - t0
    assert t < 0.5, f"decode_batch of 2000 tiny blobs took {t:.2f}s"
    for a, o in zip(arrays, outs):
        np.testing.assert_array_equal(o.view(np.int64), a)


def test_float_batch_matches_per_piece_quantize():
    """_encode_float_batch must reproduce quantize()+encode per piece:
    same qparams, lossless round-trip, incl. NaN sentinels, mixed widths,
    and quantizer-defeating pieces (None slots)."""
    import pandas as pd

    from sprintz_spark.codecs import quantize as Q
    from sprintz_spark.operators.encode import (
        _encode_float_batch,
        _encode_value_column,
        decode_value_columns_batch,
    )

    pieces = [
        np.array([1.25, 3.5, 2.0, 2.0]),                      # scale 100? -> 4
        np.array([7.0, 8.0, np.nan, 9.0]),                    # NaN sentinel
        np.arange(300.0) * 0.1,                               # scale 10
        np.array([np.nan, np.nan]),                           # all-NaN -> fallback
        np.array([0.1234567891] * 3),                         # no decimal scale -> fallback
        np.array([1e6, -1e6, 0.0]),                           # wide span
        np.array([np.inf, 1.0, 2.0]),                         # inf sentinel
    ]
    vals = np.concatenate(pieces)
    lens = np.array([len(p) for p in pieces], dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    blobs, metas = _encode_float_batch(vals, starts, lens, "float64")
    assert blobs[3] is None and blobs[4] is None  # fallback slots
    for i, p in enumerate(pieces):
        ref_blob, ref_meta = _encode_value_column(pd.Series(p))
        if blobs[i] is None:
            continue
        assert metas[i]["qparams"] == ref_meta["qparams"], i
        got = np.asarray(decode_value_columns_batch([blobs[i]], [metas[i]])[0])
        ref = np.asarray(decode_value_columns_batch([ref_blob], [ref_meta])[0])
        # sentinel semantics (reference dfquantize2): NaN and ±inf both
        # round-trip to NaN — compare against the per-piece path's output
        np.testing.assert_array_equal(got, ref, err_msg=f"piece {i}")
        finite = np.isfinite(p)
        np.testing.assert_array_equal(got[finite], p[finite], err_msg=f"piece {i}")


def test_batch_decoder_takes_every_meta_kind():
    """One decode_value_columns_batch call over blobs of every meta kind
    the per-series encoders write (plain int64 sprintz, quantized float,
    quantize-forced, booldelta, gorilla, search v1) returns every input,
    dtype included."""
    import pandas as pd

    from sprintz_spark.operators.encode import (
        _encode_value_column,
        decode_value_columns_batch,
    )

    r = np.random.default_rng(17)
    with_nan = np.round(r.normal(0, 3, 150), 1)
    with_nan[::7] = np.nan
    cases = [
        (pd.Series(np.cumsum(r.integers(-9, 10, 300))), None),
        (pd.Series(np.round(r.normal(50, 5, 200), 2)), None),
        (pd.Series(with_nan), "quantize"),
        (pd.Series(r.integers(0, 2, 90).astype(bool)), "booldelta"),
        (pd.Series(r.normal(0, 1, 120)), "gorilla"),
        (pd.Series(np.cumsum(r.integers(-2, 3, 250))), "search"),
    ]
    blobs, metas = zip(*(_encode_value_column(s, force) for s, force in cases))
    assert [(m["codec"], "qparams" in m, m.get("bool", False)) for m in metas] == [
        ("sprintz", False, False),
        ("sprintz", True, False),
        ("sprintz", True, False),
        ("sprintz", False, True),
        ("gorilla", False, False),
        ("search", False, False),
    ]
    outs = decode_value_columns_batch(list(blobs), list(metas))
    for (s, force), out in zip(cases, outs):
        out = np.asarray(out)
        assert out.dtype == s.dtype, force
        np.testing.assert_array_equal(out, s.to_numpy(), err_msg=str(force))


def test_batch_auto_picks_fire_when_smaller():
    """encode_batch_concat_auto must equal the per-series argmin of the
    delta/dd cost pick and a real FIRE encode, and a FIRE-favorable
    series must actually come out mode 3 ('fire')."""
    import numpy as np

    from sprintz_spark.codecs import sprintz as sz

    rng = np.random.default_rng(5)
    # sinusoid + noise: FIRE's adaptive filter beats delta/dd here
    t = np.arange(4096)
    wave = (120 + 100 * np.sin(t / 3.0) + rng.normal(0, 2, len(t))).astype(np.uint8)
    ramp = np.arange(4096, dtype=np.uint8)  # dd-favorable
    noise = rng.integers(0, 256, 4096).astype(np.uint8)  # incompressible
    values = np.concatenate([wave, ramp, noise])
    lens = np.array([4096, 4096, 4096])

    auto = sz.encode_batch_concat_auto(values, lens)
    base = sz.encode_batch_concat(values, lens, None)
    fire = sz.encode_batch_concat_fire(values, lens)
    for a, b, f in zip(auto, base, fire):
        assert a == (f if len(f) < len(b) else b)
    # the wave series must pick fire if (and only if) fire is smaller
    if len(fire[0]) < len(base[0]):
        assert sz.blob_mode(auto[0]) == "fire"
    # every auto blob round-trips exactly
    starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
    for blob, s, n in zip(auto, starts, lens):
        out = sz.decode_column(blob).view(np.uint8)
        assert (out == values[s : s + n]).all()


def test_float_batch_uses_fire_mode():
    """A FIRE-favorable quantized float column must get mode 3 through
    the vectorized float path (verdict r2 item 8)."""
    import numpy as np
    import pandas as pd

    from sprintz_spark.operators.encode import (
        _encode_float_batch,
        decode_value_columns_batch,
    )
    from sprintz_spark.codecs import sprintz as sz

    rng = np.random.default_rng(7)
    t = np.arange(4096)
    # drifting ramp + noise: FIRE's adaptive filter beats delta/dd here
    vals = np.round(t * 0.3 + rng.normal(0, 1.5, len(t)), 0)
    starts = np.array([0]); lens = np.array([len(vals)])
    res = _encode_float_batch(vals.astype(np.float64), starts, lens, "float64")
    assert res is not None
    blobs, metas = res
    # argmin contract: fire chosen iff its real blob is smaller
    sub = (vals - vals.min()).astype(np.uint16)
    base = sz.encode_batch_concat(sub, lens, None)
    fire = sz.encode_batch_concat_fire(sub, lens)
    want = "fire" if len(fire[0]) < len(base[0]) else sz.blob_mode(base[0])
    assert metas[0]["mode"] == want == "fire"
    out = decode_value_columns_batch([blobs[0]], [metas[0]])[0]
    assert (np.asarray(out, dtype=np.float64) == vals).all()


def test_encode_series_raw_bytes_take_arrow_widths(spark):
    """Raw bytes count each value column at its Arrow type's width: a
    boolean 1 byte, an int32 4 (also with nulls, which reach the encoder
    as float64), a double 8, plus 8 for the timestamp."""
    from pyspark.sql import functions as F

    from sprintz_spark.operators.encode import encode_series

    df = spark.range(40).select(
        F.lit("u").alias("url"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") * 60).alias("bucket"),
        (F.col("id") % 3 == 0).alias("b"),
        F.when(F.col("id") != 5, F.col("id")).cast("int").alias("i"),
        (F.col("id") / 4).alias("d"),
    )
    enc = encode_series(df, value_cols=["b", "i", "d"], codecs={"b": "booldelta"})
    row = enc.agg(F.sum("n").alias("n"), F.sum("raw_bytes").alias("raw")).first()
    assert row["n"] == 40
    assert row["raw"] == 40 * (8 + 1 + 4 + 8)
