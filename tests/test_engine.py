"""End-to-end engine tests: pages generation, series derivation, tier
cascade bit-exactness, salting equivalence, gap-fill semantics, and the
encode→decode→verify loop through Spark (the reference's
encode_measure_decode harness shape, python/dfsqueeze.py:133-231)."""

import datetime as dt

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from sprintz_spark.functions.text import extract_text
from sprintz_spark.operators import gapfill as GF
from sprintz_spark.operators import rollup as R
from sprintz_spark.operators.encode import (
    decode_series,
    decode_series_container,
    encode_series,
    encode_series_container,
    query_encoded,
    query_encoded_container,
)


def test_pages_deterministic_and_extractable(pages_small):
    pdf = pages_small.toPandas()
    assert len(pdf) > 2000
    assert set(pdf.columns) == {"url", "warc_ts", "html", "text", "lang"}
    # byte-identical extraction invariant (BASELINE.json input_hint)
    assert all(extract_text(h) == t for h, t in zip(pdf.html, pdf.text))
    # zipf skew: hottest url crawled much more than median
    vc = pdf.url.value_counts()
    assert vc.iloc[0] > 5 * vc.median()


def test_rollup_cascade_bit_exact(spark, pages_small):
    tiers = R.rollup_tiers(pages_small)
    t1h_direct = R.derive_series(pages_small, "1h").toPandas()
    t1h_cascade = tiers["1h"].toPandas()
    key = ["url", "bucket"]
    a = t1h_direct.sort_values(key).reset_index(drop=True)
    b = t1h_cascade.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b[a.columns])  # cascade == direct, exact
    t1d_direct = R.derive_series(pages_small, "1d").toPandas()
    c = tiers["1d"].toPandas().sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        t1d_direct.sort_values(key).reset_index(drop=True), c[t1d_direct.columns]
    )


def test_salted_rollup_equivalence(spark, pages_small):
    plain = R.derive_series(pages_small, "1h").toPandas()
    salted = R.derive_series_salted(pages_small, "1h", n_salts=8).toPandas()
    key = ["url", "bucket"]
    pd.testing.assert_frame_equal(
        plain.sort_values(key).reset_index(drop=True),
        salted.sort_values(key).reset_index(drop=True)[plain.columns],
    )


def _mk_series(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["url", "bucket", "v"])
    )


def test_gapfill_locf_and_linear(spark):
    t = lambda h: dt.datetime(2024, 1, 1, h)
    # interior multi-gap + leading/trailing handled (FIXTURES.md F6)
    obs = _mk_series(
        spark,
        [("u", t(1), 10), ("u", t(4), 40), ("u", t(5), 50), ("u", t(8), 20)],
    )
    locf = (
        GF.gapfill(obs, "1h", ["v"], method="locf")
        .orderBy("bucket")
        .toPandas()
    )
    assert locf.v.tolist() == [10, 10, 10, 40, 50, 50, 50, 20]
    lin = (
        GF.gapfill(obs, "1h", ["v"], method="linear").orderBy("bucket").toPandas()
    )
    assert lin.v.tolist() == [10.0, 20.0, 30.0, 40.0, 50.0, 40.0, 30.0, 20.0]


def test_gapfill_leading_gap_stays_null(spark):
    t = lambda h: dt.datetime(2024, 1, 1, h)
    obs = _mk_series(spark, [("u", t(0), None), ("u", t(2), 7), ("u", t(3), 9)])
    locf = GF.gapfill(obs, "1h", ["v"], method="locf").orderBy("bucket").toPandas()
    assert pd.isna(locf.v.iloc[0]) and pd.isna(locf.v.iloc[1]) and locf.v.iloc[2] == 7


def test_encode_decode_roundtrip_spark(spark, pages_small):
    series = R.derive_series(pages_small, "1h")
    enc = encode_series(series, chunk_rows=64).cache()  # force multi-chunk
    dec = decode_series(enc)
    orig = series.toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
    back = dec.toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(orig[back.columns], back)
    # compression actually happens on the smooth byte-size series
    m = enc.agg(F.sum("raw_bytes").alias("r"), F.sum("comp_bytes").alias("c")).first()
    assert m["c"] < m["r"]


def test_query_encoded_matches_plain_agg(spark, pages_small):
    series = R.derive_series(pages_small, "1h")
    enc = encode_series(series)
    q = query_encoded(enc, "byte_size_sum").toPandas().set_index("url")
    plain = (
        series.groupBy("url")
        .agg(
            F.sum("byte_size_sum").alias("s"),
            F.max("byte_size_sum").alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
        .toPandas()
        .set_index("url")
    )
    for url, row in plain.iterrows():
        assert q.loc[url, "byte_size_sum_sum"] == row["s"]
        assert q.loc[url, "byte_size_sum_max"] == row["m"]
        assert q.loc[url, "n_points"] == row["n"]


def test_encode_float_gapfilled_series(spark):
    # linear-filled series are float64 → quantize-or-gorilla path
    t0 = dt.datetime(2024, 1, 1)
    rows = [("u", t0 + dt.timedelta(hours=i), float(np.sin(i / 5) * 100))
            for i in range(200)]
    df = _mk_series(spark, rows)
    enc = encode_series(df, value_cols=["v"])
    back = (
        decode_series(enc, value_cols=["v"], value_types={"v": "double"})
        .toPandas().sort_values("bucket").reset_index(drop=True)
    )
    orig = df.toPandas().sort_values("bucket").reset_index(drop=True)
    assert (back.v.to_numpy().view(np.uint64) == orig.v.to_numpy().view(np.uint64)).all()


def test_decode_series_non_utc_session_across_dst(spark):
    """Under a non-UTC session zone every hour across the 2024
    spring-forward change in New York decodes to the instant it was
    encoded from."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        t0 = int(dt.datetime(2024, 3, 9, tzinfo=dt.timezone.utc).timestamp() * 1e6)
        df = spark.range(72).select(
            F.lit("u").alias("url"),
            F.timestamp_micros(F.lit(t0) + F.col("id") * 3_600_000_000).alias("bucket"),
            F.col("id").alias("v"),
        )
        dec = decode_series(encode_series(df, value_cols=["v"]), value_cols=["v"])
        back = dec.select(F.unix_micros("bucket").alias("us"), "v").toPandas()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    back = back.sort_values("v").reset_index(drop=True)
    assert back.v.tolist() == list(range(72))
    assert (back.us.to_numpy() == t0 + np.arange(72) * 3_600_000_000).all()


@pytest.mark.parametrize(
    "encode, decode, query",
    [
        (encode_series, decode_series, query_encoded),
        (encode_series_container, decode_series_container, query_encoded_container),
    ],
    ids=["per_series", "container"],
)
def test_store_independent_of_session_zone(spark, tmp_path, encode, decode, query):
    """Both encoded stores hold UTC micros, so the session zone never
    enters them: 30-minute buckets across the 2024 fall-back in New York
    (04:00Z to 08:00Z, the repeated 01:00-01:59 local hour inside) decode
    to every instant they were encoded from and aggregate exactly under
    America/New_York, and a store written under New York decodes to the
    same instants under UTC."""
    t0 = int(dt.datetime(2024, 11, 3, 4, tzinfo=dt.timezone.utc).timestamp() * 1e6)
    step = 1_800_000_000
    want_us = t0 + np.arange(9) * step

    def decoded(enc):
        dec = decode(enc, value_cols=["v"])
        out = dec.select("url", F.unix_micros("bucket").alias("us"), "v").toPandas()
        return out.sort_values("v").reset_index(drop=True)

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        df = spark.range(9).select(
            F.when(F.col("id") % 3 == 0, "a").otherwise("b").alias("url"),
            F.timestamp_micros(F.lit(t0) + F.col("id") * step).alias("bucket"),
            (F.col("id") * 10).alias("v"),
        )
        enc = encode(df, value_cols=["v"])
        ny = decoded(enc)
        q = query(enc, "v").toPandas().set_index("url")
        enc.write.parquet(str(tmp_path / "ny_store"))
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = decoded(spark.read.parquet(str(tmp_path / "ny_store")))
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    for back in (ny, utc):
        assert back.v.tolist() == list(range(0, 90, 10))
        assert (back.us.to_numpy() == want_us).all()
    assert q.loc["a"].tolist() == [90, 60, 0, 3]
    assert q.loc["b"].tolist() == [270, 80, 10, 6]


def test_decode_series_container_rejects_mismatched_rows(spark):
    """A container row whose blobs disagree with its keys or n, or with
    each other, raises CorruptBlobError instead of decoding wrong rows."""
    from sprintz_spark.codecs import sprintz as sz
    from sprintz_spark.operators.encode import (
        decode_series_container,
        encode_series_container,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [(f"u{i % 3}", t0 + dt.timedelta(hours=i), i) for i in range(30)]
    enc = encode_series_container(_mk_series(spark, rows), value_cols=["v"], n_parts=1)
    other = bytearray(sz.encode_container(np.arange(30), np.array([10, 20])))
    bad = {
        "keys": F.concat("keys", F.array(F.lit("extra"))),
        "n": F.col("n") + 1,
        "blob_v": F.lit(other),
    }
    for col, expr in bad.items():
        with pytest.raises(Exception, match="CorruptBlobError"):
            decode_series_container(enc.withColumn(col, expr), value_cols=["v"]).count()


def test_decode_series_integer_value_column(spark):
    t0 = dt.datetime(2024, 1, 1)
    rows = [("u", t0 + dt.timedelta(hours=i), (i * 37) % 1000 - 500) for i in range(300)]
    df = _mk_series(spark, rows).withColumn("v", F.col("v").cast("int"))
    enc = encode_series(df, value_cols=["v"])
    back = decode_series(enc, value_cols=["v"], value_types={"v": IntegerType()})
    assert back.schema["v"].dataType == IntegerType()
    got = back.toPandas().sort_values("bucket").v.tolist()
    assert got == [r[2] for r in rows]


def test_zip_invalidate_skips_unchanged_archive(tmp_path, monkeypatch):
    """``importlib.invalidate_caches()`` does not re-read an unchanged zip
    (the package's fix for CPython < 3.13), and a rewritten zip is still
    picked up."""
    import importlib
    import sys
    import zipfile
    import zipimport

    import sprintz_spark  # noqa: F401  (installs the fix)

    archive = tmp_path / "szzip.zip"

    def write(*extra):
        with zipfile.ZipFile(archive, "w") as z:
            for name in ("szzip_pkg/__init__.py", "szzip_pkg/sub/__init__.py",
                         "szzip_pkg/sub/mod.py", *extra):
                z.writestr(name, "")

    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory",
        lambda path: (reads.append(path) if path == str(archive) else None) or real(path),
    )
    write()
    sys.path.insert(0, str(archive))
    try:
        import szzip_pkg.sub.mod  # noqa: F401

        assert sum(isinstance(f, zipimport.zipimporter) and f.archive == str(archive)
                   for f in sys.path_importer_cache.values()) >= 2
        importlib.invalidate_caches()  # first call after import: reads once
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        write("szzip_pkg/sub/new.py")
        importlib.invalidate_caches()
        assert len(reads) == 1  # one re-read, shared by every importer
        import szzip_pkg.sub.new  # noqa: F401
    finally:
        sys.path.remove(str(archive))
        for p in [p for p in sys.path_importer_cache if p.startswith(str(archive))]:
            del sys.path_importer_cache[p]
        for m in [m for m in sys.modules if m.split(".")[0] == "szzip_pkg"]:
            del sys.modules[m]


def test_worker_zip_invalidate_skips_unchanged(spark):
    """On a Python worker that has imported the package, the per-task
    ``importlib.invalidate_caches()`` re-reads no zip archive."""

    def count(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import sprintz_spark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()  # as the worker's next task setup would
        reads = []
        real = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or real(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        n_zip = sum(isinstance(f, zipimport.zipimporter)
                    for f in sys.path_importer_cache.values())
        yield pa.RecordBatch.from_pydict({"reads": [len(reads)], "zips": [n_zip]})

    got = spark.range(0, 4, 1, 4).mapInArrow(count, "reads long, zips long").collect()
    assert len(got) == 4
    if not any(r.zips for r in got):
        pytest.skip("workers import nothing from zip archives")
    assert [r.reads for r in got] == [0, 0, 0, 0]


def test_io_dispatch_roundtrip(spark, tmp_path):
    """read_table/write_table format dispatch (reference make_dfset /
    CsvDfSet / copy_from_csvs_dir parity)."""
    import pandas as pd

    from sprintz_spark.sources.io import copy_from_csv_dir, read_table, write_table

    df = spark.createDataFrame(
        pd.DataFrame({"a": [1, 2, 3], "b": [1.5, 2.5, -3.0], "s": ["x", "y", "z"]})
    )
    for fmt in ("parquet", "csv", "json"):
        p = str(tmp_path / f"t_{fmt}")
        write_table(df, p, fmt=fmt, compression="none" if fmt == "parquet" else None)
        back = read_table(spark, p, fmt=fmt, schema=df.schema if fmt == "json" else None)
        got = back.toPandas().sort_values("a").reset_index(drop=True)
        want = df.toPandas().sort_values("a").reset_index(drop=True)
        pd.testing.assert_frame_equal(got[sorted(got.columns)], want[sorted(want.columns)], check_dtype=False)
    csv_dir = str(tmp_path / "t_csv")
    got = copy_from_csv_dir(spark, csv_dir).toPandas().sort_values("a").reset_index(drop=True)
    assert len(got) == 3 and set(got.columns) == {"a", "b", "s"}


def test_container_series_roundtrip(spark, pages_small):
    """Container encode (one blob per partition+column, many series) must
    round-trip the daily tier exactly and beat per-series blob sizes."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sprintz_spark.operators import rollup as R
    from sprintz_spark.operators.encode import (
        decode_series_container,
        encode_series,
        encode_series_container,
    )

    t1d = R.derive_series(pages_small, "1d")
    cols = ["crawl_count", "byte_size_sum", "byte_size_max", "byte_size_min"]
    enc = encode_series_container(t1d, key_cols=["url"], value_cols=cols)
    dec = decode_series_container(enc, key_cols=["url"], value_cols=cols)
    got = dec.toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
    want = t1d.toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)
    # size win vs per-series blobs; a container's compressed bytes are
    # its blob lengths, its raw bytes 8 per bucket and per measure
    blobs = ["ts_blob"] + [f"blob_{c}" for c in cols]
    c_sizes = enc.agg(
        F.sum(sum(F.octet_length(b) for b in blobs)),
        F.sum(F.col("n") * 8 * (1 + len(cols))),
    ).first()
    p = encode_series(t1d, key_cols=["url"], value_cols=cols)
    p_sizes = p.agg(F.sum("comp_bytes")).first()
    assert c_sizes[0] < p_sizes[0], (c_sizes[0], p_sizes[0])
    assert c_sizes[1] / c_sizes[0] > 2.0  # daily tier compresses now


def test_container_custom_part_col_passthrough(spark, pages_small):
    """A caller-named partition column (not literally 'part') must survive
    the container round trip on every decoded row."""
    from pyspark.sql import functions as F

    from sprintz_spark.operators import rollup as R
    from sprintz_spark.operators.encode import (
        decode_series_container,
        encode_series_container,
    )

    shard = F.pmod(F.xxhash64("url"), F.lit(4)).cast("int")
    t1d = R.derive_series(pages_small, "1d").withColumn("shard", shard)
    enc = encode_series_container(
        t1d, key_cols=["url"], value_cols=["crawl_count"], part_col="shard"
    )
    dec = decode_series_container(enc, key_cols=["url"], value_cols=["crawl_count"])
    assert "shard" in dec.columns
    bad = dec.where(F.col("shard") != shard).count()
    assert bad == 0


def test_query_encoded_container(spark, pages_small):
    """Fused aggregate over container blobs == aggregate over raw tier."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sprintz_spark.operators import rollup as R
    from sprintz_spark.operators.encode import (
        encode_series_container,
        query_encoded_container,
    )

    t1d = R.derive_series(pages_small, "1d")
    cols = ["crawl_count", "byte_size_sum", "byte_size_max", "byte_size_min"]
    enc = encode_series_container(t1d, key_cols=["url"], value_cols=cols)
    got = (
        query_encoded_container(enc, "byte_size_sum")
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    want = (
        t1d.groupBy("url").agg(
            F.sum("byte_size_sum").alias("byte_size_sum_sum"),
            F.max("byte_size_sum").alias("byte_size_sum_max"),
            F.min("byte_size_sum").alias("byte_size_sum_min"),
            F.count(F.lit(1)).alias("n_points"),
        ).toPandas().sort_values("url").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


def test_container_piece_cap_roundtrip(spark, pages_small):
    """Series longer than chunk_rows are cut into row-sliced pieces: the
    container round trip and query-on-compressed stay exact, every
    container holds each key at most once, and no container reaches
    2 * chunk_rows rows."""
    from sprintz_spark.operators.encode import (
        decode_series_container,
        encode_series_container,
        query_encoded_container,
    )

    chunk_rows = 16
    t1h = R.derive_series(pages_small, "1h")
    want = t1h.toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
    assert want.groupby("url").size().max() > 2 * chunk_rows  # real pieces
    cols = ["crawl_count", "byte_size_sum", "byte_size_max", "byte_size_min"]
    enc = encode_series_container(
        t1h, key_cols=["url"], value_cols=cols, chunk_rows=chunk_rows
    ).cache()
    dec = decode_series_container(enc, key_cols=["url"], value_cols=cols)
    got = dec.toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)

    meta = enc.select("keys", "n").toPandas()
    assert all(len(set(k)) == len(k) for k in meta["keys"])
    assert (meta["n"] < 2 * chunk_rows).all()
    key_containers = pd.Series([k for ks in meta["keys"] for k in ks]).value_counts()
    assert key_containers.max() > 2  # some series spans several containers

    q = (
        query_encoded_container(enc, "byte_size_sum")
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    qw = (
        want.groupby("url")["byte_size_sum"]
        .agg(["sum", "max", "min", "count"])
        .reset_index()
    )
    assert q["url"].tolist() == qw["url"].tolist()
    assert q["byte_size_sum_sum"].tolist() == qw["sum"].tolist()
    assert q["byte_size_sum_max"].tolist() == qw["max"].tolist()
    assert q["byte_size_sum_min"].tolist() == qw["min"].tolist()
    assert q["n_points"].tolist() == qw["count"].tolist()
    enc.unpersist()


def test_container_short_series_layout_unchanged(spark, pages_small):
    """On the daily and hourly tiers, with every series at most
    chunk_rows rows, containers pack WHOLE
    series by cumulative row offset and their blobs are exactly
    codecs.sprintz.encode_container over those whole series, transformed
    as the row's meta names: ts divided by its ``scale`` (the gcd of the
    container's ts), a measure with a ``pred`` as its residual against
    the measure before it. A measure is predicted exactly when that saves
    at least ``_PRED_MIN_SAVING`` bytes."""
    import json

    from sprintz_spark.codecs import sprintz as sz
    from sprintz_spark.codecs.extras import colsum_residual
    from sprintz_spark.operators.encode import _PRED_MIN_SAVING, encode_series_container

    cols = ["crawl_count", "byte_size_sum", "byte_size_max", "byte_size_min"]
    preds = 0
    # the daily tier's containers are too small for a prediction to save
    # _PRED_MIN_SAVING bytes; the hourly tier's byte_size_min saves more
    for tier in ("1d", "1h"):
        series = R.derive_series(pages_small, tier).withColumn("p", F.lit(0))
        want = series.toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
        lens = want.groupby("url", sort=True).size()
        chunk_rows = int(lens.max())  # every series fits, several containers
        enc = (
            encode_series_container(
                series, key_cols=["url"], value_cols=cols, chunk_rows=chunk_rows,
                part_col="p",
            )
            .toPandas()
        )
        # containers are cut from key-sorted rows: their first keys order them
        enc = enc.iloc[enc["keys"].map(lambda k: k[0]).argsort()].reset_index(drop=True)
        cont = (lens.cumsum() - lens) // chunk_rows
        assert len(enc) == cont.nunique() > 1
        assert [cont[k[0]] for k in enc["keys"]] == sorted(cont.unique())
        ts = want["bucket"].astype("datetime64[us]").to_numpy().view(np.int64)
        for row in enc.itertuples():
            keys = cont.index[cont == cont[row.keys[0]]].tolist()
            assert list(row.keys) == keys
            sel = want["url"].isin(keys).to_numpy()
            lens_c = lens[keys].to_numpy()
            meta = json.loads(row.meta)
            scale = meta["ts"]["scale"]
            assert scale == np.gcd.reduce(ts[sel]) > 1
            assert row.ts_blob == sz.encode_container(ts[sel] // scale, lens_c, "doubledelta")
            for j, c in enumerate(cols):
                v = want[c].to_numpy(np.int64)[sel]
                plain = sz.encode_container(v, lens_c, "auto")
                if j == 0:
                    assert "pred" not in meta[c]
                    assert getattr(row, f"blob_{c}") == plain
                    continue
                base = want[cols[j - 1]].to_numpy(np.int64)[sel]
                resid = sz.encode_container(colsum_residual(v, [base]), lens_c, "auto")
                if meta[c].get("pred") == cols[j - 1]:
                    preds += 1
                    assert getattr(row, f"blob_{c}") == resid
                    assert len(plain) - len(resid) >= _PRED_MIN_SAVING
                else:
                    assert "pred" not in meta[c]
                    assert getattr(row, f"blob_{c}") == plain
                    assert len(plain) - len(resid) < _PRED_MIN_SAVING
            assert row.start_bucket == want["bucket"][sel].min()
            assert row.end_bucket == want["bucket"][sel].max()
    assert preds  # some container stores a measure as a residual


def test_expire_tier_drops_pieces_of_long_series(spark, pages_small, tmp_path):
    """A default-layout store with a small chunk_rows gives TTL expiry
    whole chunks to drop inside ONE long series: its old pieces go, its
    rows at/after the cutoff all stay."""
    from sprintz_spark.plans import retention as RT

    out = str(tmp_path / "store")
    RT.run_retention(pages_small, out, snapshot_id="s1", n_buckets=2, chunk_rows=8)
    before = RT.read_tier_decoded(spark, out, "s1", "1h").toPandas()
    hot = before["url"].value_counts().index[0]
    hot_rows = before[before["url"] == hot].sort_values("bucket")
    assert len(hot_rows) > 4 * 8
    cutoff = hot_rows["bucket"].iloc[len(hot_rows) // 2]

    rep = RT.expire_tier(spark, out, "s1", "1h", cutoff)
    assert rep["chunks_dropped"] > 0
    after = RT.read_tier_decoded(spark, out, "s1", "1h").toPandas()
    hot_after = after[after["url"] == hot]
    assert len(hot_after) < len(hot_rows)  # old pieces of the series dropped
    kept = set(hot_after["bucket"])
    assert set(hot_rows["bucket"][hot_rows["bucket"] >= cutoff]) <= kept


def test_npy_feather_smart_dfsets(spark, tmp_path):
    """NpyDfSet/FeatherDfSet/SmartDfSet analogs (reference
    python/dfset.py:445-560): round-trips + the Smart numpy-vs-feather
    write rule."""
    import numpy as np
    from pyspark.sql import functions as F

    from sprintz_spark.sources.io import (
        read_npy,
        read_smart,
        read_table,
        write_smart,
        write_table,
    )

    df = spark.range(100).select(
        F.col("id").alias("value"), (F.col("id") * 2).cast("double").alias("d")
    )
    # npy: single numeric column
    p = str(tmp_path / "col.npy")
    write_table(df.select("value"), p, fmt="npy")
    back = read_npy(spark, p)
    assert back.toPandas()["value"].tolist() == list(range(100))

    # feather: whole frame, extension-dispatched
    p2 = str(tmp_path / "frame.feather")
    write_table(df, p2)
    back2 = read_table(spark, p2)
    assert back2.count() == 100 and set(back2.columns) == {"value", "d"}

    # smart: numeric -> .npy, strings -> .feather (reference write rule)
    base_num = str(tmp_path / "smart_num")
    chosen = write_smart(df, base_num, "value")
    assert chosen.endswith(".npy")
    assert read_smart(spark, base_num).count() == 100

    sdf = spark.range(10).select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("value")
    )
    base_str = str(tmp_path / "smart_str")
    chosen2 = write_smart(sdf, base_str, "value")
    assert chosen2.endswith(".feather")
    got = read_smart(spark, base_str).toPandas()["value"].tolist()
    assert got[0] == "doc-0" and len(got) == 10


def test_spark_submit_py_files_package(tmp_path):
    """The north-star packaging claim, exercised for real: spark-submit
    --py-files <package zip> runs a driver script that imports the engine
    from the shipped zip (cwd outside the repo) and executes a query."""
    import subprocess
    import sys

    from sprintz_spark.session import package_zip

    zip_path = package_zip()
    script = tmp_path / "job.py"
    script.write_text(
        """
import json
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false").getOrCreate())
from sprintz_spark.sources.pages import generate_pages
from sprintz_spark.operators import rollup as R
pages = generate_pages(spark, 2000)
n = R.derive_series(pages, "1m").count()
print(json.dumps({"rows": int(n)}))
spark.stop()
"""
    )
    res = subprocess.run(
        [
            "/opt/spark/bin/spark-submit",
            "--master", "local[2]",
            "--py-files", zip_path,
            str(script),
        ],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    import json as _json

    lines = [l for l in res.stdout.splitlines() if l.startswith("{")]
    assert lines, f"no JSON line; stderr tail: {res.stderr[-2000:]}"
    assert _json.loads(lines[-1])["rows"] > 0
