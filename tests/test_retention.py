"""Retention cascade + checkpoint/resume tests (FIXTURES.md F6 resume
fixture: run, truncate manifest after partition k, re-run, assert
byte-identical tier output and that completed partitions were skipped)."""

import datetime as dt
import glob
import json
import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

import pytest

from sprintz_spark.plans import retention as RT


def _decode_tier(spark, out_dir, tier, snap="snapA"):
    df = RT.read_tier_decoded(spark, out_dir, snap, tier)
    return (
        df.toPandas()
        .sort_values(["url", "bucket"])
        .reset_index(drop=True)[["url", "bucket", *RT.MEASURES]]
    )


def test_retention_run_and_resume(spark, pages_small, tmp_path):
    out1 = str(tmp_path / "ret1")
    rep = RT.run_retention(pages_small, out1, snapshot_id="snapA", n_buckets=4)
    assert all(r["parts_written"] == 4 for r in rep.values())

    # tier outputs decode to exactly the plain rollup results
    from sprintz_spark.operators import rollup as R

    for tier in ("1m", "1h", "1d"):
        expect = (
            R.rollup_tiers(pages_small)[tier]
            .toPandas()
            .sort_values(["url", "bucket"])
            .reset_index(drop=True)
        )
        got = _decode_tier(spark, out1, tier)
        pd.testing.assert_frame_equal(expect[got.columns], got)

    # re-run same snapshot: everything skipped
    rep2 = RT.run_retention(pages_small, out1, snapshot_id="snapA", n_buckets=4)
    assert all(r["parts_written"] == 0 for r in rep2.values())

    # truncate manifest: drop rows for two 1h partitions -> only those rerun
    man_path = os.path.join(out1, "manifest")
    man = spark.read.parquet(man_path).toPandas()
    keep = man[~((man.tier == "1h") & (man.part.isin([0, 1])))]
    shutil.rmtree(man_path)
    spark.createDataFrame(keep).write.parquet(man_path)
    rep3 = RT.run_retention(pages_small, out1, snapshot_id="snapA", n_buckets=4)
    assert rep3["1h"]["parts_written"] == 2
    assert rep3["1m"]["parts_written"] == 0 and rep3["1d"]["parts_written"] == 0

    # resumed output is byte-identical to a clean single run
    out2 = str(tmp_path / "ret2")
    RT.run_retention(pages_small, out2, snapshot_id="snapA", n_buckets=4)
    for tier in ("1m", "1h", "1d"):
        a = _decode_tier(spark, out1, tier)
        b = _decode_tier(spark, out2, tier)
        pd.testing.assert_frame_equal(a, b)

    ratios = RT.tier_ratio_report(spark, out2, "snapA")
    assert set(ratios) == {"1m", "1h", "1d"}
    assert all(v["rows"] > 0 and v["ratio"] > 0 for v in ratios.values())


def test_run_retention_leaves_only_encoded_tiers(spark, pages_small, tmp_path):
    """The rolled-up cascade intermediate is staged and removed: a
    snapshot holds its encoded_tier=* dirs and the write's _SUCCESS /
    .crc markers, and no series_tier=* or _cascade path remains."""
    out = str(tmp_path / "layout")
    RT.run_retention(pages_small, out, snapshot_id="s1", n_buckets=2)
    names = sorted(os.listdir(f"{out}/snap=s1"))
    tiers = [n for n in names if n.startswith("encoded_tier=")]
    assert tiers == ["encoded_tier=1d", "encoded_tier=1h", "encoded_tier=1m"]
    assert all(n in tiers or n == "_SUCCESS" or n.endswith(".crc") for n in names)
    for dirpath, dirs, _files in os.walk(out):
        stray = [d for d in dirs if d.startswith(("series_tier=", "_cascade"))]
        assert not stray, dirpath


def _binary_stat_lengths(path):
    """Lengths of every BYTE_ARRAY column chunk's footer min and max in
    every parquet file under ``path``."""
    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    assert files, path
    lengths = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            for c in range(md.num_columns):
                col = md.row_group(rg).column(c)
                st = col.statistics
                if col.physical_type == "BYTE_ARRAY" and st and st.has_min_max:
                    lengths += [len(st.min_raw), len(st.max_raw)]
    return lengths


def test_encoded_tier_footers_hold_no_blob_copies(spark, pages_small, tmp_path):
    """Every encoded-tier write — ingest, compaction and the expiry
    rewrite — truncates binary footer statistics to 64 bytes, so a
    footer never repeats a blob as its min/max."""
    out = str(tmp_path / "footers")
    RT.run_retention(pages_small, out, snapshot_id="s1", n_buckets=2, chunk_rows=8)
    RT.compact_tiers(spark, out, ["s1"], "c1", n_buckets=2, chunk_rows=8)
    before = RT.read_tier_decoded(spark, out, "s1", "1h").toPandas()
    cutoff = sorted(before["bucket"].unique())[len(before["bucket"].unique()) // 2]
    assert RT.expire_tier(spark, out, "s1", "1h", cutoff)["chunks_dropped"] > 0
    for sid in ("s1", "c1"):
        for tier in ("1m", "1h", "1d"):
            lengths = _binary_stat_lengths(RT._enc_dir(out, sid, tier))
            assert lengths and max(lengths) <= RT._STATS_TRUNCATE_BYTES, (sid, tier)


@pytest.mark.parametrize(
    "leftover", ["_cascade/series_tier=1m", "series_tier=1m"],
    ids=["crashed_ingest", "old_layout"],
)
def test_leftover_series_dir_changes_no_answer(spark, pages_small, tmp_path, leftover):
    """A rolled-up series dir inside a snapshot — the staging dir of a
    crashed ingest, or the series_tier=* dir older versions kept beside
    the encoded tiers — changes nothing read, compacted or expired; a
    re-run of the snapshot's ingest removes a staging leftover."""
    from sprintz_spark.operators import rollup as R

    answers = []
    for name in ("clean", "leftover"):
        out = str(tmp_path / name)
        RT.run_retention(pages_small, out, "s1", n_buckets=2, chunk_rows=8)
        if name == "leftover":
            R.derive_series(pages_small, "1m").write.mode("overwrite").parquet(
                f"{out}/snap=s1/{leftover}"
            )
        dec = _decode_tier(spark, out, "1m", snap="s1")
        query = (
            RT.query_tier(spark, out, "s1", "1m", "byte_size_sum")
            .toPandas().sort_values("url").reset_index(drop=True)
        )
        comp = RT.compact_tiers(spark, out, ["s1"], "c1", n_buckets=2)
        comp_dec = _decode_tier(spark, out, "1h", snap="c1")
        cutoff = sorted(dec["bucket"].unique())[len(dec["bucket"].unique()) // 2]
        exp = RT.expire_tier(spark, out, "s1", "1m", cutoff)
        exp_dec = _decode_tier(spark, out, "1m", snap="s1")
        answers.append((dec, query, comp, comp_dec, exp, exp_dec))
    clean, planted = answers
    assert clean[4]["chunks_dropped"] > 0
    for want, got in zip(clean, planted):
        if isinstance(want, pd.DataFrame):
            pd.testing.assert_frame_equal(got, want)
        else:
            assert got == want
    if leftover.startswith("_cascade"):
        RT.run_retention(pages_small, out, "s1", n_buckets=2, chunk_rows=8)
        assert not os.path.exists(f"{out}/snap=s1/_cascade")


def test_query_tier_from_store(spark, pages_small, tmp_path):
    """query_tier answers per-url aggregates from the encoded store
    (container format) equal to aggregating the raw tier."""
    import pandas as pd

    from sprintz_spark.operators import rollup as R

    out = str(tmp_path / "retq")
    RT.run_retention(pages_small, out, snapshot_id="snapQ", n_buckets=4)
    got = (
        RT.query_tier(spark, out, "snapQ", "1h", "byte_size_sum")
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    want = (
        R.derive_series(pages_small, "1h")
        .groupBy("url")
        .agg(
            F.sum("byte_size_sum").alias("byte_size_sum_sum"),
            F.max("byte_size_sum").alias("byte_size_sum_max"),
            F.min("byte_size_sum").alias("byte_size_sum_min"),
            F.count(F.lit(1)).alias("n_points"),
        )
        .toPandas().sort_values("url").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


def test_read_tier_range_prunes_and_matches(spark, pages_small, tmp_path):
    """Time-range reads: blob-level pruning on [start_bucket, end_bucket]
    + exact post-decode filter equals filtering the raw tier."""
    import datetime as dt

    import pandas as pd

    from sprintz_spark.operators import rollup as R

    out = str(tmp_path / "retr")
    RT.run_retention(pages_small, out, snapshot_id="snapR", n_buckets=4)
    t = R.derive_series(pages_small, "1h").toPandas()
    lo = t["bucket"].quantile(0.3).to_pydatetime()
    hi = t["bucket"].quantile(0.6).to_pydatetime()
    got = (
        RT.read_tier_range(spark, out, "snapR", "1h", lo, hi)
        .toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
    )
    want = (
        t[(t["bucket"] >= lo) & (t["bucket"] <= hi)]
        .sort_values(["url", "bucket"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)
    # the predicate reaches the parquet scan; INT96 columns carry no
    # statistics, so it skips no row group and saves decode work only
    enc = spark.read.parquet(out + "/snap=snapR/encoded_tier=1h").where(
        (F.col("start_bucket") <= F.lit(hi)) & (F.col("end_bucket") >= F.lit(lo))
    )
    import io as sio, contextlib
    buf = sio.StringIO()
    with contextlib.redirect_stdout(buf):
        enc.explain("simple")
    assert "PushedFilters: [" in buf.getvalue()
    assert "LessThanOrEqual(start_bucket" in buf.getvalue()


def test_read_tier_range_container_starting_late_series_first(spark, tmp_path):
    """A container's start_bucket is its minimum bucket, not its first
    series' first bucket: url 'a' (packed first) starts on Jan 5, url 'b'
    on Jan 1, and a range read over Jan 1-2 must still find b's rows."""
    from sprintz_spark.operators import rollup as R

    day = dt.timedelta(days=1)
    rows = [("https://a/", dt.datetime(2024, 1, 5) + i * day, b"x" * (i + 1))
            for i in range(5)]
    rows += [("https://b/", dt.datetime(2024, 1, 1) + i * day, b"y" * (i + 2))
             for i in range(10)]
    pages = spark.createDataFrame(rows, "url string, warc_ts timestamp, html binary")
    out = str(tmp_path / "late")
    RT.run_retention(pages, out, snapshot_id="s1", n_buckets=1)
    lo, hi = dt.datetime(2024, 1, 1), dt.datetime(2024, 1, 2, 23, 59)
    got = (
        RT.read_tier_range(spark, out, "s1", "1h", lo, hi)
        .toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
    )
    t = R.derive_series(pages, "1h").toPandas()
    want = (
        t[(t["bucket"] >= lo) & (t["bucket"] <= hi)]
        .sort_values(["url", "bucket"]).reset_index(drop=True)
    )
    assert len(want) == 2
    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)
    man = RT.read_manifest(spark, out).where(F.col("tier") == "1h").first()
    assert man["min_bucket"] == dt.datetime(2024, 1, 1)


def _per_series_encoded(spark, pages_small, path):
    """Write a 1h tier in the per-series chunk layout (encode_series rows,
    no ``keys`` column) — what older stores held."""
    from sprintz_spark.operators import rollup as R
    from sprintz_spark.operators.encode import encode_series

    t1h = R.derive_series(pages_small, "1h")
    encode_series(t1h, key_cols=["url"], value_cols=RT.MEASURES).withColumn(
        "part", F.lit(0)
    ).write.partitionBy("part").parquet(path)


_JAN1 = dt.datetime(2024, 1, 1)


@pytest.mark.parametrize(
    "read",
    [
        lambda spark, out: RT.read_tier_decoded(spark, out, "old", "1h"),
        lambda spark, out: RT.query_tier(spark, out, "old", "1h", "crawl_count"),
        lambda spark, out: RT.read_tier_range(spark, out, "old", "1h", _JAN1, _JAN1),
        lambda spark, out: RT.compact_tiers(spark, out, ["old"], "c", tiers=("1h",)),
        lambda spark, out: RT.expire_tier(spark, out, "old", "1h", _JAN1),
    ],
    ids=["read_tier_decoded", "query_tier", "read_tier_range", "compact_tiers",
         "expire_tier"],
)
def test_per_series_store_raises_typed_error(spark, pages_small, tmp_path, read):
    """Every retention reader names the per-series layout in a
    ValueError instead of failing on a missing column."""
    out = str(tmp_path / "old_store")
    _per_series_encoded(spark, pages_small, f"{out}/snap=old/encoded_tier=1h")
    with pytest.raises(ValueError, match="per-series chunk layout"):
        read(spark, out)


def test_compact_ignores_stale_temporary_files(spark, pages_small, tmp_path):
    """A leftover _temporary/.../part-*.parquet with the per-series schema
    (a failed earlier write) under an encoded-tier directory changes
    nothing compact_tiers returns or writes."""
    split = pages_small.agg(
        F.date_trunc("day", F.min("warc_ts")) + F.expr("INTERVAL 2 DAYS")
    ).collect()[0][0]
    stale_src = str(tmp_path / "stale_src")
    _per_series_encoded(spark, pages_small, stale_src)
    stale_file = glob.glob(f"{stale_src}/part=0/*.parquet")[0]
    results = []
    for name in ("clean", "stale"):
        out = str(tmp_path / name)
        RT.run_retention(
            pages_small.where(F.col("warc_ts") < F.lit(split)), out, "s1",
            n_buckets=1, chunk_rows=8,
        )
        RT.run_retention(
            pages_small.where(F.col("warc_ts") >= F.lit(split)), out, "s2",
            n_buckets=1, chunk_rows=8,
        )
        if name == "stale":
            for sid in ("s1", "s2"):
                for tier in ("1m", "1h", "1d"):
                    tmp = f"{out}/snap={sid}/encoded_tier={tier}/_temporary/0"
                    os.makedirs(tmp)
                    shutil.copy(stale_file, f"{tmp}/part-00000-stale.c000.snappy.parquet")
        rep = RT.compact_tiers(spark, out, ["s1", "s2"], "c1", n_buckets=1)
        dec = {t: _decode_tier(spark, out, t, snap="c1") for t in ("1m", "1h", "1d")}
        results.append((rep, dec))
    (rep_a, dec_a), (rep_b, dec_b) = results
    assert rep_a == rep_b
    for t in ("1m", "1h", "1d"):
        pd.testing.assert_frame_equal(dec_a[t], dec_b[t])


def test_expire_tier_drops_old_chunks_conservatively(spark, pages_small, tmp_path):
    """TTL expiry: chunks fully before the cutoff disappear, a chunk
    straddling the cutoff survives in full, and the decoded remainder
    equals the rollup filtered by the surviving chunks' coverage."""
    from pyspark.sql import functions as F

    from sprintz_spark.plans import retention as RT

    out = str(tmp_path / "store")
    RT.run_retention(pages_small, out, snapshot_id="s1", n_buckets=2, chunk_rows=8)
    before = RT.read_tier_decoded(spark, out, "s1", "1h").toPandas()
    cutoff = sorted(before["bucket"].unique())[len(before["bucket"].unique()) // 2]

    dry = RT.expire_tier(spark, out, "s1", "1h", cutoff, dry_run=True)
    assert dry["dry_run"] and dry["chunks_dropped"] > 0
    # dry run changed nothing
    assert len(RT.read_tier_decoded(spark, out, "s1", "1h").toPandas()) == len(before)

    rep = RT.expire_tier(spark, out, "s1", "1h", cutoff)
    assert rep["chunks_dropped"] == dry["chunks_dropped"]
    after = RT.read_tier_decoded(spark, out, "s1", "1h").toPandas()
    # conservative: everything at/after the cutoff is still there
    want = before[before["bucket"] >= cutoff]
    assert len(after) >= len(want)
    got_keys = set(zip(after["url"], after["bucket"]))
    assert set(zip(want["url"], want["bucket"])) <= got_keys
    # nothing fully-expired survives: every remaining chunk's range ends
    # at or after the cutoff
    enc = spark.read.parquet(f"{out}/snap=s1/encoded_tier=1h")
    assert enc.where(F.col("end_bucket") < F.lit(cutoff)).count() == 0
    # audit row recorded
    log = spark.read.parquet(f"{out}/expiry_log").collect()
    assert log and log[0]["chunks_dropped"] == rep["chunks_dropped"]
    # manifest recomputed: no stale bytes from expired chunks. The
    # store's bytes derive from each row: raw = 8 B per bucket and per
    # measure, compressed = the blob lengths
    man = RT.read_manifest(spark, out)
    man_bytes = (
        man.where((F.col("tier") == "1h") & (F.col("snapshot_id") == "s1"))
        .agg(F.sum("raw_bytes"), F.sum("comp_bytes"))
        .first()
    )
    rows = enc.toPandas()
    store_raw = int(rows["n"].sum()) * 8 * (1 + len(RT.MEASURES))
    store_comp = sum(int(rows[c].map(len).sum()) for c in RT._BLOB_COLS)
    assert tuple(man_bytes) == (store_raw, store_comp)


def test_expire_snapshots_gc_after_compaction(spark, pages_small, tmp_path):
    import os

    from pyspark.sql import functions as F

    from sprintz_spark.plans import retention as RT

    out = str(tmp_path / "store")
    split = pages_small.agg(
        F.date_trunc("day", F.min("warc_ts")) + F.expr("INTERVAL 2 DAYS")
    ).collect()[0][0]
    RT.run_retention(
        pages_small.where(F.col("warc_ts") < F.lit(split)), out, "s1",
        n_buckets=2, chunk_rows=8,
    )
    RT.run_retention(
        pages_small.where(F.col("warc_ts") >= F.lit(split)), out, "s2",
        n_buckets=2, chunk_rows=8,
    )
    RT.compact_tiers(spark, out, ["s1", "s2"], "c1", n_buckets=2)
    full = RT.read_tier_decoded(spark, out, "c1", "1h").toPandas()

    rep = RT.expire_snapshots(spark, out, keep_ids=["c1"])
    assert sorted(rep["dropped_snapshots"]) == ["s1", "s2"]
    assert not os.path.exists(f"{out}/snap=s1")
    # compacted snapshot intact and readable
    still = RT.read_tier_decoded(spark, out, "c1", "1h").toPandas()
    assert len(still) == len(full)
    # manifest rewritten without the dropped snapshots' rows
    man = RT.read_manifest(spark, out)
    sids = {r["snapshot_id"] for r in man.select("snapshot_id").distinct().collect()}
    assert sids == {"c1"}


# --- fault injection: crash windows of the staged+rename swaps -------------

class _CrashAt:
    """Make os.rename raise on its Nth call (1-based), simulating a kill
    at that exact point of the swap protocol."""

    def __init__(self, n):
        self.n, self.calls, self.real = n, 0, os.rename

    def __call__(self, src, dst):
        self.calls += 1
        if self.calls == self.n:
            raise OSError(f"injected crash at rename #{self.n}: {src} -> {dst}")
        return self.real(src, dst)


def _expired_store(spark, pages_small, tmp_path, name):
    out = str(tmp_path / name)
    RT.run_retention(pages_small, out, snapshot_id="s1", n_buckets=2, chunk_rows=8)
    before = RT.read_tier_decoded(spark, out, "s1", "1h").toPandas()
    cutoff = sorted(before["bucket"].unique())[len(before["bucket"].unique()) // 2]
    return out, cutoff


def _containers(spark, path):
    """Every container row under the tier directory ``path`` with its
    ``part``, in store order: containers are cut from key-sorted rows, so
    within a part their first keys order them. The pieces of one long
    series share a first key; the rest of ``keys`` and then
    ``start_bucket`` order those."""
    return (
        spark.read.parquet(path).orderBy("part", "keys", "start_bucket")
        .toPandas().reset_index(drop=True)
    )


def _manifest(spark, out):
    return (
        RT.read_manifest(spark, out).toPandas()
        .sort_values(["tier", "snapshot_id", "part"]).reset_index(drop=True)
    )


def _tier_state(spark, out):
    return _containers(spark, f"{out}/snap=s1/encoded_tier=1h"), _manifest(spark, out)


def _store_state(spark, out, sids):
    """Every encoded tier of the snapshots ``sids`` and the manifest."""
    tiers = {
        (sid, t): _containers(spark, RT._enc_dir(out, sid, t))
        for sid in sids for t in ("1m", "1h", "1d")
    }
    return tiers, _manifest(spark, out)


def _assert_same_store(got, want):
    """Equal stores, compared column by column: no column is exempt."""
    for k, rows in want[0].items():
        pd.testing.assert_frame_equal(got[0][k], rows, obj=str(k))
    pd.testing.assert_frame_equal(got[1], want[1], obj="manifest")


def test_store_writes_are_deterministic(spark, pages_small, tmp_path):
    """Two ingests of the same input into two directories, then the same
    compaction and expiry in each, write equal data: no stored row holds
    a timing. Every container row holds exactly the declared container
    columns (plus its ``part`` directory) and every manifest row the
    declared manifest columns."""
    states = []
    for name in ("a", "b"):
        out = str(tmp_path / name)
        RT.run_retention(pages_small, out, "s1", n_buckets=2, chunk_rows=8)
        ingested = _store_state(spark, out, ["s1"])
        RT.compact_tiers(spark, out, ["s1"], "c1", n_buckets=2, chunk_rows=8)
        buckets = sorted(ingested[0]["s1", "1h"]["start_bucket"])
        assert RT.expire_tier(
            spark, out, "c1", "1h", buckets[len(buckets) // 2]
        )["chunks_dropped"] > 0
        states.append((ingested, _store_state(spark, out, ["s1", "c1"])))
    for got, want in zip(*states):
        _assert_same_store(got, want)
    tiers, man = states[0][1]
    for k, rows in tiers.items():
        assert list(rows.columns) == [*RT._ROW_COLS, "part"], k
        assert len(rows) > 0, k
    assert list(man.columns) == StructType.fromDDL(RT._MANIFEST).names


def test_run_retention_crash_before_manifest_append(
    spark, pages_small, tmp_path, monkeypatch
):
    """Kill run_retention after its encode write and before its manifest
    append, first into an empty directory and then, for a second
    snapshot, into a store with a manifest: a plain rerun of each leaves
    the same store and manifest as clean runs."""
    ref = str(tmp_path / "ref")
    for sid in ("s1", "s2"):
        RT.run_retention(pages_small, ref, sid, n_buckets=2, chunk_rows=8)
    out = str(tmp_path / "crashed")
    write = RT._write_encoded

    def write_then_crash(*args, **kwargs):
        write(*args, **kwargs)
        raise OSError("injected crash after the encode write")

    for sid in ("s1", "s2"):
        monkeypatch.setattr(RT, "_write_encoded", write_then_crash)
        with pytest.raises(OSError, match="injected crash"):
            RT.run_retention(pages_small, out, sid, n_buckets=2, chunk_rows=8)
        monkeypatch.setattr(RT, "_write_encoded", write)
        # every tier is on disk, the manifest holds none of its rows and
        # the staged cascade is gone
        assert all(os.path.isdir(RT._enc_dir(out, sid, t)) for t in ("1m", "1h", "1d"))
        man = RT.read_manifest(spark, out)
        assert man is None or man.where(F.col("snapshot_id") == sid).count() == 0
        assert not os.path.exists(f"{out}/snap={sid}/_cascade")
        rep = RT.run_retention(pages_small, out, sid, n_buckets=2, chunk_rows=8)
        assert all(r["parts_written"] == 2 for r in rep.values())
    _assert_same_store(
        _store_state(spark, out, ["s1", "s2"]), _store_state(spark, ref, ["s1", "s2"])
    )


def test_expire_tier_crash_windows_idempotent(spark, pages_small, tmp_path, monkeypatch):
    """Kill expire_tier at every rename of its two swaps; a plain rerun
    must converge to the clean-run state with the store readable at
    every intermediate point. Rename order: 1-2 = encoded-dir swap,
    3-4 = manifest swap."""
    # clean reference run
    ref_out, cutoff = _expired_store(spark, pages_small, tmp_path, "ref")
    ref_rep = RT.expire_tier(spark, ref_out, "s1", "1h", cutoff)
    ref_enc, ref_man = _tier_state(spark, ref_out)

    for n in (1, 2, 3, 4):
        out, cut = _expired_store(spark, pages_small, tmp_path, f"crash{n}")
        crash = _CrashAt(n)
        monkeypatch.setattr(RT.os, "rename", crash)
        try:
            RT.expire_tier(spark, out, "s1", "1h", cut)
            raise AssertionError(f"injected crash #{n} did not fire")
        except OSError as e:
            assert "injected crash" in str(e)
        finally:
            monkeypatch.setattr(RT.os, "rename", crash.real)
        # the store must still be fully readable right after the crash
        # (canonical dir OR a complete recoverable sibling)
        RT._recover_swap(f"{out}/snap=s1/encoded_tier=1h", ".expiring", ".expired")
        RT._recover_swap(RT._manifest_path(out), ".rewriting", ".old")
        assert len(RT.read_tier_decoded(spark, out, "s1", "1h").toPandas()) > 0
        # rerun heals and converges to the clean-run state
        rep = RT.expire_tier(spark, out, "s1", "1h", cut)
        enc, man = _tier_state(spark, out)
        pd.testing.assert_frame_equal(enc, ref_enc)
        pd.testing.assert_frame_equal(man, ref_man)
        # no stale swap siblings survive
        assert not os.path.exists(f"{out}/snap=s1/encoded_tier=1h.expiring")
        assert not os.path.exists(f"{out}/snap=s1/encoded_tier=1h.expired")
        assert not os.path.exists(RT._manifest_path(out) + ".rewriting")
        assert not os.path.exists(RT._manifest_path(out) + ".old")
        # second rerun is a no-op
        rep2 = RT.expire_tier(spark, out, "s1", "1h", cut)
        assert rep2["chunks_dropped"] == 0


def test_expire_snapshots_crash_windows_idempotent(spark, pages_small, tmp_path, monkeypatch):
    """Kill expire_snapshots at each manifest rename; rerun must leave
    exactly the kept snapshot, a consistent manifest, and no orphans."""
    for n in (1, 2):
        out = str(tmp_path / f"gc{n}")
        split = pages_small.agg(
            F.date_trunc("day", F.min("warc_ts")) + F.expr("INTERVAL 2 DAYS")
        ).collect()[0][0]
        RT.run_retention(
            pages_small.where(F.col("warc_ts") < F.lit(split)), out, "s1",
            n_buckets=2, chunk_rows=8,
        )
        RT.run_retention(
            pages_small.where(F.col("warc_ts") >= F.lit(split)), out, "s2",
            n_buckets=2, chunk_rows=8,
        )
        RT.compact_tiers(spark, out, ["s1", "s2"], "c1", n_buckets=2)
        full = RT.read_tier_decoded(spark, out, "c1", "1h").toPandas()

        crash = _CrashAt(n)
        monkeypatch.setattr(RT.os, "rename", crash)
        try:
            RT.expire_snapshots(spark, out, keep_ids=["c1"])
            raise AssertionError(f"injected crash #{n} did not fire")
        except OSError as e:
            assert "injected crash" in str(e)
        finally:
            monkeypatch.setattr(RT.os, "rename", crash.real)
        # crash happened BEFORE any snap dir delete (manifest-first
        # ordering): all data dirs still present
        assert os.path.exists(f"{out}/snap=s1") and os.path.exists(f"{out}/snap=c1")
        rep = RT.expire_snapshots(spark, out, keep_ids=["c1"])
        assert sorted(rep["dropped_snapshots"]) == ["s1", "s2"]
        assert not os.path.exists(f"{out}/snap=s1")
        still = RT.read_tier_decoded(spark, out, "c1", "1h").toPandas()
        assert len(still) == len(full)
        man = RT.read_manifest(spark, out)
        sids = {r["snapshot_id"] for r in man.select("snapshot_id").distinct().collect()}
        assert sids == {"c1"}
        assert not os.path.exists(RT._manifest_path(out) + ".rewriting")
        assert not os.path.exists(RT._manifest_path(out) + ".old")


def test_expire_tier_dry_run_never_mutates_interrupted_store(spark, pages_small, tmp_path, monkeypatch):
    """A dry run must not heal (rename/delete) an interrupted swap — it
    raises and tells the operator to run a real pass instead."""
    out, cut = _expired_store(spark, pages_small, tmp_path, "dryrun")
    crash = _CrashAt(2)  # between the encoded-dir renames
    monkeypatch.setattr(RT.os, "rename", crash)
    try:
        RT.expire_tier(spark, out, "s1", "1h", cut)
    except OSError:
        pass
    finally:
        monkeypatch.setattr(RT.os, "rename", crash.real)
    enc = f"{out}/snap=s1/encoded_tier=1h"
    state_before = {p: os.path.exists(enc + p) for p in ("", ".expiring", ".expired")}
    import pytest as _pt

    with _pt.raises(ValueError, match="interrupted expiry swap"):
        RT.expire_tier(spark, out, "s1", "1h", cut, dry_run=True)
    # nothing moved or was deleted
    assert state_before == {
        p: os.path.exists(enc + p) for p in ("", ".expiring", ".expired")
    }
    # a real run still heals
    RT.expire_tier(spark, out, "s1", "1h", cut)
    assert os.path.exists(enc) and not os.path.exists(enc + ".expiring")


def test_cli_verify_after_compact_and_expire(spark, tmp_path, capsys):
    """The CLI's retention then verify return 0, and so does verify of a
    compacted snapshot after a TTL expiry dropped some of its chunks; the
    verified rows are the manifest's."""
    import json

    from sprintz_spark.__main__ import main

    out = str(tmp_path / "cli")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert main(["retention", "--generate", "2000", "--out", out,
                     "--snapshot", "s1", "--n-buckets", "2"]) == 0
        assert main(["verify", "--out", out, "--snapshot", "s1"]) == 0
        RT.compact_tiers(spark, out, ["s1"], "c1", n_buckets=2, chunk_rows=8)
        buckets = sorted(_decode_tier(spark, out, "1m", snap="c1")["bucket"].unique())
        exp = RT.expire_tier(spark, out, "c1", "1m", buckets[len(buckets) // 2])
        assert exp["chunks_dropped"] > 0
        capsys.readouterr()
        assert main(["verify", "--out", out, "--snapshot", "c1"]) == 0
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    rep = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    man = RT.read_manifest(spark, out).where(F.col("snapshot_id") == "c1").toPandas()
    assert {t: v["rows"] for t, v in rep["tiers"].items()} == (
        man.groupby("tier")["n_rows"].sum().to_dict()
    )
    with pytest.raises(ValueError, match="no manifest rows"):
        RT.verify_snapshot(spark, out, "nope")


def test_verify_snapshot_rejects_truncated_blob_and_wrong_n_rows(
    spark, pages_small, tmp_path
):
    """One truncated blob, one blob whose width code is flipped, one
    end_bucket that is not its container's last bucket, or one manifest
    n_rows, raw_bytes or comp_bytes off by one, makes verify_snapshot
    raise CorruptBlobError; the untouched store passes."""
    import numpy as np

    from sprintz_spark.codecs import sprintz as sz
    from sprintz_spark.codecs.sprintz import CorruptBlobError

    clean = str(tmp_path / "clean")
    RT.run_retention(pages_small, clean, "s1", n_buckets=2, chunk_rows=64)
    rep = RT.verify_snapshot(spark, clean, "s1")
    assert set(rep) == {"1m", "1h", "1d"}
    assert all(v["containers"] > 0 for v in rep.values())

    def rewrite_first_blob(name, col, fn):
        return _rewrite_first_cell(clean, str(tmp_path / name), col, fn)

    blob = rewrite_first_blob("blob", "blob_byte_size_sum", lambda b: b[:-3])
    with pytest.raises(CorruptBlobError, match="tier 1h part 0: blob_byte_size_sum"):
        RT.verify_snapshot(spark, blob, "s1")

    def width_64_to_32(b):
        # a raw copy of the blob with one bit flipped: its width code
        # reads 32, and every block width fits 32 bits, so it parses and
        # decodes to uint32 values
        v, lens = sz.decode_container(b)
        raw = bytearray(sz.encode_container(v.view(np.int64), lens, "auto", deflate=False))
        raw[1] ^= 0x08
        assert sz.decode_container(bytes(raw))[0].dtype == np.uint32
        return bytes(raw)

    width = rewrite_first_blob("width", "blob_crawl_count", width_64_to_32)
    with pytest.raises(CorruptBlobError, match="blob_crawl_count: 32-bit elements"):
        RT.verify_snapshot(spark, width, "s1")

    late = rewrite_first_blob("late", "end_bucket", lambda t: t + dt.timedelta(hours=1))
    with pytest.raises(CorruptBlobError, match="tier 1h part 0: ts_blob: buckets span"):
        RT.verify_snapshot(spark, late, "s1")

    rows = str(tmp_path / "rows")
    shutil.copytree(clean, rows)
    man_path = os.path.join(rows, "manifest")
    man = spark.read.parquet(man_path).toPandas()
    man.loc[man.index[0], "n_rows"] += 1
    shutil.rmtree(man_path)
    spark.createDataFrame(man).write.parquet(man_path)
    with pytest.raises(CorruptBlobError, match="manifest says"):
        RT.verify_snapshot(spark, rows, "s1")

    for col in ("raw_bytes", "comp_bytes"):
        off = _rewrite_first_cell(
            clean, str(tmp_path / col), col, lambda v: v + 1, where="manifest"
        )
        with pytest.raises(CorruptBlobError, match=rf"\d+ {col} stored, manifest says \d+"):
            RT.verify_snapshot(spark, off, "s1")


def _rewrite_parquet(path, fn):
    """Replace the parquet file ``path`` of a Spark-written store by
    fn(its table), timestamps kept as the store writes them."""
    pq.write_table(fn(pq.read_table(path)), path, use_deprecated_int96_timestamps=True)
    # drop Hadoop's checksum sidecar, which no longer matches the file
    os.remove(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc"))


def _set_cells(t, col, cells):
    field = t.schema.field(col)
    return t.set_column(t.schema.get_field_index(col), field, pa.array(cells, field.type))


def _rewrite_first_cell(src, dst, col, fn, where="snap=s1/encoded_tier=1h/part=0"):
    """A copy at ``dst`` of the store ``src`` whose first ``col`` cell in
    the directory ``where`` (by default snapshot s1, tier 1h, part 0) is
    replaced by fn(cell)."""
    shutil.copytree(src, dst)
    path = sorted(glob.glob(f"{dst}/{where}/*.parquet"))[0]

    def first(t):
        cells = t.column(col).to_pylist()
        cells[0] = fn(cells[0])
        return _set_cells(t, col, cells)

    _rewrite_parquet(path, first)
    return dst


def _altered_meta(change):
    """A meta rewrite: ``change`` mutates the parsed meta dict."""
    def fn(s):
        meta = json.loads(s)
        change(meta)
        return json.dumps(meta)
    return fn


_META_FAULTS = {
    "not_json": lambda s: s[: len(s) // 2],
    "scale_zero": _altered_meta(lambda m: m["ts"].update(scale=0)),
    "scale_float": _altered_meta(lambda m: m["ts"].update(scale=float(m["ts"]["scale"]))),
    "scale_overflows": _altered_meta(lambda m: m["ts"].update(scale=1 << 62)),
    "pred_later_column": _altered_meta(
        lambda m: m["crawl_count"].update(pred="byte_size_min")
    ),
}


def test_container_meta_faults_raise_corrupt_blob_error(spark, pages_small, tmp_path):
    """A container row whose meta is not JSON, whose ts scale is not a
    positive integer or scales a ts past int64, or which predicts a
    column from one that is not earlier, makes decode, range read and
    verify_snapshot raise CorruptBlobError; query_tier raises it too,
    except for the overflow, which cannot reach its answer: it never
    reads ts."""
    from sprintz_spark.codecs.sprintz import CorruptBlobError

    clean = str(tmp_path / "clean")
    RT.run_retention(pages_small, clean, "s1", n_buckets=2, chunk_rows=64)
    lo, hi = dt.datetime(2000, 1, 1), dt.datetime(2100, 1, 1)
    for fault, fn in _META_FAULTS.items():
        out = _rewrite_first_cell(clean, str(tmp_path / fault), "meta", fn)
        reads = [
            lambda: RT.read_tier_decoded(spark, out, "s1", "1h").collect(),
            lambda: RT.read_tier_range(spark, out, "s1", "1h", lo, hi).collect(),
        ]
        if fault != "scale_overflows":
            reads.append(
                lambda: RT.query_tier(spark, out, "s1", "1h", "byte_size_max").collect()
            )
        for read in reads:
            with pytest.raises(Exception, match="CorruptBlobError: (container meta|ts_blob)"):
                read()
        with pytest.raises(CorruptBlobError, match="tier 1h part 0: (meta|ts_blob)"):
            RT.verify_snapshot(spark, out, "s1")


def _write_legacy_rows(store):
    """Rewrite every container row under ``store`` as stores written
    before the container transforms were: plain ts and measure blobs
    under one constant meta with neither ``scale`` nor ``pred``, in the
    old row layout that also stored ``chunk``, ``n_series``,
    ``raw_bytes``, ``comp_bytes`` and ``encode_secs``."""
    from sprintz_spark.codecs import sprintz as sz
    from sprintz_spark.operators.encode import container_meta

    legacy_meta = json.dumps({
        "ts": {"codec": "sprintz-container", "mode": "doubledelta"},
        **{c: {"codec": "sprintz-container", "np_dtype": "int64"} for c in RT.MEASURES},
    })

    def plain(t):
        cols = {c: t.column(c).to_pylist() for c in RT._BLOB_COLS}
        for i, meta in enumerate(t.column("meta").to_pylist()):
            scale, preds = container_meta(meta)
            ts, lens = sz.decode_container(cols["ts_blob"][i])
            cols["ts_blob"][i] = sz.encode_container(ts.view("int64") * scale, lens, "doubledelta")
            vals = {}
            for c in RT.MEASURES:
                v = sz.decode_container(cols[f"blob_{c}"][i])[0].view("int64")
                vals[c] = v + vals[preds[c]] if c in preds else v
                cols[f"blob_{c}"][i] = sz.encode_container(vals[c], lens, "auto")
        for c, cells in cols.items():
            t = _set_cells(t, c, cells)
        t = _set_cells(t, "meta", [legacy_meta] * t.num_rows)
        old = {
            "chunk": pa.array(range(t.num_rows), pa.int64()),
            "n_series": pc.list_value_length(t.column("keys")).cast(pa.int64()),
            "raw_bytes": pc.multiply(t.column("n"), 8 * (1 + len(RT.MEASURES))),
            "comp_bytes": pa.array([sum(map(len, bl)) for bl in zip(*cols.values())]),
            "encode_secs": pa.array([0.25] * t.num_rows),
        }
        for c, cells in old.items():
            t = t.append_column(c, cells)
        # Spark reads a footer's own schema JSON before its columns: drop
        # the one copied from today's rows
        return t.replace_schema_metadata(None).select([
            "chunk", "n_series", "keys", "start_bucket", "end_bucket", "n", "ts_blob",
            "meta", "raw_bytes", "comp_bytes", "encode_secs",
            *[f"blob_{c}" for c in RT.MEASURES],
        ])

    paths = glob.glob(f"{store}/snap=*/encoded_tier=*/part=*/*.parquet")
    assert paths
    for path in paths:
        _rewrite_parquet(path, plain)
    return legacy_meta


def _write_legacy_manifest(store):
    """Replace the manifest of ``store`` by one file in the old manifest
    schema: its rows plus the timings ``encode_secs`` and ``wall_secs``,
    each (tier, part)'s ``comp_bytes`` summed from its rows' own
    ``comp_bytes``. The file name sorts before Spark's ``part-*`` files,
    so Spark takes a read's schema from this old footer."""
    path = RT._manifest_path(store)
    man = pq.read_table(path).to_pandas()
    comp = {}
    for f in glob.glob(f"{store}/snap=*/encoded_tier=*/part=*/*.parquet"):
        tier = f.split("encoded_tier=")[1].split("/")[0]
        part = int(f.split("part=")[1].split("/")[0])
        comp[tier, part] = comp.get((tier, part), 0) + pc.sum(
            pq.read_table(f, columns=["comp_bytes"]).column("comp_bytes")
        ).as_py()
    man["comp_bytes"] = [comp[k] for k in zip(man["tier"], man["part"])]
    man.insert(man.columns.get_loc("min_bucket"), "encode_secs", 0.5)
    man["wall_secs"] = 3.0
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(
        pa.Table.from_pandas(man, preserve_index=False), f"{path}/a-legacy.parquet",
        use_deprecated_int96_timestamps=True,
    )


def test_legacy_store_reads_unchanged(spark, pages_small, tmp_path):
    """A store whose rows carry the constant meta, plain blobs and five
    derivable or timing columns of the stores written before, and whose
    manifest holds an old-schema file (with the timings ``encode_secs``
    and ``wall_secs``) next to rows appended today, gives the same
    answers from every reader, compaction, expiry, snapshot GC, verify
    and tier_ratio_report as the same data written today; compacting it
    writes the transforms' meta, and rewriting its manifest drops the
    old columns."""
    new = str(tmp_path / "new")
    RT.run_retention(pages_small, new, "s1", n_buckets=2, chunk_rows=64)
    legacy = str(tmp_path / "legacy")
    shutil.copytree(new, legacy)
    legacy_meta = _write_legacy_rows(legacy)
    _write_legacy_manifest(legacy)
    assert {"chunk", "encode_secs"} <= set(spark.read.parquet(f"{legacy}/snap=s1").columns)
    metas = {
        store: set(
            spark.read.parquet(f"{store}/snap=s1").select("meta").toPandas()["meta"]
        )
        for store in (new, legacy)
    }
    assert metas[legacy] == {legacy_meta} and legacy_meta not in metas[new]

    def ratios(store, sid, keep):
        rep = RT.tier_ratio_report(spark, store, sid)
        return {t: {k: v[k] for k in keep} for t, v in rep.items()}

    def answers(store):
        got = {"verify": RT.verify_snapshot(spark, store, "s1")}
        got["decoded_cols"] = RT.read_tier_decoded(spark, store, "s1", "1m").columns
        for tier in ("1m", "1h", "1d"):
            got[tier] = _decode_tier(spark, store, tier, snap="s1")
            for c in RT.MEASURES:
                got[tier, c] = (
                    RT.query_tier(spark, store, "s1", tier, c).toPandas()
                    .sort_values("url").reset_index(drop=True)
                )
        cut = got["1m"]["bucket"].sort_values().iloc[len(got["1m"]) // 2]
        got["range"] = (
            RT.read_tier_range(spark, store, "s1", "1m", cut, cut + dt.timedelta(hours=6))
            .toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
        )
        got["compact"] = RT.compact_tiers(spark, store, ["s1"], "c1", n_buckets=2, chunk_rows=64)
        if store == legacy:  # the old file still gives the schema
            assert "wall_secs" in spark.read.parquet(RT._manifest_path(store)).columns
        # the plain legacy blobs are longer, so s1's comp_bytes differ
        got["ratios_s1"] = ratios(store, "s1", ("rows", "raw_bytes"))
        got["ratios_c1"] = ratios(store, "c1", ("rows", "raw_bytes", "comp_bytes", "ratio"))
        got["expire"] = RT.expire_tier(spark, store, "c1", "1h", cut)
        got["expired"] = _decode_tier(spark, store, "1h", snap="c1")
        got["verify_c1"] = RT.verify_snapshot(spark, store, "c1")
        got["gc"] = RT.expire_snapshots(spark, store, ["c1"])
        got["manifest"] = _manifest(spark, store)
        got["manifest_file_cols"] = spark.read.parquet(RT._manifest_path(store)).columns
        return got

    want, got = answers(new), answers(legacy)
    assert want.keys() == got.keys()
    for k in want:
        if isinstance(want[k], pd.DataFrame):
            pd.testing.assert_frame_equal(got[k], want[k], obj=str(k))
        else:
            assert got[k] == want[k], k
    assert want["expire"]["chunks_dropped"] > 0
    compacted = spark.read.parquet(f"{legacy}/snap=c1").select("meta").toPandas()["meta"]
    assert all("scale" in json.loads(m)["ts"] for m in compacted)
