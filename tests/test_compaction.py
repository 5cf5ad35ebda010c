"""Tier compaction: merge per-ingest snapshots into one re-chunked
snapshot (the small-files fix for incremental retention), newest-snapshot
wins on (url, bucket) conflicts, lineage recorded."""

import json
import os

import pandas as pd
from pyspark.sql import functions as F

from sprintz_spark.operators import rollup as R
from sprintz_spark.plans import retention as RT


def _decode_tier(spark, out_dir, tier, snap):
    df = RT.read_tier_decoded(spark, out_dir, snap, tier)
    return (
        df.toPandas()
        .sort_values(["url", "bucket"])
        .reset_index(drop=True)[["url", "bucket", *RT.MEASURES]]
    )


def test_compact_disjoint_snapshots_equals_full_rollup(
    spark, pages_small, tmp_path
):
    out = str(tmp_path / "store")
    # split at a DAY boundary: every tier's buckets nest inside days, so
    # the two slices produce disjoint (url, bucket) sets at all tiers and
    # compaction must reproduce the single-run rollup exactly
    split = pages_small.agg(
        F.date_trunc("day", F.min("warc_ts")) + F.expr("INTERVAL 2 DAYS")
    ).collect()[0][0]
    older = pages_small.where(F.col("warc_ts") < F.lit(split))
    newer = pages_small.where(F.col("warc_ts") >= F.lit(split))
    assert older.count() > 0 and newer.count() > 0

    RT.run_retention(older, out, snapshot_id="s1", n_buckets=4, chunk_rows=8)
    RT.run_retention(newer, out, snapshot_id="s2", n_buckets=4, chunk_rows=8)
    rep = RT.compact_tiers(
        spark, out, ["s1", "s2"], "compact1", n_buckets=4
    )

    tiers = R.rollup_tiers(pages_small)
    for tier in ("1m", "1h", "1d"):
        expect = (
            tiers[tier]
            .toPandas()
            .sort_values(["url", "bucket"])
            .reset_index(drop=True)
        )
        got = _decode_tier(spark, out, tier, "compact1")
        pd.testing.assert_frame_equal(expect[got.columns], got)
        # re-chunking merged the per-snapshot fragments
        assert rep[tier]["dst_chunks"] <= rep[tier]["src_chunks"]
        assert rep[tier]["rows"] == len(expect)
    # the fragmented 1m tier genuinely compacted (chunk_rows=8 on encode)
    assert rep["1m"]["dst_chunks"] < rep["1m"]["src_chunks"]

    # compacted snapshot serves the same read APIs
    q = RT.query_tier(spark, out, "compact1", "1h", "crawl_count").toPandas()
    full = (
        tiers["1h"]
        .groupBy("url")
        .agg(F.sum("crawl_count").alias("crawl_count_sum"))
        .toPandas()
        .sort_values("url")
        .reset_index(drop=True)
    )
    got_q = q.sort_values("url").reset_index(drop=True)
    pd.testing.assert_series_equal(
        got_q["crawl_count_sum"].astype("int64"),
        full["crawl_count_sum"].astype("int64"),
    )

    # lineage recorded
    lin = json.load(open(os.path.join(out, "snap=compact1", "lineage.json")))
    assert lin["source_snapshots"] == ["s1", "s2"]
    assert set(lin["tiers"]) == {"1m", "1h", "1d"}

    # manifest rows exist for the compacted snapshot (same schema)
    man = RT.read_manifest(spark, out)
    assert (
        man.where(F.col("snapshot_id") == "compact1").count() > 0
    )


def test_compact_conflict_newest_snapshot_wins(spark, pages_small, tmp_path):
    out = str(tmp_path / "store")
    # same pages, but s2's byte sizes are shifted -> every (url, bucket)
    # conflicts and the compacted values must equal s2's
    RT.run_retention(pages_small, out, snapshot_id="s1", n_buckets=2)
    bumped = pages_small.withColumn(
        "html", F.concat(F.col("html"), F.lit(b"xxxx"))
    )
    RT.run_retention(bumped, out, snapshot_id="s2", n_buckets=2)
    RT.compact_tiers(spark, out, ["s1", "s2"], "c", tiers=("1m",), n_buckets=2)

    got = _decode_tier(spark, out, "1m", "c")
    want = _decode_tier(spark, out, "1m", "s2")
    pd.testing.assert_frame_equal(want, got)
    assert not got.equals(_decode_tier(spark, out, "1m", "s1"))


def test_compact_rerun_is_idempotent(spark, pages_small, tmp_path):
    """Re-running compact_tiers with the same dest snapshot (crash replay)
    must not append duplicate manifest rows — tier_ratio_report would
    double-count bytes otherwise (round-3 advice item)."""
    out = str(tmp_path / "store")
    RT.run_retention(pages_small, out, snapshot_id="s1", n_buckets=2, chunk_rows=8)
    rep1 = RT.compact_tiers(spark, out, ["s1"], "c1", n_buckets=2)
    man1 = (
        RT.read_manifest(spark, out)
        .where(F.col("snapshot_id") == "c1")
        .count()
    )
    rep2 = RT.compact_tiers(spark, out, ["s1"], "c1", n_buckets=2)
    man2 = (
        RT.read_manifest(spark, out)
        .where(F.col("snapshot_id") == "c1")
        .count()
    )
    assert man2 == man1  # no duplicate rows
    assert all(t.get("skipped") for t in rep2.values())
    # a skipped tier reports the chunks and rows the first run wrote
    assert {t: (v["dst_chunks"], v["rows"]) for t, v in rep2.items()} == {
        t: (v["dst_chunks"], v["rows"]) for t, v in rep1.items()
    }
    # ratios still computable and finite after the rerun
    ratios = RT.tier_ratio_report(spark, out, "c1")
    for v in ratios.values():
        assert v["ratio"] > 0


# --- fault injection: crash windows of compaction over an OVERLAPPING -----
# store (round-8 verdict depth item: the disjoint-store crash tests in
# test_retention.py never exercise the newest-wins merge under a replayed
# partial compaction)


class _CrashParquetWrite:
    """Raise around the Nth DataFrameWriter.parquet call (1-based),
    simulating a kill just before or just after that write commits.
    compact_tiers performs exactly two writes on a manifest-covered
    store: #1 the dest snapshot (partitionBy overwrite), #2 the manifest
    append."""

    def __init__(self, n, when):
        from pyspark.sql.readwriter import DataFrameWriter

        self.n, self.when, self.calls = n, when, 0
        self.real = DataFrameWriter.parquet

    def __call__(self, writer, path, **kw):
        self.calls += 1
        if self.calls == self.n and self.when == "before":
            raise OSError(f"injected crash before parquet write #{self.n}")
        out = self.real(writer, path, **kw)
        if self.calls == self.n and self.when == "after":
            raise OSError(f"injected crash after parquet write #{self.n}")
        return out


def _overlap_store(spark, pages_small, tmp_path, name):
    """s1 = the whole corpus; s2 = a 2-day re-crawl window with bigger
    pages -> every overlapping (url, bucket) must resolve to s2."""
    out = str(tmp_path / name)
    RT.run_retention(
        pages_small, out, snapshot_id="s1", tiers=("1h", "1d"),
        n_buckets=2, chunk_rows=8,
    )
    lo = pages_small.agg(
        F.date_trunc("day", F.min("warc_ts")) + F.expr("INTERVAL 1 DAYS")
    ).collect()[0][0]
    recrawl = (
        pages_small.where(
            (F.col("warc_ts") >= F.lit(lo))
            & (F.col("warc_ts") < F.lit(lo) + F.expr("INTERVAL 2 DAYS"))
        ).withColumn("html", F.concat(F.col("html"), F.lit(b"xxxx")))
    )
    assert recrawl.count() > 0
    RT.run_retention(
        recrawl, out, snapshot_id="s2", tiers=("1h", "1d"),
        n_buckets=2, chunk_rows=8,
    )
    return out


def test_compact_conflict_crash_windows_converge(
    spark, pages_small, tmp_path, monkeypatch
):
    """Kill compact_tiers at each write boundary on an overlapping store;
    a plain rerun must converge to the clean-run state: newest-wins
    values identical, exactly ONE set of dest manifest rows, lineage
    present, no double-counted ratios."""
    from pyspark.sql.readwriter import DataFrameWriter

    ref = _overlap_store(spark, pages_small, tmp_path, "ref")
    RT.compact_tiers(spark, ref, ["s1", "s2"], "c1", tiers=("1h", "1d"), n_buckets=2)
    ref_dec = {t: _decode_tier(spark, ref, t, "c1") for t in ("1h", "1d")}
    ref_man = (
        RT.read_manifest(spark, ref)
        .where(F.col("snapshot_id") == "c1")
        .toPandas()
        .sort_values(["tier", "part"])
        .reset_index(drop=True)[["tier", "part", "n_chunks", "n_rows", "raw_bytes"]]
    )

    # (1,'after'): dest written, crash before manifest append -> the
    # replayed-partial-compaction window; additionally mutilate the dest
    # (drop one partition dir) to model a partially-committed write.
    # (2,'before'): dest written + stats collected, manifest not yet.
    # (2,'after'): manifest appended, crash before lineage.json.
    for i, (n, when, mutilate) in enumerate(
        [(1, "after", True), (2, "before", False), (2, "after", False)]
    ):
        out = _overlap_store(spark, pages_small, tmp_path, f"crash{i}")
        crash = _CrashParquetWrite(n, when)
        # plain function, not the instance: a non-function class attribute
        # would not bind `self` on writer.parquet(path)
        monkeypatch.setattr(
            DataFrameWriter,
            "parquet",
            lambda writer, path, crash=crash, **kw: crash(writer, path, **kw),
        )
        try:
            RT.compact_tiers(
                spark, out, ["s1", "s2"], "c1", tiers=("1h", "1d"), n_buckets=2
            )
            raise AssertionError(f"injected crash #{n}/{when} did not fire")
        except OSError as e:
            assert "injected crash" in str(e)
        finally:
            monkeypatch.setattr(DataFrameWriter, "parquet", crash.real)
        if mutilate:
            import shutil

            victim = f"{out}/snap=c1/encoded_tier=1d/part=0"
            assert os.path.exists(victim)
            shutil.rmtree(victim)
        # source snapshots still readable after the crash
        assert len(_decode_tier(spark, out, "1h", "s2")) > 0
        # plain rerun converges
        RT.compact_tiers(
            spark, out, ["s1", "s2"], "c1", tiers=("1h", "1d"), n_buckets=2
        )
        for t in ("1h", "1d"):
            pd.testing.assert_frame_equal(
                _decode_tier(spark, out, t, "c1"), ref_dec[t]
            )
        man = (
            RT.read_manifest(spark, out)
            .where(F.col("snapshot_id") == "c1")
            .toPandas()
            .sort_values(["tier", "part"])
            .reset_index(drop=True)[
                ["tier", "part", "n_chunks", "n_rows", "raw_bytes"]
            ]
        )
        pd.testing.assert_frame_equal(man, ref_man)
        assert os.path.exists(f"{out}/snap=c1/lineage.json")
        for v in RT.tier_ratio_report(spark, out, "c1").values():
            assert v["ratio"] > 0
