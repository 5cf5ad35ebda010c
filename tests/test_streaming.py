"""Streaming rollup == batch rollup when events arrive in time order
(watermark semantics: out-of-order slices beyond the delay are dropped —
that's the documented late-data contract, so the test feeds ordered
slices and a watermark-advancing sentinel to flush the final windows)."""

import datetime as dt
import time

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sprintz_spark.operators import rollup as R
from sprintz_spark.streaming.rollup_stream import stream_derive_series


def test_stream_rollup_matches_batch(spark, pages_small, tmp_path):
    src = str(tmp_path / "pages_src")
    pages = pages_small.cache()
    qs = (
        pages.select(F.col("warc_ts").cast("double").alias("t"))
        .approxQuantile("t", [0.25, 0.5, 0.75], 0.01)
    )
    bounds = [None, *[dt.datetime.utcfromtimestamp(q) for q in qs], None]
    # time-ordered slices -> separate files with increasing mtimes so the
    # file source (oldest-first) replays history in order
    for i in range(4):
        sl = pages
        if bounds[i] is not None:
            sl = sl.where(F.col("warc_ts") >= F.lit(bounds[i]))
        if bounds[i + 1] is not None:
            sl = sl.where(F.col("warc_ts") < F.lit(bounds[i + 1]))
        sl.coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.2)
    # sentinel far in the future: advances the watermark past every real
    # bucket so append mode emits them all
    max_ts = pages.agg(F.max("warc_ts")).first()[0]
    sentinel = spark.createDataFrame(
        [("zz-sentinel", max_ts + dt.timedelta(days=30), b"", "", "en")],
        schema=pages.schema,
    )
    sentinel.coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = str(tmp_path / "series_out")
    q = (
        stream_derive_series(stream, "1m", watermark="1 minute")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .format("parquet")
        .start(out)
    )
    q.awaitTermination(300)

    got = (
        spark.read.parquet(out)
        .where(F.col("url") != "zz-sentinel")
        .toPandas()
        .sort_values(["url", "bucket"])
        .reset_index(drop=True)
    )
    want = (
        R.derive_series(pages, "1m")
        .toPandas()
        .sort_values(["url", "bucket"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(want[got.columns], got)


def test_stream_exact_dedup(spark, tmp_path):
    """Streaming dedup emits exactly one row per distinct text; duplicate
    copies in later micro-batches are dropped within the watermark."""
    import datetime as dt

    from sprintz_spark.streaming.rollup_stream import stream_exact_dedup

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    src = str(tmp_path / "docs_src")
    batches = [
        [(1, t0, "alpha beta"), (2, t0, "gamma delta")],
        [(3, t0 + dt.timedelta(minutes=1), "alpha beta"),       # dup of 1
         (4, t0 + dt.timedelta(minutes=1), "epsilon zeta")],
        [(5, t0 + dt.timedelta(minutes=2), "gamma delta"),      # dup of 2
         (6, t0 + dt.timedelta(minutes=2), "alpha beta")],      # dup of 1
    ]
    for rows in batches:
        spark.createDataFrame(rows, "doc_id long, ts timestamp, text string") \
            .coalesce(1).write.mode("append").parquet(src)
        time.sleep(1.2)
    schema = spark.read.parquet(src).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = str(tmp_path / "dedup_out")
    q = (
        stream_exact_dedup(stream, watermark="10 minutes")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk_dedup"))
        .trigger(availableNow=True)
        .format("parquet")
        .start(out)
    )
    q.awaitTermination(300)
    got = spark.read.parquet(out).toPandas().sort_values("doc_id")
    assert sorted(got["text"]) == ["alpha beta", "epsilon zeta", "gamma delta"]
    assert len(got) == 3  # one survivor per distinct text


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """Native session windows: streaming (availableNow, ordered slices,
    sentinel flush) == the same session_window aggregation run in batch."""
    from sprintz_spark.streaming.rollup_stream import stream_sessionize

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        # watermarks need TIMESTAMP (tz-aware); the testdata column is NTZ
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .cache()
    )
    src = str(tmp_path / "ev_src")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    ev.where(F.col("ts") < F.lit(mid)).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.2)
    ev.where(F.col("ts") >= F.lit(mid)).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.2)
    max_ts = ev.agg(F.max("ts")).first()[0]
    spark.createDataFrame(
        [(-999, max_ts + dt.timedelta(days=30))], schema="user_id long, ts timestamp"
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = str(tmp_path / "sess_out")
    q = (
        stream_sessionize(stream, watermark="1 minute")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(300)

    got = (
        spark.read.parquet(out)
        .where(F.col("user_id") != -999)
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    want = (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(want[got.columns], got)


def test_stream_m4_matches_batch(spark, tmp_path):
    """Streaming M4 (tumbling 1h min/max/first/last) == the batch
    m4_downsample over the same events, modulo the window-start bucket
    convention (both use date_trunc-aligned tumbling windows)."""
    from sprintz_spark.operators.downsample import m4_downsample
    from sprintz_spark.streaming.rollup_stream import stream_m4

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(
            "user_id", F.col("ts").cast("timestamp").alias("ts"), "event_id",
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .cache()
    )
    src = str(tmp_path / "m4_src")
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    ev.where(F.col("ts") < F.lit(mid)).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.2)
    ev.where(F.col("ts") >= F.lit(mid)).coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.2)
    max_ts = ev.agg(F.max("ts")).first()[0]
    spark.createDataFrame(
        [(-999, max_ts + dt.timedelta(days=30), -1, 0)],
        schema="user_id long, ts timestamp, event_id long, cents long",
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = str(tmp_path / "m4_out")
    q = (
        stream_m4(stream, watermark="1 minute")
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "m4_chk"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out)
        .start()
    )
    q.awaitTermination(300)

    got = (
        spark.read.parquet(out)
        .where(F.col("user_id") != -999)
        .toPandas()
        .sort_values(["user_id", "bucket"])
        .reset_index(drop=True)
    )
    want = (
        m4_downsample(
            ev,
            key_cols=["user_id"],
            bucket=F.date_trunc("hour", "ts"),
            val_col="cents",
            order=F.struct(F.col("ts"), F.col("event_id")),
        )
        .toPandas()
        .sort_values(["user_id", "bucket"])
        .reset_index(drop=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got[want.columns], want, check_dtype=False)


@pytest.mark.parametrize("zone", ["UTC", "America/New_York"])
def test_stream_gap_alerts(spark, tmp_path, zone):
    """Gap monitor: alerts fire exactly for inter-event gaps over the
    bound, including a gap that SPANS micro-batches (proving the 8-byte
    last_ts state carries across batches). Gaps are between instants, so
    the session zone changes nothing: u3's 110-minute gap spans New
    York's 2024 fall-back hour (50 minutes of wall clock) and u4's
    20-minute gap spans the spring-forward hour (80 minutes of wall
    clock)."""
    from sprintz_spark.streaming.rollup_stream import stream_gap_alerts

    utc = dt.timezone.utc
    t0 = dt.datetime(2026, 1, 1, 0, 0, 0, tzinfo=utc)
    m = dt.timedelta(minutes=1)
    fall = dt.datetime(2024, 11, 3, 4, 50, tzinfo=utc)
    spring = dt.datetime(2024, 3, 10, 6, 50, tzinfo=utc)
    src = str(tmp_path / "gap_src")
    batches = [
        # u1: events at 0, 1, 2 min (no gap); u2: 0 min only
        [("u1", t0), ("u1", t0 + m), ("u1", t0 + 2 * m), ("u2", t0),
         ("u3", fall), ("u4", spring)],
        # u1 resumes at 62 min -> 60-min gap from 2 min (cross-batch);
        # u2 at 5 min -> 5-min gap, under the bound
        [("u1", t0 + 62 * m), ("u2", t0 + 5 * m),
         ("u3", fall + 110 * m), ("u4", spring + 20 * m)],
        # u1 at 63 min (no gap); u2 at 200 min -> 195-min gap
        [("u1", t0 + 63 * m), ("u2", t0 + 200 * m)],
    ]
    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", zone)
        for rows in batches:
            spark.createDataFrame(rows, "url string, bucket timestamp") \
                .coalesce(1).write.mode("append").parquet(src)
            time.sleep(1.2)
        stream = (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(src)
        )
        out = str(tmp_path / "gap_out")
        q = (
            stream_gap_alerts(stream, max_gap_seconds=30 * 60)
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "chk_gap"))
            .trigger(availableNow=True)
            .format("parquet")
            .start(out)
        )
        q.awaitTermination(300)
        got = (
            spark.read.parquet(out)
            .select(
                "url",
                F.unix_micros("gap_start").alias("start_us"),
                F.unix_micros("gap_end").alias("end_us"),
                "gap_us",
            )
            .toPandas()
            .sort_values(["url", "start_us"])
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)

    def us(t):
        return (t - dt.datetime(1970, 1, 1, tzinfo=utc)) // dt.timedelta(microseconds=1)

    alerts = [
        (r["url"], int(r["gap_us"] // 60_000_000)) for _, r in got.iterrows()
    ]
    assert alerts == [("u1", 60), ("u2", 195), ("u3", 110)]
    # gap endpoints are the exact neighboring event instants
    ends = {r["url"]: (r["start_us"], r["end_us"]) for _, r in got.iterrows()}
    assert ends["u1"] == (us(t0 + 2 * m), us(t0 + 62 * m))
    assert ends["u3"] == (us(fall), us(fall + 110 * m))
