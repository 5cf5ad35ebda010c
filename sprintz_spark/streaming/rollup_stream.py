"""Streaming continuous aggregates: the 1m tier maintained incrementally.

Batch and streaming share semantics: a watermarked tumbling-window groupBy
whose window start equals date_trunc for aligned windows, so streamed tier
rows are bit-identical to the batch derivation once the watermark closes a
bucket (verified in tests with availableNow).

Late data: rows older than ``watermark`` relative to the max seen warc_ts
are dropped by the engine (documented retention-engine behavior); anything
newer updates its bucket before emission (append mode emits only finalized
buckets).

Nothing here encodes: the retention store (plans.retention.run_retention)
is the engine's one write path for sprintz blobs. A stream's finalized
buckets are plain rows, written with any streaming sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_WINDOW = {"1m": "1 minute", "1h": "1 hour", "1d": "1 day"}


def stream_derive_series(
    pages_stream: DataFrame, tier: str = "1m", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming analog of operators.rollup.derive_series."""
    win = _WINDOW[tier]
    return (
        pages_stream.select(
            "url", "warc_ts", F.length("html").cast("long").alias("nbytes")
        )
        .withWatermark("warc_ts", watermark)
        .groupBy("url", F.window("warc_ts", win).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("crawl_count"),
            F.sum("nbytes").alias("byte_size_sum"),
            F.max("nbytes").alias("byte_size_max"),
            F.min("nbytes").alias("byte_size_min"),
        )
        .select(
            "url",
            F.col("w.start").alias("bucket"),
            "crawl_count",
            "byte_size_sum",
            "byte_size_max",
            "byte_size_min",
        )
    )


def stream_exact_dedup(
    docs_stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact dedup for a document stream: the first occurrence
    of each content hash survives; later copies arriving within the
    watermark horizon are dropped (dropDuplicatesWithinWatermark).

    Scale shape: dedup state holds one md5 per distinct doc INSIDE the
    horizon and is evicted beyond it, so state is bounded by
    watermark x ingest rate — not corpus size. Cross-horizon exactness
    belongs to the batch exact_dedup over the accumulated store (the
    standard lambda split for streaming dedup)."""
    return (
        docs_stream.select(id_col, ts_col, text_col)
        .withColumn("_h", F.md5(F.col(text_col)))
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_h"])
        .drop("_h")
    )


def stream_sessionize(
    events_stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    with_bounds: bool = False,
) -> DataFrame:
    """Streaming sessionization via native session windows
    (F.session_window): per-key sessions close after ``gap`` of
    inactivity; append mode emits a session once the watermark passes its
    end, so each session is emitted exactly once with final stats.

    Boundary convention: session_window merges an event into the previous
    session iff it lands strictly inside [prev_ts, prev_ts + gap) — an
    event exactly ``gap`` later starts a NEW session. The batch operator
    operators/sessions.py keeps an exactly-gap event in the SAME session
    (lag-diff > gap splits); tests therefore gate streaming == batch
    using the same session_window expression on the static frame, the
    standard streaming==batch contract used across this module.

    Scale: state per in-flight session per key, bounded by the watermark
    horizon — the same state bound HyperLogLog-free exact streaming
    dedup above relies on; no per-row Python anywhere.

    ``with_bounds`` additionally emits first_ts/last_ts (the actual
    event extremes — session_window's own end is last event + gap, so
    dwell time needs the real bounds); the driver's stream_sessionize
    oracle gate consumes this form."""
    w = F.session_window(F.col(ts_col), gap).alias("w")
    aggs = [F.count(F.lit(1)).alias("n_events")]
    extra = []
    if with_bounds:
        aggs += [F.min(ts_col).alias("first_ts"), F.max(ts_col).alias("last_ts")]
        extra = ["first_ts", "last_ts"]
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key), w)
        .agg(*aggs)
        .select(
            key,
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            *extra,
        )
    )


def stream_m4(
    events_stream: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "cents",
    order_col: str = "event_id",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming M4 downsampling (batch analog:
    operators/downsample.py::m4_downsample): per (key, tumbling window)
    min/max/first/last, where first/last follow (ts, order_col) via
    min_by/max_by on a struct — all algebraic aggregates, so the
    streaming state is one row per open (key, window) and append mode
    emits each bucket exactly once after the watermark passes."""
    w = F.window(ts_col, window).alias("w")
    ordk = F.struct(F.col(ts_col), F.col(order_col))
    return (
        events_stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(key), w)
        .agg(
            F.min(val_col).alias("v_min"),
            F.max(val_col).alias("v_max"),
            F.min_by(F.col(val_col), ordk).alias("v_first"),
            F.max_by(F.col(val_col), ordk).alias("v_last"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            key,
            F.col("w.start").alias("bucket"),
            "v_min",
            "v_max",
            "v_first",
            "v_last",
            "n",
        )
    )


def stream_gap_alerts(
    points_stream: DataFrame,
    key_col: str = "url",
    ts_col: str = "bucket",
    max_gap_seconds: int = 3600,
):
    """Heartbeat/gap monitor (custom stateful streaming operator): emit
    an alert row whenever the event-time gap between consecutive events
    of a key exceeds ``max_gap_seconds`` — the crawl-stopped /
    sensor-died detector a retention pipeline runs next to its rollups.

    State per key = the last seen event-time (8 bytes, strictly bounded;
    compare the unbounded buffers a naive windowed self-join would
    keep). Within each micro-batch arrivals are sorted; rows older than
    the stored last_ts (late beyond reorder) are ignored for gap
    purposes, mirroring the watermark conventions of the other stateful
    ops here. Detection is event-time retroactive: the alert for a gap
    fires when the NEXT event arrives (a still-silent key has no closing
    timestamp; production would add a ProcessingTimeTimeout probe, which
    is deliberately left out of the deterministic test surface).

    Output rows: (key, gap_start, gap_end, gap_us).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType, TimestampType

    out_schema = StructType(
        [
            StructField(key_col, points_stream.schema[key_col].dataType),
            StructField("gap_start", TimestampType()),
            StructField("gap_end", TimestampType()),
            StructField("gap_us", LongType()),
        ]
    )
    state_schema = StructType([StructField("last_ts", LongType())])
    max_gap_us = int(max_gap_seconds) * 1_000_000

    def fn(key, pdf_iter, state):
        last = state.get[0] if state.exists else None
        ts_all = [pdf[ts_col].to_numpy(np.int64) for pdf in pdf_iter if len(pdf)]
        if not ts_all:
            yield pd.DataFrame(columns=[f.name for f in out_schema.fields])
            return
        ts = np.sort(np.concatenate(ts_all))
        if last is not None:
            ts = np.concatenate([[last], ts[ts > last]])
        deltas = np.diff(ts)
        hit = np.flatnonzero(deltas > max_gap_us)
        state.update((int(ts[-1]),))
        yield pd.DataFrame(
            {
                key_col: key[0],
                "gap_start": pd.to_datetime(ts[hit], unit="us", utc=True),
                "gap_end": pd.to_datetime(ts[hit + 1], unit="us", utc=True),
                "gap_us": deltas[hit],
            }
        )

    # the UDF sees UTC epoch micros, not pandas timestamps (which carry
    # the session zone's wall clock and so break gaps across DST)
    return (
        points_stream.select(key_col, F.unix_micros(ts_col).alias(ts_col))
        .groupBy(key_col)
        .applyInPandasWithState(fn, out_schema, state_schema, "append", "NoTimeout")
    )
