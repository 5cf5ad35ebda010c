"""Oracle-checked query pack for the driver contract (__spark_entry__).

Each ``q_*`` takes (spark, sf_dir) and returns a DataFrame whose column
names/aliases exactly match the paired DuckDB SQL in ``ORACLES`` (the
driver hash-compares values after sorting columns by name).

Numeric-determinism rules used throughout:
  * money-like doubles become integer cents (CAST(ROUND(v*100,0) AS BIGINT))
    so sums are order-independent and bit-exact across engines;
  * decimal sums for TPC-H-style aggregates;
  * float outputs (linear interpolation, cosine) are either rounded with
    the identical expression on both sides or reduced to id sets.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sprintz_spark.operators import gapfill as GF
from sprintz_spark.operators import rollup  # noqa: F401 (engine parity)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# Tiny reused subtrees some queries .cache() (top-10 rows, per-doc
# fingerprint arrays, the flagged events scan) are registered here so a
# long-lived session that invokes many queries (bench, parity, the
# driver's correctness run) can release them between queries instead of
# accumulating cached blocks until LRU eviction. The cache must outlive
# the RETURNED DataFrame's consumption, so release is a caller hook, not
# automatic.
_QUERY_CACHES: list[DataFrame] = []


def _cache(df: DataFrame) -> DataFrame:
    df = df.cache()
    _QUERY_CACHES.append(df)
    return df


def release_query_caches() -> int:
    """Unpersist every subtree cached by query functions so far; returns
    how many were released. Safe to call after the consuming action —
    re-invoking a query simply re-fills its cache."""
    n = 0
    while _QUERY_CACHES:
        df = _QUERY_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to release
    return n


# Shared staged input for the codec-gate family: five queries (sprintz /
# container / huffman / codec-search roundtrips + query_on_compressed)
# encode the IDENTICAL (user_id, bucket, cents) projection of events —
# each gating a different wire format, so the five ENCODES are the point,
# but re-scanning and re-projecting the events table five times per run
# is pure waste (~5 s per bench run at sf0.1). Staged once per
# (session, sf_dir) and kept across queries; released by
# release_shared_stages() at end-of-run, NOT by release_query_caches()
# (per-query release would defeat the sharing).
_SHARED_STAGE: dict = {}


def _scratch_dir(prefix: str) -> str:
    """mkdtemp that is guaranteed to be deleted at interpreter exit
    (r8 ADVICE: per-query stream staging and tier stores accumulated in
    /tmp across bench/parity runs). Shared-stage store paths are ALSO
    rmtreed earlier by release_shared_stages; atexit is the backstop
    for runs that never call it."""
    import atexit
    import shutil
    import tempfile

    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def _stream_src_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_id", T.LongType()),
            T.StructField("cents", T.LongType()),
        ]
    )


def _staged_stream_src(spark, sf_dir) -> str:
    """Shared staged streaming source for the sentinel-flushed streaming
    gates (stream_rollup_1m / stream_m4 / stream_sessionize): ONE
    superset projection (user_id, ts, event_id, cents) of events plus
    the far-future sentinel row, written once per (session, sf_dir) —
    each gate previously wrote its own near-identical source parquet
    (~1-1.5 s each at sf0.1). Gates select the columns they need;
    checkpoints stay per-query (streaming state is never shareable
    across different queries). stream_gap_alerts keeps its own
    two-slice mtime-ordered source: its cross-batch-state claim depends
    on that replay shape."""
    import datetime as dt
    import os

    key = (spark, sf_dir, "stream_src")
    cached = _SHARED_STAGE.get(key)
    if cached is not None:
        return os.path.join(cached, "src")
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_id",
        _cents().alias("cents"),
    )
    # the stage entry stores the SCRATCH ROOT (r9 ADVICE: storing the
    # src child left the empty mkdtemp parent to the atexit backstop);
    # release_shared_stages rmtrees the root like the tier-store entries
    root = _scratch_dir("stream_src_")
    src = os.path.join(root, "src")
    # ONE single-task write carries the projection AND the far-future
    # sentinel row (the single availableNow batch consumes all files
    # regardless of order or boundaries, so neither a separate sentinel
    # file nor any file ordering is needed). The sentinel is a JVM
    # VALUES relation, not createDataFrame: writing a Python-RDD-backed
    # frame to parquet stalls ~5 s in driver planning (r10 measurement;
    # session.local_values_df docstring) — as a separate write that
    # single row was most of the "streaming cold-start" previously
    # attributed to micro-batch machinery. coalesce(1) kept
    # deliberately: a 32-task parallel write measured 0.93 s vs 0.37 s
    # single-task at this staging size.
    from sprintz_spark.session import local_values_df

    sentinel = local_values_df(
        spark,
        [(-1, dt.datetime(2099, 1, 1), 0, 0)],
        "user_id bigint, ts timestamp, event_id bigint, cents bigint",
    )
    ev.unionByName(sentinel).coalesce(1).write.mode("append").parquet(src)
    _SHARED_STAGE[key] = root
    return src


def _staged_events_cents(spark, sf_dir) -> DataFrame:
    key = (spark, sf_dir, "events_cents")
    df = _SHARED_STAGE.get(key)
    if df is None:
        df = (
            _t(spark, sf_dir, "events")
            .select("user_id", F.col("ts").alias("bucket"), _cents().alias("cents"))
            .cache()
        )
        _SHARED_STAGE[key] = df
    return df


def _staged_clusters(spark, sf_dir) -> DataFrame:
    """Shared (doc_id, cluster_id) frame: the LSH -> exact-Jaccard-verify
    -> connected-components subtree is the most expensive webtext
    computation in the registry and TWO queries consume it verbatim
    (dedup_clusters, cluster_representatives) — stage it once per
    (session, sf_dir) like the codec-gate events projection. At corpus
    scale this is the materialized clusters table every downstream
    curation job reads, not an in-session cache."""
    key = (spark, sf_dir, "clusters")
    df = _SHARED_STAGE.get(key)
    if df is None:
        from sprintz_spark.operators.dedup import (
            minhash_lsh_pairs,
            ngram_jaccard_verify,
        )
        from sprintz_spark.operators.graph import dedup_clusters

        docs = _t(spark, sf_dir, "documents")
        pairs = (
            ngram_jaccard_verify(docs, minhash_lsh_pairs(docs, min_est_jaccard=0.3))
            .where(F.col("jaccard") >= 0.7)
            .select("doc_a", "doc_b")
        )
        df = dedup_clusters(docs, pairs, src="doc_a", dst="doc_b").cache()
        _SHARED_STAGE[key] = df
    return df


def release_shared_stages() -> int:
    """Unpersist the shared staged frames and DELETE staged on-disk tier
    stores (end-of-run hook). Path-valued stage entries (the lifecycle /
    conflict stores, ~3x the 1m dataset each) used to be left for the
    OS; repeated bench/parity runs accumulated sizable /tmp dirs
    (r8 ADVICE) — they are rebuilt on demand, so rmtree them here."""
    import shutil

    n = 0
    for df in _SHARED_STAGE.values():
        if isinstance(df, str):
            shutil.rmtree(df, ignore_errors=True)
            n += 1
            continue
        if not hasattr(df, "unpersist"):
            continue
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    _SHARED_STAGE.clear()
    return n


def _cents(col: str = "value"):
    return F.round(F.col(col) * 100, 0).cast("long")


_CENTS_SQL = "CAST(ROUND(value*100, 0) AS BIGINT)"


# --- tiered rollups on events (engine operators, SQL oracles) -------------

def _events_1m(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("minute", "ts").alias("bucket"), _cents().alias("cents"))
        .groupBy("user_id", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("cents_sum"),
            F.max("cents").alias("cents_max"),
            F.min("cents").alias("cents_min"),
        )
    )


def q_rollup_1m(spark, sf_dir):
    return _events_1m(spark, sf_dir)


def _run_finite_stream(spark, df, name: str, out: str, chk: str) -> None:
    """Shared runner for the finite-stream oracle gates: availableNow a
    streaming DataFrame to parquet with a FRESH 8-state-partition
    checkpoint (4x less per-microbatch overhead than the session's 32
    for these bounded streams; at real scale this knob is sized to
    state volume, not inherited) and fail LOUDLY on timeout — reading
    `out` after an unfinished query would return a partial result that
    surfaces as a baffling parity mismatch."""
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            df.writeStream.outputMode("append")
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", out)
            .start()
        )
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                f"{name}: streaming query did not finish within 300s "
                "(availableNow trigger hung?)"
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


def q_stream_rollup_1m(spark, sf_dir):
    """Streaming continuous aggregate under the driver's oracle gate
    (round-6: the streaming surface was previously pytest-only): a
    FINITE watermarked stream over the events table, run to completion
    with availableNow, whose emitted buckets must hash-equal the same
    DuckDB SQL that gates the batch rollup_1m — streamed tier rows ==
    batch derivation, bit for bit.

    Mechanics (single-batch variant of the deterministic finite-stream
    recipe from tests/test_streaming.py): events plus ONE far-future
    sentinel row are staged as file-source slices and consumed in a
    SINGLE availableNow micro-batch (no maxFilesPerTrigger cap, so no
    mtime ordering needed — the watermark after batch 1 is the batch
    max minus the delay regardless of file order). The sentinel puts
    that watermark past every real bucket, and Spark's automatic
    no-data flush batch (spark.sql.streaming.noDataMicroBatches, on by
    default) then emits all finalized windows — 2 micro-batches total
    where the per-file replay paid one batch per slice (round-7 trim:
    the streaming gate was ~10% of the whole bench at 3 batches). The
    sentinel's own never-finalized bucket is the one row filtered back
    out. State at scale: one open row per (user_id, minute) inside the
    watermark horizon — bounded by horizon x ingest rate, not by
    history. The multi-batch replay path (cross-batch state, late-data
    drops) stays covered by tests/test_streaming.py."""
    import os

    base = _scratch_dir("stream_rollup_1m_")
    out, chk = (os.path.join(base, d) for d in ("out", "chk"))
    # shared staged source (projection + far-future sentinel written once
    # per session — see _staged_stream_src); this gate reads 3 of its
    # 4 columns
    src = _staged_stream_src(spark, sf_dir)
    stream = (
        spark.readStream.schema(_stream_src_schema())
        .parquet(src)
        .select("user_id", "ts", "cents")
    )
    agg = (
        stream.withWatermark("ts", "1 minute")
        .groupBy("user_id", F.window("ts", "1 minute").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("cents_sum"),
            F.max("cents").alias("cents_max"),
            F.min("cents").alias("cents_min"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("bucket"),
            "n_events",
            "cents_sum",
            "cents_max",
            "cents_min",
        )
    )
    _run_finite_stream(spark, agg, "stream_rollup_1m", out, chk)
    # tmp staging (a few MB) is left for the OS: the returned plan lazily
    # reads `out`, so it cannot be deleted here
    return spark.read.parquet(out).where(F.col("user_id") >= 0)


def q_stream_dedup_docs(spark, sf_dir):
    """Streaming exact dedup under the driver's oracle gate (round-6
    verdict item 6): a finite 2-slice document stream through
    streaming.rollup_stream.stream_exact_dedup
    (dropDuplicatesWithinWatermark) whose survivors must aggregate to
    the batch exact-dedup answer.

    Slice 1 = the documents table; slice 2 = re-stamped COPIES of every
    doc_id % 50 == 0 doc (new doc_id offset past the staged max, so copy
    ids are disjoint at any corpus size), mtime-stamped later so the
    file source replays it in a second micro-batch — every copy must be
    dropped by dedup STATE carried across batches, which is the property
    a batch-mode rerun could fake. Survivor identity inside slice 1 is
    arrival-order-dependent (the corpus carries a few planted dup pairs
    at sf0.1), so the gate returns survivor-set invariants instead of
    ids: n_out == distinct hashes, a 32-bit md5-prefix checksum over
    surviving hashes (survivors have unique hashes, so the plain sum
    equals the oracle's distinct-hash sum), and n_copy_survivors == 0
    (the cross-batch assertion). State at scale: one hash per distinct
    doc inside the watermark horizon — bounded by horizon x ingest
    rate, not corpus size (cross-horizon exactness belongs to the batch
    exact_dedup, the standard lambda split)."""
    import os

    from sprintz_spark.streaming.rollup_stream import stream_exact_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        (
            F.lit("2025-01-01 00:00:00").cast("timestamp")
            + F.make_interval(secs=F.pmod("doc_id", F.lit(3600)).cast("double"))
        ).alias("ts"),
    )
    base = _scratch_dir("stream_dedup_docs_")
    src, out, chk = (os.path.join(base, d) for d in ("src", "out", "chk"))
    # copy ids must be disjoint from REAL ids at any corpus size — a
    # fixed +1e6 offset would misclassify genuine doc_ids >= 1e6 as
    # copies on a large SF; one tiny max-pushdown agg over the corpus
    # derives the offset (identical to aggregating the staged slice)
    copy_off = (docs.agg(F.max("doc_id")).first()[0] or 0) + 1
    copies = docs.where(F.pmod("doc_id", F.lit(50)) == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(copy_off)
    )
    # ONE partitioned write stages both slices (two sequential writes
    # cost a job each — r10), then the part files move into the flat
    # source dir with stamped mtimes so the oldest-first source replays
    # the copies slice AFTER the originals (the cross-batch-state claim)
    stage = os.path.join(base, "stage")
    (
        docs.withColumn("_slice", F.lit(0))
        .unionByName(copies.withColumn("_slice", F.lit(1)))
        .coalesce(1)
        .write.partitionBy("_slice")
        .parquet(stage)
    )
    os.makedirs(src, exist_ok=True)
    now = os.path.getmtime(stage)
    for slice_no in (0, 1):
        d = os.path.join(stage, f"_slice={slice_no}")
        for j, f in enumerate(sorted(os.listdir(d))):
            if not f.endswith(".parquet"):
                continue
            dst = os.path.join(src, f"slice{slice_no}_{j}.parquet")
            os.rename(os.path.join(d, f), dst)
            os.utime(dst, (now + 2 * slice_no, now + 2 * slice_no))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    deduped = stream_exact_dedup(stream, watermark="24 hours")
    _run_finite_stream(spark, deduped, "stream_dedup_docs", out, chk)
    surv = spark.read.parquet(out)
    h32 = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long")
    return surv.agg(
        F.count(F.lit(1)).alias("n_out"),
        F.sum(h32).alias("hash_sum"),
        F.sum((F.col("doc_id") >= copy_off).cast("long")).alias("n_copy_survivors"),
    )


_STREAM_DEDUP_DOCS_SQL = """
SELECT CAST(count(*) AS BIGINT) AS n_out,
       CAST(sum(('0x' || substr(h, 1, 8))::BIGINT) AS BIGINT) AS hash_sum,
       CAST(0 AS BIGINT) AS n_copy_survivors
FROM (SELECT DISTINCT md5(text) AS h FROM documents)
"""


def q_stream_gap_alerts(spark, sf_dir):
    """Streaming heartbeat/gap monitor under the driver's oracle gate
    (fourth streaming gate): the events table replayed as TWO
    time-ordered slices (split at the fixed mid-range date, mtime-ordered,
    one micro-batch each) through the custom stateful operator
    streaming.rollup_stream.stream_gap_alerts (applyInPandasWithState,
    8-byte last-seen-timestamp state per user, NoTimeout) — every
    event-time gap > 1 hour must be alerted, INCLUDING gaps that span
    the micro-batch boundary, which only fire if the per-key state
    genuinely carries across batches. The oracle is the batch lag-window
    gap computation. The time-ordered split guarantees no row arrives
    behind its user's stored last_ts, so the operator's late-drop rule
    never engages and streamed alerts == batch gaps exactly.

    State at scale: 8 bytes per key, period — the bounded-state property
    that makes this operator run forever on an unbounded stream where a
    windowed self-join would buffer history."""
    import datetime as dt
    import os

    from sprintz_spark.streaming.rollup_stream import stream_gap_alerts

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    base = _scratch_dir("stream_gap_alerts_")
    src, out, chk = (os.path.join(base, d) for d in ("src", "out", "chk"))
    split = dt.datetime(2024, 1, 16)  # generator events span Jan 2024
    # ONE partitioned write stages both time slices (the two sequential
    # filtered writes cost a full job each — r10); the part files then
    # move into the flat source dir with explicitly stamped mtimes, so
    # the oldest-first file source replays slice 0 before slice 1
    # exactly as before. coalesce(1) keeps one file per slice (the
    # maxFilesPerTrigger=1 replay contract).
    stage = os.path.join(base, "stage")
    (
        ev.withColumn("_slice", (F.col("ts") >= F.lit(split)).cast("int"))
        .coalesce(1)
        .write.partitionBy("_slice")
        .parquet(stage)
    )
    os.makedirs(src, exist_ok=True)
    now = os.path.getmtime(stage)
    for slice_no in (0, 1):
        d = os.path.join(stage, f"_slice={slice_no}")
        for j, f in enumerate(sorted(os.listdir(d))):
            if not f.endswith(".parquet"):
                continue
            dst = os.path.join(src, f"slice{slice_no}_{j}.parquet")
            os.rename(os.path.join(d, f), dst)
            os.utime(dst, (now + 2 * slice_no, now + 2 * slice_no))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    alerts = stream_gap_alerts(
        stream, key_col="user_id", ts_col="ts", max_gap_seconds=3600
    )
    _run_finite_stream(spark, alerts, "stream_gap_alerts", out, chk)
    return (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum("gap_us").alias("gap_us_sum"),
            F.max("gap_us").alias("max_gap_us"),
        )
    )


_STREAM_GAP_ALERTS_SQL = """
WITH d AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts)) AS gap_us
  FROM events
)
SELECT user_id, count(*) AS n_gaps,
       CAST(sum(gap_us) AS BIGINT) AS gap_us_sum,
       CAST(max(gap_us) AS BIGINT) AS max_gap_us
FROM d WHERE gap_us > 3600 * 1000000::BIGINT
GROUP BY user_id
"""


def q_stream_m4(spark, sf_dir):
    """Streaming M4 downsampling under the driver's oracle gate (round-7
    verdict item 2 — the last streaming operator without a CORRECTNESS
    row): the events table plus one far-future sentinel consumed in a
    SINGLE availableNow micro-batch (the stream_rollup_1m recipe; the
    automatic no-data flush batch emits every finalized window) through
    streaming.rollup_stream.stream_m4 — per (user, 1h tumbling window)
    min/max/first/last where first/last follow the (ts, event_id) total
    order via min_by/max_by on a struct. All four are algebraic
    aggregates, so streaming state is ONE row per open (key, window)
    inside the watermark horizon — bounded by horizon x ingest rate.
    The oracle is the same DuckDB arg_min/arg_max SQL that gates the
    batch m4_downsample: streamed pixels == batch derivation, bit for
    bit. Multi-batch replay (cross-batch window state) stays covered by
    tests/test_streaming.py."""
    import os

    from sprintz_spark.streaming.rollup_stream import stream_m4

    base = _scratch_dir("stream_m4_")
    out, chk = (os.path.join(base, d) for d in ("out", "chk"))
    # shared staged source — this gate reads all 4 columns
    src = _staged_stream_src(spark, sf_dir)
    stream = spark.readStream.schema(_stream_src_schema()).parquet(src)
    pixels = stream_m4(
        stream,
        key="user_id",
        ts_col="ts",
        val_col="cents",
        order_col="event_id",
        window="1 hour",
        watermark="1 minute",
    )
    _run_finite_stream(spark, pixels, "stream_m4", out, chk)
    return spark.read.parquet(out).where(F.col("user_id") >= 0)


# oracle: like _M4_SQL (streamed epoch-aligned 1h tumbling windows are
# exactly date_trunc('hour') buckets) but with first/last ordered by the
# SAME total order the stream uses — lexicographic (ts, event_id) via
# DuckDB named-struct min/max (field-order comparison matches Spark
# min_by/max_by on struct(ts, event_id) exactly; see PLANS.md). The
# batch _M4_SQL's arithmetic composite ord diverges from the struct
# order once an event_id delta exceeds 1e6 x the smallest ts gap in
# micros (r8 ADVICE) — this form has no such precondition.
_STREAM_M4_SQL = f"""
WITH e AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         {_CENTS_SQL} AS cents, epoch_us(ts) AS us, event_id AS id
  FROM events
)
SELECT user_id, bucket, min(cents) AS v_min, max(cents) AS v_max,
       (min({{'us': us, 'id': id, 'v': cents}})).v AS v_first,
       (max({{'us': us, 'id': id, 'v': cents}})).v AS v_last,
       count(*) AS n
FROM e GROUP BY user_id, bucket
"""


def q_rollup_1h_cascade(spark, sf_dir):
    # cascade from the 1m tier (bit-exact algebraic re-aggregation); the
    # oracle aggregates raw events directly — equality proves the cascade
    return (
        _events_1m(spark, sf_dir)
        .groupBy("user_id", F.date_trunc("hour", "bucket").alias("bucket"))
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("cents_sum").alias("cents_sum"),
            F.max("cents_max").alias("cents_max"),
            F.min("cents_min").alias("cents_min"),
        )
    )


def q_rollup_1d_salted(spark, sf_dir):
    # explicit two-phase salted aggregation (hot-key safe), same result
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", "ts").alias("bucket"),
        _cents().alias("cents"),
        F.pmod(F.xxhash64("ts", F.lit(7)), F.lit(8)).alias("salt"),
    )
    p1 = ev.groupBy("user_id", "bucket", "salt").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.max("cents").alias("mx"),
        F.min("cents").alias("mn"),
    )
    return p1.groupBy("user_id", "bucket").agg(
        F.sum("n").alias("n_events"),
        F.sum("s").alias("cents_sum"),
        F.max("mx").alias("cents_max"),
        F.min("mn").alias("cents_min"),
    )


_ROLLUP_SQL = """
SELECT user_id, date_trunc('{unit}', ts) AS bucket,
       count(*) AS n_events,
       CAST(sum({cents}) AS BIGINT) AS cents_sum,
       max({cents}) AS cents_max,
       min({cents}) AS cents_min
FROM events GROUP BY 1, 2
"""


def _staged_lifecycle_store(spark, sf_dir) -> str:
    """Full tier-store lifecycle under the driver's oracle gate (round-7
    verdict item 4 — the manifest/lineage machinery, the north-star's
    core claim, was pytest-only): events reshaped into the pages schema
    (url from user_id, warc_ts from ts, html with a DuckDB-recomputable
    byte length), ingested as TWO snapshots split at a day boundary via
    plans.retention.run_retention (series longer than chunk_rows are
    cut into row-sliced container pieces, so TTL has whole chunks to
    drop), then the OLD snapshot's 1m tier TTL-expired at the mid-month
    cutoff (plans.retention.expire_tier — chunk-granular staged-swap
    rewrite; the real lifecycle order: expiry trims history, compaction
    merges the survivors), then both snapshots compacted into one
    re-chunked container snapshot (plans.retention.compact_tiers —
    newest-wins merge, lineage.json). The store is then read BACK
    through read_tier_decoded (full sprintz
    decode of the surviving chunks) and must hash-equal DuckDB's direct
    rollup of the raw events: 1m filtered to the retained window
    (expiry is conservative — a chunk straddling the cutoff survives
    whole, so equality is asserted on buckets >= cutoff; that the drop
    physically happened is asserted on the expiry report), 1h and 1d in
    full. Scale-adaptive chunk_rows (~1200 chunks at any SF, floor 8)
    at ingest forces real fragmentation so
    compaction merges multiple chunks per series (asserted) and expiry
    has whole chunks to drop (asserted). Crash-window idempotence stays
    fault-injection-covered in tests/test_retention.py."""
    import datetime as dt
    import tempfile

    from sprintz_spark.plans import retention as RT

    key = (spark, sf_dir, "lifecycle_store")
    cached = _SHARED_STAGE.get(key)
    if cached is not None:
        return cached
    pages = _t(spark, sf_dir, "events").select(
        # user_id % 10 -> 10 urls: each series is long enough at EVERY
        # tested SF that chunking/compaction/expiry all have real work
        F.concat(
            F.lit("https://u"), F.col("user_id") % 10, F.lit(".example/")
        ).alias("url"),
        F.col("ts").cast("timestamp").alias("warc_ts"),
        F.expr(
            "cast(repeat('x', cast(abs(cast(round(value*100, 0) as bigint)) % 997"
            " as int)) as binary)"
        ).alias("html"),
    )
    split = dt.datetime(2024, 1, 16)  # day boundary: disjoint buckets per tier
    cutoff = dt.datetime(2024, 1, 15)
    out = _scratch_dir("retention_lifecycle_")
    # STAGING-ONLY cache: both snapshot ingests filter the same synthetic
    # pages frame, so without it the events scan + html synthesis runs
    # twice. This is test-fixture staging (a real deployment ingests each
    # snapshot's pages exactly once as they arrive); the engine under
    # test (run_retention et al.) never caches raw pages.
    pages = pages.cache()
    # scale-adaptive chunking: ~1200 chunks at any SF (a real store sizes
    # chunk_rows to target chunk bytes, not a constant row count). Floor 8
    # keeps the sf0.001 series fragmented enough that expiry has whole
    # chunks to drop and compaction has fragments to merge; at sf0.1 this
    # is ~80 rows/chunk instead of 5.6k eight-row chunks (3x wall). The
    # count doubles as the cache materialization.
    chunk_rows = max(8, pages.count() // 1200)
    # the two snapshots are INDEPENDENT ingests (disjoint snap dirs;
    # manifest appends serialized by retention._MANIFEST_LOCK): overlap
    # them from a 2-thread pool (guide §2.6) so the second snapshot's
    # jobs back-fill the idle cores of the first's fixed-overhead tail —
    # exactly how a real fleet ingests concurrent snapshot waves
    from concurrent.futures import ThreadPoolExecutor

    def _ingest(args):
        sid, pred = args
        return RT.run_retention(
            pages.where(pred),
            out,
            snapshot_id=sid,
            n_buckets=4,
            chunk_rows=chunk_rows,
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(
            pool.map(
                _ingest,
                [
                    ("s1", F.col("warc_ts") < F.lit(split)),
                    ("s2", F.col("warc_ts") >= F.lit(split)),
                ],
            )
        )
    # TTL-expire the finest tier of the OLD snapshot before compaction
    # (the real lifecycle order: expiry trims history, compaction then
    # merges the survivors into one re-chunked snapshot)
    exp = RT.expire_tier(spark, out, "s1", "1m", older_than=cutoff)
    if exp["chunks_dropped"] <= 0:
        raise AssertionError(
            "retention_lifecycle: expiry dropped no chunks — the TTL path "
            "was not exercised"
        )
    comp = RT.compact_tiers(spark, out, ["s1", "s2"], "c1", n_buckets=4)
    for tier in ("1m", "1h", "1d"):
        if comp[tier]["dst_chunks"] >= comp[tier]["src_chunks"]:
            raise AssertionError(
                f"retention_lifecycle: compaction did not merge {tier} chunks "
                f"({comp[tier]['src_chunks']} -> {comp[tier]['dst_chunks']})"
            )
    pages.unpersist()
    _SHARED_STAGE[key] = out
    return out


def q_retention_lifecycle(spark, sf_dir):
    """Decoded read-back of the staged lifecycle store (see
    _staged_lifecycle_store for the ingest -> expire -> compact recipe
    and its loud assertions): all three tiers through read_tier_decoded,
    1m filtered to the retained window, hash-equal DuckDB's direct
    rollup of the raw events."""
    import datetime as dt

    from sprintz_spark.plans import retention as RT

    cutoff = dt.datetime(2024, 1, 15)
    out = _staged_lifecycle_store(spark, sf_dir)
    cols = ["url", "bucket", *RT.MEASURES]
    t1m = (
        RT.read_tier_decoded(spark, out, "c1", "1m")
        .where(F.col("bucket") >= F.lit(cutoff))
        .select(F.lit("1m").alias("tier"), *cols)
    )
    t1h = RT.read_tier_decoded(spark, out, "c1", "1h").select(
        F.lit("1h").alias("tier"), *cols
    )
    t1d = RT.read_tier_decoded(spark, out, "c1", "1d").select(
        F.lit("1d").alias("tier"), *cols
    )
    return t1m.unionByName(t1h).unionByName(t1d)


def q_tier_query_pushdown(spark, sf_dir):
    """Query-on-compressed over the REAL tier store (not the synthetic
    codec-gate blobs): per-url sum/max/min/count of byte_size_sum
    straight from the compacted 1h tier via plans.retention.query_tier —
    the container fast path (query_container_partials: per-series
    partials from block headers, RLE runs never unpack payload) followed
    by Catalyst partial+final aggregation. Shares the staged lifecycle
    store with retention_lifecycle (the materialized store a dashboard
    queries), so its marginal cost is the pushdown scan itself. The
    oracle recomputes the 1h tier and its per-url aggregate directly
    from raw events — equality proves the no-decode aggregate path reads
    the compacted, expired store exactly."""
    from sprintz_spark.plans import retention as RT

    out = _staged_lifecycle_store(spark, sf_dir)
    return RT.query_tier(spark, out, "c1", "1h", "byte_size_sum")


def q_tier_range_read(spark, sf_dir):
    """Metadata-pruned range read from the tier store: decoded 1m rows
    restricted to a 5-day window via plans.retention.read_tier_range —
    chunks whose [start_bucket, end_bucket] misses the range are pruned
    at the parquet scan from column min/max stats (no decode, no blob
    bytes read), exact row filtering after decode. Shares the staged
    lifecycle store; the window [Jan 20, Jan 25) sits inside the
    retained region, so the oracle is the direct DuckDB rollup filtered
    to the same window — equality proves pruning loses nothing and the
    post-decode filter is exact."""
    import datetime as dt

    from sprintz_spark.plans import retention as RT

    out = _staged_lifecycle_store(spark, sf_dir)
    lo = dt.datetime(2024, 1, 20)
    hi = dt.datetime(2024, 1, 25) - dt.timedelta(microseconds=1)
    return RT.read_tier_range(spark, out, "c1", "1m", lo, hi).select(
        "url", "bucket", *RT.MEASURES
    )


_TIER_RANGE_SQL = """
WITH pages AS (
  SELECT 'https://u' || (user_id % 10) || '.example/' AS url,
         ts AS warc_ts,
         abs(CAST(ROUND(value*100, 0) AS BIGINT)) % 997 AS nbytes
  FROM events
)
SELECT url, date_trunc('minute', warc_ts) AS bucket,
       count(*) AS crawl_count,
       CAST(sum(nbytes) AS BIGINT) AS byte_size_sum,
       max(nbytes) AS byte_size_max,
       min(nbytes) AS byte_size_min
FROM pages
WHERE warc_ts >= TIMESTAMP '2024-01-20' AND warc_ts < TIMESTAMP '2024-01-25'
GROUP BY 1, 2
"""


_TIER_QUERY_SQL = """
WITH pages AS (
  SELECT 'https://u' || (user_id % 10) || '.example/' AS url,
         ts AS warc_ts,
         abs(CAST(ROUND(value*100, 0) AS BIGINT)) % 997 AS nbytes
  FROM events
), h AS (
  SELECT url, date_trunc('hour', warc_ts) AS bucket,
         CAST(sum(nbytes) AS BIGINT) AS byte_size_sum
  FROM pages GROUP BY 1, 2
)
SELECT url,
       CAST(sum(byte_size_sum) AS BIGINT) AS byte_size_sum_sum,
       max(byte_size_sum) AS byte_size_sum_max,
       min(byte_size_sum) AS byte_size_sum_min,
       count(*) AS n_points
FROM h GROUP BY url
"""


_RETENTION_LIFECYCLE_SQL = """
WITH pages AS (
  SELECT 'https://u' || (user_id % 10) || '.example/' AS url,
         ts AS warc_ts,
         abs(CAST(ROUND(value*100, 0) AS BIGINT)) % 997 AS nbytes
  FROM events
), m AS (
  SELECT url, date_trunc('minute', warc_ts) AS bucket,
         count(*) AS crawl_count,
         CAST(sum(nbytes) AS BIGINT) AS byte_size_sum,
         max(nbytes) AS byte_size_max,
         min(nbytes) AS byte_size_min
  FROM pages GROUP BY 1, 2
), h AS (
  SELECT url, date_trunc('hour', bucket) AS bucket,
         CAST(sum(crawl_count) AS BIGINT) AS crawl_count,
         CAST(sum(byte_size_sum) AS BIGINT) AS byte_size_sum,
         max(byte_size_max) AS byte_size_max,
         min(byte_size_min) AS byte_size_min
  FROM m GROUP BY 1, 2
), d AS (
  SELECT url, date_trunc('day', bucket) AS bucket,
         CAST(sum(crawl_count) AS BIGINT) AS crawl_count,
         CAST(sum(byte_size_sum) AS BIGINT) AS byte_size_sum,
         max(byte_size_max) AS byte_size_max,
         min(byte_size_min) AS byte_size_min
  FROM h GROUP BY 1, 2
)
SELECT '1m' AS tier, * FROM m WHERE bucket >= TIMESTAMP '2024-01-15'
UNION ALL SELECT '1h' AS tier, * FROM h
UNION ALL SELECT '1d' AS tier, * FROM d
"""


# --- gap-fill --------------------------------------------------------------

def _events_1h_sum(spark, sf_dir):
    return (
        _t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("hour", "ts").alias("bucket"), _cents().alias("cents"))
        .groupBy("user_id", "bucket")
        .agg(F.sum("cents").alias("v"))
    )


def q_gapfill_locf_1h(spark, sf_dir):
    filled = GF.gapfill(
        _events_1h_sum(spark, sf_dir), "1h", ["v"], key="user_id", method="locf"
    )
    return filled.select("user_id", "bucket", F.col("v").alias("v_locf"))


def q_gapfill_linear_1h(spark, sf_dir):
    filled = GF.gapfill(
        _events_1h_sum(spark, sf_dir), "1h", ["v"], key="user_id", method="linear"
    )
    return filled.select("user_id", "bucket", F.round(F.col("v"), 6).alias("v_lin"))


_GAPFILL_BASE_SQL = f"""
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         CAST(sum({_CENTS_SQL}) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), ext AS (
  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1
), spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM ext
), j AS (
  SELECT s.user_id, s.bucket, b.v FROM spine s LEFT JOIN b USING (user_id, bucket)
)
"""

_GAPFILL_LOCF_SQL = (
    _GAPFILL_BASE_SQL
    + """
SELECT user_id, bucket,
       last_value(v IGNORE NULLS) OVER
         (PARTITION BY user_id ORDER BY bucket
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_locf
FROM j
"""
)

_GAPFILL_LINEAR_SQL = (
    _GAPFILL_BASE_SQL
    + """
, w AS (
  SELECT user_id, bucket, v,
    CAST(epoch(bucket) AS DOUBLE) AS t,
    last_value(CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE) END IGNORE NULLS) OVER past AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN CAST(epoch(bucket) AS DOUBLE) END IGNORE NULLS) OVER past AS pt,
    first_value(CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE) END IGNORE NULLS) OVER fut AS nv,
    first_value(CASE WHEN v IS NOT NULL THEN CAST(epoch(bucket) AS DOUBLE) END IGNORE NULLS) OVER fut AS nt
  FROM j
  WINDOW past AS (PARTITION BY user_id ORDER BY bucket
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         fut AS (PARTITION BY user_id ORDER BY bucket
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, bucket,
  ROUND(CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
             WHEN pt IS NOT NULL AND nt IS NOT NULL
             THEN pv + (nv - pv) * (t - pt) / (nt - pt) END, 6) AS v_lin
FROM w
"""
)


# --- ranking / top-k -------------------------------------------------------

def q_topk_heavy_users(spark, sf_dir):
    """Global top-10 users by event count as TakeOrderedAndProject.

    orderBy+limit compiles to per-partition partial top-k merged on the
    driver side of the job — no Exchange SinglePartition over the full
    distinct-user set (which would be tens of millions of rows at 100x
    scale).  ``rnk`` is then attached with a window over only the 10
    surviving rows, so the one remaining single-partition step touches a
    constant-size input regardless of data scale."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    # cache the 10 survivors: they feed BOTH sides of the rank self-join
    # below, and without the cache Spark would instantiate the full
    # aggregation + top-k subtree twice (ReuseExchange dedups only the
    # shuffle write, not the final agg over all distinct users)
    top10 = _cache(counts.orderBy(F.desc("n_events"), F.asc("user_id")).limit(10))
    # rank the 10 survivors WITHOUT a window (even a 10-row unpartitioned
    # window logs Spark's single-partition WindowExec warning): rnk =
    # 1 + how many of the other 9 sort strictly before — a broadcast
    # self-join over a constant-size set
    a, b = top10.alias("a"), top10.alias("b")
    before = (F.col("b.n_events") > F.col("a.n_events")) | (
        (F.col("b.n_events") == F.col("a.n_events"))
        & (F.col("b.user_id") < F.col("a.user_id"))
    )
    return (
        a.join(F.broadcast(b), before, "left")
        .groupBy(F.col("a.user_id").alias("user_id"), F.col("a.n_events").alias("n_events"))
        .agg((F.count(F.col("b.user_id")) + 1).cast("int").alias("rnk"))
        .select("rnk", "user_id", "n_events")
    )


_TOPK_SQL = """
SELECT rnk, user_id, n_events FROM (
  SELECT user_id, count(*) AS n_events,
         row_number() OVER (ORDER BY count(*) DESC, user_id ASC) AS rnk
  FROM events GROUP BY user_id
) WHERE rnk <= 10
"""


# --- sprintz codec round-trip through Spark, verified against SQL ---------

def q_sprintz_roundtrip(spark, sf_dir):
    """Encode each user's (ts, cents) series with the sprintz pipeline,
    decode, and aggregate the DECODED data — equality with the raw-SQL
    oracle proves losslessness end-to-end through Spark."""
    from sprintz_spark.operators.encode import decode_series, encode_series

    ev = _staged_events_cents(spark, sf_dir)
    enc = encode_series(ev, key_cols=["user_id"], value_cols=["cents"])
    dec = decode_series(enc, key_cols=["user_id"], value_cols=["cents"])
    return dec.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("cents").alias("cents_sum"),
        F.min("bucket").alias("ts_min"),
        F.max("bucket").alias("ts_max"),
    )


_ROUNDTRIP_SQL = f"""
SELECT user_id, count(*) AS n_points,
       CAST(sum({_CENTS_SQL}) AS BIGINT) AS cents_sum,
       min(ts) AS ts_min, max(ts) AS ts_max
FROM events GROUP BY user_id
"""


def q_container_roundtrip(spark, sf_dir):
    """Multi-series container format ('C'): all of a partition's series in
    one blob per column. Decoded aggregates must equal raw SQL — the same
    losslessness gate as sprintz_roundtrip, for the container wire path."""
    from sprintz_spark.operators.encode import (
        decode_series_container,
        encode_series_container,
    )

    ev = _staged_events_cents(spark, sf_dir)
    enc = encode_series_container(ev, key_cols=["user_id"], value_cols=["cents"])
    dec = decode_series_container(enc, key_cols=["user_id"], value_cols=["cents"])
    return dec.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("cents").alias("cents_sum"),
        F.min("bucket").alias("ts_min"),
        F.max("bucket").alias("ts_max"),
    )


def q_huffman_roundtrip(spark, sf_dir):
    """Canonical-Huffman entropy stage (codecs/huffman.py — the sprintz
    paper's entropy coder, done for real) forced as the per-chunk codec
    through the CodecSearch container; decoded aggregates must equal raw
    SQL, gating the Huffman encode/decode end-to-end through Spark."""
    from sprintz_spark.operators.encode import decode_series, encode_series

    ev = _staged_events_cents(spark, sf_dir)
    enc = encode_series(
        ev, key_cols=["user_id"], value_cols=["cents"],
        codecs={"cents": "search:byteshuffle-huffman"},
    )
    dec = decode_series(enc, key_cols=["user_id"], value_cols=["cents"])
    return dec.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("cents").alias("cents_sum"),
        F.min("bucket").alias("ts_min"),
        F.max("bucket").alias("ts_max"),
    )


def q_codec_search_roundtrip(spark, sf_dir):
    """CodecSearch max-ratio path (reference python/codec.py:439-535): every
    chunk probes all applicable pipelines and keeps the smallest; decode
    dispatches by the stored pipeline id. Equality with raw SQL gates the
    whole try-K-keep-best machinery, not just one codec."""
    from sprintz_spark.operators.encode import decode_series, encode_series

    ev = _staged_events_cents(spark, sf_dir)
    enc = encode_series(
        ev, key_cols=["user_id"], value_cols=["cents"], codecs={"cents": "search"}
    )
    dec = decode_series(enc, key_cols=["user_id"], value_cols=["cents"])
    return dec.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("cents").alias("cents_sum"),
        F.min("bucket").alias("ts_min"),
        F.max("bucket").alias("ts_max"),
    )


def q_query_on_compressed(spark, sf_dir):
    """Aggregates computed from compressed blobs (fused decode+aggregate,
    no materialization) — the reference's REDUCE_SUM/REDUCE_MAX path."""
    from sprintz_spark.operators.encode import encode_series, query_encoded

    ev = _staged_events_cents(spark, sf_dir)
    enc = encode_series(ev, key_cols=["user_id"], value_cols=["cents"])
    return query_encoded(enc, "cents", key_cols=["user_id"])


_QOC_SQL = f"""
SELECT user_id, CAST(sum({_CENTS_SQL}) AS BIGINT) AS cents_sum,
       max({_CENTS_SQL}) AS cents_max,
       min({_CENTS_SQL}) AS cents_min, count(*) AS n_points
FROM events GROUP BY user_id
"""


def q_gorilla_roundtrip(spark, sf_dir):
    """Gorilla-XOR the raw double series per user (codec forced — no
    quantizer), decode, aggregate — bit-exact round trip makes the cents
    sums match raw SQL."""
    from sprintz_spark.operators.encode import decode_series, encode_series

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").alias("bucket"), F.col("value")
    )
    enc = encode_series(
        ev, key_cols=["user_id"], value_cols=["value"], codecs={"value": "gorilla"}
    )
    dec = decode_series(
        enc, key_cols=["user_id"], value_cols=["value"], value_types={"value": "double"}
    )
    return dec.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents_sum"),
    )


_GORILLA_SQL = f"""
SELECT user_id, count(*) AS n_points,
       CAST(sum({_CENTS_SQL}) AS BIGINT) AS cents_sum
FROM events GROUP BY user_id
"""


def q_booldelta_roundtrip(spark, sf_dir):
    """BoolDelta — the boolean XOR-delta codec the reference declares but
    never implements (codec.py:238-239: its TODO pins why arithmetic
    delta fails on bools) — forced end-to-end through the series
    encode/decode path and oracle-gated: a purchase flag per event is
    encoded per user (XOR residuals bitpack to ~1-bit blocks), decoded,
    and the per-user true-count AND the ORDER-SENSITIVE flip count
    (flag != previous flag along the time order) must match raw SQL.
    The flip count is what proves the decode restored the sequence, not
    just the multiset. (user_id, ts) is unique in the generated events,
    so the time order is a total order in both engines."""
    from sprintz_spark.operators.encode import decode_series, encode_series

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("bucket"),
        (F.col("event_type") == "purchase").alias("flag"),
    )
    enc = encode_series(
        ev, key_cols=["user_id"], value_cols=["flag"], codecs={"flag": "booldelta"}
    )
    dec = decode_series(
        enc, key_cols=["user_id"], value_cols=["flag"],
        value_types={"flag": "boolean"},
    )
    w = Window.partitionBy("user_id").orderBy("bucket")
    flips = (
        F.col("flag").cast("int")
        != F.lag(F.col("flag").cast("int")).over(w)
    ).cast("long")
    return (
        dec.withColumn("flip", F.coalesce(flips, F.lit(0)))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum(F.col("flag").cast("long")).alias("n_true"),
            F.sum("flip").alias("n_flips"),
        )
    )


_BOOLDELTA_SQL = """
WITH e AS (
  SELECT user_id, ts, (event_type = 'purchase') AS flag FROM events
), s AS (
  SELECT user_id, flag,
         CASE WHEN flag <> lag(flag) OVER (PARTITION BY user_id ORDER BY ts)
              THEN 1 ELSE 0 END AS flip
  FROM e
)
SELECT user_id, count(*) AS n_points,
       CAST(sum(CASE WHEN flag THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       CAST(coalesce(sum(flip), 0) AS BIGINT) AS n_flips
FROM s GROUP BY 1
"""


def q_quantize_roundtrip(spark, sf_dir):
    """Decimal quantizer (reference dfquantize2 semantics): float value ->
    uint + QuantizeParams -> sprintz -> decode -> unquantize, lossless.
    The decoded doubles reproduce the raw cents sums exactly."""
    from sprintz_spark.operators.encode import decode_series, encode_series

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").alias("bucket"), F.col("value")
    )
    enc = encode_series(
        ev, key_cols=["user_id"], value_cols=["value"], codecs={"value": "quantize"}
    )
    dec = decode_series(
        enc, key_cols=["user_id"], value_cols=["value"], value_types={"value": "double"}
    )
    return dec.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents_sum"),
        F.sum((F.col("value") % F.lit(1.0) == F.lit(0.0)).cast("long")).alias("n_whole"),
    )


_QUANTIZE_SQL = f"""
SELECT user_id, count(*) AS n_points,
       CAST(sum({_CENTS_SQL}) AS BIGINT) AS cents_sum,
       CAST(sum(CASE WHEN value % 1.0 = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_whole
FROM events GROUP BY user_id
"""


def q_colsum_predictor(spark, sf_dir):
    """Cross-column predictor (reference ColSumPredictor,
    python/codec.py:538-591): store one column as its residual against a
    predictor column (SURVEY §2.2 Spark mapping: plain column arithmetic),
    sprintz-encode predictor+residual, decode, restore, aggregate — the
    restored column reproduces raw SQL exactly."""
    from sprintz_spark.operators.encode import decode_series, encode_series

    ev = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("minute", "ts").alias("bucket"), _cents().alias("cents"))
        .groupBy("user_id", "bucket")
        .agg(F.min("cents").alias("cents_min"), F.max("cents").alias("cents_max"))
        .withColumn("resid", F.col("cents_max") - F.col("cents_min"))
        .drop("cents_max")
    )
    enc = encode_series(ev, key_cols=["user_id"], value_cols=["cents_min", "resid"])
    dec = decode_series(enc, key_cols=["user_id"], value_cols=["cents_min", "resid"])
    restored = dec.withColumn("cents_max", F.col("cents_min") + F.col("resid"))
    return restored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("cents_min").alias("min_sum"),
        F.sum("cents_max").alias("max_sum"),
    )


_COLSUM_SQL = f"""
SELECT user_id, count(*) AS n_buckets,
       CAST(sum(mn) AS BIGINT) AS min_sum, CAST(sum(mx) AS BIGINT) AS max_sum
FROM (
  SELECT user_id, date_trunc('minute', ts) AS bucket,
         min({_CENTS_SQL}) AS mn, max({_CENTS_SQL}) AS mx
  FROM events GROUP BY 1, 2
) GROUP BY user_id
"""


def q_colsum_weighted(spark, sf_dir):
    """Weighted ColSumPredictor (reference python/codec.py:538-591 weights
    path, plus the regression the reference leaves as TODO at :545): fit a
    scalar weight by least squares on a deterministic sample, store
    cents_max as its residual against trunc(w * cents_min) — the same
    predictions.astype(target.dtype) truncation the reference applies —
    sprintz-encode predictor+residual, decode, restore, aggregate.
    Equality with the raw-SQL oracle proves the weighted round trip."""
    from sprintz_spark.codecs.extras import train_colsum_weights
    from sprintz_spark.operators.encode import decode_series, encode_series

    ev = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("minute", "ts").alias("bucket"), _cents().alias("cents"))
        .groupBy("user_id", "bucket")
        .agg(F.min("cents").alias("cents_min"), F.max("cents").alias("cents_max"))
    )
    samp = ev.orderBy("user_id", "bucket").limit(4096).toPandas()
    w = float(
        train_colsum_weights(
            samp["cents_max"].to_numpy(), [samp["cents_min"].to_numpy()], taps=1
        )[0, 0]
    )
    pred = (F.col("cents_min") * F.lit(w)).cast("long")  # trunc-to-zero == astype
    staged = ev.withColumn("resid", F.col("cents_max") - pred).drop("cents_max")
    enc = encode_series(staged, key_cols=["user_id"], value_cols=["cents_min", "resid"])
    dec = decode_series(enc, key_cols=["user_id"], value_cols=["cents_min", "resid"])
    restored = dec.withColumn(
        "cents_max", F.col("resid") + (F.col("cents_min") * F.lit(w)).cast("long")
    )
    return restored.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum("cents_min").alias("min_sum"),
        F.sum("cents_max").alias("max_sum"),
    )


def q_codec_search_stats(spark, sf_dir):
    """Cost-based per-chunk codec selection (reference CodecSearch,
    python/codec.py:439-535) surfaced as data: which search PIPELINE won
    per chunk, and the exact blob bytes it produced.

    Golden-oracle pattern (like text_extract_verified): the input is the
    deterministic pages generator — independent of sf_dir — so the chosen
    pipeline ids, chunk counts, point counts, and blob byte totals are
    fixed and pinned in _CODEC_SEARCH_STATS_SQL. Any drift in the probe
    loop, the pipeline table order, or an encoder's output size fails the
    hash gate."""
    from sprintz_spark.codecs.search import PIPELINES
    from sprintz_spark.operators.encode import encode_series
    from sprintz_spark.operators.rollup import derive_series
    from sprintz_spark.sources.pages import generate_pages

    series = derive_series(generate_pages(spark, 2000), "1m")
    # byteshuffle-zstd is excluded from the probe: its blob sizes and
    # decode-speed entry depend on whether the real zstd backend is
    # importable, so with it in the set the same data could pick
    # different winners on different machines and break this pinned
    # golden (the active backend is recorded in the parity artifact —
    # codecs.search.zstd_backend)
    enc = encode_series(
        series,
        key_cols=["url"],
        value_cols=["byte_size_sum"],
        codecs={"byte_size_sum": "search!byteshuffle-zstd"},
    )
    # search container header: magic | version | pipeline-id | dtype | u32 n
    pid = F.conv(F.hex(F.expr("substring(blob_byte_size_sum, 3, 1)")), 16, 10).cast(
        "int"
    )
    name_map = F.create_map(
        *[x for i, (nm, _) in enumerate(PIPELINES) for x in (F.lit(i), F.lit(nm))]
    )
    return (
        enc.select(
            name_map[pid].alias("pipeline"),
            F.col("n"),
            F.length("blob_byte_size_sum").cast("long").alias("blob_bytes"),
        )
        .groupBy("pipeline")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n").alias("n_points"),
            F.sum("blob_bytes").alias("blob_bytes"),
        )
        .orderBy("pipeline")
    )


# Golden values for q_codec_search_stats: the pages generator is fully
# deterministic in (seed=42, n_rows=2000) and the search probe is a pure
# function of each chunk's bytes, so these are engine invariants. Pinned
# 2026-08-17 (round 5); a drift in any encoder's output size or in the
# append-only pipeline table order breaks the hash gate loudly.
_CODEC_SEARCH_STATS_SQL = """
SELECT * FROM (VALUES
  ('sprintz-delta',       CAST(39 AS BIGINT), CAST(1563 AS BIGINT), CAST(2199 AS BIGINT)),
  ('sprintz-doubledelta', CAST(1 AS BIGINT),  CAST(42 AS BIGINT),   CAST(55 AS BIGINT))
) AS t(pipeline, n_chunks, n_points, blob_bytes)
ORDER BY pipeline
"""


def q_rollup_grouping_sets(spark, sf_dir):
    """Multi-level subtotals via the relational ROLLUP operator (SURVEY
    §2.6: absent in the reference, built-in Spark for the target engine).
    Subtotal rows are labeled '(all)' on both sides so the hash compare
    is null-free."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.rollup("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("chars_sum"))
        .select(
            F.coalesce("lang", F.lit("(all)")).alias("lang"),
            F.coalesce("source", F.lit("(all)")).alias("source"),
            "n_docs",
            "chars_sum",
        )
    )


_GROUPING_SQL = """
SELECT COALESCE(lang, '(all)') AS lang, COALESCE(source, '(all)') AS source,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars_sum
FROM documents GROUP BY ROLLUP (lang, source)
"""


def q_squeeze_report(spark, sf_dir):
    """The reference's encode->measure->decode->verify harness
    (dfsqueeze.encode_measure_decode, python/dfsqueeze.py:133-231) over the
    events series: per-column sizes + a zero mismatch count proving the
    exact round trip. The oracle pins n_mismatch = 0, so the driver's
    hash-compare gates the verification itself (compressed sizes stay
    engine-internal and are excluded)."""
    from sprintz_spark.plans.squeeze import encode_measure_decode

    ev = _staged_events_cents(spark, sf_dir)
    report, _enc, _dec = encode_measure_decode(
        ev, key_cols=["user_id"], value_cols=["cents"]
    )
    return report.select("column", "n_points", "raw_bytes", "n_mismatch").orderBy(
        "column"
    )


_SQUEEZE_SQL = """
SELECT col AS column, count(*) AS n_points, 8*count(*) AS raw_bytes,
       0 AS n_mismatch
FROM events CROSS JOIN (VALUES ('bucket'), ('cents')) AS t(col)
GROUP BY col ORDER BY col
"""


# q_text_extract_verified runs over the deterministic pages generator (not
# an sf_dir table), so the oracle is a pinned golden: the exact per-language
# page counts of generate_pages(spark, 2000) with n_byte_identical equal to
# n_pages (the north-star byte-identity invariant). A generator or
# extractor drift breaks the hash loudly.
_TEXT_EXTRACT_SQL = """
SELECT lang, CAST(n_pages AS BIGINT) AS n_pages,
       CAST(n_byte_identical AS BIGINT) AS n_byte_identical
FROM (VALUES ('de', 245, 245), ('es', 279, 279), ('fr', 137, 137),
             ('zh', 944, 944)) AS t(lang, n_pages, n_byte_identical)
"""


def q_text_extract_verified(spark, sf_dir):
    """North-star per-row invariant: byte-identical extracted text per url.
    Generates the deterministic Common-Crawl-style pages table, runs the
    frozen extractor over the html column, and counts exact matches vs the
    stored text column per language. The pages generator is fully
    deterministic, so the oracle (_TEXT_EXTRACT_SQL) pins the exact
    per-language page counts AND n_byte_identical == n_pages — the 100%
    match rate is hash-gated, not just row-counted."""
    from sprintz_spark.operators.text_ops import extract_text_df
    from sprintz_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 2000)
    ext = extract_text_df(pages)
    return (
        ext.select(
            "lang",
            (F.col("extracted_text") == F.col("text")).cast("long").alias("ok"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum("ok").alias("n_byte_identical"),
        )
        .orderBy("lang")
    )


# --- timeseries surface: M4 / counter rate / rolling z-score --------------

# total order within a user's series: µs since 2024-01-01 then event_id.
# DOMAIN (checked against the testdata family): the composite is a true
# (ts, event_id) lexicographic order only while event_id < 10^6 and ts
# stays within ~106 days of the base (beyond that the *10^6 shift
# overflows BIGINT — DuckDB raises, Spark non-ANSI wraps). Current data:
# event_id <= 10^5, span 30 days. ts alone is unique per user in the
# synthetic tables; the event_id term is a deterministic tie-break for
# regenerated data, not a correctness requirement.
_BASE_US = 1704067200000000  # 2024-01-01T00:00:00Z in unix micros


def _event_order():
    # testdata ts is TIMESTAMP_NTZ; cast under the UTC session so the
    # micros match DuckDB's epoch_us exactly
    return (
        F.unix_micros(F.col("ts").cast("timestamp")) - F.lit(_BASE_US)
    ) * F.lit(1000000) + F.col("event_id")


_ORDER_SQL = "(epoch_us(ts) - 1704067200000000) * 1000000 + event_id"


def q_m4_downsample(spark, sf_dir):
    """M4 visualization downsampling (Jugel et al., VLDB'14): per
    (user, hour) keep min/max/first/last — the error-free line-chart
    reduction. One algebraic hash aggregation (map-side combined);
    first/last via min_by/max_by on the composite total order, matched
    by DuckDB arg_min/arg_max in the oracle."""
    from sprintz_spark.operators.downsample import m4_downsample

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", _cents().alias("cents")
    )
    return m4_downsample(
        ev,
        key_cols=["user_id"],
        bucket=F.date_trunc("hour", "ts"),
        val_col="cents",
        order=_event_order(),
    )


_M4_SQL = f"""
WITH e AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         {_CENTS_SQL} AS cents, {_ORDER_SQL} AS ord
  FROM events
)
SELECT user_id, bucket, min(cents) AS v_min, max(cents) AS v_max,
       arg_min(cents, ord) AS v_first, arg_max(cents, ord) AS v_last,
       count(*) AS n
FROM e GROUP BY user_id, bucket
"""


def q_counter_rate(spark, sf_dir):
    """PromQL-style counter increase per (user, hour): non-negative
    consecutive diffs with counter-reset handling (a drop restarts the
    counter, so the post-reset value is the increase). Exact integer
    cents on both engines."""
    from sprintz_spark.operators.downsample import counter_increase

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", _cents().alias("cents")
    )
    return counter_increase(
        ev,
        key_cols=["user_id"],
        bucket=F.date_trunc("hour", "ts"),
        val_col="cents",
        order=_event_order(),
    )


_COUNTER_RATE_SQL = f"""
WITH e AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket,
         {_CENTS_SQL} AS cents, {_ORDER_SQL} AS ord
  FROM events
), d AS (
  SELECT user_id, bucket, cents,
         lag(cents) OVER (PARTITION BY user_id ORDER BY ord) AS prev
  FROM e
)
SELECT user_id, bucket,
       CAST(sum(CASE WHEN prev IS NULL THEN 0
                     WHEN cents >= prev THEN cents - prev
                     ELSE cents END) AS BIGINT) AS increase,
       count(*) AS n
FROM d GROUP BY user_id, bucket
"""


def q_zscore_anomalies(spark, sf_dir):
    """Rolling z-score anomaly flags per user, decided in EXACT integer
    arithmetic — |x-mean| > 3*std over the trailing 20 samples is
    (n*x-s)^2 > 9*(n*ss-s^2) after multiplying through by n^2, so the
    flag (and therefore the hash gate) is bit-reproducible with no
    float rounding on either engine."""
    from sprintz_spark.operators.downsample import rolling_zscore_flags

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", _cents().alias("cents")
    )
    return rolling_zscore_flags(
        ev, key_cols=["user_id"], val_col="cents", order=_event_order()
    )


_ZSCORE_SQL = f"""
WITH e AS (
  SELECT user_id, {_CENTS_SQL} AS cents, {_ORDER_SQL} AS ord FROM events
), w AS (
  SELECT user_id, cents,
    count(cents) OVER win AS n, sum(cents) OVER win AS s,
    sum(cents*cents) OVER win AS ss
  FROM e
  WINDOW win AS (PARTITION BY user_id ORDER BY ord
                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, count(*) AS n_points,
  CAST(sum(CASE WHEN n >= 10
                 AND (n*cents - s)*(n*cents - s) > 9*(n*ss - s*s)
            THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
FROM w GROUP BY user_id
"""


def q_hll_users(spark, sf_dir):
    """HyperLogLog distinct-user sketch (operators/sketch.py) with the
    ENTIRE sketch state oracle-gated: the md5 bucketing, the
    string-binary-length rank (no float anywhere in the state), the
    exact-integer harmonic denominator, a register checksum, the final
    estimate, and the true distinct count side by side. Unlike Spark's
    approx_count_distinct (engine-internal HLL++ state), every value
    here is reproducible in DuckDB SQL."""
    from sprintz_spark.operators.sketch import hll_estimate, hll_registers

    ev = _t(spark, sf_dir, "events")
    regs = hll_registers(ev, F.col("user_id"))
    exact = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    est = hll_estimate(
        regs,
        extra_aggs=(F.sum(F.col("bucket") * F.col("r")).alias("reg_checksum"),),
    )
    return est.crossJoin(exact)


def _hll_sql() -> str:
    from sprintz_spark.operators.sketch import _ALPHA, _M, P_BITS, W_BITS

    assert (P_BITS, W_BITS) == (12, 48)
    coef = repr(_ALPHA * _M * _M * (1 << (W_BITS + 1)))
    return f"""
WITH h AS (
  SELECT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
  FROM events
), r AS (
  SELECT h >> 48 AS bucket,
         max(CASE WHEN (h & ((1::BIGINT << 48) - 1)) = 0 THEN 49
                  ELSE 48 - length(bin(h & ((1::BIGINT << 48) - 1))) + 1
             END) AS r
  FROM h GROUP BY bucket
), a AS (
  SELECT count(*) AS n_regs,
         CAST(sum(1::BIGINT << (49 - r)) AS BIGINT) AS s_present,
         CAST(sum(bucket * r) AS BIGINT) AS reg_checksum
  FROM r
), e AS (
  SELECT CAST(4096 - n_regs AS BIGINT) AS v_zero,
         CAST(s_present + (4096 - n_regs) * (1::BIGINT << 49) AS BIGINT)
           AS s_harm,
         reg_checksum
  FROM a
)
SELECT 4096 AS m, v_zero, s_harm,
       CAST(ROUND(CASE WHEN ({coef} / s_harm) <= 2.5 * 4096 AND v_zero > 0
                       THEN 4096.0 * ln(4096.0 / v_zero)
                       ELSE {coef} / s_harm END, 0) AS BIGINT) AS estimate,
       reg_checksum,
       (SELECT count(DISTINCT user_id) FROM events) AS n_exact
FROM e
"""


def q_cms_user_counts(spark, sf_dir):
    """Count-min frequency sketch over the event stream, gated end to
    end: the DEPTH x WIDTH counter state is one map-side-combined
    aggregation (1024x4 rows shuffle regardless of stream size), and
    point estimates for the 5 heaviest users ride next to their exact
    counts. The oracle rebuilds every counter and probe in SQL (same
    md5 row-salted hashing), so the sketch state — not just the
    estimates — is hash-compared; est_count >= exact_count always (CMS
    never under-counts), pinned by test_sketch."""
    from sprintz_spark.operators.sketch import cms_cells, cms_estimate

    ev = _t(spark, sf_dir, "events")
    cells = cms_cells(ev, F.col("user_id"))
    exact5 = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("user_id"))
        .limit(5)
    )
    est = cms_estimate(cells, exact5.select("user_id"), "user_id")
    return est.join(exact5, "user_id")


_CMS_SQL = """
WITH cells AS (
  SELECT r AS row,
         ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' ||
                             CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           % 1024 AS cell,
         count(*) AS cnt
  FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(r)
  GROUP BY 1, 2
), exact AS (
  SELECT user_id, count(*) AS exact_count FROM events GROUP BY user_id
  ORDER BY exact_count DESC, user_id ASC LIMIT 5
), probes AS (
  SELECT user_id, exact_count, r AS row,
         ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' ||
                             CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
           % 1024 AS cell
  FROM exact CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(r)
)
SELECT p.user_id, CAST(min(c.cnt) AS BIGINT) AS est_count, p.exact_count
FROM probes p JOIN cells c ON c.row = p.row AND c.cell = p.cell
GROUP BY p.user_id, p.exact_count
"""


def q_bloom_purchasers(spark, sf_dir):
    """Bloom-filter membership, gated end to end: the filter is built
    over distinct purchasing users (bit-set state is at most 8192 rows,
    map-side combined), every user probes it, and the aggregate reports
    probed/maybe/true counts — so the oracle's identical md5 bit math
    pins the exact false-positive behavior, not just the counts' order
    of magnitude. No false negatives by construction (test_sketch)."""
    from sprintz_spark.operators.sketch import bloom_bits, bloom_contains

    ev = _t(spark, sf_dir, "events")
    purch = (
        ev.where(F.col("event_type") == "purchase").select("user_id").distinct()
    )
    bits = bloom_bits(purch, F.col("user_id"))
    users = ev.select("user_id").distinct()
    verdicts = bloom_contains(bits, users, "user_id")
    return (
        verdicts.agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(F.col("maybe_present").cast("long")).alias("n_maybe"),
        )
        .crossJoin(purch.agg(F.count(F.lit(1)).alias("n_true")))
    )


_BLOOM_SQL = """
WITH purch AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
), bits AS (
  SELECT DISTINCT ('0x' || substr(md5('b' || CAST(r AS VARCHAR) || ':' ||
                   CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 8192 AS bit
  FROM purch CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(r)
), users AS (
  SELECT DISTINCT user_id FROM events
), probes AS (
  SELECT user_id, ('0x' || substr(md5('b' || CAST(r AS VARCHAR) || ':' ||
                   CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 8192 AS bit
  FROM users CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(r)
), verdicts AS (
  SELECT p.user_id,
         count(*) = sum(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END)
           AS maybe
  FROM probes p LEFT JOIN bits b ON p.bit = b.bit GROUP BY p.user_id
)
SELECT count(*) AS n_users,
       CAST(sum(CASE WHEN maybe THEN 1 ELSE 0 END) AS BIGINT) AS n_maybe,
       (SELECT count(*) FROM purch) AS n_true
FROM verdicts
"""


def q_hash_sample(spark, sf_dir):
    """Deterministic uniform sample WITHOUT replacement: the 25 docs with
    the smallest salted md5 hash. Unlike rand()-based sampling this is
    reproducible across runs, engines, and repartitioning (the property
    a training pipeline needs to re-derive the same eval subset years
    later), and it compiles to TakeOrderedAndProject — per-partition
    partial top-k, no global sort. The oracle recomputes every hash."""
    docs = _t(spark, sf_dir, "documents")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    return (
        docs.select("doc_id", h.alias("sample_key"))
        .orderBy("sample_key", "doc_id")
        .limit(25)
    )


_HASH_SAMPLE_SQL = """
SELECT doc_id,
       ('0x' || substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
         AS sample_key
FROM documents
ORDER BY sample_key, doc_id LIMIT 25
"""


# --- TPC-H-style relational aggregate (decimal-exact) ---------------------

def q_pricing_summary(spark, sf_dir):
    # money as integer cents (BIGINT on both engines) so the sums are
    # order-independent and dtype-identical across Spark and DuckDB
    li = _t(spark, sf_dir, "lineitem")
    c = lambda col: F.round(F.col(col) * 100, 0).cast("long")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(c("l_quantity")).alias("sum_qty_cents"),
            F.sum(c("l_extendedprice")).alias("sum_base_price_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(ROUND(l_quantity*100, 0) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
       CAST(sum(CAST(ROUND(l_extendedprice*100, 0) AS BIGINT)) AS BIGINT) AS sum_base_price_cents,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def _revenue_micro():
    # l_extendedprice cents x (1-l_discount) basis points: pure-integer
    # product, so the sum is order-independent and exact on both engines
    return F.round(F.col("l_extendedprice") * 100, 0).cast("long") * F.round(
        (F.lit(1.0) - F.col("l_discount")) * 100, 0
    ).cast("long")


def q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter broadcast into the fact join.
    customer is filtered to one segment then BROADCAST (at 100 TB the
    fact table never shuffles for a small dim); lineitem/orders join on
    the shared orderkey; top-10 with a deterministic tie-break."""
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-01-01")
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-01-01")
    ).select("l_orderkey", _revenue_micro().alias("rev"))
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum("rev").alias("revenue_micro"))
        .select("l_orderkey", "revenue_micro", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue_micro"), "l_orderkey")
        .limit(10)
    )


_Q3_SQL = """
SELECT l_orderkey,
       CAST(sum(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
                * CAST(ROUND((1-l_discount)*100,0) AS BIGINT)) AS BIGINT) AS revenue_micro,
       o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_micro DESC, l_orderkey LIMIT 10
"""


def q_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5 shape: five-way join with a broadcast dim chain
    (region->nation->, supplier) and one fact-fact shuffle join
    (orders-lineitem). The c_nationkey = s_nationkey local-supplier
    condition rides the supplier broadcast."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    nat = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nat),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "n_name")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1999-01-01"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", _revenue_micro().alias("rev")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(cust),
            (orders.o_custkey == cust.c_custkey)
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum("rev").alias("revenue_micro"))
        .orderBy(F.desc("revenue_micro"))
    )


_Q5_SQL = """
SELECT n_name,
       CAST(sum(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
                * CAST(ROUND((1-l_discount)*100,0) AS BIGINT)) AS BIGINT) AS revenue_micro
FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1999-01-01'
GROUP BY n_name ORDER BY revenue_micro DESC
"""


# --- dedup / text analysis over documents ---------------------------------

def q_dedup_wordset(spark, sf_dir):
    """Bag-of-words dedup: docs collapsed by their sorted distinct word
    set; per lang report doc count vs distinct signatures."""
    docs = _t(spark, sf_dir, "documents")
    sig = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(F.split(F.col("text"), " "))))
    )
    return (
        docs.select("lang", sig.alias("sig"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("sig").alias("n_distinct_wordsets"),
        )
    )


_DEDUP_WORDSET_SQL = """
SELECT lang, count(*) AS n_docs,
       count(DISTINCT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')))
         AS n_distinct_wordsets
FROM documents GROUP BY lang
"""


def q_token_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.trim(F.col("text")), " "))
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(ntok).alias("tokens_ws"),
        F.sum("n_chars").alias("chars_sum"),
    )


_TOKEN_STATS_SQL = """
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS tokens_ws,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum
FROM documents GROUP BY lang, source
"""


def q_exact_dup_docs(spark, sf_dir):
    """Classic exact dedup by full-text hash; counts surviving docs."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .groupBy("n_copies")
        .agg(F.count(F.lit(1)).alias("n_groups"))
    )


_EXACT_DUP_SQL = """
SELECT n_copies, count(*) AS n_groups FROM (
  SELECT md5(text) AS h, min(doc_id) AS keep_doc_id, count(*) AS n_copies
  FROM documents GROUP BY md5(text)
) GROUP BY n_copies
"""


def q_normalized_dup_docs(spark, sf_dir):
    """Exact dedup after case/whitespace normalization (the standard
    near-exact variant a training pipeline runs before fuzzy passes):
    docs collapse by md5 of lower-cased, whitespace-collapsed text."""
    docs = _t(spark, sf_dir, "documents")
    norm = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " "))
    return (
        docs.groupBy(norm.alias("h"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .groupBy("n_copies")
        .agg(F.count(F.lit(1)).alias("n_groups"))
    )


_NORM_DUP_SQL = r"""
SELECT n_copies, count(*) AS n_groups FROM (
  SELECT min(doc_id) AS keep_doc_id, count(*) AS n_copies
  FROM documents
  GROUP BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
) GROUP BY n_copies
"""


def q_fingerprint_dups(spark, sf_dir):
    """Document fingerprinting (functions/text.py::fingerprint — 63-bit
    md5 of normalized text) surfaced as a dedup grouping; the oracle
    recomputes every fingerprint VALUE in SQL, so this gates the Python
    function value-exact, not just group structure.

    Whitespace caveat (round-3 advice): the SQL replica's trim()/'\\S'
    tokenization matches Python's str.split()/strip() for ASCII
    space-separated text (true of the synthetic corpus) but not for
    tabs/newlines at string edges or unicode whitespace like NBSP —
    on such corpora the ORACLE would report false mismatches; the
    engine-side fingerprint itself is unaffected."""
    from sprintz_spark.operators.text_ops import fingerprint_udf

    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy(fingerprint_udf(F.col("text")).alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .orderBy(F.desc("n_copies"), "fingerprint")
        .limit(20)
    )


_FINGERPRINT_SQL = r"""
SELECT CAST(('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16))::UBIGINT
            & 9223372036854775807 AS BIGINT) AS fingerprint,
       count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY n_copies DESC, fingerprint LIMIT 20
"""


# --- similarity search over embeddings ------------------------------------

def q_ann_topk(spark, sf_dir):
    """Brute-force cosine top-10 neighbors of vec_id=0 (id set only, so
    cross-engine float summation order can't flip the hash)."""
    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q")
    )
    joined = emb.where(F.col("vec_id") != 0).crossJoin(F.broadcast(qv))
    to_d = lambda c: F.transform(F.col(c), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(to_d("embedding"), to_d("q"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm = lambda c: F.sqrt(
        F.aggregate(F.transform(to_d(c), lambda x: x * x), F.lit(0.0), lambda a, x: a + x)
    )
    sim = dot / (norm("embedding") * norm("q"))
    # global top-k as orderBy+limit, NOT a global window: Spark compiles
    # this to TakeOrderedAndProject — per-partition partial top-10 with a
    # single tiny final merge, no full-sort shuffle to one partition
    # (plan-asserted in tests/test_plans.py)
    return (
        joined.select("vec_id", sim.alias("sim"))
        .orderBy(F.desc("sim"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id")
    )


_ANN_SQL = """
SELECT vec_id FROM (
  SELECT e.vec_id,
         list_cosine_similarity(e.embedding, q.embedding) AS sim
  FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
  WHERE e.vec_id <> 0
  ORDER BY sim DESC, e.vec_id ASC LIMIT 10
)
"""


# --- as-of join (point-in-time) --------------------------------------------

def q_ivf_kmeans_topk(spark, sf_dir):
    """k-means IVF (FAISS-style coarse quantizer): Lloyd-trained centroids,
    nearest-cell assignment, nprobe-cell search + exact rerank. Probing
    every cell degenerates to exact search, so the brute-force SQL oracle
    gates the whole IVF machinery; ivf_topk covers the approximate path."""
    from sprintz_spark.operators.similarity import (
        kmeans_centroids,
        kmeans_ivf_index,
        kmeans_ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, k=8, sample=1024, iters=5)
    indexed = kmeans_ivf_index(emb.where(F.col("vec_id") != 0), cents)
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    top = kmeans_ivf_topk(indexed, q, cents, k=10, nprobe=len(cents))
    return top.select("vec_id")


def q_asof_join(spark, sf_dir):
    """For each purchase event, the user's most recent click cents at or
    before the purchase time (classic point-in-time join)."""
    from sprintz_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max(_cents()).alias("click_cents"))
    )
    out = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        payload_cols=["click_cents"],
    )
    return out.select("user_id", "ts", "event_id", "click_cents")


_ASOF_SQL = f"""
WITH clicks AS (
  SELECT user_id, ts, max({_CENTS_SQL}) AS click_cents
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), purchases AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.ts, p.event_id, c.click_cents
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_asof_tolerance(spark, sf_dir):
    """As-of join with a staleness bound (pandas merge_asof tolerance /
    QuestDB ASOF ... TOLERANCE): matches older than 1 hour are dropped
    to NULL. Gates the operator's tolerance branch, summarized per user
    so the NULL-vs-match split is hash-compared exactly."""
    from sprintz_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max(_cents()).alias("click_cents"))
    )
    out = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        payload_cols=["click_cents"], tolerance_seconds=3600.0,
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.count("click_cents").alias("n_matched"),
        F.sum("click_cents").alias("matched_cents_sum"),
    )


_ASOF_TOL_SQL = f"""
WITH clicks AS (
  SELECT user_id, ts, max({_CENTS_SQL}) AS click_cents
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), purchases AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
), m AS (
  SELECT p.user_id, p.event_id,
         CASE WHEN c.ts IS NOT NULL
               AND epoch_us(p.ts) - epoch_us(c.ts) <= 3600::BIGINT * 1000000
              THEN c.click_cents END AS click_cents
  FROM purchases p ASOF LEFT JOIN clicks c
    ON p.user_id = c.user_id AND p.ts >= c.ts
)
SELECT user_id, count(*) AS n_purchases,
       count(click_cents) AS n_matched,
       CAST(sum(click_cents) AS BIGINT) AS matched_cents_sum
FROM m GROUP BY user_id
"""


def q_range_join_concurrency(spark, sf_dir):
    """Range join (interval containment) done scale-safely: session
    intervals explode into day bins, events equi-join on the bin, exact
    BETWEEN filters candidates (operators/ranges.py — no
    BroadcastNestedLoop). Reports the histogram of how many concurrent
    sessions (any user) contain each distinct event timestamp."""
    from sprintz_spark.operators.ranges import range_join_binned
    from sprintz_spark.operators.sessions import sessionize

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    bounds = (
        sessionize(ev, key="user_id", ts_col="ts", gap_minutes=30)
        .groupBy("user_id", "session_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
        .select("s_start", "s_end")
    )
    pts = ev.distinct()
    # bin ~ the typical interval span (operators/ranges.py docstring):
    # sessions close after a 30-min gap, so spans are minutes-to-an-hour
    # (sf0.1: p99 span ~24 min, max ~67 min) — hour bins cut the
    # candidate join volume ~24x vs the operator's day-bin default for
    # identical output (r10 A/B: 4.8 s -> 0.9-1.3 s at sf0.1)
    pairs = range_join_binned(
        pts, bounds, "ts", "s_start", "s_end", bin_seconds=3600
    )
    return (
        pairs.groupBy("user_id", "ts")
        .agg(F.count(F.lit(1)).alias("concurrency"))
        .groupBy("concurrency")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


_RANGE_JOIN_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM flagged
), bounds AS (
  SELECT user_id, session_id, min(ts) AS s_start, max(ts) AS s_end
  FROM sess GROUP BY user_id, session_id
), ev AS (SELECT DISTINCT user_id, ts FROM events
), cnt AS (
  SELECT e.user_id, e.ts, count(*) AS concurrency
  FROM ev e JOIN bounds b ON e.ts >= b.s_start AND e.ts <= b.s_end
  GROUP BY e.user_id, e.ts
)
SELECT concurrency, count(*) AS n_events FROM cnt GROUP BY concurrency
"""


def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per event type (Spark `percentile`
    and DuckDB `quantile_cont` share the type-7 definition, so values are
    bit-equal). Exact percentile sorts within groups — correct at any
    scale but at 100 TB the approx_percentile sketch is the scan-friendly
    variant; this query gates the exact path."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile(_cents(), F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(_cents(), F.lit(0.95)), 6).alias("p95"),
        F.count(F.lit(1)).alias("n_events"),
    )


_PERCENTILE_SQL = f"""
SELECT event_type,
       ROUND(quantile_cont({_CENTS_SQL}, 0.5), 6) AS p50,
       ROUND(quantile_cont({_CENTS_SQL}, 0.95), 6) AS p95,
       count(*) AS n_events
FROM events GROUP BY event_type
"""


def q_sessionize(spark, sf_dir):
    """Sessionization (30-min inactivity gap) summarized per user — the
    classic event-analytics operator, gated by the identical window SQL."""
    from sprintz_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events").select("user_id", "ts")
    return session_stats(ev, key="user_id", ts_col="ts", gap_minutes=30)


_SESSION_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 30*60*1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) - 1 AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, count(*) AS n_ev,
         epoch_us(max(ts)) - epoch_us(min(ts)) AS dwell
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(n_ev) AS BIGINT) AS n_events,
       CAST(max(n_ev) AS BIGINT) AS max_session_events,
       CAST(sum(dwell) AS BIGINT) AS dwell_us_sum
FROM per_session GROUP BY user_id
"""


# --- rows-only (non-SQL-expressible) engine ops ---------------------------

def q_minhash_near_dup(spark, sf_dir):
    """MinHash+LSH candidate near-dup pairs over documents, fully
    oracle-gated: md5 gram hashes and numpy's (a*h+b) mod 2^64 wrap are
    both exactly reproducible in DuckDB (HUGEINT), so the oracle
    recomputes every 64-perm signature bit-for-bit, replicates band
    collision as exact signature-slice equality over all pairs, and
    applies the same est_jaccard >= 0.4 filter. Equality gates the
    signature UDF, the banded join (Spark buckets by xxhash64 of the
    slice — a false bucket collision between unequal slices would
    surface here), the cap plumbing, and the estimator. (The oracle's
    regexp '\\S+' tokenization equals Python str.split() for the ASCII
    whitespace of the synthetic corpus; unicode whitespace like NBSP
    would diverge — an oracle limitation, not an engine one.)"""
    from sprintz_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


def _minhash_sql(
    n_hashes: int = 64, bands: int = 16, seed: int = 42, min_est: float = 0.4
) -> str:
    """DuckDB replica of minhash_lsh_pairs (defaults must mirror it)."""
    from sprintz_spark.operators.dedup import _MERSENNE, _minhash_params

    a, b = _minhash_params(n_hashes, seed)
    two64 = 1 << 64
    perms = ", ".join(
        f"list_min([CAST((({int(a[i])}::HUGEINT * h + {int(b[i])}) % {two64})"
        f" % {_MERSENNE} AS BIGINT) FOR h IN hs])"
        for i in range(n_hashes)
    )
    est = " + ".join(
        f"CASE WHEN a.sig[{i + 1}] = b.sig[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(n_hashes)
    )
    rpb = n_hashes // bands
    band_or = " OR ".join(
        f"a.sig[{rpb * i + 1}:{rpb * i + rpb}] = b.sig[{rpb * i + 1}:{rpb * i + rpb}]"
        for i in range(bands)
    )
    return f"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS words FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(words) = 0 THEN ['']
              WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
              ELSE list_distinct([array_to_string(words[i:i+2], ' ')
                    FOR i IN generate_series(1, len(words)-2)]) END AS grams
  FROM w
), h AS (
  SELECT doc_id, [('0x' || substr(md5(gr), 1, 16))::UBIGINT FOR gr IN grams] AS hs
  FROM g
), s AS (
  SELECT doc_id, [{perms}] AS sig FROM h
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(({est}) / {n_hashes}.0, 4) AS est_jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE ({band_or}) AND ({est}) / {n_hashes}.0 >= {min_est}
"""


def q_simhash_buckets(spark, sf_dir):
    """SimHash near-dup pairs at hamming <= 3, fully oracle-gated.

    With 4 x 16-bit bands and max_hamming=3, pigeonhole guarantees every
    qualifying pair shares at least one identical band, so the banded
    join is a pure pruning step with recall exactly 1 — the result is
    definitionally {pairs : hamming(simhash(a), simhash(b)) <= 3}. The
    oracle recomputes the md5-gram simhash bit-for-bit in DuckDB
    (verified equal on every doc) and brute-forces all pairs with
    xor + bit_count."""
    from sprintz_spark.operators.dedup import simhash_candidates

    return simhash_candidates(_t(spark, sf_dir, "documents"), max_hamming=3)


def _simhash_sql() -> str:
    """DuckDB replica of functions.text.simhash64 + all-pairs hamming<=3.

    Per-gram hash = first 8 bytes of md5, big-endian (exactly
    ``('0x' || substr(md5(g),1,16))::UBIGINT``); bit i of the simhash is
    set iff more than half the grams have bit i set (the +1/-1 vote).
    The 64 per-bit vote sums are generated as list comprehensions; bit 63
    contributes the int64 sign term. Verified bit-equal to the Python
    simhash64 on every document at sf0.001 and sf0.01."""
    ones = ", ".join(
        f"list_sum([CAST((h >> {i}) & 1 AS BIGINT) FOR h IN hs])" for i in range(64)
    )
    bit_terms = [
        f"CASE WHEN 2*ones[{i + 1}] > n THEN {1 << i}::BIGINT ELSE 0 END"
        for i in range(63)
    ]
    bit_terms.append(
        "CASE WHEN 2*ones[64] > n THEN -9223372036854775808 ELSE 0::BIGINT END"
    )
    sh_sum = " + ".join(bit_terms)
    return f"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS words FROM documents
), g AS (
  SELECT doc_id,
         CASE WHEN len(words) = 0 THEN []
              WHEN len(words) < 3 THEN [array_to_string(words, ' ')]
              ELSE [array_to_string(words[i:i+2], ' ')
                    FOR i IN generate_series(1, len(words)-2)] END AS grams
  FROM w
), h AS (
  SELECT doc_id, [('0x' || substr(md5(gr), 1, 16))::UBIGINT FOR gr IN grams] AS hs
  FROM g
), v AS (
  SELECT doc_id, len(hs) AS n, [{ones}] AS ones FROM h
), s AS (
  SELECT doc_id, CASE WHEN n = 0 THEN 0 ELSE {sh_sum} END AS sh FROM v
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


def q_ngram_jaccard_verified(spark, sf_dir):
    """Near-dup pairs with exact word-3-gram Jaccard >= 0.7, discovered via
    MinHash-LSH pruning then exact-verified. The oracle brute-forces
    all-pairs exact Jaccard in SQL, so equality gates BOTH the LSH recall
    (no >=0.7 pair missed by banding at this corpus) and the verifier."""
    from sprintz_spark.operators.dedup import minhash_lsh_pairs, ngram_jaccard_verify

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, min_est_jaccard=0.3)
    return (
        ngram_jaccard_verify(docs, pairs)
        .where(F.col("jaccard") >= 0.7)
        .select("doc_a", "doc_b", "jaccard")
    )


_NGRAM_JACCARD_SQL = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
), g AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(words)-2, 1))]) AS grams
  FROM w
), j AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
               (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
               4) AS jaccard
  FROM g a JOIN g b ON a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= 0.7
"""


def q_dedup_clusters(spark, sf_dir):
    """Transitive near-dup CLUSTERS (round-4 addition): the oracle-green
    exact-Jaccard pair set becomes per-doc cluster ids via distributed
    min-label-propagation connected components (operators/graph.py) —
    a~b and b~c cluster a,b,c together even when (a,c) never collided.
    The oracle recomputes the closure with a recursive CTE over the same
    all-pairs exact-Jaccard graph, so equality gates the LSH pruning,
    the verifier, AND the component algorithm; singleton docs keep their
    own id via the same COALESCE rule on both sides. The clusters frame
    is staged once per run and shared with cluster_representatives
    (_staged_clusters)."""
    return _staged_clusters(spark, sf_dir)


# shared recursive-closure CTE over the all-pairs exact-Jaccard graph:
# used by the dedup_clusters oracle and the cluster_representatives
# oracle (ONE definition so the two gates can never diverge on what a
# cluster is)
_CLUSTERS_CTE = """
WITH RECURSIVE w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
), g AS (
  SELECT doc_id,
         list_distinct([array_to_string(words[i:i+2], ' ')
                        for i in generate_series(1, greatest(len(words)-2, 1))]) AS grams
  FROM w
), p AS (
  SELECT a.doc_id AS pa, b.doc_id AS pb
  FROM g a JOIN g b ON a.doc_id < b.doc_id
  WHERE ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
              (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))),
              4) >= 0.7
), sym AS (
  SELECT pa AS a, pb AS b FROM p UNION ALL SELECT pb, pa FROM p
), reach(id, r) AS (
  SELECT a, b FROM sym
  UNION
  SELECT reach.id, sym.b FROM reach JOIN sym ON reach.r = sym.a
), cl AS (
  SELECT d.doc_id,
         CAST(LEAST(d.doc_id, COALESCE(MIN(r.r), d.doc_id)) AS BIGINT)
           AS cluster_id
  FROM documents d LEFT JOIN reach r ON r.id = d.doc_id
  GROUP BY d.doc_id
)
"""

_DEDUP_CLUSTERS_SQL = _CLUSTERS_CTE + """
SELECT doc_id, cluster_id FROM cl
"""


def q_large_orders(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): orders whose summed
    line quantity exceeds 300, joined back to customer, top-100 by
    (total cents desc, orderkey). The load-bearing plan property: the
    HAVING aggregate runs on lineitem FIRST (orderkey-keyed hash agg,
    map-side combined) and only the tiny qualifying-order set joins
    customer/orders — the classic aggregate-then-join rewrite that at
    100 TB turns a row-scale 3-way join into one keyed agg plus two
    dim-scale joins. Quantities are integral doubles (cast long exact);
    money in integer cents."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.col("l_quantity").cast("long").alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("sum_qty"))
        .where(F.col("sum_qty") > 300)
    )
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("total_cents"),
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "total_cents", "sum_qty",
        )
        .orderBy(F.desc("total_cents"), F.asc("o_orderkey"))
        .limit(100)
    )


_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS total_cents,
       sum_qty
FROM orders
JOIN (SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
      FROM lineitem GROUP BY 1 HAVING sum_qty > 300) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_cents DESC, o_orderkey
LIMIT 100
"""


def q_priority_fulfilment(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking, adapted to this
    schema's columns): count orders per priority that have AT LEAST ONE
    line shipped after the order date — an EXISTS correlated to the
    outer row, compiled as a LEFT SEMI join with a non-equi residual
    (orderkey equality + shipdate > orderdate). The semi join keeps the
    probe side at most one output row per order regardless of line
    count, which is the property that makes EXISTS cheap at row scale;
    Catalyst plans it as a shuffled hash/sort-merge semi join on the
    equi key with the date predicate as a join residual."""
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    hit = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "leftsemi",
    )
    return (
        hit.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_Q4_SQL = """
SELECT o_orderpriority, count(*) AS n_orders
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
"""


def q_returned_items(spark, sf_dir):
    """TPC-H Q10 shape (returned-item customer report): revenue lost to
    'R'-flagged lines per customer, joined to nation, top-20. The
    returnflag filter pushes into the lineitem scan (PushedFilters),
    customer/nation are broadcast dims, and the revenue aggregate is
    orderkey→custkey-keyed with map-side combine; top-20 via
    TakeOrderedAndProject. Money in integer micro-units as in the other
    TPC-H gates."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", _revenue_micro().alias("rev"))
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("rev").alias("revenue_micro"))
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue_micro")
        .orderBy(F.desc("revenue_micro"), F.asc("c_custkey"))
        .limit(20)
    )


_Q10_SQL = """
SELECT c_custkey, c_name, n_name,
       CAST(sum(CAST(ROUND(l_extendedprice*100,0) AS BIGINT)
                * CAST(ROUND((1-l_discount)*100,0) AS BIGINT)) AS BIGINT)
         AS revenue_micro
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_micro DESC, c_custkey
LIMIT 20
"""


def q_shipmode_priority(spark, sf_dir):
    """TPC-H Q12 shape (conditional classification agg): per return
    flag, how many lines belong to HIGH-priority orders vs not — the
    two-way CASE-sum over one fact/dim join that every BI layer emits.
    One equi-join (orders projected to 2 columns) and one tiny-key hash
    agg; counts are exact integers."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_high"),
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.col("is_high").cast("long")).alias("high_line_count"),
            F.sum((~F.col("is_high")).cast("long")).alias("low_line_count"),
        )
    )


_Q12_SQL = """
SELECT l_returnflag,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY l_returnflag
"""


def q_cluster_representatives(spark, sf_dir):
    """Near-dup cluster REPRESENTATIVE selection — the step after
    clustering in a real curation pipeline: per transitive near-dup
    cluster, keep the highest-quality member (ties to the lowest
    doc_id). Composition of three oracle-green stages: the LSH→verify
    pair set, connected-components clusters, and the bit-equal quality
    score — the oracle recomputes ALL of it (recursive closure + the
    quality formula) and arg-maxes with the same struct ordering, so
    the gate covers the composition end to end.

    Arg-max determinism: max(struct(q_micros, -doc_id)) — integer
    quality micro-units, larger -doc_id == smaller doc_id on ties; the
    named-struct max is lexicographic in BOTH engines (the window-free
    arg-extreme pattern from ohlc_1h). Plan: the cluster subtree's keyed
    shuffles + one Arrow quality pass + a cluster-keyed hash agg."""
    from sprintz_spark.operators.text_ops import with_text_features

    docs = _t(spark, sf_dir, "documents")
    clusters = _staged_clusters(spark, sf_dir)
    q = with_text_features(docs).select(
        "doc_id",
        F.round(F.col("quality") * 1e6, 0).cast("long").alias("q_micros"),
    )
    best = F.max(
        F.struct(
            F.col("q_micros").alias("q"), (-F.col("doc_id")).alias("nid")
        )
    ).alias("b")
    return (
        clusters.join(q, "doc_id")
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n_members"), best)
        .select(
            "cluster_id",
            (-F.col("b.nid")).alias("rep_doc_id"),
            "n_members",
            F.col("b.q").alias("rep_q_micros"),
        )
    )


def _cluster_reps_sql() -> str:
    per_doc_quality = _quality_agg_sql(
        "SELECT doc_id AS dim, text FROM documents", "doc_id"
    )
    return (
        _CLUSTERS_CTE
        + f""",
dq AS ({per_doc_quality}),
j AS (
  SELECT cl.cluster_id, cl.doc_id, dq.quality_micros AS q
  FROM cl JOIN dq ON dq.doc_id = cl.doc_id
)
SELECT cluster_id,
       CAST(-((max({{'q': q, 'nid': -doc_id}})).nid) AS BIGINT) AS rep_doc_id,
       count(*) AS n_members,
       CAST((max({{'q': q, 'nid': -doc_id}})).q AS BIGINT) AS rep_q_micros
FROM j GROUP BY cluster_id
"""
    )


def q_top_ngrams(spark, sf_dir):
    """Heavy hitters: exact top-20 word-3-grams by DOCUMENT frequency
    (each doc counts a gram once). Deterministic tie-break (count desc,
    gram asc) so the cut at rank 20 is identical across engines; compiles
    to partial-agg -> final-agg -> TakeOrderedAndProject."""
    docs = _t(spark, sf_dir, "documents")
    words = F.split(F.lower("text"), " ", -1)
    grams = F.expr(
        "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', slice(w, i, 3)))"
    )
    return (
        docs.select("doc_id", words.alias("w"))
        .where(F.size("w") >= 3)
        .select("doc_id", F.explode(F.array_distinct(grams)).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("gram"))
        .limit(20)
    )


_TOP_NGRAMS_SQL = """
WITH w AS (
  SELECT doc_id, string_split(lower(text), ' ') AS words FROM documents
), g AS (
  SELECT doc_id,
         unnest(list_distinct([array_to_string(words[i:i+2], ' ')
                               for i in generate_series(1, len(words)-2)])) AS gram
  FROM w WHERE len(words) >= 3
)
SELECT gram, count(*) AS n_docs FROM g
GROUP BY gram ORDER BY n_docs DESC, gram ASC LIMIT 20
"""


def q_hash_split(spark, sf_dir):
    """Deterministic train/valid/test split by md5 of the doc id (the
    standard leakage-free way to split a corpus that is stable under
    re-partitioning and re-runs): bucket = first-8-hex-digits mod 100,
    <80 train / <90 valid / else test. The oracle recomputes every
    bucket in SQL, so membership — not just the counts — is gated via
    the per-split doc_id checksums."""
    docs = _t(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
    bucket = (h.cast("long") % 100).alias("bucket")
    split = (
        F.when(F.col("bucket") < 80, "train")
        .when(F.col("bucket") < 90, "valid")
        .otherwise("test")
        .alias("split")
    )
    return (
        docs.select("doc_id", bucket)
        .select("doc_id", split)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("doc_id").alias("id_checksum"),
        )
    )


_HASH_SPLIT_SQL = """
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100
           AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split,
       count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM b GROUP BY 1
"""


def q_embedding_near_dup(spark, sf_dir):
    """SRP-LSH embedding near-dup at cosine >= 0.95, fully oracle-gated.

    The synthetic corpus is near-orthogonal (max pairwise cosine 0.51,
    no natural near-dups), so the query plants one deterministic
    half-scaled copy of every vector (vec_id + 2^40, x * 0.5 — exact in
    float, and SQL-reproducible). A scaled copy projects to the same
    sign pattern on every hyperplane (halving is exact, so no sign can
    flip), hence lands in the same SRP bucket in every table — LSH
    recall is exactly 1 BY CONSTRUCTION, not by corpus luck. The oracle
    brute-forces all-pairs exact cosine over the same augmented table;
    equality gates the banding, capping, id-only join plumbing, and the
    exact-cosine verifier. The scaled (not byte-identical) copies prove
    the pipeline matches on cosine, not byte equality."""
    from sprintz_spark.operators.dedup import embedding_near_dup

    emb = _t(spark, sf_dir, "embeddings")
    planted = emb.select(
        (F.col("vec_id") + F.lit(1099511627776)).alias("vec_id"),  # +2^40: disjoint from real ids at any SF
        F.transform("embedding", lambda x: (x * F.lit(0.5)).cast("float")).alias(
            "embedding"
        ),
    )
    aug = emb.select("vec_id", "embedding").unionAll(planted)
    # 12 planes -> 4096 cells/table keeps bucket occupancy ~1 at this
    # corpus size, so the verify stage sees ~O(n) candidates; planted
    # copies still collide in every table whatever the plane count
    return embedding_near_dup(aug, threshold=0.95, n_planes=12)


_EMB_NEAR_DUP_SQL = """
WITH aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1099511627776, [CAST(x * 0.5 AS FLOAT) FOR x IN embedding]
  FROM embeddings
), d AS (  -- cosine in float64 end-to-end, like the Spark operator
  SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS emb FROM aug
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(a.emb, b.emb), 4) AS cosine
FROM d a JOIN d b ON a.vec_id < b.vec_id
WHERE ROUND(list_cosine_similarity(a.emb, b.emb), 4) >= 0.95
"""


def q_ivf_topk(spark, sf_dir):
    """IVF-bucketed approximate top-k, recall-gated: the SRP probe path
    (5 planes, Hamming-2 probing = 16 of 32 cells, ~half the corpus
    scanned) is joined against the oracle-green brute-force top-10
    (knn_bruteforce — same rounding and tie-break), and the oracle pins
    n_exact = 10 and recall@10 >= 0.4 per query. Everything is
    deterministic (fixed SRP seed, fixed tie-break), so the gate is
    stable run-to-run; the floor (measured recall 0.5-1.0 at sf0.001 and
    sf0.01) holds a >=1-neighbor margin without pinning corpus-specific
    values that would break on regenerated testdata."""
    from sprintz_spark.operators.similarity import (
        ivf_index,
        ivf_topk,
        knn_bruteforce,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # the query side is 3 rows at ANY corpus scale — cache it so the dim
    # probe below doubles as the cache fill and the two downstream uses
    # (SRP probe, brute-force broadcast) don't re-scan the corpus for it
    queries_df = (
        emb.where(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    queries_df = _cache(queries_df)
    dim = len(queries_df.select("q_vec").first()[0])
    approx = ivf_topk(
        ivf_index(emb, n_planes=5, dim=dim),
        queries_df,
        k=10,
        n_planes=5,
        hamming_probe=2,
        dim=dim,
    ).select("q_id", "vec_id", F.lit(1).alias("hit"))
    exact = knn_bruteforce(emb, queries_df, k=10).select("q_id", "vec_id")
    # single pass: LEFT-join the 10-exact rows to the approx hits, then one
    # aggregation — the brute-force subtree is evaluated exactly once
    return (
        exact.join(F.broadcast(approx), ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) >= 4).alias("recall_ge_40"),
        )
    )


# the IVF probe itself is not SQL-expressible; the gate pins what IS
# invariant: exactly 10 exact neighbors per query and the deterministic
# recall floor of the fixed-seed SRP probe
def q_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jegou'11 / FAISS IndexPQ), recall-gated
    like ivf_topk: codebooks train on the bounded deterministic sample
    (m=16 subspaces x 256 centroids — a 64-dim float32 vector becomes 16
    bytes), the corpus is PQ-encoded by an Arrow-batched UDF, and search
    is asymmetric-distance (per-query m x 256 lookup table, no decode).
    The ADC top-10 joins against the oracle-green cosine brute force and
    the oracle pins n_exact = 10 and recall@10 >= 0.4 per query
    (measured 0.5-0.9 across sf0.001/0.01/0.1 — >=1-neighbor margin, and
    deterministic: fixed seed, fixed sample order, fixed tie-breaks).
    At 100 TB the PQ scan reads 16 B/vector instead of 256 B and the
    codebooks/tables are O(1) broadcast state."""
    from sprintz_spark.operators.similarity import (
        knn_bruteforce,
        pq_encode,
        pq_topk,
        pq_train,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = (
        emb.where(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    queries_df = _cache(queries_df)
    books = pq_train(emb, m=16, ksub=256)
    approx = pq_topk(
        pq_encode(emb, books), queries_df, books, k=10
    ).select("q_id", "vec_id", F.lit(1).alias("hit"))
    exact = knn_bruteforce(emb, queries_df, k=10).select("q_id", "vec_id")
    return (
        exact.join(F.broadcast(approx), ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) >= 4).alias("recall_ge_40"),
        )
    )


_IVF_RECALL_SQL = """
SELECT CAST(q_id AS BIGINT) AS q_id, CAST(10 AS BIGINT) AS n_exact,
       true AS recall_ge_40
FROM (VALUES (0), (1), (2)) AS t(q_id)
"""


def q_ivfpq_topk(spark, sf_dir):
    """IVF-PQ composition (FAISS IndexIVFPQ — the actual 100-TB ANN
    design; round-7 verdict item 3): one bounded sample trains BOTH the
    Lloyd coarse quantizer (8 cells) and the PQ codebooks on that
    sample's residuals to its coarse centroid (m=16 x 256 — residual
    energy is what's left after the coarse quantizer, so the same 16-byte
    code quantizes much finer than raw-vector PQ); the corpus is indexed
    to (cell, residual pq_code) in one Arrow UDF; search probes each
    query's 5 nearest cells with per-(query, cell) residual ADC tables —
    the scan reads ~5/8 of the corpus at 16 B/vector, no floats, no
    decode. Recall-gated like ivf_topk/pq_topk: ADC top-10 joined against
    the oracle-green cosine brute force, the oracle pins n_exact = 10 and
    recall@10 >= 0.4 per query (measured 0.5-0.9 across
    sf0.001/0.01/0.1 — >=1-neighbor margin, fully deterministic: fixed
    seed, fixed sample order, round-then-rank tie-breaks)."""
    from sprintz_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk,
        ivfpq_train,
        knn_bruteforce,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = (
        emb.where(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    queries_df = _cache(queries_df)
    cents, books = ivfpq_train(emb, k_coarse=8, m=16, ksub=256)
    approx = ivfpq_topk(
        ivfpq_index(emb, cents, books), queries_df, cents, books, k=10, nprobe=5
    ).select("q_id", "vec_id", F.lit(1).alias("hit"))
    exact = knn_bruteforce(emb, queries_df, k=10).select("q_id", "vec_id")
    return (
        exact.join(F.broadcast(approx), ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) >= 4).alias("recall_ge_40"),
        )
    )


_IVF_RECALL50_SQL = """
SELECT CAST(q_id AS BIGINT) AS q_id, CAST(10 AS BIGINT) AS n_exact,
       true AS recall_ge_50
FROM (VALUES (0), (1), (2)) AS t(q_id)
"""


def q_ivfpq_refined_topk(spark, sf_dir):
    """Two-stage retrieval over the IVF-PQ index (FAISS IndexRefine —
    what a production embedding pipeline actually serves): stage 1 ADC
    shortlist of 50 per query from the compressed scan, stage 2 exact
    cosine rerank of ONLY those ids after an id semi-join back to the
    float table. The rerank lifts the gate a full tier above the
    ADC-only path: recall@10 >= 0.5 pinned (measured 0.6-1.0 across
    sf0.001/0.01/0.1 at nprobe=5, vs the ADC gate's 0.4 floor) while
    exact math touches 50 x |queries| rows instead of the corpus."""
    from sprintz_spark.operators.similarity import (
        ivfpq_index,
        ivfpq_topk_refined,
        ivfpq_train,
        knn_bruteforce,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = (
        emb.where(F.col("vec_id") < 3)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    queries_df = _cache(queries_df)
    cents, books = ivfpq_train(emb, k_coarse=8, m=16, ksub=256)
    approx = ivfpq_topk_refined(
        ivfpq_index(emb, cents, books),
        emb,
        queries_df,
        cents,
        books,
        k=10,
        nprobe=5,
        shortlist=50,
    ).select("q_id", "vec_id", F.lit(1).alias("hit"))
    exact = knn_bruteforce(emb, queries_df, k=10).select("q_id", "vec_id")
    return (
        exact.join(F.broadcast(approx), ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            (F.sum(F.coalesce(F.col("hit"), F.lit(0))) >= 5).alias("recall_ge_50"),
        )
    )


def q_image_features(spark, sf_dir):
    """Multimodal plumbing: binary payloads -> per-channel stats + phash
    via mapInPandas. The fake decoder is deterministic sha256 expansion,
    so the WHOLE feature pipeline — decode, channel means, gray/median
    phash bits, little-endian int64 packing — is recomputed value-exact
    in the DuckDB oracle (_IMAGE_FEATURES_SQL); `doc_id < 200` instead of
    limit(200) keeps the row set order-independent across engines."""
    from sprintz_spark.operators.multimodal import image_features

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    payloads = docs.select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    return image_features(payloads).select(
        "doc_id", "mean_r", "mean_g", "mean_b", F.round("std_all", 4).alias("std_all"), "phash"
    )


# DuckDB replica of multimodal._fake_decode + image_features (verified
# value-exact per doc): sha256(utf-8 text) digest tiled to 192 bytes is the
# 8x8x3 image. Because the 32-byte digest period is coprime to the channel
# stride 3, each channel's 64 samples cover every digest byte exactly
# twice, so mean_r = mean_g = mean_b = mean of the digest bytes — the SQL
# states that closed form. Median of 64 grays = mean of the two middle
# order statistics (numpy even-n rule); phash = little-endian bit pack via
# HUGEINT shifts with two's-complement fold to BIGINT. std is rounded to 4
# decimals on both sides (pairwise-vs-sequential float summation differs
# below that).
_IMAGE_FEATURES_SQL = """
WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
d AS (SELECT doc_id, list_transform(range(0,32),
        i -> ('0x'||substr(sha256(text), 2*i+1, 2))::BIGINT) AS db FROM src),
g AS (
  SELECT doc_id, db,
    list_transform(range(0,64), p -> (db[((3*p)%32)+1] + db[((3*p+1)%32)+1]
                                      + db[((3*p+2)%32)+1]) / 3.0) AS gray,
    list_transform(range(0,192), j -> db[(j%32)+1]) AS pix
  FROM d
), m AS (
  SELECT doc_id, db, gray, pix,
    (list_sort(gray)[32] + list_sort(gray)[33]) / 2.0 AS med,
    list_sum(pix) / 192.0 AS mean_all
  FROM g
)
SELECT doc_id,
  list_sum(db)/32.0 AS mean_r, list_sum(db)/32.0 AS mean_g,
  list_sum(db)/32.0 AS mean_b,
  ROUND(sqrt(list_sum([(x - mean_all)*(x - mean_all) for x in pix]) / 192.0),
        4) AS std_all,
  CAST(CASE WHEN hp >= (1::HUGEINT << 63) THEN hp - (1::HUGEINT << 64)
            ELSE hp END AS BIGINT) AS phash
FROM (
  SELECT *, list_sum(list_transform(range(0,64),
      p -> CASE WHEN gray[p+1] > med THEN (1::HUGEINT << p)
                ELSE 0::HUGEINT END)) AS hp
  FROM m
)
"""


def q_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing under the driver's oracle gate
    (round-7 verdict item 5 — the last multimodal op without a
    CORRECTNESS row): binary payloads -> one row per sampled frame via
    operators.multimodal.frame_sample (mapInPandas, vectorized
    np.repeat row expansion). The fake decoder is deterministic —
    n_frames = (len(payload) % 97) + 1, frames 0, 10, 20, ...,
    frame_sig = first 8 bytes of sha256(payload || frame_idx_le32)
    little-endian signed — so the DuckDB oracle recomputes every frame
    row value-exactly (sampled frame indices stay ASCII-range, which
    lets the oracle build the 4-byte LE suffix with chr())."""
    from sprintz_spark.operators.multimodal import frame_sample

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    payloads = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return frame_sample(payloads, payload_col="payload", every_n=10).select(
        "doc_id", "frame_idx", "frame_sig"
    )


# DuckDB replica of multimodal.frame_sample's fake decoder (verified
# value-exact per frame): utf-8 payload length mod 97 + 1 frames, every
# 10th sampled; the sig suffix frame_idx.to_bytes(4,'little') is
# chr(frame_idx)+3 NULs because sampled indices are <= 90 (single ASCII
# byte); the 8-byte LE digest prefix folds to signed BIGINT via HUGEINT.
_FRAME_SAMPLE_SQL = """
WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
f AS (
  SELECT doc_id, text,
         (octet_length(encode(text)) % 97) + 1 AS n_frames
  FROM src
), e AS (
  SELECT doc_id, text, CAST(10 * k AS INTEGER) AS frame_idx
  FROM f, unnest(range(0, (n_frames + 9) // 10)) AS t(k)
), h AS (
  SELECT doc_id, frame_idx,
         sha256(text || chr(frame_idx) || chr(0) || chr(0) || chr(0)) AS hx
  FROM e
)
SELECT doc_id, frame_idx,
  CAST(CASE WHEN v >= (1::HUGEINT << 63) THEN v - (1::HUGEINT << 64) ELSE v END
       AS BIGINT) AS frame_sig
FROM (
  SELECT doc_id, frame_idx,
         list_sum(list_transform(range(0,8),
             i -> ('0x'||substr(hx, 2*i+1, 2))::BIGINT::HUGEINT << (8*i))) AS v
  FROM h
)
"""


def q_quality_stats(spark, sf_dir):
    """Quality scoring (C4/Gopher-style length/punct/stopword heuristics)
    gated by a SQL oracle: the DuckDB side reimplements the exact formula
    (verified bit-equal per doc), and per-doc scores are summed as integer
    micro-units so the aggregate is order-independent."""
    from sprintz_spark.operators.text_ops import with_text_features

    docs = _t(spark, sf_dir, "documents")
    micros = F.round(F.col("quality") * 1e6, 0).cast("long")
    return (
        with_text_features(docs)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(micros).alias("quality_micros"),
        )
    )


def q_time_weighted_avg(spark, sf_dir):
    """Time-weighted average per (user, hour) — the TimescaleDB
    `time_weight('LOCF', ...)` continuous-aggregate shape: each
    observation's value is weighted by the microseconds until the next
    observation in the bucket (the last one extends to bucket end), so
    irregular sampling doesn't bias the mean toward chatty periods.

    Integer-exact: weights are exact microsecond durations and values
    integer cents, so the output is sufficient statistics
    (weighted_cents_us, covered_us) as BIGINTs — the float average is
    weighted_cents_us / covered_us, left to the consumer. Documented
    variant: no cross-bucket LOCF carry (a bucket's integral starts at
    its first observation), keeping the operator a pure per-bucket
    window + agg with no inter-bucket dependency — at 100 TB each
    (user, hour) computes independently after one shuffle.

    Overflow: cents x 3600s-in-us < 2^52 per term; per-bucket sums stay
    far inside int64."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.date_trunc("hour", "ts").alias("bucket"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        _cents().alias("cents"),
    )
    end_us = F.unix_micros(F.col("bucket").cast("timestamp")) + F.lit(
        3600 * 1_000_000
    )
    w = Window.partitionBy("user_id", "bucket").orderBy("us", "event_id")
    stepped = ev.withColumn("nxt", F.lead("us").over(w)).withColumn(
        "weight_us", F.coalesce(F.col("nxt"), end_us) - F.col("us")
    )
    return stepped.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.sum(F.col("cents") * F.col("weight_us")).alias("weighted_cents_us"),
        (F.max(end_us) - F.min("us")).alias("covered_us"),
    )


_TIME_WEIGHTED_SQL = f"""
WITH e AS (
  SELECT user_id, event_id, date_trunc('hour', ts) AS bucket,
         epoch_us(ts) AS us, {_CENTS_SQL} AS cents
  FROM events
), w AS (
  SELECT *, lead(us) OVER (PARTITION BY user_id, bucket ORDER BY us, event_id) AS nxt,
         epoch_us(bucket) + 3600::BIGINT * 1000000 AS end_us
  FROM e
)
SELECT user_id, bucket, count(*) AS n_obs,
       CAST(sum(cents * (coalesce(nxt, end_us) - us)) AS BIGINT) AS weighted_cents_us,
       CAST(max(end_us) - min(us) AS BIGINT) AS covered_us
FROM w GROUP BY 1, 2
"""


def _doc_words():
    """Whitespace tokenization shared by the corpus-statistics family
    (gopher_repetition, vocab_stats, curation_funnel) — ONE definition so
    the three queries and their DuckDB oracles (regexp_extract_all
    '\\S+') can never silently diverge on what a "word" is."""
    return F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))


def _gram_arr(k: int):
    """Word k-gram array over a `ws` words column, short-doc safe
    (sequence(1, n) counts DOWN when n < 1 — the guard is load-bearing)."""
    if k == 1:
        return F.col("ws")
    expr = F.expr(
        f"transform(sequence(1, size(ws) - {k - 1}),"
        f" i -> array_join(slice(ws, i, {k}), ' '))"
    )
    return F.when(F.size("ws") >= k, expr).otherwise(
        F.array().cast("array<string>")
    )


def q_gopher_repetition(spark, sf_dir):
    """Gopher/MassiveText-style repetition filters (Rae et al. 2021,
    'Scaling Language Models' — the standard LLM-corpus repetition
    rules), integer-exact so the whole rule set is oracle-gated:

      * word_rep  — most frequent word covers >20% of words,
      * g2_rep    — the 2-gram with the largest character mass
                    (count x chars) covers >20% of word characters,
      * dup5      — character mass of 5-grams occurring >=2 times
                    exceeds 30% of word characters (char-weighted
                    variant of Gopher's duplicate-n-gram fraction; the
                    paper's position-coverage dedup needs interval
                    merging and is deliberately simplified — documented,
                    not hidden).

    All statistics are integer max/sum over (doc, gram) counts — no
    arg-max tie-breaks, no floats — so DuckDB reproduces them exactly.
    Plan shape at 100 TB: explode grams -> hash-agg on (doc_id, gram)
    (map-side combine collapses repeats before the shuffle) -> per-doc
    agg -> per-source agg. Never all-pairs, never a window."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("doc_id", "source", _doc_words().alias("ws")).select(
        "doc_id",
        "source",
        F.size("ws").cast("long").alias("n_words"),
        F.aggregate(
            "ws", F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        ).alias("chars_total"),
        "ws",
    )

    # NOTE (r10): a one-pass variant exploding ONE concat of
    # struct-tagged gram arrays was A/B'd against this 3-branch union
    # (interleaved trials, sf0.1): union 1.8-2.1 s warm vs concat
    # 2.7-2.8 s — the per-element struct wrapping costs more than the
    # two extra codegen'd scans of the (columnar, pruned) text column.
    # The union stays.
    lf = None
    for kind, k in (("w", 1), ("g2", 2), ("g5", 5)):
        part = base.select(
            "doc_id", F.explode(_gram_arr(k)).alias("gram")
        ).withColumn("kind", F.lit(kind))
        lf = part if lf is None else lf.unionByName(part)
    cnts = lf.groupBy("doc_id", "kind", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    per_kind = cnts.groupBy("doc_id", "kind").agg(
        F.max("cnt").alias("max_cnt"),
        F.max(F.col("cnt") * F.length("gram")).alias("max_mass"),
        F.sum(
            F.when(F.col("cnt") >= 2, F.col("cnt") * F.length("gram")).otherwise(0)
        ).alias("dup_mass"),
    )
    per_doc = (
        base.select("doc_id", "source", "n_words", "chars_total")
        .join(
            per_kind.groupBy("doc_id").agg(
                F.max(F.when(F.col("kind") == "w", F.col("max_cnt"))).alias("w_max"),
                F.max(F.when(F.col("kind") == "g2", F.col("max_mass"))).alias("g2_mass"),
                F.max(F.when(F.col("kind") == "g5", F.col("dup_mass"))).alias("g5_dup"),
            ),
            "doc_id",
            "left",
        )
        .na.fill({"w_max": 0, "g2_mass": 0, "g5_dup": 0})
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("words_total"),
        F.sum("chars_total").alias("chars_total"),
        F.sum((F.col("w_max") * 5 > F.col("n_words")).cast("long")).alias("n_word_rep"),
        F.sum((F.col("g2_mass") * 5 > F.col("chars_total")).cast("long")).alias("n_g2_rep"),
        F.sum((F.col("g5_dup") * 10 > F.col("chars_total") * 3).cast("long")).alias("n_dup5"),
        F.sum("g2_mass").alias("g2_mass_sum"),
        F.sum("g5_dup").alias("dup5_mass_sum"),
    )


_GOPHER_REP_SQL = r"""
WITH base AS (
  SELECT doc_id, source,
         regexp_extract_all(text, '\S+') AS ws,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
         CAST(coalesce(list_sum([len(w) for w in regexp_extract_all(text, '\S+')]), 0) AS BIGINT) AS chars_total
  FROM documents
), grams AS (
  SELECT doc_id, 'w' AS kind, unnest(ws) AS gram FROM base
  UNION ALL
  SELECT doc_id, 'g2', unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                                             i -> ws[i] || ' ' || ws[i + 1])) FROM base
  UNION ALL
  SELECT doc_id, 'g5', unnest(list_transform(range(1, greatest(len(ws) - 4, 0) + 1),
                                             i -> array_to_string(ws[i:i+4], ' '))) FROM base
), cnts AS (
  SELECT doc_id, kind, gram, count(*) AS cnt FROM grams GROUP BY 1, 2, 3
), per_kind AS (
  SELECT doc_id, kind, max(cnt) AS max_cnt,
         max(cnt * len(gram)) AS max_mass,
         coalesce(sum(CASE WHEN cnt >= 2 THEN cnt * len(gram) END), 0) AS dup_mass
  FROM cnts GROUP BY 1, 2
), per_doc AS (
  SELECT b.doc_id, b.source, b.n_words, b.chars_total,
         CAST(coalesce(max(CASE WHEN kind = 'w' THEN max_cnt END), 0) AS BIGINT) AS w_max,
         CAST(coalesce(max(CASE WHEN kind = 'g2' THEN max_mass END), 0) AS BIGINT) AS g2_mass,
         CAST(coalesce(max(CASE WHEN kind = 'g5' THEN dup_mass END), 0) AS BIGINT) AS g5_dup
  FROM base b LEFT JOIN per_kind p ON b.doc_id = p.doc_id
  GROUP BY 1, 2, 3, 4
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_words) AS BIGINT) AS words_total,
       CAST(sum(chars_total) AS BIGINT) AS chars_total,
       CAST(sum(CASE WHEN w_max * 5 > n_words THEN 1 ELSE 0 END) AS BIGINT) AS n_word_rep,
       CAST(sum(CASE WHEN g2_mass * 5 > chars_total THEN 1 ELSE 0 END) AS BIGINT) AS n_g2_rep,
       CAST(sum(CASE WHEN g5_dup * 10 > chars_total * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup5,
       CAST(sum(g2_mass) AS BIGINT) AS g2_mass_sum,
       CAST(sum(g5_dup) AS BIGINT) AS dup5_mass_sum
FROM per_doc GROUP BY source
"""


def q_ohlc_1h(spark, sf_dir):
    """OHLC / candlestick rollup per (user, hour) — the TimescaleDB
    `candlestick_agg` / financial-bar shape. Open and close are the
    first/last observation by the deterministic total order
    (us, event_id); high/low are plain extremes. Integer-exact (cents),
    so DuckDB reproduces every cell bit-for-bit.

    Plan shape: pure hash aggregation — `min/max(struct(us, event_id,
    cents))` gives arg-min/arg-max with lexicographic tie-breaks WITHOUT
    a window, so at 100 TB this is one map-side-combining shuffle on
    (user, hour); no per-partition sort, no WindowExec. The struct
    ordering is identical in Spark and DuckDB (field-order
    lexicographic), which is what makes the oracle exact."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("hour", "ts").alias("bucket"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
        _cents().alias("cents"),
    )
    key = F.struct("us", "event_id", "cents")
    return ev.groupBy("user_id", "bucket").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.min(key).getField("cents").alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max(key).getField("cents").alias("close_cents"),
    )


_OHLC_SQL = f"""
WITH e AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, epoch_us(ts) AS us,
         event_id, {_CENTS_SQL} AS cents
  FROM events
)
SELECT user_id, bucket, count(*) AS n_obs,
       (min({{'us': us, 'event_id': event_id, 'cents': cents}})).cents AS open_cents,
       max(cents) AS high_cents,
       min(cents) AS low_cents,
       (max({{'us': us, 'event_id': event_id, 'cents': cents}})).cents AS close_cents
FROM e GROUP BY 1, 2
"""


def q_state_agg(spark, sf_dir):
    """Time-in-state aggregate — the TimescaleDB `state_agg` shape over
    the event stream: each event puts its user into state `event_type`
    until that user's next event; per state we report entries, total
    dwell microseconds, distinct users, and the longest single dwell.
    A user's final event has no successor and contributes an entry but
    no dwell (sum/max skip the NULL in both engines — documented
    boundary, no cross-partition carry needed).

    Integer-exact microsecond arithmetic. Plan shape at 100 TB: ONE
    window partitioned by user_id (massively parallel — millions of
    small partitions), then a hash agg onto the tiny state key with
    map-side combine; never a global sort."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    stepped = ev.withColumn("dur_us", F.lead("us").over(w) - F.col("us"))
    return stepped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_entries"),
        F.sum("dur_us").alias("in_state_us"),
        F.countDistinct("user_id").alias("n_users"),
        F.max("dur_us").alias("max_dwell_us"),
    )


_STATE_AGG_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
), s AS (
  SELECT event_type, user_id,
         lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dur_us
  FROM e
)
SELECT event_type, count(*) AS n_entries,
       CAST(sum(dur_us) AS BIGINT) AS in_state_us,
       count(DISTINCT user_id) AS n_users,
       CAST(max(dur_us) AS BIGINT) AS max_dwell_us
FROM s GROUP BY 1
"""


def q_vocab_stats(spark, sf_dir):
    """Per-(source, gram-kind) corpus lexical statistics — the
    vocabulary table an LLM-corpus curator reads before tokenizer
    training: token totals, vocabulary size, hapax/dis legomena counts
    (Zipf-tail mass), the top word's count, and the Simpson repeat-mass
    numerator sum(c*(c-1)) — an integer-exact concentration measure
    (the float Simpson index is that over tokens*(tokens-1), left to
    the consumer). Kinds: unigrams ('w') and bigrams ('g2').

    All statistics are integer sums/maxes over (source, gram) counts —
    no arg-max tie-breaks — so the oracle is exact. Plan shape at
    100 TB: explode grams -> hash agg on (source, kind, gram) with
    map-side combine -> hash agg on (source, kind); vocabulary never
    sits in one partition (gram hash distributes it)."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("source", _doc_words().alias("ws"))
    uni = base.select(
        "source", F.lit("w").alias("kind"), F.explode("ws").alias("gram")
    )
    bi = base.select(
        "source", F.lit("g2").alias("kind"), F.explode(_gram_arr(2)).alias("gram")
    )
    cnts = uni.unionByName(bi).groupBy("source", "kind", "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return cnts.groupBy("source", "kind").agg(
        F.sum("cnt").alias("tokens"),
        F.count(F.lit(1)).alias("vocab"),
        F.sum((F.col("cnt") == 1).cast("long")).alias("hapax"),
        F.sum((F.col("cnt") == 2).cast("long")).alias("dis_legomena"),
        F.max("cnt").alias("max_cnt"),
        F.sum(F.col("cnt") * (F.col("cnt") - 1)).alias("simpson_num"),
    )


_VOCAB_STATS_SQL = r"""
WITH base AS (
  SELECT source, regexp_extract_all(text, '\S+') AS ws FROM documents
), grams AS (
  SELECT source, 'w' AS kind, unnest(ws) AS gram FROM base
  UNION ALL
  SELECT source, 'g2', unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                                             i -> ws[i] || ' ' || ws[i + 1])) FROM base
), cnts AS (
  SELECT source, kind, gram, count(*) AS cnt FROM grams GROUP BY 1, 2, 3
)
SELECT source, kind, CAST(sum(cnt) AS BIGINT) AS tokens, count(*) AS vocab,
       CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
       CAST(sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS dis_legomena,
       CAST(max(cnt) AS BIGINT) AS max_cnt,
       CAST(sum(cnt * (cnt - 1)) AS BIGINT) AS simpson_num
FROM cnts GROUP BY 1, 2
"""


def q_curation_funnel(spark, sf_dir):
    """End-to-end LLM-corpus curation funnel — the composite pipeline a
    training-data engineer actually runs, as ONE DataFrame DAG with a
    full cross-engine oracle over every stage:

      stage 1  exact dedup     — canonical survivor = min(doc_id) per
                                 md5(text) group (deterministic, no
                                 first()-nondeterminism),
      stage 2  quality gate    — the verified bit-equal quality score
                                 (functions.text.quality_score), kept
                                 when round(q*1e6) >= 500000,
      stage 3  repetition gate — Gopher word-repetition rule: dropped
                                 when the top word covers >20% of words.

    Stages compose as a funnel (each applies to the previous stage's
    survivors), and the output is the per-source funnel report:
    n_docs -> n_unique -> n_quality_ok -> n_kept, plus kept token mass.

    Plan shape at 100 TB: three independent per-doc subtrees (hash-agg
    dedup on md5, Arrow-batched quality UDF, explode->hash-agg word
    counts) joined on doc_id — every join is key-partitioned, nothing
    is all-pairs, and the final agg is a tiny per-source rollup."""
    from sprintz_spark.operators.text_ops import with_text_features

    docs = _t(spark, sf_dir, "documents")
    hashed = docs.select("doc_id", "source", "text", F.md5("text").alias("h"))
    canon = hashed.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    s1 = hashed.join(canon, "h").withColumn(
        "is_canon", F.col("doc_id") == F.col("keep_id")
    )
    quality_ok = (
        F.round(F.col("quality") * 1e6, 0).cast("long") >= 500000
    )
    # quality only gates CANONICAL docs (keep2 = keep1 & q_ok), so the
    # Arrow UDF — the dominant per-doc cost — scores the dedup survivors
    # only; on a heavily duplicated corpus that is a large multiple saved
    feats = with_text_features(s1.where(F.col("is_canon"))).select(
        "doc_id", quality_ok.alias("q_ok")
    )

    base = docs.select("doc_id", _doc_words().alias("ws"))
    wmax = (
        base.select("doc_id", F.explode("ws").alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(F.max("cnt").alias("w_max"))
    )
    nwords = base.select(
        "doc_id", F.size("ws").cast("long").alias("n_words")
    )

    per_doc = (
        s1.select("doc_id", "source", "is_canon")
        .join(feats, "doc_id", "left")  # feats covers canonical docs only
        .join(nwords, "doc_id")
        .join(wmax, "doc_id", "left")
        .withColumn("w_max", F.coalesce("w_max", F.lit(0)))
        .withColumn("keep1", F.col("is_canon"))
        .withColumn(
            "keep2", F.col("keep1") & F.coalesce(F.col("q_ok"), F.lit(False))
        )
        .withColumn(
            "keep3",
            F.col("keep2") & ~(F.col("w_max") * 5 > F.col("n_words")),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep1").cast("long")).alias("n_unique"),
        F.sum(F.col("keep2").cast("long")).alias("n_quality_ok"),
        F.sum(F.col("keep3").cast("long")).alias("n_kept"),
        F.sum(F.when(F.col("keep3"), F.col("n_words")).otherwise(0)).alias(
            "tokens_kept"
        ),
    )


def q_cohort_retention(spark, sf_dir):
    """Cohort retention matrix — the standard product-analytics rollup:
    users are cohorted by their first-seen day, and each (cohort_day,
    day-offset) cell counts the distinct users active that many days
    after joining. Day 0 is the cohort size, so the retention curve is
    each row divided by its offset-0 cell (left to the consumer; the
    stored cells are exact integers).

    Plan shape at 100 TB: distinct (user, day) pairs -> per-user min
    (both hash aggs on user_id, map-side combined) -> one join on
    user_id -> a tiny (cohort, offset) count-distinct. No windows, no
    all-pairs; the user-keyed shuffle is shared by the first two aggs."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    )
    days = ev.distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff("day", "cohort_day").cast("long").alias("offset_days"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


_COHORT_RETENTION_SQL = """
WITH d AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
), first AS (
  SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1
)
SELECT cohort_day,
       CAST(date_diff('day', cohort_day, day) AS BIGINT) AS offset_days,
       count(DISTINCT d.user_id) AS n_active
FROM d JOIN first USING (user_id)
GROUP BY 1, 2
"""


def q_funnel_conversion(spark, sf_dir):
    """Ordered three-step behavioral funnel (view -> click -> purchase,
    each step strictly after the previous): per-step distinct-user
    counts plus the exact summed view-to-purchase conversion time in
    microseconds for full-funnel users. The sequential constraint is
    expressed as agg -> join -> agg chains (min next-step timestamp
    greater than the carried previous-step timestamp), never a per-user
    sort or window.

    Plan shape at 100 TB: three user-keyed hash aggs and two user-keyed
    joins — all on the same key, so a co-partitioned layout pays one
    shuffle; the final single-row cross joins are broadcast-trivial."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("us") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t2"), F.min("t1").alias("t1"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(F.col("us") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t3"), F.min("t1").alias("t1"))
    )
    return (
        ev.agg(F.countDistinct("user_id").alias("n_users"))
        .crossJoin(s1.agg(F.count(F.lit(1)).alias("n_step1")))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_step2")))
        .crossJoin(
            s3.agg(
                F.count(F.lit(1)).alias("n_step3"),
                F.coalesce(F.sum(F.col("t3") - F.col("t1")), F.lit(0)).alias(
                    "convert_us_sum"
                ),
            )
        )
    )


_FUNNEL_SQL = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
), s1 AS (
  SELECT user_id, min(us) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1
), s2 AS (
  SELECT e.user_id, min(e.us) AS t2, min(s1.t1) AS t1
  FROM e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.us > s1.t1 GROUP BY 1
), s3 AS (
  SELECT e.user_id, min(e.us) AS t3, min(s2.t1) AS t1
  FROM e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.us > s2.t2 GROUP BY 1
)
SELECT (SELECT count(DISTINCT user_id) FROM e) AS n_users,
       (SELECT count(*) FROM s1) AS n_step1,
       (SELECT count(*) FROM s2) AS n_step2,
       (SELECT count(*) FROM s3) AS n_step3,
       (SELECT CAST(coalesce(sum(t3 - t1), 0) AS BIGINT) FROM s3) AS convert_us_sum
"""


# --- round-7 analytics additions -----------------------------------------


def q_stream_sessionize(spark, sf_dir):
    """Streaming sessionization under the driver's oracle gate (third
    streaming gate, after stream_rollup_1m / stream_dedup_docs): a
    finite watermarked stream through native session windows
    (F.session_window, 30-min gap), run to completion with availableNow
    plus one far-future sentinel row; the emitted sessions, aggregated
    per user, must hash-equal a DuckDB sessionization.

    Boundary semantics: session_window starts a NEW session at an event
    exactly ``gap`` after the previous one (merge iff strictly inside
    [prev, prev + gap)), so the oracle splits on diff >= gap — the one
    place it intentionally differs from the batch sessionize oracle's
    diff > gap (operators/sessions.py documents the divergence; the
    generator's microsecond timestamps make exact-gap ties measure-zero
    but the oracle must encode the right semantics regardless).

    State at scale: one open session per (user, in-flight window) inside
    the watermark horizon; merged and evicted as the watermark passes —
    bounded by horizon x active users, not history."""
    import os

    base = _scratch_dir("stream_sessionize_")
    out, chk = (os.path.join(base, d) for d in ("out", "chk"))
    # shared staged source — this gate reads 2 of its 4 columns
    src = _staged_stream_src(spark, sf_dir)
    stream = (
        spark.readStream.schema(_stream_src_schema())
        .parquet(src)
        .select("user_id", "ts")
    )
    # the SHIPPED operator, not an inline twin — the gate must exercise
    # the code path a user calls (streaming/rollup_stream.py)
    from sprintz_spark.streaming.rollup_stream import stream_sessionize

    sess = stream_sessionize(
        stream, key="user_id", ts_col="ts", gap="30 minutes",
        watermark="1 minute", with_bounds=True,
    )
    _run_finite_stream(spark, sess, "stream_sessionize", out, chk)
    got = spark.read.parquet(out).where(F.col("user_id") >= 0)
    dwell = F.unix_micros("last_ts") - F.unix_micros("first_ts")
    return got.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
        F.sum(dwell).alias("dwell_us_sum"),
    )


_STREAM_SESSIONIZE_SQL = """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 30*60*1000000
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sess AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
), per_session AS (
  SELECT user_id, session_id, count(*) AS n_ev,
         epoch_us(max(ts)) - epoch_us(min(ts)) AS dwell
  FROM sess GROUP BY user_id, session_id
)
SELECT user_id, count(*) AS n_sessions,
       CAST(sum(n_ev) AS BIGINT) AS n_events,
       CAST(max(n_ev) AS BIGINT) AS max_session_events,
       CAST(sum(dwell) AS BIGINT) AS dwell_us_sum
FROM per_session GROUP BY user_id
"""


def q_rolling_active_users(spark, sf_dir):
    """Rolling 7-day active users (the DAU/WAU product-analytics pair):
    for every day with activity, the distinct users active that day
    (dau) and in the trailing 7-day window [day-6, day] (wau).

    Plan shape at 100 TB: the input reduces to distinct (user, day)
    FIRST (hash agg, map-side combined — at most 365 rows/user/year
    survive whatever the event volume), then each pair EXPLODES into
    the <=7 report days it contributes to and a second hash agg
    count-distincts per day. No windows, no self-join, no
    SinglePartition; the classic count-distinct-over-sliding-window
    rewrite that avoids carrying a distinct-set state per window."""
    d = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("day", "ts").alias("day"))
        .distinct()
    )
    d = _cache(d)
    dau = d.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    contrib = d.select(
        "user_id",
        F.explode(
            F.sequence("day", F.col("day") + F.expr("interval 6 days"),
                       F.expr("interval 1 day"))
        ).alias("day"),
    )
    wau = contrib.groupBy("day").agg(F.countDistinct("user_id").alias("wau"))
    # report only days that exist in the activity set: the trailing
    # window of a silent day is a consumer-side gap-fill concern
    return dau.join(wau, "day")


_ROLLING_ACTIVE_SQL = """
WITH d AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
), dau AS (
  SELECT day, count(DISTINCT user_id) AS dau FROM d GROUP BY 1
), contrib AS (
  SELECT user_id, unnest(generate_series(day, day + INTERVAL 6 DAY,
                                         INTERVAL 1 DAY)) AS day
  FROM d
), wau AS (
  SELECT day, count(DISTINCT user_id) AS wau FROM contrib GROUP BY 1
)
SELECT day, dau, wau FROM dau JOIN wau USING (day)
"""


def q_mad_anomalies(spark, sf_dir):
    """Robust per-user outlier flags via median/MAD — the
    quartile-free cousin of zscore_anomalies that survives heavy-tailed
    spend: a purchase is anomalous when |x - median| > 3 * MAD.

    Exactness trick: both engines compute EXACT type-7 medians, and all
    medians here are computed over 2x integer cents — an average of two
    same-parity integers is an integer, so median(2c), every |2c - m2|,
    and MAD2 = median of those (again all same parity) are
    integer-valued doubles with no representation error; the 3*MAD
    comparison is then exact integer arithmetic in both engines. Plan:
    two user-keyed aggs (median, then MAD over the re-joined diffs) and
    one flag agg — all hash-partitioned on user_id, no windows."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", (_cents() * 2).alias("c2")
    )
    ev = _cache(ev)
    med = ev.groupBy("user_id").agg(F.median("c2").alias("m2"))
    diffs = ev.join(med, "user_id").select(
        "user_id", "m2", F.abs(F.col("c2") - F.col("m2")).alias("ad2")
    )
    mad = diffs.groupBy("user_id").agg(F.median("ad2").alias("mad2"))
    return (
        diffs.join(mad, "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((F.col("ad2") > 3 * F.col("mad2")).cast("long")).alias(
                "n_anomalies"
            ),
            F.max("m2").cast("long").alias("med2_cents"),
            F.max("mad2").cast("long").alias("mad2_cents"),
        )
    )


_MAD_SQL = f"""
WITH e AS (
  SELECT user_id, 2 * {_CENTS_SQL} AS c2 FROM events
), med AS (
  SELECT user_id, median(c2) AS m2 FROM e GROUP BY 1
), diffs AS (
  SELECT e.user_id, m2, abs(c2 - m2) AS ad2 FROM e JOIN med USING (user_id)
), mad AS (
  SELECT user_id, median(ad2) AS mad2 FROM diffs GROUP BY 1
)
SELECT user_id, count(*) AS n,
       CAST(sum(CASE WHEN ad2 > 3 * mad2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_anomalies,
       CAST(max(m2) AS BIGINT) AS med2_cents,
       CAST(max(mad2) AS BIGINT) AS mad2_cents
FROM diffs JOIN mad USING (user_id)
GROUP BY user_id
"""


def q_hourly_profile(spark, sf_dir):
    """Hour-of-day seasonality profile — the diurnal shape a capacity
    planner or anomaly baseline reads: per hour 0-23, event count,
    distinct users, cents sum, and the exact median purchase (2x
    integer-median trick as in mad_anomalies). One hash agg on a
    24-value key; the median is exact in both engines."""
    ev = _t(spark, sf_dir, "events").select(
        F.hour("ts").cast("long").alias("hour_of_day"),
        "user_id",
        _cents().alias("c"),
        (_cents() * 2).alias("c2"),
    )
    # cents_sum is a direct integer sum (the 2x trick stays on the median
    # only): sum(c2)/2 is a double division that loses exactness once a
    # per-hour sum passes 2^53 — real at the 100TB scale this targets
    return ev.groupBy("hour_of_day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum("c").alias("cents_sum"),
        F.median("c2").cast("long").alias("med2_cents"),
    )


_HOURLY_PROFILE_SQL = f"""
SELECT CAST(extract(hour FROM ts) AS BIGINT) AS hour_of_day,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum({_CENTS_SQL}) AS BIGINT) AS cents_sum,
       CAST(median(2 * {_CENTS_SQL}) AS BIGINT) AS med2_cents
FROM events GROUP BY 1
"""


def q_distinctive_terms(spark, sf_dir):
    """Per-source distinctive bigrams — the integer TF-ISF surrogate of
    TF-IDF a corpus auditor uses to label sources: each source's top-10
    bigrams ranked by tf * (n_sources - source_df + 1), where source_df
    counts sources containing the bigram (inverse-source-frequency with
    integer weights — no log, so the oracle is exact; the ordering
    matches TF-IDF's intent: frequent-here, rare-elsewhere). Ties break
    on the bigram text for full determinism.

    Plan at 100 TB: explode bigrams -> (source, gram) hash agg
    (map-side combined) -> gram-keyed source_df agg -> join -> per-source
    top-10 via rank window that Spark rewrites to WindowGroupLimit (only
    ~10 rows per source-partition cross the final exchange)."""
    docs = _t(spark, sf_dir, "documents").repartition(64, "doc_id")
    grams = docs.select(
        "source", _doc_words().alias("ws")
    ).select("source", F.explode(_gram_arr(2)).alias("gram"))
    tf = grams.groupBy("source", "gram").agg(F.count(F.lit(1)).alias("tf"))
    tf = _cache(tf)
    sdf = tf.groupBy("gram").agg(F.count(F.lit(1)).alias("source_df"))
    # n_sources as a broadcast 1-row aggregate (not a separate .count()
    # action) so the whole query stays a single job
    ns = tf.agg(F.countDistinct("source").alias("n_sources"))
    scored = (
        tf.join(sdf, "gram")
        .crossJoin(F.broadcast(ns))
        .select(
            "source",
            "gram",
            "tf",
            (F.col("tf") * (F.col("n_sources") - F.col("source_df") + 1)).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score").desc(), F.col("gram").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
        .select("source", "rnk", "gram", "tf", "score")
    )


_DISTINCTIVE_SQL = r"""
WITH base AS (
  SELECT source, regexp_extract_all(text, '\S+') AS ws FROM documents
), grams AS (
  SELECT source, unnest(list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                                       i -> ws[i] || ' ' || ws[i + 1])) AS gram
  FROM base
), tf AS (
  SELECT source, gram, count(*) AS tf FROM grams GROUP BY 1, 2
), sdf AS (
  SELECT gram, count(*) AS source_df FROM tf GROUP BY 1
), scored AS (
  SELECT source, gram, tf,
         tf * ((SELECT count(DISTINCT source) FROM tf) - source_df + 1) AS score
  FROM tf JOIN sdf USING (gram)
)
SELECT source, CAST(rnk AS INT) AS rnk, gram, tf, CAST(score AS BIGINT) AS score
FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY score DESC, gram) AS rnk
  FROM scored
) WHERE rnk <= 10
"""


def q_containment_dups(spark, sf_dir):
    """Asymmetric near-duplicate detection by shingle CONTAINMENT — the
    Broder measure Jaccard misses: |A ∩ B| / |A| >= 0.9 flags doc a as
    embedded in (quoted by, a prefix of) doc b even when b is much
    longer, which symmetric Jaccard dilutes below any threshold. The
    standard quote/subset-dup pass a training-data pipeline runs beside
    MinHash.

    Mechanics: distinct 3-gram shingles per doc; shingles in > 100 docs
    are dropped before the join (boilerplate cap — same discipline as
    every LSH/inverted-index join here, and the oracle applies the SAME
    cap so the gate is exact; denominators use the UNCAPPED shingle
    count, making the cap strictly recall-reducing, never
    precision-breaking). Inverted-index equi-join on shingle, never
    all-pairs; integer cross-multiplied threshold (m * 10 >= n * 9).
    Output is the aggregate pair count, distinct contained docs, and an
    id checksum so the result stays O(1) wide at any corpus size."""
    docs = _t(spark, sf_dir, "documents").repartition(64, "doc_id")
    sh = docs.select("doc_id", _doc_words().alias("ws")).select(
        "doc_id", F.explode(F.array_distinct(_gram_arr(3))).alias("g")
    )
    sh = _cache(sh)  # feeds df-cap, denominators, and both join sides
    df = sh.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    keep = sh.join(df.where(F.col("df") <= 100), "g").select("doc_id", "g")
    nr = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = keep.select(F.col("doc_id").alias("a"), "g")
    b = keep.select(F.col("doc_id").alias("b"), "g")
    # UNORDERED candidate pairs (a < b): the intersection size m is
    # symmetric, so materializing both directions doubled the candidate
    # shuffle and the (a, b) aggregation for no information (r10: 2.2 s
    # -> 0.6 s warm at sf0.1, identical output). Both directional
    # containment tests evaluate from the one m row via two n_sh joins;
    # at corpus scale this halves the join's shuffle volume outright.
    inter = (
        a.join(b, "g")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    # explode each unordered pair into its SURVIVING directed rows
    # (contained doc c, partner kept via a+b) — one subtree, one final
    # aggregate: count(c) == directed pair count, distinct c == the
    # contained-doc set, sum(a+b) == the directed id_sum
    ex = (
        inter.join(nr.select(F.col("doc_id").alias("a"), F.col("n_sh").alias("n_a")), "a")
        .join(nr.select(F.col("doc_id").alias("b"), F.col("n_sh").alias("n_b")), "b")
        .select(
            "a",
            "b",
            F.explode(
                F.array(
                    F.when(F.col("m") * 10 >= F.col("n_a") * 9, F.col("a")),
                    F.when(F.col("m") * 10 >= F.col("n_b") * 9, F.col("b")),
                )
            ).alias("c"),
        )
        .where(F.col("c").isNotNull())
    )
    return ex.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("c").alias("n_contained"),
        # coalesce like the oracle: a pair-free corpus must read 0, not
        # NULL, or the gate would spuriously fail on regenerated data
        F.coalesce(F.sum(F.col("a") + F.col("b")), F.lit(0).cast("long")).alias(
            "id_sum"
        ),
    )


_CONTAINMENT_SQL = r"""
WITH w AS (
  SELECT doc_id, regexp_extract_all(text, '\S+') AS ws FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS g
  FROM w
), df AS (
  SELECT g, count(*) AS df FROM sh GROUP BY 1
), keep AS (
  SELECT doc_id, g FROM sh JOIN df USING (g) WHERE df <= 100
), nr AS (
  SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1
), inter AS (
  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS m
  FROM keep a JOIN keep b ON a.g = b.g AND a.doc_id != b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT a, b FROM inter JOIN nr ON inter.a = nr.doc_id
  WHERE m * 10 >= n_sh * 9
)
SELECT count(*) AS n_pairs,
       count(DISTINCT a) AS n_contained,
       CAST(coalesce(sum(a + b), 0) AS BIGINT) AS id_sum
FROM pairs
"""


def _curation_funnel_sql() -> str:
    per_doc_quality = _quality_agg_sql(
        "SELECT doc_id AS dim, text FROM documents", "doc_id"
    )
    return f"""
WITH dq AS ({per_doc_quality}),
ded AS (
  SELECT doc_id, source, md5(text) AS h FROM documents
), canon AS (
  SELECT h, min(doc_id) AS keep_id FROM ded GROUP BY h
), words AS (
  SELECT doc_id, regexp_extract_all(text, '\\S+') AS ws FROM documents
), wcnt AS (
  SELECT doc_id, gram, count(*) AS cnt
  FROM (SELECT doc_id, unnest(ws) AS gram FROM words) GROUP BY 1, 2
), wmax AS (
  SELECT doc_id, max(cnt) AS w_max FROM wcnt GROUP BY 1
), per_doc AS (
  SELECT d.doc_id, d.source,
         (d.doc_id = c.keep_id) AS keep1,
         (d.doc_id = c.keep_id AND q.quality_micros >= 500000) AS keep2,
         (d.doc_id = c.keep_id AND q.quality_micros >= 500000
          AND NOT (coalesce(m.w_max, 0) * 5 > len(w.ws))) AS keep3,
         CAST(len(w.ws) AS BIGINT) AS n_words
  FROM ded d
  JOIN canon c USING (h)
  JOIN dq q ON q.doc_id = d.doc_id
  JOIN words w ON w.doc_id = d.doc_id
  LEFT JOIN wmax m ON m.doc_id = d.doc_id
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN keep1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(sum(CASE WHEN keep2 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
       CAST(sum(CASE WHEN keep3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN keep3 THEN n_words ELSE 0 END) AS BIGINT) AS tokens_kept
FROM per_doc GROUP BY source
"""


def _quality_agg_sql(dim_source: str, dim_name: str) -> str:
    """Shared DuckDB replica of functions.text.quality_score (verified
    bit-equal per doc): ``dim_source`` is any SQL relation producing
    (dim, text); the result aggregates per-doc quality micro-units and
    doc counts per dim under the output column name ``dim_name``."""
    from sprintz_spark.functions.text import STOPWORDS

    stop_list = ", ".join(f"'{w}'" for w in sorted(STOPWORDS))
    return f"""
WITH src AS ({dim_source}),
f AS (
  SELECT dim,
         len(text) AS n_chars,
         regexp_extract_all(text, '\\S+') AS words,
         len(regexp_extract_all(text, '[A-Za-z]')) AS n_alpha
  FROM src
), g AS (
  SELECT dim, n_chars, n_alpha, len(words) AS n_words,
         len([w for w in words
              if list_contains([{stop_list}], trim(lower(w), '.,!?;:'))]) AS n_stop,
         CASE WHEN len(words) > 0
              THEN CAST(list_sum([len(w) for w in words]) AS DOUBLE) / len(words)
              ELSE 0.0 END AS mean_wl
  FROM f
), q AS (
  SELECT dim,
    CASE WHEN n_words = 0 THEN 0.0
         ELSE ROUND(
           0.4 * (CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE)/n_chars ELSE 0.0 END)
         + 0.4 * least(1.0, 4.0 * CAST(n_stop AS DOUBLE)/n_words)
         + 0.2 * (CASE WHEN mean_wl BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END), 6)
    END AS quality
  FROM g
)
SELECT dim AS {dim_name}, count(*) AS n_docs,
       CAST(sum(CAST(ROUND(quality * 1000000, 0) AS BIGINT)) AS BIGINT) AS quality_micros
FROM q GROUP BY dim
"""


def _quality_sql() -> str:
    return _quality_agg_sql("SELECT source AS dim, text FROM documents", "source")


def _lang_quality_sql() -> str:
    """DuckDB replica of functions.text.lang_id feeding the shared
    quality pipeline: marker occurrences are counted with the
    replace-length trick ((len(p)-len(replace(p,m,'')))/len(m), the same
    non-overlapping left-to-right scan as str.count), the winner is the
    FIRST language in LANG_MARKERS order attaining the max score
    (Python's strict-> update rule), 'und' when every score is zero."""
    from sprintz_spark.functions.text import LANG_MARKERS

    def score(markers) -> str:
        return " + ".join(
            f"(len(p) - len(replace(p, '{m}', ''))) // {len(m)}" for m in markers
        )

    langs = list(LANG_MARKERS)
    scores = ", ".join(f"({score(ms)}) AS s_{l}" for l, ms in LANG_MARKERS.items())
    mx = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    whens = " ".join(f"WHEN s_{l} = {mx} THEN '{l}'" for l in langs[:-1])
    case = f"CASE WHEN {mx} <= 0 THEN 'und' {whens} ELSE '{langs[-1]}' END"
    dim_source = f"""
  SELECT {case} AS dim, text FROM (
    SELECT text, {scores} FROM (
      SELECT text, ' ' || lower(COALESCE(text, '')) || ' ' AS p FROM documents))"""
    return _quality_agg_sql(dim_source, "lang_pred")


def q_image_resize(spark, sf_dir):
    """Multimodal resize plumbing, oracle-gated: pix_sum sums the actual
    output pixel bytes (JVM-side hex gather over the binary column), so
    the nearest-neighbor index gather itself — not just the output shape —
    is recomputed value-exact in DuckDB (_IMAGE_RESIZE_SQL)."""
    from sprintz_spark.operators.multimodal import resize_images

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    payloads = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    pix_sum = F.expr(
        "aggregate(transform(sequence(0, 47), "
        "i -> cast(conv(substring(hex(pixels), i*2+1, 2), 16, 10) as long)), "
        "0L, (a, x) -> a + x)"
    )
    return resize_images(payloads, out_h=4, out_w=4).select(
        "doc_id",
        F.length("pixels").alias("n_bytes"),
        "height",
        "width",
        "channels",
        pix_sum.alias("pix_sum"),
    )


# DuckDB replica of the 8x8 -> 4x4 nearest-neighbor gather over the fake
# image: output flat index j decomposes to (y=j//12, x=(j//3)%4, c=j%3);
# the source pixel is ((2y)*8 + 2x)*3 + c into the tiled digest.
_IMAGE_RESIZE_SQL = """
WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
d AS (SELECT doc_id, list_transform(range(0,32),
        i -> ('0x'||substr(sha256(text), 2*i+1, 2))::BIGINT) AS db FROM src)
SELECT doc_id, 48 AS n_bytes, 4 AS height, 4 AS width, 3 AS channels,
  CAST(list_sum(list_transform(range(0,48), j ->
     db[((((j//12)*2)*8 + ((j//3)%4)*2)*3 + (j%3)) % 32 + 1])) AS BIGINT)
     AS pix_sum
FROM d
"""


def q_audio_stats(spark, sf_dir):
    """Multimodal audio plumbing, oracle-gated: the fake PCM is sha256
    expansion viewed as int16, so the DuckDB oracle (_AUDIO_STATS_SQL)
    recomputes sample counts, rms and zero-crossing rate value-exact from
    the digest's 16-sample period."""
    from sprintz_spark.operators.multimodal import audio_features

    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    payloads = docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))
    return audio_features(payloads).select(
        "doc_id", "n_samples", F.round("rms", 6).alias("rms"), F.round("zcr", 6).alias("zcr")
    )


# DuckDB replica of multimodal._fake_pcm + audio_features: the tiled
# digest makes samples periodic with period 16 (32 bytes / 2 bytes per
# int16), so sample k = base[k % 16] with base the 16 little-endian signed
# int16s of the digest. n = (octet_length % 1024) + 256. rms uses the
# exact integer sum of squares / 2^30 (= 32768^2); zcr counts sign flips
# between consecutive samples (strictly-negative test — int16 zero maps to
# +0.0, never -0.0). Both rounded to 6 decimals on each side.
_AUDIO_STATS_SQL = """
WITH src AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
d AS (SELECT doc_id, (octet_length(encode(text)) % 1024) + 256 AS n,
      list_transform(range(0,32),
        i -> ('0x'||substr(sha256(text), 2*i+1, 2))::BIGINT) AS db FROM src),
b AS (SELECT doc_id, n, list_transform(range(0,16), k ->
        CASE WHEN db[(2*k)%32+1] + 256*db[(2*k+1)%32+1] >= 32768
             THEN db[(2*k)%32+1] + 256*db[(2*k+1)%32+1] - 65536
             ELSE db[(2*k)%32+1] + 256*db[(2*k+1)%32+1] END) AS base FROM d)
SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
  ROUND(sqrt((list_sum([base[(k%16)+1]*base[(k%16)+1] for k in range(0,n)])
              / 1073741824.0) / n), 6) AS rms,
  ROUND(list_sum([CASE WHEN (base[(k%16)+1] < 0) != (base[((k+1)%16)+1] < 0)
                       THEN 1 ELSE 0 END for k in range(0,n-1)])
        / CAST(greatest(n-1, 1) AS DOUBLE), 6) AS zcr
FROM b
"""


def q_lang_quality(spark, sf_dir):
    """Language-ID histogram + quality mass per predicted language, fully
    oracle-gated: the DuckDB side recomputes the marker-count language
    heuristic (replace-length occurrence counting, first-marker
    tie-break, 'und' on zero score) and the exact quality formula; per-doc
    scores are summed as integer micro-units so the aggregate is
    order-independent."""
    from sprintz_spark.operators.text_ops import with_text_features

    docs = _t(spark, sf_dir, "documents")
    micros = F.round(F.col("quality") * 1e6, 0).cast("long")
    return (
        with_text_features(docs)
        .groupBy("lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(micros).alias("quality_micros"),
        )
    )




# --- round-5 additions: grouped top-k, stratified sample, winnowing, ------
# --- forward as-of, histogram, interval coverage --------------------------

def q_top_docs_per_lang(spark, sf_dir):
    """Grouped top-k (top-3 longest docs per language): the row_number
    filter compiles to WindowGroupLimit Partial — per-partition partial
    top-3 per group before the shuffle, the scalable grouped-top-k plan
    (only k rows per (group, partition) ever move)."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.select("lang", "doc_id", "n_chars")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("lang", "rnk", "doc_id", "n_chars")
    )


_TOP_DOCS_SQL = """
SELECT lang, rnk, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC) AS rnk
  FROM documents
) WHERE rnk <= 3
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sample: per language, the 5 docs with
    the smallest salted md5 key — the leakage-free, rerun-stable eval
    split a training pipeline needs per stratum. Same WindowGroupLimit
    partial-top-k plan as grouped top-k; the oracle recomputes every
    hash, so membership is gated, not just counts."""
    docs = _t(spark, sf_dir, "documents")
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    w = Window.partitionBy("lang").orderBy("sample_key", "doc_id")
    return (
        docs.select("lang", "doc_id", key.alias("sample_key"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
        .select("lang", "rnk", "doc_id", "sample_key")
    )


_STRAT_SAMPLE_SQL = """
SELECT lang, rnk, doc_id, sample_key FROM (
  SELECT lang, doc_id,
         ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           AS sample_key,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                    doc_id
         ) AS rnk
  FROM documents
) WHERE rnk <= 5
"""


def q_winnow_fingerprints(spark, sf_dir):
    """MOSS-style winnowing fingerprints (Schleimer et al., SIGMOD'03)
    per document: 60-bit md5 hashes of char 8-grams, minima over every
    4-hash window, dedup'd. Entirely Spark SQL higher-order functions
    (JVM codegen, no Python); the oracle rebuilds every fingerprint in
    DuckDB list functions, and the checksum (sum of fp % 1048573 —
    overflow-safe in both engines) gates the VALUES, not just counts.
    Guarantees any shared substring of >= 11 chars shares a fingerprint."""
    from sprintz_spark.functions.text import winnow_fingerprint_exprs

    hashes, winnow = winnow_fingerprint_exprs(k=8, w=4)
    # the docs table is one small parquet file = one input partition;
    # spread the md5-gram compute across cores before the projection
    docs = _t(spark, sf_dir, "documents").repartition(64, "doc_id")
    return (
        docs.select(
            "doc_id",
            F.expr(r"regexp_replace(lower(trim(text)), '\\s+', ' ')").alias("_norm"),
        )
        .where(F.length("_norm") >= 11)  # k + w - 1
        .withColumn("_hashes", F.expr(hashes))
        .withColumn("_fps", F.expr(winnow))
        .select(
            "doc_id",
            F.size("_fps").alias("n_fps"),
            F.expr("aggregate(_fps, 0L, (a, x) -> a + x % 1048573)").alias(
                "fp_checksum"
            ),
        )
    )


_WINNOW_SQL = r"""
WITH n AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM documents
), h AS (
  SELECT doc_id,
         list_transform(range(1, length(norm) - 8 + 2), i ->
           ('0x' || substr(md5(substr(norm, CAST(i AS INT), 8)), 1, 15))::BIGINT
         ) AS hashes
  FROM n WHERE length(norm) >= 11
), wnw AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(hashes) - 4 + 2), j ->
           list_min(hashes[CAST(j AS INT):CAST(j + 3 AS INT)])
         )) AS fps
  FROM h
)
SELECT doc_id, CAST(len(fps) AS INT) AS n_fps,
       CAST(list_sum(list_transform(fps, x -> x % 1048573)) AS BIGINT) AS fp_checksum
FROM wnw
"""


def q_asof_forward(spark, sf_dir):
    """Forward as-of join: for each purchase, the user's EARLIEST click
    cents at or after the purchase time (pandas merge_asof
    direction='forward'; DuckDB ASOF with <=). Same union + running
    frame plan as the backward join, reversed sort."""
    from sprintz_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max(_cents()).alias("click_cents"))
    )
    out = asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        payload_cols=["click_cents"], direction="forward",
    )
    return out.select("user_id", "ts", "event_id", "click_cents")


_ASOF_FWD_SQL = f"""
WITH clicks AS (
  SELECT user_id, ts, max({_CENTS_SQL}) AS click_cents
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
), purchases AS (
  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.ts, p.event_id, c.click_cents
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts <= c.ts
"""


def q_value_histogram(spark, sf_dir):
    """Fixed-domain equi-width histogram of event cents (50 buckets over
    [0, 100000)): the mergeable quantile/distribution sketch at scale —
    one algebraic aggregation, constant state per partition, exact
    cross-engine equality via width_bucket in both engines."""
    ev = _t(spark, sf_dir, "events")
    # explicit floor arithmetic (identical on both engines) instead of
    # width_bucket: bucket i covers [2000*(i-1), 2000*i) cents
    b = F.floor(_cents() / F.lit(2000)) + F.lit(1)
    return (
        ev.select(b.cast("long").alias("bucket"), _cents().alias("cents"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents_sum"))
        .orderBy("bucket")
    )


_HISTOGRAM_SQL = f"""
SELECT CAST(({_CENTS_SQL}) // 2000 + 1 AS BIGINT) AS bucket,
       count(*) AS n, CAST(sum({_CENTS_SQL}) AS BIGINT) AS cents_sum
FROM events GROUP BY 1 ORDER BY bucket
"""


def q_interval_coverage(spark, sf_dir):
    """Interval-union length per user: each event opens a 2-hour window
    [ts, ts+2h); overlaps must not double-count. Classic sweep: sort per
    user, running max of prior interval ends, each row contributes
    max(0, end - max(start, prior_max_end)) — one partitioned window,
    no self-join, exact BIGINT microsecond arithmetic in both engines."""
    ev = _t(spark, sf_dir, "events")
    s = F.unix_micros(F.col("ts").cast("timestamp"))
    rows = ev.select(
        "user_id",
        s.alias("s"),
        (s + F.lit(7200 * 1000000).cast("long")).alias("e"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("s", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    contrib = F.greatest(
        F.lit(0).cast("long"),
        F.col("e") - F.greatest(F.col("s"), F.coalesce(F.max("e").over(w), F.col("s"))),
    )
    return (
        rows.select("user_id", contrib.alias("c"))
        .groupBy("user_id")
        .agg(F.sum("c").alias("covered_us"))
    )


_INTERVAL_COVERAGE_SQL = """
WITH iv AS (
  SELECT user_id, epoch_us(ts) AS s, epoch_us(ts) + 7200::BIGINT * 1000000 AS e, event_id
  FROM events
), sweep AS (
  SELECT user_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
  FROM iv
)
SELECT user_id,
       CAST(sum(greatest(0, e - greatest(s, COALESCE(pmax, s)))) AS BIGINT) AS covered_us
FROM sweep GROUP BY user_id
"""




def q_gap_report(spark, sf_dir):
    """Batch analog of streaming/rollup_stream.stream_gap_alerts: every
    inter-event gap over 1 hour per user (lag window, exact BIGINT
    micros). The streaming operator's cross-batch state is pytest-gated;
    this query oracle-gates the gap arithmetic itself."""
    ev = _t(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    rows = ev.select(
        "user_id", us.alias("t"), F.lag(us).over(w).alias("prev")
    ).where(F.col("prev").isNotNull() & (F.col("t") - F.col("prev") > 3600 * 1000000))
    return rows.select(
        "user_id",
        F.timestamp_micros(F.col("prev")).alias("gap_start"),
        F.timestamp_micros(F.col("t")).alias("gap_end"),
        (F.col("t") - F.col("prev")).alias("gap_us"),
    )


_GAP_REPORT_SQL = """
WITH l AS (
  SELECT user_id, epoch_us(ts) AS t,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT user_id, make_timestamp(prev) AS gap_start, make_timestamp(t) AS gap_end,
       t - prev AS gap_us
FROM l WHERE prev IS NOT NULL AND t - prev > 3600::BIGINT * 1000000
"""




def q_lttb_downsample(spark, sf_dir):
    """LTTB shape-preserving downsampling (Steinarsson 2013) over the
    deterministic generator's 1m byte-size series, reduced to global
    invariants (point count, series count, x-checksum, y-sum) and pinned
    as a golden VALUES oracle — the codec_search_stats pattern. The
    per-point selection itself is parity-tested against a direct
    transliteration of the published algorithm in test_downsample."""
    from sprintz_spark.operators.downsample import lttb_downsample
    from sprintz_spark.operators.rollup import derive_series
    from sprintz_spark.sources.pages import generate_pages

    series = derive_series(generate_pages(spark, 2000), "1m").select(
        "url",
        F.unix_micros(F.col("bucket")).alias("x"),
        F.col("byte_size_sum").alias("y"),
    )
    out = lttb_downsample(series, ["url"], "x", "y", n_out=20)
    return out.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.countDistinct("url").alias("n_series"),
        F.sum(F.col("x") % F.lit(1048573)).alias("x_checksum"),
        F.sum("y").alias("y_sum"),
    )


# pinned 2026-08-17 (round 5) for (seed=42, n_rows=2000, n_out=20); any
# drift in bucket edges, triangle areas, or tie-breaking changes these
_LTTB_SQL = """
SELECT * FROM (VALUES (
  CAST(795 AS BIGINT), CAST(40 AS BIGINT),
  CAST(412519971 AS BIGINT), CAST(1373116 AS BIGINT)
)) AS t(n_points, n_series, x_checksum, y_sum)
"""




def q_winnow_pairs(spark, sf_dir):
    """Near-dup candidate pairs via shared winnowed fingerprints (the
    MOSS match step): explode each doc's fingerprint set, drop
    "stopword" fingerprints appearing in >100 docs (boilerplate grams —
    the same hot-bucket cap discipline as the LSH joins), self-join on
    fingerprint (inverted-index join, never all-pairs), and keep pairs
    sharing >= 3 fingerprints. The oracle recomputes everything with
    DuckDB list functions including the frequency cap."""
    from sprintz_spark.functions.text import winnow_fingerprint_exprs

    hashes, winnow = winnow_fingerprint_exprs(k=8, w=4)
    docs = _t(spark, sf_dir, "documents").repartition(64, "doc_id")
    # cache the PRE-explode per-doc fingerprint arrays: the md5-gram
    # computation feeds the frequency filter AND both join sides (3
    # evaluations without it), and the array form is the smallest
    # cacheable footprint. At true corpus scale this would be a
    # materialized fingerprint table, not an in-session cache.
    fp_arrays = (
        docs.select(
            "doc_id",
            F.expr(r"regexp_replace(lower(trim(text)), '\\s+', ' ')").alias("_norm"),
        )
        .withColumn("_hashes", F.expr(hashes))
        .select("doc_id", F.expr(winnow).alias("_fps"))
    )
    fp_arrays = _cache(fp_arrays)
    fps = fp_arrays.select("doc_id", F.explode("_fps").alias("fp"))
    rare = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df")).where(F.col("df") <= 100)
    keep = fps.join(rare.select("fp"), "fp")
    a, b = keep.alias("a"), keep.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= 3)
    )


_WINNOW_PAIRS_SQL = r"""
WITH n AS (
  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
  FROM documents
), h AS (
  SELECT doc_id,
         list_transform(range(1, length(norm) - 8 + 2), i ->
           ('0x' || substr(md5(substr(norm, CAST(i AS INT), 8)), 1, 15))::BIGINT
         ) AS hashes
  FROM n WHERE length(norm) >= 11
), wnw AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(hashes) - 4 + 2), j ->
           list_min(hashes[CAST(j AS INT):CAST(j + 3 AS INT)])
         )) AS fps
  FROM h
), e AS (
  SELECT doc_id, unnest(fps) AS fp FROM wnw
), rare AS (
  SELECT fp FROM e GROUP BY fp HAVING count(*) <= 100
), k AS (
  SELECT e.doc_id, e.fp FROM e JOIN rare USING (fp)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
FROM k a JOIN k b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2 HAVING count(*) >= 3
"""




def q_incremental_rollup(spark, sf_dir):
    """Incremental view maintenance for continuous aggregates: 5% of
    events (deterministic md5 split) arrive 'late' after the base
    rollup is built. The corrected rollup recomputes ONLY the (user,
    hour) buckets the late events touch (left_anti for untouched rows,
    leftsemi + union + re-agg for touched ones) — never the full table.
    The oracle is the straight full-recompute rollup, so hash equality
    proves the incremental path is exact. At 100 TB this is the
    difference between reprocessing a day and reprocessing everything."""
    is_late = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % 20 == 0
    )
    # cache the flagged scan: base_agg, the affected-bucket set, the
    # semi-join branch, and the late side are four subtrees over it
    ev = (
        _t(spark, sf_dir, "events")
        .select(
            "user_id",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
            _cents().alias("cents"),
            is_late.alias("_late"),
        )
    )
    ev = _cache(ev)
    base = ev.where(~F.col("_late")).drop("_late")
    late = ev.where(F.col("_late")).drop("_late")

    def agg(df):
        return df.groupBy("user_id", "bucket").agg(
            F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("cents_sum")
        )

    base_agg = agg(base)
    affected = late.select("user_id", "bucket").distinct()
    untouched = base_agg.join(affected, ["user_id", "bucket"], "left_anti")
    recomputed = agg(
        base.join(affected, ["user_id", "bucket"], "leftsemi").unionByName(late)
    )
    return untouched.unionByName(recomputed)


_INCREMENTAL_SQL = f"""
SELECT user_id, date_trunc('hour', ts) AS bucket,
       count(*) AS n_events, CAST(sum({_CENTS_SQL}) AS BIGINT) AS cents_sum
FROM events GROUP BY 1, 2
"""


# --- URL surface: host rollup + frontier canonicalization ----------------
#
# The driver tables carry no URL column, so these gates synthesize a
# deterministic crawl-log URL per event in CLOSED FORM (concat/CASE only
# — both engines rebuild it bit-identically) with the three real-world
# noise sources a canonicalizer exists for: a www. host alias, host case
# noise, utm_* tracking params, and fragments. The PARSING side (what the
# gates actually test) is generic: parse_url/regexp host extraction and
# the functions/url.py canonicalization pipeline, nothing synth-specific.

_SYNTH_URL_SQL = """
  'https://'
  || CASE WHEN user_id % 3 = 0 THEN 'www.'
          WHEN user_id % 3 = 1 THEN 'crawl' || (user_id % 5) || '.'
          ELSE '' END
  || CASE WHEN user_id % 4 = 0 THEN 'S' ELSE 's' END
  || (user_id % 17)
  || CASE WHEN user_id % 5 = 0 THEN '.co.uk'
          WHEN user_id % 5 = 1 THEN '.example.org'
          WHEN user_id % 5 = 2 THEN '.com.au'
          WHEN user_id % 5 = 3 THEN '.de'
          ELSE '.k12.ca.us' END
  || '/p/' || (event_id % 1000)
  || CASE WHEN event_id % 5 = 0 THEN '?utm_source=feed&id=' || (event_id % 100)
          WHEN event_id % 5 = 1 THEN '?id=' || (event_id % 100)
          WHEN event_id % 5 = 2 THEN '?utm_campaign=x'
          ELSE '' END
  || CASE WHEN event_id % 7 = 0 THEN '#frag' ELSE '' END
"""


def _synth_url():
    return F.concat(
        F.lit("https://"),
        F.when(F.col("user_id") % 3 == 0, F.lit("www."))
        .when(
            F.col("user_id") % 3 == 1,
            F.concat(F.lit("crawl"), (F.col("user_id") % 5).cast("string"), F.lit(".")),
        )
        .otherwise(F.lit("")),
        F.when(F.col("user_id") % 4 == 0, F.lit("S")).otherwise(F.lit("s")),
        (F.col("user_id") % 17).cast("string"),
        F.when(F.col("user_id") % 5 == 0, F.lit(".co.uk"))
        .when(F.col("user_id") % 5 == 1, F.lit(".example.org"))
        .when(F.col("user_id") % 5 == 2, F.lit(".com.au"))
        .when(F.col("user_id") % 5 == 3, F.lit(".de"))
        .otherwise(F.lit(".k12.ca.us")),
        F.lit("/p/"),
        (F.col("event_id") % 1000).cast("string"),
        F.when(
            F.col("event_id") % 5 == 0,
            F.concat(
                F.lit("?utm_source=feed&id="),
                (F.col("event_id") % 100).cast("string"),
            ),
        )
        .when(
            F.col("event_id") % 5 == 1,
            F.concat(F.lit("?id="), (F.col("event_id") % 100).cast("string")),
        )
        .when(F.col("event_id") % 5 == 2, F.lit("?utm_campaign=x"))
        .otherwise(F.lit("")),
        F.when(F.col("event_id") % 7 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )


def _host_sql(url_expr: str = "url") -> str:
    """DuckDB mirror of functions/url.py registrable_host(parse_url):
    lowercased host, then the longest-PSL-suffix CASE over the same
    bundled rule lists (psl_snapshot.sql_in_list). regexp_extract of the
    last k labels returns '' when the host has fewer labels — coalesce
    falls back to the whole host, matching Spark substring_index."""
    from sprintz_spark.functions.psl_snapshot import (
        THREE_LABEL_SUFFIXES,
        TWO_LABEL_SUFFIXES,
        sql_in_list,
    )

    hl = f"lower(regexp_extract({url_expr}, '^https?://([^/?#]+)', 1))"
    last = lambda k: (  # noqa: E731
        "coalesce(nullif(regexp_extract("
        + hl
        + ", '("
        + r"[^.]+\." * (k - 1)
        + "[^.]+)$', 1), ''), "
        + hl
        + ")"
    )
    return f"""CASE
      WHEN {last(3)} IN ({sql_in_list(THREE_LABEL_SUFFIXES)}) THEN {last(4)}
      WHEN {last(2)} IN ({sql_in_list(TWO_LABEL_SUFFIXES)}) THEN {last(3)}
      ELSE {last(2)} END"""


def q_host_stats(spark, sf_dir):
    """Per-host crawl rollup — the first aggregate a crawl operator reads
    (politeness budgeting, per-site quota): registrable host (parse_url
    HOST, lowercased, www-stripped via functions/url.py), crawl count,
    distinct page count (URL sans query/fragment), and payload bytes.

    Plan at 100 TB: pure JVM string expressions into one hash aggregate
    on a host key whose cardinality is site-scale (millions, not
    trillions) — map-side combine collapses the per-partition skew of
    hot hosts before the shuffle, the same reason rollup_1m needs no
    salting for algebraic measures."""
    from sprintz_spark.functions.url import host_of, strip_query_fragment

    ev = _t(spark, sf_dir, "events").select(
        _synth_url().alias("url"), F.length("props").alias("nbytes")
    )
    return ev.select(
        host_of(F.col("url")).alias("host"),
        strip_query_fragment(F.col("url")).alias("page"),
        "nbytes",
    ).groupBy("host").agg(
        F.count(F.lit(1)).alias("n_crawls"),
        F.countDistinct("page").alias("n_pages"),
        F.sum("nbytes").alias("bytes_sum"),
    )


_HOST_STATS_SQL = f"""
WITH crawl AS (
  SELECT {_SYNTH_URL_SQL} AS url, length(props) AS nbytes FROM events
)
SELECT {_host_sql()} AS host,
       count(*) AS n_crawls,
       count(DISTINCT regexp_extract(url, '^[^?#]+', 0)) AS n_pages,
       CAST(sum(nbytes) AS BIGINT) AS bytes_sum
FROM crawl GROUP BY 1
"""


def q_url_normalize(spark, sf_dir):
    """Crawl-frontier URL canonicalization audit: per registrable host,
    how many distinct raw URLs collapse to how many canonical forms
    (functions/url.py canonicalize — lowercase scheme://host, drop
    fragment, strip utm_* params). dup_variants is the frontier-dedup
    win: re-crawls the canonical key saves. Two countDistincts on one
    host-keyed hash aggregate; host cardinality is site-scale."""
    from sprintz_spark.functions.url import canonicalize, host_of

    ev = _t(spark, sf_dir, "events").select(_synth_url().alias("url"))
    per_host = ev.select(
        host_of(F.col("url")).alias("host"),
        F.col("url"),
        canonicalize(F.col("url")).alias("canon"),
    )
    return per_host.groupBy("host").agg(
        F.countDistinct("url").alias("n_raw_urls"),
        F.countDistinct("canon").alias("n_canonical_urls"),
        (F.countDistinct("url") - F.countDistinct("canon")).alias("dup_variants"),
    )


_URL_NORMALIZE_SQL = f"""
WITH crawl AS (
  SELECT {_SYNTH_URL_SQL} AS url FROM events
), canon AS (
  SELECT url,
         {_host_sql()} AS host,
         lower(regexp_extract(u2, '^((?i:https?)://[^/?#]+)', 1))
           || substr(u2, length(regexp_extract(u2, '^((?i:https?)://[^/?#]+)', 1)) + 1)
           AS canon
  FROM (
    SELECT url,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(url, '#.*', '', 'g'),
                 '([?&])utm_[^&#]*(&utm_[^&#]*)*&', '\\1', 'g'),
               '[?&]utm_[^&#]*(&utm_[^&#]*)*$', '', 'g'),
             '[?&]$', '', 'g') AS u2
    FROM crawl
  )
)
SELECT host,
       count(DISTINCT url) AS n_raw_urls,
       count(DISTINCT canon) AS n_canonical_urls,
       count(DISTINCT url) - count(DISTINCT canon) AS dup_variants
FROM canon GROUP BY 1
"""


# --- revisit cadence profile (timeseries surface) -------------------------

def q_revisit_intervals(spark, sf_dir):
    """Per-series crawl-cadence profile: consecutive-event gaps in exact
    microseconds (lag window per user), aggregated to min/max/sum and the
    exact median (2x integer-median trick, as mad_anomalies/
    hourly_profile). This is the freshness signal a re-crawl scheduler
    reads: median revisit interval per url/series.

    Plan at 100 TB: the lag window partitions by series key — embarrassing
    parallelism, no global sort; the aggregate rides the same partitioning
    (one shuffle total)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = ev.withColumn("gap", F.col("us") - F.lag("us").over(w)).where(
        F.col("gap").isNotNull()
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_revisits"),
        F.min("gap").alias("gap_min_us"),
        F.max("gap").alias("gap_max_us"),
        F.sum("gap").alias("gap_sum_us"),
        F.median(F.col("gap") * 2).cast("long").alias("med2_gap_us"),
    )


_REVISIT_SQL = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
  FROM events
)
SELECT user_id, count(*) AS n_revisits,
       min(gap) AS gap_min_us, max(gap) AS gap_max_us,
       CAST(sum(gap) AS BIGINT) AS gap_sum_us,
       CAST(median(2 * gap) AS BIGINT) AS med2_gap_us
FROM g WHERE gap IS NOT NULL GROUP BY 1
"""


# --- token-budget shard packing (training-data surface) --------------------

_PACK_CAPACITY = 4096


def q_pack_shards(spark, sf_dir):
    """Fixed-token-budget shard assignment over the corpus (contiguous
    fill with spillover, doc_id order) and per-shard packing stats — the
    sharding step between curation and the dataloader. The running token
    total comes from operators/packing.global_prefix_sum, the two-phase
    distributed scan (per-bucket subtotals -> driver offsets -> bucketed
    windows), NOT a global single-task ORDER BY window; the oracle is the
    plain window cumsum DuckDB can afford at sf scale."""
    from sprintz_spark.operators.packing import pack_shards

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.trim(F.col("text")), " ")).alias("tokens")
    )
    return pack_shards(docs, _PACK_CAPACITY)


_PACK_SHARDS_SQL = f"""
WITH t AS (
  SELECT doc_id, len(string_split(trim(text), ' ')) AS tokens FROM documents
), c AS (
  SELECT doc_id, tokens,
         sum(tokens) OVER (ORDER BY doc_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM t
)
SELECT CAST(floor((cum - tokens) / {_PACK_CAPACITY}.0) AS BIGINT) AS shard_id,
       count(*) AS n_docs,
       CAST(sum(tokens) AS BIGINT) AS tokens_sum,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM c GROUP BY 1
"""


# --- snapshot-conflict compaction (newest-wins re-crawl merge) -------------

def _staged_conflict_store(spark, sf_dir) -> str:
    """Overlapping-snapshot tier store: s1 ingests the WHOLE month,
    s2 re-ingests a 4-day re-crawl window [Jan 10, Jan 14) in which every
    page's payload is 1000 bytes larger (a re-crawl that found bigger
    pages). compact_tiers([s1, s2]) must resolve every overlapping
    (url, bucket) point with the NEWEST snapshot's values (the max_by
    conflict rule, plans/retention.py compact_tiers docstring) — the
    backfill/re-crawl path the disjoint retention_lifecycle store never
    exercises. Tiers 1h/1d only (the conflict rule is format-independent;
    skipping the fat 1m tier keeps the staged cost bounded)."""
    import datetime as dt
    import tempfile

    from sprintz_spark.plans import retention as RT

    key = (spark, sf_dir, "conflict_store")
    cached = _SHARED_STAGE.get(key)
    if cached is not None:
        return cached
    lo, hi = dt.datetime(2024, 1, 10), dt.datetime(2024, 1, 14)
    # STAGING-ONLY cache of the events projection both synthetic
    # snapshots derive from (the two pages frames differ in their html
    # expression, so the cache sits below it) — same rationale as the
    # lifecycle store's pages cache: fixture staging, not engine caching.
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "value").cache()

    def pages(nbytes_sql):
        return ev.select(
            F.concat(
                F.lit("https://u"), F.col("user_id") % 10, F.lit(".example/")
            ).alias("url"),
            F.col("ts").cast("timestamp").alias("warc_ts"),
            F.expr(f"cast(repeat('x', cast({nbytes_sql} as int)) as binary)")
            .alias("html"),
        )

    base = "abs(cast(round(value*100, 0) as bigint)) % 997"
    s1 = pages(base)
    s2 = pages(f"{base} + 1000").where(
        (F.col("warc_ts") >= F.lit(lo)) & (F.col("warc_ts") < F.lit(hi))
    )
    out = _scratch_dir("snapshot_conflict_")
    # independent snapshot ingests overlapped from a 2-thread pool (guide
    # §2.6; manifest appends serialized by retention._MANIFEST_LOCK) —
    # same rationale as _staged_lifecycle_store
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        list(
            pool.map(
                lambda a: RT.run_retention(
                    a[1], out, snapshot_id=a[0], tiers=("1h", "1d"), n_buckets=4
                ),
                [("s1", s1), ("s2", s2)],
            )
        )
    RT.compact_tiers(
        spark, out, ["s1", "s2"], "c1", tiers=("1h", "1d"), n_buckets=4
    )
    ev.unpersist()
    _SHARED_STAGE[key] = out
    return out


def q_snapshot_conflict(spark, sf_dir):
    """Decoded read-back of the conflict store (see _staged_conflict_store):
    both tiers through read_tier_decoded must hash-equal DuckDB's direct
    rollup where the re-crawl window's byte sizes are the s2 values —
    proving compaction's newest-wins merge picked the re-crawl for every
    overlapping (url, bucket) and s1 everywhere else."""
    from sprintz_spark.plans import retention as RT

    out = _staged_conflict_store(spark, sf_dir)
    cols = ["url", "bucket", *RT.MEASURES]
    t1h = RT.read_tier_decoded(spark, out, "c1", "1h").select(
        F.lit("1h").alias("tier"), *cols
    )
    t1d = RT.read_tier_decoded(spark, out, "c1", "1d").select(
        F.lit("1d").alias("tier"), *cols
    )
    return t1h.unionByName(t1d)


_SNAPSHOT_CONFLICT_SQL = """
WITH pages AS (
  SELECT 'https://u' || (user_id % 10) || '.example/' AS url,
         ts AS warc_ts,
         CASE WHEN ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-14'
              THEN abs(CAST(ROUND(value*100, 0) AS BIGINT)) % 997 + 1000
              ELSE abs(CAST(ROUND(value*100, 0) AS BIGINT)) % 997 END AS nbytes
  FROM events
)
SELECT '1h' AS tier, url, date_trunc('hour', warc_ts) AS bucket,
       count(*) AS crawl_count,
       CAST(sum(nbytes) AS BIGINT) AS byte_size_sum,
       max(nbytes) AS byte_size_max,
       min(nbytes) AS byte_size_min
FROM pages GROUP BY 2, 3
UNION ALL
SELECT '1d' AS tier, url, date_trunc('day', warc_ts) AS bucket,
       count(*) AS crawl_count,
       CAST(sum(nbytes) AS BIGINT) AS byte_size_sum,
       max(nbytes) AS byte_size_max,
       min(nbytes) AS byte_size_min
FROM pages GROUP BY 2, 3
"""


def _hand_order() -> dict:
    """The registry in its hand-curated (insertion/tie-break) order;
    ``queries()`` reorders it by driver-verification staleness using the
    generated rotation file (scripts/gen_rotation.py) so the head-50 —
    the slice the external driver's correctness run covers — is always
    the least-recently-driver-verified set. Entries past the cap stay
    oracle-gated via scripts/strict_parity.py and pytest."""
    return {
        "rollup_1m": q_rollup_1m,
        "stream_rollup_1m": q_stream_rollup_1m,
        "stream_dedup_docs": q_stream_dedup_docs,
        "stream_sessionize": q_stream_sessionize,
        "stream_gap_alerts": q_stream_gap_alerts,
        "stream_m4": q_stream_m4,
        "retention_lifecycle": q_retention_lifecycle,
        "tier_query_pushdown": q_tier_query_pushdown,
        "tier_range_read": q_tier_range_read,
        "gopher_repetition": q_gopher_repetition,
        "time_weighted_avg": q_time_weighted_avg,
        "ohlc_1h": q_ohlc_1h,
        "state_agg": q_state_agg,
        "vocab_stats": q_vocab_stats,
        "curation_funnel": q_curation_funnel,
        "cohort_retention": q_cohort_retention,
        "funnel_conversion": q_funnel_conversion,
        "rolling_active_users": q_rolling_active_users,
        "mad_anomalies": q_mad_anomalies,
        "hourly_profile": q_hourly_profile,
        "distinctive_terms": q_distinctive_terms,
        "containment_dups": q_containment_dups,
        "booldelta_roundtrip": q_booldelta_roundtrip,
        "rollup_1h_cascade": q_rollup_1h_cascade,
        "rollup_1d_salted": q_rollup_1d_salted,
        "gapfill_locf_1h": q_gapfill_locf_1h,
        "gapfill_linear_1h": q_gapfill_linear_1h,
        "topk_heavy_users": q_topk_heavy_users,
        "hash_sample": q_hash_sample,
        "image_features": q_image_features,
        "frame_sample": q_frame_sample,
        "image_resize": q_image_resize,
        "audio_stats": q_audio_stats,
        "codec_search_stats": q_codec_search_stats,
        "winnow_fingerprints": q_winnow_fingerprints,
        "top_docs_per_lang": q_top_docs_per_lang,
        "stratified_sample": q_stratified_sample,
        "asof_forward": q_asof_forward,
        "value_histogram": q_value_histogram,
        "interval_coverage": q_interval_coverage,
        "gap_report": q_gap_report,
        "lttb_downsample": q_lttb_downsample,
        "winnow_pairs": q_winnow_pairs,
        "incremental_rollup": q_incremental_rollup,
        "sprintz_roundtrip": q_sprintz_roundtrip,
        "container_roundtrip": q_container_roundtrip,
        "huffman_roundtrip": q_huffman_roundtrip,
        "codec_search_roundtrip": q_codec_search_roundtrip,
        "query_on_compressed": q_query_on_compressed,
        "squeeze_report": q_squeeze_report,
        "rollup_grouping_sets": q_rollup_grouping_sets,
        "text_extract_verified": q_text_extract_verified,
        "pricing_summary": q_pricing_summary,
        "shipping_priority": q_shipping_priority,
        "local_supplier_volume": q_local_supplier_volume,
        "dedup_wordset": q_dedup_wordset,
        "token_stats": q_token_stats,
        "exact_dup_docs": q_exact_dup_docs,
        "normalized_dup_docs": q_normalized_dup_docs,
        "fingerprint_dups": q_fingerprint_dups,
        "ann_topk": q_ann_topk,
        "ivf_kmeans_topk": q_ivf_kmeans_topk,
        "asof_join": q_asof_join,
        "asof_tolerance": q_asof_tolerance,
        "sessionize": q_sessionize,
        "range_join_concurrency": q_range_join_concurrency,
        "value_percentiles": q_value_percentiles,
        "minhash_near_dup": q_minhash_near_dup,
        "simhash_buckets": q_simhash_buckets,
        "lang_quality": q_lang_quality,
        "quality_stats": q_quality_stats,
        "ngram_jaccard_verified": q_ngram_jaccard_verified,
        "embedding_near_dup": q_embedding_near_dup,
        "ivf_topk": q_ivf_topk,
        "pq_topk": q_pq_topk,
        "ivfpq_topk": q_ivfpq_topk,
        "ivfpq_refined_topk": q_ivfpq_refined_topk,
        "hll_users": q_hll_users,
        "cms_user_counts": q_cms_user_counts,
        "bloom_purchasers": q_bloom_purchasers,
        "m4_downsample": q_m4_downsample,
        "counter_rate": q_counter_rate,
        "zscore_anomalies": q_zscore_anomalies,
        "dedup_clusters": q_dedup_clusters,
        "cluster_representatives": q_cluster_representatives,
        "large_orders": q_large_orders,
        "priority_fulfilment": q_priority_fulfilment,
        "returned_items": q_returned_items,
        "shipmode_priority": q_shipmode_priority,
        "top_ngrams": q_top_ngrams,
        "hash_split": q_hash_split,
        "gorilla_roundtrip": q_gorilla_roundtrip,
        "quantize_roundtrip": q_quantize_roundtrip,
        "colsum_predictor": q_colsum_predictor,
        "colsum_weighted": q_colsum_weighted,
        "host_stats": q_host_stats,
        "url_normalize": q_url_normalize,
        "revisit_intervals": q_revisit_intervals,
        "pack_shards": q_pack_shards,
        "snapshot_conflict": q_snapshot_conflict,
    }


def queries() -> dict:
    """Registry in rotation order: least-recently-driver-verified first
    (see _hand_order / scripts/gen_rotation.py). Names not yet in the
    generated file — queries added after the last regeneration — go
    first: they are never-driver-verified by definition. Falls back to
    the hand order when the rotation file is absent (e.g. the package
    zip on an executor, where queries() is never called anyway)."""
    import json as _json
    import os as _os

    reg = _hand_order()
    path = _os.path.join(_os.path.dirname(_os.path.abspath(__file__)),
                         "registry_order.json")
    try:
        with open(path) as f:
            order = _json.load(f)["order"]
    except (OSError, ValueError, KeyError):
        return reg
    ranked = [n for n in order if n in reg]
    new = [n for n in reg if n not in set(ranked)]
    return {n: reg[n] for n in (*new, *ranked)}


def oracles() -> dict:
    return {
        "rollup_1m": _ROLLUP_SQL.format(unit="minute", cents=_CENTS_SQL),
        # streamed buckets must equal the batch derivation bit-for-bit:
        # the streaming query shares the batch rollup's oracle verbatim
        "stream_rollup_1m": _ROLLUP_SQL.format(unit="minute", cents=_CENTS_SQL),
        "stream_dedup_docs": _STREAM_DEDUP_DOCS_SQL,
        "stream_sessionize": _STREAM_SESSIONIZE_SQL,
        "stream_gap_alerts": _STREAM_GAP_ALERTS_SQL,
        "stream_m4": _STREAM_M4_SQL,
        "retention_lifecycle": _RETENTION_LIFECYCLE_SQL,
        "tier_query_pushdown": _TIER_QUERY_SQL,
        "tier_range_read": _TIER_RANGE_SQL,
        "gopher_repetition": _GOPHER_REP_SQL,
        "time_weighted_avg": _TIME_WEIGHTED_SQL,
        "ohlc_1h": _OHLC_SQL,
        "state_agg": _STATE_AGG_SQL,
        "vocab_stats": _VOCAB_STATS_SQL,
        "curation_funnel": _curation_funnel_sql(),
        "cohort_retention": _COHORT_RETENTION_SQL,
        "funnel_conversion": _FUNNEL_SQL,
        "rolling_active_users": _ROLLING_ACTIVE_SQL,
        "mad_anomalies": _MAD_SQL,
        "hourly_profile": _HOURLY_PROFILE_SQL,
        "distinctive_terms": _DISTINCTIVE_SQL,
        "containment_dups": _CONTAINMENT_SQL,
        "booldelta_roundtrip": _BOOLDELTA_SQL,
        "rollup_1h_cascade": _ROLLUP_SQL.format(unit="hour", cents=_CENTS_SQL),
        "rollup_1d_salted": _ROLLUP_SQL.format(unit="day", cents=_CENTS_SQL),
        "gapfill_locf_1h": _GAPFILL_LOCF_SQL,
        "gapfill_linear_1h": _GAPFILL_LINEAR_SQL,
        "topk_heavy_users": _TOPK_SQL,
        "sprintz_roundtrip": _ROUNDTRIP_SQL,
        "container_roundtrip": _ROUNDTRIP_SQL,
        "huffman_roundtrip": _ROUNDTRIP_SQL,
        "codec_search_roundtrip": _ROUNDTRIP_SQL,
        "query_on_compressed": _QOC_SQL,
        "gorilla_roundtrip": _GORILLA_SQL,
        "quantize_roundtrip": _QUANTIZE_SQL,
        "colsum_predictor": _COLSUM_SQL,
        "colsum_weighted": _COLSUM_SQL,
        "squeeze_report": _SQUEEZE_SQL,
        "rollup_grouping_sets": _GROUPING_SQL,
        "pricing_summary": _PRICING_SQL,
        "shipping_priority": _Q3_SQL,
        "local_supplier_volume": _Q5_SQL,
        "dedup_wordset": _DEDUP_WORDSET_SQL,
        "token_stats": _TOKEN_STATS_SQL,
        "exact_dup_docs": _EXACT_DUP_SQL,
        "normalized_dup_docs": _NORM_DUP_SQL,
        "fingerprint_dups": _FINGERPRINT_SQL,
        "ann_topk": _ANN_SQL,
        "ivf_kmeans_topk": _ANN_SQL,
        "asof_join": _ASOF_SQL,
        "asof_tolerance": _ASOF_TOL_SQL,
        "sessionize": _SESSION_SQL,
        "range_join_concurrency": _RANGE_JOIN_SQL,
        "value_percentiles": _PERCENTILE_SQL,
        "ngram_jaccard_verified": _NGRAM_JACCARD_SQL,
        "quality_stats": _quality_sql(),
        "lang_quality": _lang_quality_sql(),
        "simhash_buckets": _simhash_sql(),
        "embedding_near_dup": _EMB_NEAR_DUP_SQL,
        "minhash_near_dup": _minhash_sql(),
        "image_features": _IMAGE_FEATURES_SQL,
        "frame_sample": _FRAME_SAMPLE_SQL,
        "image_resize": _IMAGE_RESIZE_SQL,
        "audio_stats": _AUDIO_STATS_SQL,
        "text_extract_verified": _TEXT_EXTRACT_SQL,
        "ivf_topk": _IVF_RECALL_SQL,
        "pq_topk": _IVF_RECALL_SQL,
        "ivfpq_topk": _IVF_RECALL_SQL,
        "ivfpq_refined_topk": _IVF_RECALL50_SQL,
        "hll_users": _hll_sql(),
        "cms_user_counts": _CMS_SQL,
        "bloom_purchasers": _BLOOM_SQL,
        "m4_downsample": _M4_SQL,
        "counter_rate": _COUNTER_RATE_SQL,
        "zscore_anomalies": _ZSCORE_SQL,
        "dedup_clusters": _DEDUP_CLUSTERS_SQL,
        "cluster_representatives": _cluster_reps_sql(),
        "large_orders": _Q18_SQL,
        "priority_fulfilment": _Q4_SQL,
        "returned_items": _Q10_SQL,
        "shipmode_priority": _Q12_SQL,
        "top_ngrams": _TOP_NGRAMS_SQL,
        "hash_split": _HASH_SPLIT_SQL,
        "hash_sample": _HASH_SAMPLE_SQL,
        "codec_search_stats": _CODEC_SEARCH_STATS_SQL,
        "winnow_fingerprints": _WINNOW_SQL,
        "top_docs_per_lang": _TOP_DOCS_SQL,
        "stratified_sample": _STRAT_SAMPLE_SQL,
        "asof_forward": _ASOF_FWD_SQL,
        "value_histogram": _HISTOGRAM_SQL,
        "interval_coverage": _INTERVAL_COVERAGE_SQL,
        "gap_report": _GAP_REPORT_SQL,
        "lttb_downsample": _LTTB_SQL,
        "winnow_pairs": _WINNOW_PAIRS_SQL,
        "incremental_rollup": _INCREMENTAL_SQL,
        "host_stats": _HOST_STATS_SQL,
        "url_normalize": _URL_NORMALIZE_SQL,
        "revisit_intervals": _REVISIT_SQL,
        "pack_shards": _PACK_SHARDS_SQL,
        "snapshot_conflict": _SNAPSHOT_CONFLICT_SQL,
    }
