"""The fused single-shuffle job must produce bit-identical tier values to
the modular retention plan, for both codec settings."""

import numpy as np
import pandas as pd
import pytest

from sprintz_spark.codecs import sprintz as sz
from sprintz_spark.operators import rollup as R
from sprintz_spark.plans.jobs import decode_fused_tier, fused_rollup_encode


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


@pytest.mark.parametrize("codec", ["auto", "fire"])
def test_fused_equals_modular(spark, pages_small, codec):
    enc = fused_rollup_encode(pages_small, codec=codec, n_parts=4).cache()
    tiers = R.rollup_tiers(pages_small)
    for tier in ("1m", "1h", "1d"):
        got = (
            decode_fused_tier(enc, tier)
            .toPandas()
            .sort_values(["url", "bucket"])
            .reset_index(drop=True)
        )
        want = (
            tiers[tier].toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(want[got.columns], got)
    enc.unpersist()


def test_silver_path_matches_bronze(spark, pages_small, tmp_path):
    """ingest_silver + fused on the bucketed silver table must produce
    tier values bit-identical to the bronze (raw-html) path, and the
    silver text_hash must equal xxhash64(text) per row."""
    from pyspark.sql import functions as F

    from sprintz_spark.plans.jobs import ingest_silver, register_silver

    ingest_silver(
        pages_small, str(tmp_path / "silver"), table="silver_test", n_parts=32, n_buckets=8
    )
    silver = register_silver(spark, str(tmp_path / "silver"), "silver_test", n_buckets=8)
    n_bad = (
        silver.select("url", "warc_ts", "text_hash")
        .join(
            pages_small.select(
                "url", "warc_ts", F.xxhash64("text").alias("want_hash")
            ),
            ["url", "warc_ts"],
        )
        .where(F.col("text_hash") != F.col("want_hash"))
        .count()
    )
    assert n_bad == 0
    enc = fused_rollup_encode(silver, codec="fire").cache()
    tiers = R.rollup_tiers(pages_small)
    for tier in ("1m", "1h", "1d"):
        got = (
            decode_fused_tier(enc, tier)
            .toPandas()
            .sort_values(["url", "bucket"])
            .reset_index(drop=True)
        )
        want = (
            tiers[tier].toPandas().sort_values(["url", "bucket"]).reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(want[got.columns], got)
    enc.unpersist()
    # round-7 (ADVICE): silver input + shuffle_ids must fail loudly up
    # front (the UDF would KeyError on the absent url_id mid-job)
    with pytest.raises(ValueError, match="shuffle_ids"):
        fused_rollup_encode(silver, shuffle_ids=True)
    spark.sql("DROP TABLE IF EXISTS silver_test")


def test_fused_fire_actually_uses_fire(spark, pages_small):
    import json

    enc = fused_rollup_encode(pages_small, codec="fire", n_parts=4)
    metas = [json.loads(r["meta"]) for r in enc.limit(50).collect()]
    fire_cols = sum(
        1 for m in metas for c, v in m.items() if c != "ts" and v.get("mode") == "fire"
    )
    assert fire_cols > 0


def test_fused_tiers_independent_of_session_zone(spark):
    """The fused job buckets UTC epoch micros: nine half-hour crawls from
    2024-11-03 04:00Z (New York's repeated 01:00-01:59 local hour inside)
    give 9 one-minute and 5 one-hour buckets with the same instants and
    counts under America/New_York as under UTC."""
    from pyspark.sql import functions as F

    t0 = int(pd.Timestamp("2024-11-03 04:00", tz="UTC").value // 1000)
    pages = spark.range(9).select(
        F.lit("u").alias("url"),
        F.timestamp_micros(F.lit(t0) + F.col("id") * 1_800_000_000).alias("warc_ts"),
        F.repeat(F.lit("x"), (F.col("id") + 1).cast("int")).alias("html"),
    )

    def tiers():
        enc = fused_rollup_encode(pages, n_parts=2)
        return {
            tier: decode_fused_tier(enc, tier)
            .select(F.unix_micros("bucket").alias("us"), "crawl_count", "byte_size_sum")
            .toPandas().sort_values("us").reset_index(drop=True)
            for tier in ("1m", "1h")
        }

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny = tiers()
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = tiers()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
    assert [len(utc["1m"]), len(utc["1h"])] == [9, 5]
    assert (utc["1m"].us.to_numpy() == t0 + np.arange(9) * 1_800_000_000).all()
    assert utc["1h"].crawl_count.tolist() == [2, 2, 2, 2, 1]
    for tier in ("1m", "1h"):
        pd.testing.assert_frame_equal(ny[tier], utc[tier])


def test_verify_encoded_checks_crc_and_length(spark, pages_small):
    """A clean fused store verifies every column of every chunk (the ts
    and four measure crcs); a tampered crc or row count fails the job
    with CorruptBlobError."""
    from pyspark.sql import functions as F

    from sprintz_spark.plans.jobs import verify_encoded

    enc = fused_rollup_encode(pages_small, n_parts=4).cache()
    got = verify_encoded(enc).toPandas()
    assert got.n_chunks.sum() == enc.count()
    assert (got.n_cols_checked == 5 * got.n_chunks).all()
    bad = {
        "meta": F.regexp_replace("meta", r'"crc": \{"ts": \d+', '"crc": {"ts": 1'),
        "n": F.col("n") + 1,
    }
    for col, expr in bad.items():
        with pytest.raises(Exception, match="CorruptBlobError"):
            verify_encoded(enc.withColumn(col, expr)).collect()
    enc.unpersist()
