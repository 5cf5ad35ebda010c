"""Per-url series derivation + tiered continuous aggregates (1m/1h/1d).

The reference has no relational layer (SURVEY.md §2.6); these operators are
the Spark-native half of the engine demanded by BASELINE.json's north_rule:
derive per-url crawl-frequency and byte-size time series from warc_ts, then
cascade tumbling-window rollups 1m → 1h → 1d.

Scale design:
  * Derivation is a single groupBy((url, date_trunc(bucket))) — one shuffle;
    Catalyst runs partial (map-side) aggregation first, so the shuffle
    carries pre-combined (url, bucket) partials, not raw pages.
  * Tier cascade re-aggregates the *finer tier*, never the raw table:
    1h reads 1m output (60x smaller), 1d reads 1h. All measures are
    algebraic (count-sum / sum-sum / max-max) and integer-typed, so every
    tier is bit-exact regardless of partitioning or combine order.
  * Skew: a hot url (crawled millions of times) inflates one group. The
    salted path splits each group into `n_salts` sub-groups keyed by a
    deterministic row hash, aggregates partials, then combines — two small
    shuffles instead of one skewed one. AQE skew handling stays on as
    backup for joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TIERS = {"1m": "minute", "1h": "hour", "1d": "day"}
_MEASURES = ["crawl_count", "byte_size_sum", "byte_size_max", "byte_size_min"]


def derive_series(pages: DataFrame, tier: str = "1m") -> DataFrame:
    """pages(url, warc_ts, html, ...) -> per-url tumbling-window series.

    Output: (url, bucket, crawl_count, byte_size_sum, byte_size_max,
    byte_size_min) — all measures integral for bit-exact cascading.
    """
    unit = TIERS[tier]
    return (
        pages.select("url", "warc_ts", F.length("html").cast("long").alias("nbytes"))
        .groupBy("url", F.date_trunc(unit, "warc_ts").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("crawl_count"),
            F.sum("nbytes").alias("byte_size_sum"),
            F.max("nbytes").alias("byte_size_max"),
            F.min("nbytes").alias("byte_size_min"),
        )
    )


def cascade(finer: DataFrame, tier: str) -> DataFrame:
    """Roll a finer tier up to ``tier`` (algebraic re-aggregation only)."""
    unit = TIERS[tier]
    return (
        finer.groupBy("url", F.date_trunc(unit, "bucket").alias("bucket"))
        .agg(
            F.sum("crawl_count").alias("crawl_count"),
            F.sum("byte_size_sum").alias("byte_size_sum"),
            F.max("byte_size_max").alias("byte_size_max"),
            F.min("byte_size_min").alias("byte_size_min"),
        )
    )


def rollup_tiers(pages: DataFrame) -> dict[str, DataFrame]:
    """Full cascade: raw -> 1m -> 1h -> 1d."""
    t1m = derive_series(pages, "1m")
    t1h = cascade(t1m, "1h")
    t1d = cascade(t1h, "1d")
    return {"1m": t1m, "1h": t1h, "1d": t1d}


def derive_series_salted(pages: DataFrame, tier: str = "1m", n_salts: int = 8) -> DataFrame:
    """Skew-safe two-phase derivation: identical result to derive_series.

    Phase 1 groups by (url, bucket, salt) where salt is a deterministic
    hash of the row's timestamp — a hot (url, bucket) group is split
    across ``n_salts`` reducers. Phase 2 combines partials. Measures are
    algebraic so the result is bit-exact vs the unsalted path.
    """
    unit = TIERS[tier]
    phase1 = (
        pages.select(
            "url",
            F.date_trunc(unit, "warc_ts").alias("bucket"),
            F.length("html").cast("long").alias("nbytes"),
            F.pmod(F.xxhash64("warc_ts", F.lit(7)), F.lit(n_salts)).alias("salt"),
        )
        .groupBy("url", "bucket", "salt")
        .agg(
            F.count(F.lit(1)).alias("crawl_count"),
            F.sum("nbytes").alias("byte_size_sum"),
            F.max("nbytes").alias("byte_size_max"),
            F.min("nbytes").alias("byte_size_min"),
        )
    )
    return phase1.groupBy("url", "bucket").agg(
        F.sum("crawl_count").alias("crawl_count"),
        F.sum("byte_size_sum").alias("byte_size_sum"),
        F.max("byte_size_max").alias("byte_size_max"),
        F.min("byte_size_min").alias("byte_size_min"),
    )

