"""Seeded crawl-page slices, generated once per run in one Spark job.

Slice ``i`` of workload seed ``s`` is ``generate_pages(rows, seed=s*1000+i)``.
Every slice covers the same url set and hourly crawl schedule (both are a
function of ``rows`` only); the seed moves the ~20% missing slots and the
+-5 minute crawl jitter.  Successive slices therefore overlap on
(url, bucket) points the way re-crawls of one corpus do, which is what
the newest-wins rule of compaction resolves.

Slices are written to parquet before set-up starts and every operation
reads them from there.  They are not kept across runs: the generating
job is the session's first Python-UDF job and pays its cold start, so a
cache hit would move that cost into the measured set-up.
"""

from __future__ import annotations

import os
import time

import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq

from checks import tier_refs


def slice_seed(seed: int, i: int) -> int:
    return seed * 1000 + i


def write_slices(spark, out: str, seed: int, rows: int, count: int) -> dict:
    """Write ``count`` slices under ``out`` in one job.  Returns
    {"paths": [...], "gen_s": wall seconds}."""
    from pyspark.sql import functions as F

    from sprintz_spark.sources.pages import generate_pages

    t0 = time.perf_counter()
    union = None
    for i in range(count):
        df = generate_pages(spark, rows, seed=slice_seed(seed, i)).withColumn(
            "slice", F.lit(i))
        union = df if union is None else union.unionByName(df)
    union.write.partitionBy("slice").parquet(out)
    return {"paths": [os.path.join(out, f"slice={i}") for i in range(count)],
            "gen_s": time.perf_counter() - t0}


def load_reference(path: str) -> tuple[int, dict[str, pd.DataFrame]]:
    """(page rows, {tier: uncompressed series rows}) for one slice."""
    t = pq.read_table(path, columns=["url", "warc_ts", "html"])
    ts = t.column("warc_ts").to_pandas()
    if ts.dt.tz is not None:
        ts = ts.dt.tz_convert(None)
    pages = pd.DataFrame({
        "url": t.column("url").to_pandas(),
        "warc_ts": ts.astype("datetime64[us]"),
        "nbytes": pc.binary_length(t.column("html")).to_numpy().astype("int64"),
    })
    return len(pages), tier_refs(pages)
