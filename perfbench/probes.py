"""Layer probes of the traced run, taken after the timed loop.

* codecs: single-threaded kernel calls on the blobs the workload wrote.
* operators.encode / operators.rollup: the operator into a ``noop``
  sink, beside an identity pandas UDF over the same input (the Arrow /
  Python boundary cost on its own).
* plans.retention: an expire_tier of the probe snapshot, and one range
  read, where the workload's own loop had none.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from checks import MEASURES

# Paper figures (BASELINE.md, results.tex:146-191), in MB/s.  The paper
# measures C kernels on 100M-value synthetic inputs; ours are numpy
# kernels on the small tier blobs the workload wrote.
PAPER_MBPS = [
    ("codecs.decode_MBps", 2000.0, "decode, 'multiple GB/s' (read as 2 GB/s)"),
    ("codecs.decode_MBps", 6000.0, "FIRE transform decode, 6 GB/s"),
    ("codecs.encode_MBps", 200.0, "8-bit encode, highest-ratio setting, >200 MB/s"),
    ("codecs.encode_MBps", 600.0, "8-bit encode, fastest setting, ~600 MB/s"),
    ("codecs.encode_MBps", 5000.0, "FIRE transform encode, 5 GB/s"),
    ("codecs.query_MBps", 2000.0, "query needs at most a decode: 'multiple GB/s'"),
]
REPS = 3


def _best_of(fn, min_s: float = 0.2) -> float:
    """Median seconds of fn() over REPS runs, each repeated until it has
    taken at least ``min_s`` (small stores give sub-millisecond calls)."""
    times = []
    for _ in range(REPS):
        n, t0 = 0, time.perf_counter()
        while True:
            fn()
            n += 1
            if time.perf_counter() - t0 >= min_s:
                break
        times.append((time.perf_counter() - t0) / n)
    return statistics.median(times)


def codec_probe(bench, sid: str) -> tuple[dict, int]:
    """codecs.* on the probe snapshot's blobs.  Returns (metrics,
    number of blobs whose re-encode differed from the stored bytes)."""
    from sprintz_spark.codecs import sprintz as sz

    blobs = {}
    for tier in ("1m", "1h", "1d"):
        t = pq.read_table(bench.enc_path(sid, tier),
                          columns=["ts_blob"] + [f"blob_{c}" for c in MEASURES])
        blobs[tier] = [(c, b) for c in t.column_names
                       for b in t.column(c).to_pylist()]
    all_blobs = [b for tier in blobs.values() for _c, b in tier]
    decoded = [sz.decode_container(b) for b in all_blobs]
    raw = sum(v.size * 8 for v, _ns in decoded)
    dec_s = _best_of(lambda: [sz.decode_container(b) for b in all_blobs])

    value_blobs = [b for tier in ("1m", "1h") for c, b in blobs[tier] if c != "ts_blob"]
    q_raw = sum(sz.decode_container(b)[0].size * 8 for b in value_blobs)
    q_s = _best_of(lambda: [sz.query_container_partials(b) for b in value_blobs])

    modes = [("doubledelta" if c == "ts_blob" else "auto")
             for tier in blobs.values() for c, _b in tier]
    series = [(v.view(np.int64), ns, m) for (v, ns), m in zip(decoded, modes)]

    def encode_all():
        return [sz.encode_container(v, ns, m) for v, ns, m in series]

    mismatches = sum(a != b for a, b in zip(encode_all(), all_blobs))
    enc_s = _best_of(encode_all)
    man = bench.manifest()
    ratios = {}
    for tier in ("1m", "1h", "1d"):
        m = man[man["tier"] == tier]
        ratios[f"codecs.ratio_{tier}"] = float(m["raw_bytes"].sum() / m["comp_bytes"].sum())
    return {
        "codecs.encode_MBps": raw / 1e6 / enc_s,
        "codecs.decode_MBps": raw / 1e6 / dec_s,
        "codecs.query_MBps": q_raw / 1e6 / q_s,
        **ratios,
    }, mismatches


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def operator_probe(bench, sid: str, pages_path: str, work: str) -> dict:
    """operators.encode and operators.rollup against their boundary."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sprintz_spark.operators import rollup as R
    from sprintz_spark.operators.encode import (decode_series_container,
                                                encode_series_container)

    spark = bench.spark
    series_path = os.path.join(work, "probe_series_1m")
    if not os.path.exists(series_path):
        spark.createDataFrame(bench.refs[sid]["1m"]).withColumn(
            "part", F.pmod(F.xxhash64("url"), F.lit(8)).cast("int")
        ).write.parquet(series_path)
    series = spark.read.parquet(series_path)
    n_parts = spark.sparkContext.defaultParallelism * 2
    enc = spark.read.parquet(bench.enc_path(sid, "1m"))
    pages = spark.read.parquet(pages_path)

    def identity(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf

    def identity_iter(it):
        yield from it

    cases = {
        "encode.op_s": lambda: _noop(encode_series_container(
            series, key_cols=["url"], part_col="part", value_cols=MEASURES,
            n_parts=n_parts)),
        "encode.boundary_s": lambda: _noop(
            series.repartition(n_parts, "part").groupBy("part")
            .applyInPandas(identity, series.schema)),
        "decode.op_s": lambda: _noop(decode_series_container(
            enc, key_cols=["url"], value_cols=MEASURES)),
        "decode.boundary_s": lambda: _noop(enc.mapInPandas(identity_iter, enc.schema)),
        "rollup.derive_s": lambda: [_noop(df) for df in R.rollup_tiers(pages).values()],
    }
    times = {k: [] for k in cases}
    for rep in range(REPS + 1):  # the first round warms each plan
        for name, fn in cases.items():
            bench.sc.setJobGroup(f"probe-{name}", name)
            t0 = time.perf_counter()
            fn()
            if rep:
                times[name].append(time.perf_counter() - t0)
    return {k: statistics.median(v) for k, v in times.items()}


def paper_table(metrics: dict) -> list[dict]:
    return [
        {"metric": name, "ours_MBps": round(metrics[name], 2),
         "paper_MBps": paper, "paper": what,
         "paper_over_ours": round(paper / metrics[name], 1)}
        for name, paper, what in PAPER_MBPS
    ]
