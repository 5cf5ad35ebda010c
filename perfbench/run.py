#!/usr/bin/env python3
"""Retention-store benchmark for sprintz_spark.

    python3 perfbench/run.py --workload {ingest,query,lifecycle} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  One workload per process: a fresh Spark
session on ``local[nproc]``, one client in a closed loop over the public
calls of ``sprintz_spark.plans.retention``, every answer checked against
pandas references built from the uncompressed input.  The last stdout
line is the result JSON (end-to-end metrics with ``--trace 0``, per-layer
metrics with ``--trace 1``); the line before it carries the environment,
per-operation-type figures and, when traced, the paper comparison.
Exit status is 0 only when every operation returned the right answer.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# crawl pages per slice
ROWS = {"ingest": 10_000, "query": 40_000, "lifecycle": 10_000}


def _package_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "sprintz_spark", "plans", "retention.py"))


def _pin_environment(work: str, nproc: int, traced: bool) -> dict:
    """Environment for the session: cores from nproc, every temporary
    file inside ``work``.  Must run before pyspark is imported.  The JVM
    keeps ``get_spark``'s heap and JIT; ``-XX:-UsePerfData`` only stops
    it from writing its monitoring file under /tmp."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    extra = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        })
    return extra


def _environment(nproc: int, seed: int) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        git_sha = sha.stdout.strip() if sha.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        git_sha = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "sprintz_spark")
    for dirpath, _dirs, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    h.update(name.encode() + f.read())
    return {
        "nproc": nproc, "seed": seed, "git_sha": git_sha,
        "source_sha256": h.hexdigest()[:16],
        "python": sys.version.split()[0], "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "numpy": numpy.__version__,
        "pandas": pandas.__version__,
    }


def end_to_end(b, setup_s: float, store: str) -> dict:
    """Metric -> (value, unit).  A unit of work is one ingest (ingest),
    one read (query) or one maintenance period (lifecycle)."""
    from tracing import dir_bytes

    units = b.ledger.unit_secs()
    raw = b.manifest()["raw_bytes"].sum()
    return {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(units) if units else float("nan"), "s"),
        "disk_bytes_per_raw_byte": (dir_bytes(store) / raw, "ratio"),
    }


def named(b, e2e: dict, peak_rss_mb: float) -> dict:
    """Every end-to-end figure under its per-operation-type name, with its
    unit and sample count; ``value`` is null where the workload runs no
    such operation, or (tails) has fewer than 11 samples of it."""
    def entry(value, unit, **more):
        return {"value": value, "unit": unit, **more}

    out = {"setup_s": entry(e2e["setup_s"][0], "s")}
    ing = b.ledger.timed("ingest")
    out["ingest_rows_per_s"] = entry(
        sum(o["rows"] for o in ing) / sum(o["secs"] for o in ing) if ing else None,
        "1/s", n=len(ing))
    for kind in ("ingest", "agg", "range", "scan", "compact"):
        lat = b.ledger.latency(kind)
        out[f"{kind}_p50_s"] = entry(lat["p50_s"], "s", n=lat["n"])
        if kind in ("agg", "range", "scan"):
            out[f"{kind}_tail_s"] = entry(lat["tail_s"], "s", n=lat["n"],
                                          pct=lat["tail_pct"])
    out["disk_bytes_per_raw_byte"] = entry(e2e["disk_bytes_per_raw_byte"][0], "ratio")
    out["failed_op_frac"] = entry(b.ledger.failed / b.ledger.attempted, "frac",
                                  n=b.ledger.attempted)
    out["peak_rss_mb"] = entry(peak_rss_mb, "MB")
    return out


def per_layer(b, nproc: int, events: dict, probe: dict) -> tuple[dict, dict]:
    """Per-layer metrics over the timed operations, and the same split by
    operation type for the info line."""
    from tracing import uncovered_s

    def layer(ops):
        wall = sum(o["secs"] for o in ops) or float("nan")
        g = [events.get(o["gid"]) or {} for o in ops]
        n = len(ops) or float("nan")
        task = sum(x.get("task_s", 0.0) for x in g)
        return {
            "retention.jobs_per_op": sum(o["jobs"] for o in ops) / n,
            "retention.driver_s": sum(uncovered_s(o["start"], o["end"], x.get("jobs", []))
                                      for o, x in zip(ops, g)) / n,
            "spark.task_s": task / n,
            "spark.idle_core_frac": 1 - task / (nproc * wall),
            "spark.scan_bytes": sum(x.get("scan_bytes", 0) for x in g) / n,
            "spark.shuffle_bytes": sum(x.get("shuffle_bytes", 0) for x in g) / n,
            "spark.write_bytes": sum(x.get("write_bytes", 0) for x in g) / n,
            "spark.files_written": sum(o["files_written"] for o in ops) / n,
        }

    ok = {i for i, op in enumerate(b.ledger.ops) if op["ok"]}
    traced = [o for o in b.trace_ops if int(o["gid"][2:]) in ok]
    timed = [o for o in traced if o["timed"]]
    metrics = layer(timed)
    by_type = {k: layer([o for o in timed if o["kind"] == k])
               for k in sorted({o["kind"] for o in timed})}
    # expiry and range figures: the workload's own operations where it
    # ran them, else the probes'
    exp = [o for o in traced if o["kind"] == "expire"]
    exp = [o for o in exp if o["timed"]] or exp
    metrics["retention.expire_s"] = statistics.mean(o["secs"] for o in exp)
    metrics["retention.rewrite_bytes_per_raw_byte"] = (
        sum((events.get(o["gid"]) or {}).get("write_bytes", 0) for o in exp)
        / sum(o["tier_raw_bytes"] for o in exp))
    rng = [o for o in traced if o["kind"] == "range"]
    rng = [o for o in rng if o["timed"]] or rng
    read_rows = {i: op["rows"] for i, op in enumerate(b.ledger.ops)}
    metrics["range.chunks_read_frac"] = (sum(o["chunks_read"] for o in rng)
                                         / sum(o["chunks"] for o in rng))
    metrics["range.rows_decoded_per_row_returned"] = (
        sum(o["dec_rows"] for o in rng)
        / max(1, sum(read_rows[int(o["gid"][2:])] for o in rng)))
    metrics.update(probe)
    return metrics, by_type


RAW_ROW_BYTES = 40  # int64 bucket + 4 int64 measures, as the manifest counts


def layer_work(b, events: dict) -> dict:
    """How much work each layer did over the timed loop: MB through the
    encode, decode and query kernels (raw bytes, as the manifest counts
    them), pages rolled up, and driver seconds outside any job."""
    from tracing import uncovered_s

    ops = [o for o in b.trace_ops if o["timed"]]
    return {
        "encode_MB": sum(o.get("enc_rows", 0) for o in ops) * RAW_ROW_BYTES / 1e6,
        "decode_MB": sum(o.get("dec_rows", 0) for o in ops) * RAW_ROW_BYTES / 1e6,
        "query_MB": sum(o.get("qry_rows", 0) for o in ops) * 16 / 1e6,
        "rollup_pages": sum(o.get("rollup_pages", 0) for o in ops),
        "driver_s": sum(uncovered_s(o["start"], o["end"],
                                    (events.get(o["gid"]) or {}).get("jobs", []))
                        for o in ops),
        "loop_s": sum(o["secs"] for o in ops),
    }


def main(argv=None) -> int:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _package_present():
        print(f"perfbench: no sprintz_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    traced = bool(args.trace)
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    extra = _pin_environment(work, nproc, traced)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, traced, nproc, work, extra)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, traced, nproc, work, extra) -> int:
    import probes
    from inputs import load_reference, write_slices
    from tracing import RssSampler, cpu_ticks, read_events, steal_frac, stop_spark
    from workloads import SLICES, WORKLOADS, Bench

    info = {"workload": args.workload, "seconds": args.seconds, "trace": traced,
            "rows_per_slice": ROWS[args.workload], **_environment(nproc, args.seed)}
    store = os.path.join(work, "store")
    ticks0 = cpu_ticks()
    with RssSampler() as rss:
        t0 = time.perf_counter()
        from sprintz_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}", extra=extra)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t0
        try:
            rows, n_slices = ROWS[args.workload], SLICES[args.workload](args.seconds)
            gen = write_slices(spark, os.path.join(work, "pages"), args.seed, rows,
                               n_slices)
            t_ref = time.perf_counter()
            slices = [(p, *load_reference(p)) for p in gen["paths"]]
            info["inputs"] = {"slices": n_slices, "gen_s": round(gen["gen_s"], 3),
                              "reference_s": round(time.perf_counter() - t_ref, 3)}
            b = Bench(spark, store, args.seed, traced)
            setup_s, probe_sid, pages_path = WORKLOADS[args.workload](
                b, slices, args.seconds)
            setup_s += session_s
            # the store as the workload left it, before any probe below
            # changes it
            e2e = end_to_end(b, setup_s, store)
            probe = {}
            if traced:
                probe, mismatches = probes.codec_probe(b, probe_sid)
                b.ledger.record("codec-reencode", 0.0, mismatches == 0, False,
                                note=f"{mismatches} blobs re-encoded differently")
                probe.update(probes.operator_probe(b, probe_sid, pages_path, work))
                if not any(o["kind"] == "range" for o in b.trace_ops):
                    b.read("range", probe_sid, timed=False)
                if not any(o["kind"] == "expire" for o in b.trace_ops):
                    b.expire(probe_sid, None, timed=False)
        finally:
            stop_spark(spark)
    info["session_s"] = round(session_s, 3)
    info["named"] = named(b, e2e, rss.peak_mb)
    info["host_steal_frac"] = round(steal_frac(ticks0, cpu_ticks()), 4)
    info["failures"] = [op for op in b.ledger.ops if not op["ok"]][:5]
    if traced:
        events = read_events(os.path.join(work, "eventlog"))
        metrics, by_type = per_layer(b, nproc, events, probe)
        info["by_type"] = by_type
        info["layer_work"] = layer_work(b, events)
        info["paper"] = probes.paper_table(metrics)
        info["end_to_end_traced"] = {k: v for k, (v, _u) in e2e.items()}
        out = {k: {"value": metrics[k], "unit": u} for k, u in _layer_units().items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({"info": info}, default=str))
    failed = b.ledger.failed
    print(json.dumps({"correct": failed == 0, "attempted": b.ledger.attempted,
                      "failed": failed, "metrics": out}))
    return 0 if failed == 0 else 1


def _layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


if __name__ == "__main__":
    sys.exit(main())
