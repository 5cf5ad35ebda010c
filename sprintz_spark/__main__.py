"""spark-submit entry points (north_star: "ships as a spark-submit
--py-files package ... run via spark-submit on a multi-executor cluster").

Local / driver-side launch:
    python -m sprintz_spark retention --input /data/pages --out /data/tiers \
        --snapshot snap-123 --n-buckets 256
    python -m sprintz_spark verify --out /data/tiers --snapshot snap-123
    python -m sprintz_spark compact --out /data/tiers --snapshots s1 s2 --dest c1
    python -m sprintz_spark expire --out /data/tiers --snapshot c1 --tier 1m \
        --older-than 2024-01-07

Cluster launch (the module file doubles as the spark-submit script; the
package zip travels to executors):
    spark-submit --py-files sprintz_spark_pkg.zip \
        sprintz_spark/__main__.py retention --input ... --out ... --snapshot ...

Every command works on one retention store (plans.retention). Each prints
ONE JSON metrics line (rows, seconds, rows/sec, and per-tier compression
ratios where applicable) — the manifest carries the rows and bytes per
partition for lineage. ``verify`` re-encodes every stored blob and checks
the row and byte counts against the manifest; it raises CorruptBlobError on any
mismatch.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _spark(args):
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from sprintz_spark.session import get_spark

    return get_spark(app=f"sprintz-{args.cmd}", master=args.master)


def _load_pages(spark, args):
    from sprintz_spark.sources.io import read_table
    from sprintz_spark.sources.pages import generate_pages

    if args.generate:
        return generate_pages(spark, args.generate)
    return read_table(spark, args.input, fmt=args.format)


def cmd_retention(args) -> dict:
    from sprintz_spark.plans import retention as RT

    spark = _spark(args)
    pages = _load_pages(spark, args)
    n = pages.count()
    t0 = time.perf_counter()
    RT.run_retention(
        pages, args.out, snapshot_id=args.snapshot, n_buckets=args.n_buckets
    )
    wall = time.perf_counter() - t0
    ratios = RT.tier_ratio_report(spark, args.out, args.snapshot)
    return {
        "job": "retention",
        "snapshot_id": args.snapshot,
        "rows": n,
        "secs": round(wall, 2),
        "rows_per_sec": round(n / wall, 1),
        "tier_ratios": {t: round(v["ratio"], 3) for t, v in sorted(ratios.items())},
        # blobs plus parquet framing per raw byte; None off a local disk
        "tier_disk_bytes_per_raw_byte": {
            t: round(v["disk_bytes"] / v["raw_bytes"], 4)
            if v["disk_bytes"] is not None
            else None
            for t, v in sorted(ratios.items())
        },
    }


def cmd_verify(args) -> dict:
    from sprintz_spark.plans.retention import verify_snapshot

    spark = _spark(args)
    t0 = time.perf_counter()
    rep = verify_snapshot(spark, args.out, args.snapshot)
    return {
        "job": "verify",
        "snapshot_id": args.snapshot,
        "secs": round(time.perf_counter() - t0, 2),
        "tiers": rep,
    }


def cmd_compact(args) -> dict:
    from sprintz_spark.plans.retention import compact_tiers

    spark = _spark(args)
    t0 = time.perf_counter()
    rep = compact_tiers(
        spark,
        args.out,
        args.snapshots,
        args.dest,
        n_buckets=args.n_buckets,
    )
    wall = time.perf_counter() - t0
    return {
        "job": "compact",
        "dest_snapshot_id": args.dest,
        "source_snapshots": args.snapshots,
        "secs": round(wall, 2),
        "tiers": rep,
    }


def cmd_expire(args) -> dict:
    from sprintz_spark.plans.retention import expire_snapshots, expire_tier

    spark = _spark(args)
    t0 = time.perf_counter()
    if args.keep:
        rep = expire_snapshots(spark, args.out, keep_ids=args.keep)
    else:
        rep = expire_tier(
            spark, args.out, args.snapshot, args.tier, args.older_than,
            dry_run=args.dry_run,
        )
    return {"job": "expire", "secs": round(time.perf_counter() - t0, 2), **rep}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="sprintz_spark")
    p.add_argument("--master", default=None, help="Spark master (default: env/local)")
    sub = p.add_subparsers(dest="cmd", required=True)
    sr = sub.add_parser("retention")
    sr.add_argument("--input", help="pages table path")
    sr.add_argument("--format", default=None, help="input format override")
    sr.add_argument("--generate", type=int, default=0,
                    help="synthesize N deterministic pages instead of --input")
    sr.add_argument("--out", required=True)
    sr.add_argument("--snapshot", required=True)
    sr.add_argument("--n-buckets", type=int, default=64)
    sv = sub.add_parser("verify")
    sv.add_argument("--out", required=True, help="retention store dir")
    sv.add_argument("--snapshot", required=True)
    sc = sub.add_parser("compact")
    sc.add_argument("--out", required=True, help="retention store dir")
    sc.add_argument("--snapshots", nargs="+", required=True,
                    help="source snapshot ids, oldest to newest")
    sc.add_argument("--dest", required=True, help="compacted snapshot id")
    sc.add_argument("--n-buckets", type=int, default=64)
    se = sub.add_parser("expire")
    se.add_argument("--out", required=True, help="retention store dir")
    se.add_argument("--keep", nargs="*", default=None,
                    help="snapshot ids to KEEP (gc mode: everything else is dropped)")
    se.add_argument("--snapshot", help="snapshot id (tier-TTL mode)")
    se.add_argument("--tier", help="tier to expire (tier-TTL mode)")
    se.add_argument("--older-than", help="bucket cutoff, e.g. 2024-01-07 (tier-TTL mode)")
    se.add_argument("--dry-run", action="store_true")
    args = p.parse_args(argv)
    if args.cmd == "expire" and not args.keep and not (
        args.snapshot and args.tier and args.older_than
    ):
        p.error("expire needs either --keep (gc) or --snapshot --tier --older-than (TTL)")
    if args.cmd == "retention" and not (args.input or args.generate):
        p.error("one of --input / --generate is required")
    out = {"retention": cmd_retention, "verify": cmd_verify,
           "compact": cmd_compact, "expire": cmd_expire}[args.cmd](args)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
