"""Reference answers and the per-operation ledger (no Spark needed).

Every timed operation's result is compared against an answer computed
from uncompressed rows.  The comparison uses order-free checksums: a row
count plus the sum of ``crc32`` over a ``|``-joined text form of each
row.  Spark computes the same text with ``concat_ws`` and the same CRC
with ``F.crc32``, so the engine side reduces to one row per operation.
"""

from __future__ import annotations

import statistics
import zlib

import numpy as np
import pandas as pd

MEASURES = ["crawl_count", "byte_size_sum", "byte_size_max", "byte_size_min"]
TIER_UNITS = {"1m": "min", "1h": "h", "1d": "D"}


def tier_refs(pages: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """pages(url, warc_ts, nbytes) -> uncompressed 1m/1h/1d series rows,
    built with pandas alone so a rollup bug in the engine cannot hide."""
    t = pages.assign(bucket=pages["warc_ts"].dt.floor("min"))
    m = (
        t.groupby(["url", "bucket"], sort=False)["nbytes"]
        .agg(crawl_count="size", byte_size_sum="sum", byte_size_max="max",
             byte_size_min="min")
        .reset_index()
    )
    out = {"1m": m}
    finer = m
    for tier in ("1h", "1d"):
        finer = (
            finer.assign(bucket=finer["bucket"].dt.floor(TIER_UNITS[tier]))
            .groupby(["url", "bucket"], sort=False)
            .agg(crawl_count=("crawl_count", "sum"),
                 byte_size_sum=("byte_size_sum", "sum"),
                 byte_size_max=("byte_size_max", "max"),
                 byte_size_min=("byte_size_min", "min"))
            .reset_index()
        )
        out[tier] = finer
    for df in out.values():
        df["crawl_count"] = df["crawl_count"].astype(np.int64)
    return out


def newest_wins(frames: list[pd.DataFrame]) -> pd.DataFrame:
    """Union of snapshots, oldest first, keeping the newest row per
    (url, bucket) — the compaction conflict rule."""
    return (
        pd.concat(frames, ignore_index=True)
        .drop_duplicates(["url", "bucket"], keep="last")
        .reset_index(drop=True)
    )


def _crc_sum(cols: list) -> int:
    return sum(
        zlib.crc32("|".join(map(str, row)).encode()) for row in zip(*cols)
    )


def _seconds(ts: pd.Series) -> list[int]:
    return ts.to_numpy().astype("datetime64[s]").astype(np.int64).tolist()


def rows_checksum(df: pd.DataFrame) -> tuple[int, int]:
    """(rows, crc sum) of series rows: url|bucket seconds|measures."""
    cols = [df["url"].tolist(), _seconds(df["bucket"])]
    cols += [df[c].astype(np.int64).tolist() for c in MEASURES]
    return len(df), _crc_sum(cols)


def agg_checksum(tier: pd.DataFrame, measure: str) -> tuple[int, int]:
    """(urls, crc sum) of query_tier's per-url url|sum|max|min|n_points."""
    g = tier.groupby("url")[measure].agg(["sum", "max", "min", "size"]).reset_index()
    cols = [g["url"].tolist()] + [g[c].astype(np.int64).tolist()
                                  for c in ("sum", "max", "min", "size")]
    return len(g), _crc_sum(cols)


def day_window(tier: pd.DataFrame, day: pd.Timestamp) -> pd.DataFrame:
    lo, hi = day, day + pd.Timedelta(days=1)
    return tier[(tier["bucket"] >= lo) & (tier["bucket"] < hi)]


def tail_percentile(n: int) -> int | None:
    """Highest whole percentile with at least ten samples beyond it."""
    if n < 11:
        return None
    return int(100 * (n - 10) / n)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(np.ceil(p / 100 * len(s))) - 1))
    return s[k]


class Ledger:
    """Every operation attempted, its latency, and whether its answer
    matched.  Warm-up operations are checked but excluded from the
    latency statistics."""

    def __init__(self):
        self.ops: list[dict] = []

    def record(self, kind: str, secs: float, ok: bool, timed: bool = True,
               rows: int = 0, note: str = "", unit: int | None = None) -> dict:
        """``unit`` groups operations into one unit of work (a lifecycle
        period); by default each operation is its own unit."""
        op = {"kind": kind, "secs": secs, "ok": ok, "timed": timed,
              "rows": rows, "note": note,
              "unit": len(self.ops) if unit is None else unit}
        self.ops.append(op)
        return op

    def compare(self, kind: str, secs: float, expected, got, timed: bool = True,
                rows: int = 0, unit: int | None = None) -> dict:
        ok = expected == got
        note = "" if ok else f"expected {expected!r}, got {got!r}"
        return self.record(kind, secs, ok, timed, rows, note, unit)

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not op["ok"] for op in self.ops)

    def timed(self, kind: str | None = None) -> list[dict]:
        return [op for op in self.ops if op["timed"] and op["ok"]
                and (kind is None or op["kind"] == kind)]

    def unit_secs(self) -> list[float]:
        """Seconds of each timed unit of work, failed operations included."""
        units: dict[int, float] = {}
        for op in self.ops:
            if op["timed"]:
                units[op["unit"]] = units.get(op["unit"], 0.0) + op["secs"]
        return list(units.values())

    def latency(self, kind: str) -> dict:
        """Sample count, p50 and tail of one operation type's timed,
        correct operations (None where there are too few)."""
        secs = [op["secs"] for op in self.timed(kind)]
        if not secs:
            return {"n": 0, "p50_s": None, "tail_pct": None, "tail_s": None}
        p = tail_percentile(len(secs))
        return {
            "n": len(secs),
            "p50_s": statistics.median(secs),
            "tail_pct": p,
            "tail_s": percentile(secs, p) if p is not None else None,
        }
