"""The three workloads: one client, closed loop, public calls of
``sprintz_spark.plans.retention`` only.

Each operation is timed around the public call (plus, for reads, the
one-row checksum reduction that consumes its result).  Its answer is
checked afterwards, outside the timing, against the pandas reference of
the snapshot it touched.  Checks of store metadata read parquet with
pyarrow on the driver, so they add no Spark jobs.
"""

from __future__ import annotations

import os
import random
import sys
import time
import traceback

import pandas as pd
import pyarrow.parquet as pq

from checks import (MEASURES, Ledger, agg_checksum, day_window, newest_wins,
                    rows_checksum)
from tracing import dir_state, files_written

TIERS = ("1m", "1h", "1d")
N_BUCKETS = 8  # run_retention's default part count
COMPACT_EVERY = 1  # lifecycle: snapshots ingested between compactions
WARM_INGESTS = 1  # ingest: set-up ingests before the timed loop
WARM_ROUNDS = 1  # query: set-up read rounds before the timed loop
# The ingest and lifecycle loops run a fixed number of timed ingests /
# maintenance periods, one per INGEST_S / PERIOD_S seconds of
# ``--seconds``: every ingest grows the store and makes the next one
# slower, so a time-bound loop would grade a faster commit on a bigger
# store.  On a 4-core host an ingest takes 3-5 s and a lifecycle period
# 12-18 s, depending on how busy the host is.
INGEST_S = 2.0
PERIOD_S = 13.0
KEEP_1M = pd.Timedelta(days=7)  # lifecycle: 1m tier retention window
# Range windows start on or after the crawl epoch.  Crawl jitter puts a
# few points on the day before it, and read_tier_range prunes containers
# by their first series' first bucket (encode_series_container's
# start_bucket), not the container minimum, so a window on that day
# loses rows.
FIRST_DAY = pd.Timestamp("2024-01-01")


def _crc(*cols):
    from pyspark.sql import functions as F

    return F.crc32(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]))


def _checksum(df, crc):
    from pyspark.sql import functions as F

    r = df.agg(F.count(F.lit(1)), F.sum(crc)).first()
    return int(r[0]), int(r[1] or 0)


def _rows_checksum(df):
    """Engine side of checks.rows_checksum for decoded series rows."""
    from pyspark.sql import functions as F

    df = df.withColumn("bucket_s", F.unix_seconds("bucket"))
    return _checksum(df, _crc("url", "bucket_s", *MEASURES))


class Bench:
    def __init__(self, spark, store: str, seed: int, traced: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = store
        self.rng = random.Random(seed)
        self.traced = traced
        self.ledger = Ledger()
        self.refs: dict[str, dict[str, pd.DataFrame]] = {}
        self.trace_ops: list[dict] = []  # traced: one entry per operation
        self.unit: int | None = None  # groups operations into a unit of work
        self._due: dict[str, list[str]] = {}  # read kind -> tiers left this cycle

    def _tier(self, kind: str, tiers) -> str:
        """Next tier for a read of ``kind``: each tier once per cycle, in
        seeded order.  Reads of different tiers differ in cost, so an
        independent draw per read would let the seed set a run's mix."""
        if not self._due.get(kind):
            self._due[kind] = self.rng.sample(tiers, len(tiers))
        return self._due[kind].pop()

    # -- timing, tracing, checking -------------------------------------
    def attempt(self, kind, fn, expected, observe=lambda r: r, timed=True,
                rows=0, extra=None):
        """Time ``fn()``; compare ``observe(result)`` with ``expected``.
        An exception counts as a failed operation.  ``extra`` is kept
        with the operation's trace record."""
        gid = f"op{len(self.ledger.ops)}"
        if self.traced:
            self.sc.setJobGroup(gid, kind)
            before = dir_state(self.store)
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            result = fn()
            secs = time.perf_counter() - t0
            got = observe(result)
        except Exception as e:  # one failed op must not end the run
            traceback.print_exc(file=sys.stderr)
            self.ledger.record(kind, time.perf_counter() - t0, False, timed,
                               note=repr(e), unit=self.unit)
            return None
        wall1 = wall0 + secs
        op = self.ledger.compare(kind, secs, expected, got, timed, rows, self.unit)
        print(f"[perfbench] {kind:8s} {secs:7.3f}s {'timed' if timed else 'untimed'}"
              f" {'ok' if op['ok'] else 'WRONG'}", file=sys.stderr, flush=True)
        if not op["ok"]:
            print(f"[perfbench] wrong answer from {kind}: {op['note']}",
                  file=sys.stderr)
        if self.traced:
            self.trace_ops.append({
                "gid": gid, "kind": kind, "timed": timed, "start": wall0,
                "end": wall1, "secs": secs,
                "jobs": len(self.sc.statusTracker().getJobIdsForGroup(gid)),
                "files_written": files_written(before, dir_state(self.store)),
                **(extra or {}),
            })
        return result

    # -- store helpers ---------------------------------------------------
    def enc_path(self, sid: str, tier: str) -> str:
        return os.path.join(self.store, f"snap={sid}", f"encoded_tier={tier}")

    def manifest(self) -> pd.DataFrame:
        return pq.read_table(os.path.join(self.store, "manifest")).to_pandas()

    def chunks(self, sid: str, tier: str) -> pd.DataFrame:
        return pq.read_table(
            self.enc_path(sid, tier), columns=["keys", "start_bucket", "end_bucket", "n"]
        ).to_pandas()

    # -- operations ------------------------------------------------------
    def ingest(self, sid: str, path: str, n_pages: int, ref: dict, timed=True):
        from sprintz_spark.plans import retention as RT

        def op():
            return RT.run_retention(self.spark.read.parquet(path), self.store, sid)

        def observe(_):
            man = self.manifest()
            man = man[man["snapshot_id"] == sid]
            return {t: (int(man.loc[man["tier"] == t, "n_rows"].sum()),
                        sorted(man.loc[man["tier"] == t, "part"].astype(int)))
                    for t in TIERS}

        expected = {t: (len(ref[t]), list(range(N_BUCKETS))) for t in TIERS}
        self.refs[sid] = ref
        self.attempt("ingest", op, expected, observe, timed, rows=n_pages,
                     extra={"enc_rows": sum(len(ref[t]) for t in TIERS),
                            "rollup_pages": n_pages})

    def read(self, kind: str, sid: str, timed=True):
        from sprintz_spark.plans import retention as RT

        ref = self.refs[sid]
        spark, store = self.spark, self.store
        if kind == "agg":
            tier, m = self._tier(kind, TIERS), self.rng.choice(MEASURES)
            crc = _crc("url", f"{m}_sum", f"{m}_max", f"{m}_min", "n_points")

            def op():
                return _checksum(RT.query_tier(spark, store, sid, tier, m), crc)

            expected, rows = agg_checksum(ref[tier], m), len(ref[tier])
            extra = {"qry_rows": rows}
        else:
            if kind == "range":
                days = sorted(d for d in ref["1m"]["bucket"].dt.floor("D").unique()
                              if d >= FIRST_DAY)
                day = pd.Timestamp(self.rng.choice(days))
                lo = day.strftime("%Y-%m-%d 00:00:00")
                hi = day.strftime("%Y-%m-%d 23:59:59")
                tier, want = "1m", day_window(ref["1m"], day)

                def frame():
                    return RT.read_tier_range(spark, store, sid, tier, lo, hi)
            else:
                tier = self._tier(kind, ("1m", "1h"))
                want = ref[tier]

                def frame():
                    return RT.read_tier_decoded(spark, store, sid, tier)

            def op():
                return _rows_checksum(frame())

            expected, rows = rows_checksum(want), len(want)
            extra = {"dec_rows": rows}
        if self.traced and kind == "range":
            # chunks whose [start, end] window overlaps the range: the
            # ones the pruned scan must still read and decode
            ch = self.chunks(sid, tier)
            hit = ch[(ch["start_bucket"] <= pd.Timestamp(hi))
                     & (ch["end_bucket"] >= pd.Timestamp(lo))]
            extra = {"chunks": len(ch), "chunks_read": len(hit),
                     "dec_rows": int(hit["n"].sum())}
        self.attempt(kind, op, expected, timed=timed, rows=rows, extra=extra)

    def compact(self, sources: list[str], dest: str, timed=True):
        from sprintz_spark.plans import retention as RT

        ref = {t: newest_wins([self.refs[s][t] for s in sources]) for t in TIERS}
        self.refs[dest] = ref
        self.attempt(
            "compact",
            lambda: RT.compact_tiers(self.spark, self.store, sources, dest),
            {t: len(ref[t]) for t in TIERS},
            lambda rep: {t: rep[t]["rows"] for t in TIERS},
            timed, rows=sum(len(ref[t]) for t in TIERS),
            extra={"enc_rows": sum(len(ref[t]) for t in TIERS),
                   "dec_rows": sum(len(self.refs[s][t]) for s in sources for t in TIERS)},
        )

    def expire(self, sid: str, keep: list[str] | None, timed=True):
        """expire_tier of the 1m tier past ``KEEP_1M`` before its newest
        bucket, then (when ``keep`` is given) expire_snapshots."""
        from sprintz_spark.plans import retention as RT

        ref1m = self.refs[sid]["1m"]
        cutoff = ref1m["bucket"].max() - KEEP_1M
        ch = self.chunks(sid, "1m")
        gone = {k for keys in ch.loc[ch["end_bucket"] < cutoff, "keys"] for k in keys}
        dropped = ref1m["url"].isin(gone)
        man = self.manifest()
        raw = man.loc[(man["snapshot_id"] == sid) & (man["tier"] == "1m"), "raw_bytes"]

        def op():
            rep = RT.expire_tier(self.spark, self.store, sid, "1m",
                                 cutoff.strftime("%Y-%m-%d %H:%M:%S"))
            if keep is not None:
                RT.expire_snapshots(self.spark, self.store, keep)
            return rep

        def observe(rep):
            snaps = sorted(n.split("=", 1)[1] for n in os.listdir(self.store)
                           if n.startswith("snap="))
            return rep["rows_dropped"], snaps

        snaps_now = sorted(n.split("=", 1)[1] for n in os.listdir(self.store)
                           if n.startswith("snap="))
        expected = (int(dropped.sum()), sorted(keep) if keep is not None else snaps_now)
        self.refs[sid] = {**self.refs[sid], "1m": ref1m[~dropped]}
        self.attempt("expire", op, expected, observe, timed,
                     extra={"tier_raw_bytes": int(raw.sum())})
        if keep is not None:
            self.refs = {s: r for s, r in self.refs.items() if s in keep}

    def tier_checksum(self, sid: str, tier: str) -> tuple[int, int]:
        from sprintz_spark.plans import retention as RT

        return _rows_checksum(RT.read_tier_decoded(self.spark, self.store, sid, tier))

    def verify(self, sid: str):
        """Untimed: read every tier of ``sid`` back and compare its rows
        with the reference.  After a compaction this is the check that
        sees which snapshot's values won, which row counts cannot."""
        for tier in TIERS:
            self.attempt("verify", lambda tier=tier: self.tier_checksum(sid, tier),
                         rows_checksum(self.refs[sid][tier]), timed=False)

    def read_round(self, sid: str, timed=True):
        kinds = ["agg", "range", "scan"]
        self.rng.shuffle(kinds)
        for kind in kinds:
            self.read(kind, sid, timed)


def timed_ingests(seconds: float) -> int:
    return max(3, round(seconds / INGEST_S))


def periods(seconds: float) -> int:
    return max(1, round(seconds / PERIOD_S))


# slices (page inputs) each workload ingests in a run of ``seconds``
SLICES = {
    "ingest": lambda s: WARM_INGESTS + timed_ingests(s),
    "query": lambda s: 1,
    "lifecycle": lambda s: 1 + COMPACT_EVERY * periods(s),
}


# -- workloads -----------------------------------------------------------
# Each takes (bench, slices, seconds) where slices is a list of
# (path, n_pages, reference); returns the set-up seconds it spent, the
# snapshot the layer probes should read, and the newest slice's path.

def ingest(b: Bench, slices, seconds: float):
    """Back-to-back run_retention calls, one new slice each, into one
    growing store: every slice after the WARM_INGESTS set-up ingests
    (codegen, worker start, JIT) is a timed ingest."""
    t0 = time.perf_counter()
    for k in range(WARM_INGESTS):
        b.ingest(f"s{k}", *slices[k], timed=False)
    setup = time.perf_counter() - t0
    for k in range(WARM_INGESTS, len(slices)):
        b.ingest(f"s{k}", *slices[k])
    return setup, f"s{len(slices) - 1}", slices[-1][0]


def query(b: Bench, slices, seconds: float):
    """Seeded rounds of agg / range / scan (shuffled order, random tier,
    measure and day) over a one-snapshot store built in set-up."""
    t0 = time.perf_counter()
    b.ingest("s0", *slices[0], timed=False)
    for _ in range(WARM_ROUNDS):
        b.read_round("s0", timed=False)
    setup = time.perf_counter() - t0
    loop0 = time.perf_counter()
    while time.perf_counter() - loop0 < seconds:
        b.read_round("s0")
    return setup, "s0", slices[0][0]


def lifecycle(b: Bench, slices, seconds: float):
    """Periods of COMPACT_EVERY cycles of ingest -> agg/range/scan of the
    new snapshot, then maintenance: compact them with the base into a new
    base, expire the new base's 1m tier past KEEP_1M and drop the
    sources.  A period is the unit of work; the loop runs one per
    COMPACT_EVERY slices after the first.  Set-up ingests the first
    snapshot and runs one maintenance on it alone, which warms every
    path and leaves the base.  The loop's new base is read back in full
    and checked, outside the timing; it holds every row of the set-up
    base that a later snapshot did not replace."""
    t0 = time.perf_counter()
    b.ingest("s0", *slices[0], timed=False)
    b.read_round("s0", timed=False)
    b.compact(["s0"], "c0", timed=False)
    b.expire("c0", ["c0"], timed=False)
    setup = time.perf_counter() - t0
    base, k = "c0", 1
    while k + COMPACT_EVERY <= len(slices):
        b.unit = -k  # distinct from the operation indices of other units
        pending = [f"s{k + i}" for i in range(COMPACT_EVERY)]
        for i, sid in enumerate(pending):
            b.ingest(sid, *slices[k + i])
            b.read_round(sid)
        k += COMPACT_EVERY
        dest = f"c{k - 1}"
        b.compact([base, *pending], dest)
        b.expire(dest, [dest])
        b.verify(dest)
        base = dest
    b.unit = None
    return setup, base, slices[k - 1][0]


WORKLOADS = {"ingest": ingest, "query": query, "lifecycle": lifecycle}
