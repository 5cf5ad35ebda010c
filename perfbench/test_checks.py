"""Tests of the benchmark's own checking and tracing code (no Spark).

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import zlib

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from checks import (Ledger, agg_checksum, newest_wins, rows_checksum,  # noqa: E402
                    tail_percentile, tier_refs)
from run import named  # noqa: E402
from tracing import event_log_files, steal_frac, uncovered_s  # noqa: E402
from workloads import Bench  # noqa: E402


class _FakeSpark:
    sparkContext = None


def _pages():
    ts = pd.to_datetime(["2024-01-01 00:00:10", "2024-01-01 00:00:50",
                         "2024-01-01 01:05:00", "2024-01-02 03:00:00"])
    return pd.DataFrame({"url": ["a", "a", "a", "b"], "warc_ts": ts,
                         "nbytes": [10, 30, 20, 7]})


def test_tier_refs_cascade():
    refs = tier_refs(_pages())
    m = refs["1m"].set_index(["url", "bucket"])
    first = m.loc[("a", pd.Timestamp("2024-01-01 00:00"))]
    assert list(first) == [2, 40, 30, 10]
    d = refs["1d"].set_index(["url", "bucket"])
    assert list(d.loc[("a", pd.Timestamp("2024-01-01"))]) == [3, 60, 30, 10]
    assert len(refs["1h"]) == 3


def test_rows_checksum_text_form():
    df = tier_refs(_pages())["1d"]
    n, crc = rows_checksum(df)
    text = ["a|1704067200|3|60|30|10", "b|1704153600|1|7|7|7"]
    assert (n, crc) == (2, sum(zlib.crc32(t.encode()) for t in text))


def test_agg_checksum_sees_a_changed_value():
    tier = tier_refs(_pages())["1m"]
    base = agg_checksum(tier, "byte_size_max")
    tier.loc[0, "byte_size_max"] += 1
    assert agg_checksum(tier, "byte_size_max") != base


def test_newest_wins_keeps_last_snapshot():
    old = pd.DataFrame({"url": ["a", "b"], "bucket": [1, 1], "v": [1, 1]})
    new = pd.DataFrame({"url": ["a"], "bucket": [1], "v": [2]})
    out = newest_wins([old, new]).set_index("url")["v"]
    assert out.to_dict() == {"a": 2, "b": 1}


def test_wrong_answer_and_exception_count_as_failures():
    b = Bench(_FakeSpark(), "/nonexistent", seed=0, traced=False)
    b.attempt("scan", lambda: (3, 5), expected=(3, 5))
    b.attempt("scan", lambda: (3, 5), expected=(3, 6))  # injected wrong answer

    def boom():
        raise RuntimeError("injected")

    b.attempt("agg", boom, expected=(1, 1))
    assert (b.ledger.attempted, b.ledger.failed) == (3, 2)
    assert b.ledger.latency("scan")["n"] == 1  # failures carry no latency


def test_verify_fails_an_oldest_wins_compaction():
    old, new = tier_refs(_pages()), tier_refs(_pages().assign(nbytes=[11, 30, 20, 7]))
    b = Bench(_FakeSpark(), "/nonexistent", seed=0, traced=False)
    b.refs["c"] = {t: newest_wins([old[t], new[t]]) for t in old}
    oldest = {t: newest_wins([new[t], old[t]]) for t in old}
    assert all(len(oldest[t]) == len(b.refs["c"][t]) for t in old)  # counts agree
    b.tier_checksum = lambda sid, tier: rows_checksum(oldest[tier])
    b.verify("c")
    assert b.ledger.failed == 3  # every tier holds the changed point
    b.tier_checksum = lambda sid, tier: rows_checksum(b.refs["c"][tier])
    b.verify("c")
    assert b.ledger.failed == 3


def test_read_tiers_cycle_in_seeded_order():
    b = Bench(_FakeSpark(), "/nonexistent", seed=3, traced=False)
    picks = [b._tier("agg", ("1m", "1h", "1d")) for _ in range(6)]
    assert sorted(picks[:3]) == sorted(picks[3:]) == ["1d", "1h", "1m"]


def test_tail_percentile_needs_ten_beyond():
    assert tail_percentile(10) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(100) == 90
    led = Ledger()
    for i in range(40):
        led.record("agg", float(i), True)
    lat = led.latency("agg")
    assert lat["tail_pct"] == 75 and lat["tail_s"] == 29.0


def test_named_prints_every_end_to_end_figure_with_a_unit():
    b = Bench(_FakeSpark(), "/nonexistent", seed=0, traced=False)
    for secs in (1.0, 3.0):
        b.ledger.record("scan", secs, True)
    b.ledger.record("agg", 9.0, False)  # failed: counted, but no latency
    e2e = {"setup_s": (2.0, "s"), "disk_bytes_per_raw_byte": (0.5, "ratio")}
    out = named(b, e2e, 100.0)
    assert set(out) == {
        "setup_s", "ingest_rows_per_s", "ingest_p50_s", "agg_p50_s", "agg_tail_s",
        "range_p50_s", "range_tail_s", "scan_p50_s", "scan_tail_s", "compact_p50_s",
        "disk_bytes_per_raw_byte", "failed_op_frac", "peak_rss_mb"}
    assert all(v["unit"] for v in out.values())
    assert out["scan_p50_s"]["value"] == 2.0 and out["agg_p50_s"]["value"] is None
    assert out["failed_op_frac"]["value"] == pytest.approx(1 / 3)


def test_steal_frac():
    assert steal_frac((10, 1000), (30, 1200)) == pytest.approx(0.1)
    assert steal_frac((5, 50), (5, 50)) == 0.0


def test_uncovered_merges_overlapping_jobs():
    jobs = [(1000, 3000), (2000, 4000), (6000, 7000), (9000, None)]
    assert uncovered_s(0.0, 10.0, jobs) == pytest.approx(6.0)


def test_event_log_rolling_layout(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    for i in (10, 2, 1):
        (d / f"events_{i}_local-1").write_text("")
    (d / "appstatus_local-1").write_text("")
    names = [os.path.basename(p) for p in event_log_files(str(tmp_path))]
    assert names == ["events_1_local-1", "events_2_local-1", "events_10_local-1"]


def test_fails_without_the_package(tmp_path):
    root = os.path.dirname(HERE)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path)
    cmd = json.load(open(os.path.join(root, "BENCHMARK.json")))["command"]
    p = subprocess.run(cmd + ["--workload", "query", "--seed", "1", "--seconds", "1",
                              "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""
