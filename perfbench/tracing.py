"""Process memory, per-operation job attribution and the Spark event log.

Tracing is off in the untraced run except for the memory sampler, which
only reads ``/proc``.  The traced run additionally tags every operation
with a Spark job group, counts its jobs through the ``statusTracker``,
diffs the store directory around it, and afterwards reads the event log.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import threading
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak summed resident memory of this process's descendants: the
    driver JVM and its Python workers."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        kids = _children()
        todo, total = list(kids.get(os.getpid(), [])), 0
        while todo:
            pid = todo.pop()
            total += _rss_kb(pid)
            todo.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between two
    cpu_ticks() readings: a run with a high share was slowed by the
    host, not by the code."""
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def stop_spark(spark) -> None:
    """Stop the session, the JVM behind it and the JVM's Python workers,
    and wait for all of them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while _children().get(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def dir_state(root: str) -> dict[str, tuple[float, int]]:
    """path -> (mtime, size) for every data file under ``root``."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            if name.startswith((".", "_")):
                continue
            p = os.path.join(dirpath, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            out[p] = (st.st_mtime, st.st_size)
    return out


def dir_bytes(root: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(root):
        for name in files:
            total += os.path.getsize(os.path.join(dirpath, name))
    return total


def files_written(before: dict, after: dict) -> int:
    return sum(1 for p, v in after.items() if before.get(p) != v)


def event_log_files(log_dir: str) -> list[str]:
    """Event files of the single application logged under ``log_dir``.
    Handles both the single-file layout and Spark's rolling layout
    (``eventlog_v2_<app>/events_<n>_<app>``, read in index order)."""
    rolling = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    if rolling:
        files = glob.glob(os.path.join(rolling[0], "events_*"))
        return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*"))
                  if os.path.isfile(p))


def read_events(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs [(submit_ms, end_ms)], task seconds and byte
    counters summed over the group's tasks."""
    job_group, job_times, stage_job = {}, {}, {}
    groups: dict[str, dict] = {}
    for path in event_log_files(log_dir):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    job_group[jid] = gid
                    job_times[jid] = [ev.get("Submission Time"), None]
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in job_times:
                        job_times[ev["Job ID"]][1] = ev.get("Completion Time")
                elif kind == "SparkListenerTaskEnd":
                    gid = job_group.get(stage_job.get(ev.get("Stage ID")))
                    if gid is None:
                        continue
                    g = groups.setdefault(gid, _empty_group())
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    g["task_s"] += (info.get("Finish Time", 0)
                                    - info.get("Launch Time", 0)) / 1000
                    g["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g["write_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
    for jid, gid in job_group.items():
        if gid is not None:
            groups.setdefault(gid, _empty_group())["jobs"].append(tuple(job_times[jid]))
    return groups


def _empty_group() -> dict:
    return {"jobs": [], "task_s": 0.0, "scan_bytes": 0, "write_bytes": 0,
            "shuffle_bytes": 0}


def uncovered_s(start: float, end: float, jobs: list[tuple]) -> float:
    """Seconds of [start, end] (epoch s) that no job interval covers."""
    spans = sorted((max(s / 1000, start), min(e / 1000, end))
                   for s, e in jobs if s is not None and e is not None)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in spans:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (end - start) - covered)
