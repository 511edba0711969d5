"""Layer measurements shared by the workloads, all taken from outside the
engine: StreamingQuery progress, StatusTracker job counts and the files the
CDC sink leaves on disk, plus independent pyarrow readers used to check the
engine's outputs."""

from __future__ import annotations

import datetime as dt
import os
import threading
import time
from collections import Counter, defaultdict

import pyarrow.compute as pc
import pyarrow.dataset as ds

from stats import median, steal_share
from tracing import job_counts

# Spark writes "_SUCCESS" and the engine a "_feed_meta.json" sidecar next to
# the data; the sink's "_batch_id=" partition directories must NOT be skipped,
# so only those two names and dot-files are ignored.
_IGNORE = [".", "_SUCCESS", "_feed_meta"]


def feed_dataset(path: str) -> ds.Dataset:
    return ds.dataset(path, format="parquet", partitioning="hive", ignore_prefixes=_IGNORE)


def committed_keys(feed_path: str) -> Counter:
    """(source_table, primary key) -> number of feed rows carrying it."""
    meta = feed_dataset(feed_path).to_table(columns=["metadata"]).column("metadata")
    tables = pc.map_lookup(meta, "source_table", "first").to_pylist()
    keys = pc.map_lookup(meta, "primary_key_value", "first").to_pylist()
    return Counter(zip(tables, keys))


def key_mismatch(committed: Counter, expected: set) -> int:
    """Keys lost, unexpected or committed more than once."""
    lost = len(expected - committed.keys())
    extra = sum(n for k, n in committed.items() if k not in expected)
    dupes = sum(n - 1 for k, n in committed.items() if k in expected and n > 1)
    return lost + extra + dupes


def reference_pages(served_path: str) -> dict[str, list[str]]:
    """user_id -> activity ids in feed order (event_timestamp, _batch_id,
    _seq all descending), computed by pyarrow over the compacted table."""
    t = feed_dataset(served_path).to_table(
        columns=["user_id", "activity_id", "event_timestamp", "_batch_id", "_seq"]
    )
    t = t.sort_by(
        [
            ("user_id", "ascending"),
            ("event_timestamp", "descending"),
            ("_batch_id", "descending"),
            ("_seq", "descending"),
        ]
    )
    pages: dict[str, list[str]] = defaultdict(list)
    for u, a in zip(t.column("user_id").to_pylist(), t.column("activity_id").to_pylist()):
        pages[u].append(a)
    return dict(pages)


def batch_files(feed_path: str) -> dict[int, tuple[int, int]]:
    """_batch_id -> (data files, bytes) written by the sink."""
    out: dict[int, list[int]] = defaultdict(lambda: [0, 0])
    for root, _, files in os.walk(feed_path):
        part = [p for p in root.split(os.sep) if p.startswith("_batch_id=")]
        if not part:
            continue
        b = int(part[-1].split("=", 1)[1])
        for f in files:
            if f.endswith(".parquet"):
                out[b][0] += 1
                out[b][1] += os.path.getsize(os.path.join(root, f))
    return {b: (n, size) for b, (n, size) in out.items()}


def epoch_ms(iso: str) -> float:
    """StreamingQueryProgress timestamp (ISO-8601, UTC, ms) -> epoch ms."""
    return dt.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000


def data_batches(progresses, batch_ids=None) -> list[dict]:
    """Progress entries of batches that read rows (optionally: only the
    given batch ids), one per batch id."""
    seen = {}
    for p in progresses:
        if int(p.get("numInputRows") or 0) > 0 and (
            batch_ids is None or p["batchId"] in batch_ids
        ):
            seen[p["batchId"]] = p
    return [seen[b] for b in sorted(seen)]


def progress_metrics(batches: list[dict]) -> dict[str, float]:
    """Per-batch trigger phases (medians, ms) and batch sizes."""

    def phase(p, k):
        return float(p["durationMs"].get(k, 0))

    return {
        "cdc_pipeline.batches": len(batches),
        "cdc_pipeline.rows_per_batch_p50": median(int(p["numInputRows"]) for p in batches),
        "cdc_pipeline.add_batch_ms_p50": median(phase(p, "addBatch") for p in batches),
        "cdc_pipeline.trigger_overhead_ms_p50": median(
            phase(p, "triggerExecution") - phase(p, "addBatch") for p in batches
        ),
        "cdc_pipeline.latest_offset_ms_p50": median(phase(p, "latestOffset") for p in batches),
        "cdc_pipeline.query_planning_ms_p50": median(phase(p, "queryPlanning") for p in batches),
        "cdc_pipeline.wal_commit_ms_p50": median(phase(p, "walCommit") for p in batches),
        "cdc_pipeline.commit_offsets_ms_p50": median(phase(p, "commitOffsets") for p in batches),
    }


class StreamJobs:
    """Counts the Spark jobs a streaming query runs. The stream thread tags
    its own jobs with the query's runId as job group; the jobs the
    foreachBatch sink launches from its Python callback carry no group, so
    they are counted as the growth of the ungrouped set while the caller's
    thread runs nothing itself."""

    def __init__(self, sc, query=None):
        self.sc = sc
        self.before = self._ids(query)

    def _ids(self, query) -> set:
        tracker = self.sc.statusTracker()
        ids = set(tracker.getJobIdsForGroup(None))
        if query is not None:
            ids |= set(tracker.getJobIdsForGroup(str(query.runId)))
        return ids

    def counts(self, query) -> dict:
        return job_counts(self.sc, sorted(self._ids(query) - self.before))


def sink_metrics(feed_path: str, batch_ids=None) -> dict[str, float]:
    files = batch_files(feed_path)
    if batch_ids is not None:
        files = {b: v for b, v in files.items() if b in batch_ids}
    return {
        "cdc_pipeline.files_written_per_batch": median(n for n, _ in files.values()),
        "cdc_pipeline.bytes_written": sum(size for _, size in files.values()),
    }


def host_steal_jiffies() -> tuple[int, int] | None:
    """(steal, total) CPU jiffies from /proc/stat: on a VM, time the host ran
    something else while this guest's CPUs were ready to run."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


class StealMonitor:
    """Samples the host's CPU steal every ``interval`` seconds on a thread
    of its own, so a workload can ask afterwards how much CPU the host took
    during any stretch of its run (epoch seconds). Where /proc/stat is not
    readable, every stretch reads as 0."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.samples: list[tuple[float, int, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="steal-monitor", daemon=True)

    def _sample(self) -> None:
        j = host_steal_jiffies()
        if j is not None:
            self.samples.append((time.time(), *j))

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "StealMonitor":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._stop.is_set():
            return
        self._stop.set()
        self._thread.join()
        self._sample()

    def share(self, t0: float, t1: float) -> float:
        return steal_share(list(self.samples), t0, t1)
