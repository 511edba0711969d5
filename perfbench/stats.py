"""Pure helpers: percentiles with their sample counts, the host CPU steal
over an interval and the choice of a run's calm items, and the join of
open-loop freshness to streaming batch commits.

Nothing here touches Spark; the functions read plain lists and, for the
freshness join, the files a Structured Streaming checkpoint leaves on disk.
"""

from __future__ import annotations

import bisect
import json
import math
import os
import statistics


def percentile(values, q: float) -> tuple[float, int]:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of ``values`` and the
    number of samples strictly beyond it, so a caller can tell a p90 drawn
    from 12 samples (1 beyond) from one drawn from 1,000 (100 beyond)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    value = xs[rank - 1]
    return value, sum(1 for x in xs if x > value)


def weighted_percentile(pairs, q: float) -> tuple[float, int]:
    """Nearest-rank percentile over (value, weight) pairs with integer
    weights, without expanding them; returns (value, total weight beyond)."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    if total <= 0:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * total))
    seen = 0
    for v, w in pairs:
        seen += w
        if seen >= rank:
            return v, sum(w2 for v2, w2 in pairs if v2 > v)
    raise AssertionError("unreachable")


def median(values, default: float = 0.0) -> float:
    values = list(values)
    return statistics.median(values) if values else default


def steal_share(samples, t0: float, t1: float) -> float:
    """Share of CPU time the host stole over [t0, t1], from cumulative
    ``(time, steal, total)`` samples sorted by time: the delta between the
    last sample at or before ``t0`` and the first at or after ``t1`` (the
    nearest samples when the interval runs past either end). 0.0 when there
    are fewer than two samples."""
    if len(samples) < 2:
        return 0.0
    times = [s[0] for s in samples]
    lo = max(0, bisect.bisect_right(times, t0) - 1)
    hi = min(len(samples) - 1, bisect.bisect_left(times, t1))
    if hi <= lo:
        lo, hi = max(0, hi - 1), max(1, hi)
    steal = samples[hi][1] - samples[lo][1]
    total = samples[hi][2] - samples[lo][2]
    return steal / total if total > 0 else 0.0


# An interval is calm when the host stole at most 1% of all CPU time in it
# (steal episodes read 3-30%; a 300 ms page that lost even 2% read ~15%
# slower than one that lost none); at least half of a run's items are
# always kept.
STEAL_LIMIT = 0.01
STEAL_KEEP = 0.5


def calmest(items: list, steal: list[float], limit: float = STEAL_LIMIT,
            keep: float = STEAL_KEEP) -> list:
    """The items measured while the host stole at most ``limit`` of the CPU;
    if those are fewer than a ``keep`` share of all items, the ``keep``
    share with the least steal instead (ties keep their order). A host that
    steals CPU in episodes makes every wall-clock figure taken inside one
    read slower; this keeps the figures to the calm parts of a run."""
    calm = [x for x, s in zip(items, steal) if s <= limit]
    need = math.ceil(keep * len(items))
    if len(calm) >= need:
        return calm
    order = sorted(range(len(items)), key=lambda i: steal[i])[:need]
    return [items[i] for i in sorted(order)]


def calm_count(steal: list[float], limit: float = STEAL_LIMIT) -> int:
    return sum(1 for s in steal if s <= limit)


# ---------------------------------------------------------------------------
# Streaming checkpoint -> (file, batch) -> commit time
# ---------------------------------------------------------------------------


def source_file_batches(checkpoint: str, source: int = 0) -> dict[str, int]:
    """basename -> batchId for every file the file source recorded, read
    from ``<checkpoint>/sources/<n>/``. Plain batch files and the periodic
    ``N.compact`` files share one format: a version line, then one JSON
    object per file with ``path`` and ``batchId``."""
    d = os.path.join(checkpoint, "sources", str(source))
    out: dict[str, int] = {}
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with open(os.path.join(d, name)) as f:
            lines = f.read().splitlines()
        for line in lines[1:]:
            if line.strip():
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_times_ms(checkpoint: str) -> dict[int, float]:
    """batchId -> epoch ms at which ``commits/<batchId>`` was written, i.e.
    when the batch's sink output became durable."""
    d = os.path.join(checkpoint, "commits")
    out = {}
    for name in os.listdir(d):
        if name.isdigit():
            out[int(name)] = os.stat(os.path.join(d, name)).st_mtime_ns / 1e6
    return out


def join_freshness(
    due_ms: dict[str, float],
    events: dict[str, int],
    file_batch: dict[str, int],
    commit_ms: dict[int, float],
    batch_start_ms: dict[int, float] | None = None,
) -> list[dict]:
    """One row per generated file: its due time, the batch that took it,
    that batch's commit (and start) time, and the derived freshness
    (commit - due) and queue wait (batch start - due). A file missing from
    the source log or a batch without a commit raises: an open-loop run
    must account for every file it sent."""
    rows = []
    for name, due in sorted(due_ms.items(), key=lambda kv: kv[1]):
        if name not in file_batch:
            raise ValueError(f"file {name} was never taken by a batch")
        batch = file_batch[name]
        if batch not in commit_ms:
            raise ValueError(f"batch {batch} (file {name}) has no commit")
        row = {
            "file": name,
            "due_ms": due,
            "events": events[name],
            "batch": batch,
            "commit_ms": commit_ms[batch],
            "freshness_ms": commit_ms[batch] - due,
        }
        if batch_start_ms is not None:
            row["queue_wait_ms"] = batch_start_ms[batch] - due
        rows.append(row)
    return rows


def backlog_growth(rows: list[dict]) -> float:
    """Median freshness of the last third of the files (by due time) over
    that of the first third, minus one: near 0 when the pipeline keeps up,
    clearly positive when a backlog builds during the run."""
    n = len(rows) // 3
    if n == 0:
        return 0.0
    first = statistics.median(r["freshness_ms"] for r in rows[:n])
    last = statistics.median(r["freshness_ms"] for r in rows[-n:])
    return last / first - 1.0
