"""cdc_ingest: Debezium-shaped change events through ``run_cdc_pipeline``
into the parquet feed sink, in two phases after set-up: backfill, then live.

Live: an open loop at a fixed rate. A separate load-generator process drops
one file of ``RATE * INTERVAL_S`` events every ``INTERVAL_S`` seconds, each
event stamped with its file's due time, while a continuously triggered
pipeline ingests them. The first ``LIVE_WARMUP_S`` seconds warm the JVM and
are not measured; the run's ``--seconds`` that follow are. Freshness is the
time from an event's due time to the commit of the batch that took its
file, joined through the checkpoint's source log and commit files.

Set-up: ``STARTS`` fresh pipelines (new table, new checkpoint) each drain
a small file with an availableNow trigger; the first takes the JVM's cold
start. Set-up time is ``get_spark`` plus the median start-up.

Backfill: a staged backlog (the seeded events, original timestamps) is
drained with an availableNow trigger into a fresh feed table ``DRAINS``
times; the median drain is reported. The drains come before the live
phase, so the JIT they warm serves the live micro-batches too. The backlog is
sized so that per-row work, not the fixed cost of a micro-batch, takes
most of a drain (see ``N_BACKLOG``).

Only the calm parts of a run count towards the end-to-end figures: each
live file and each drain is weighed by the host CPU steal over its own
interval, and the stolen ones are set aside (``stats.calmest``).

Every start-up, every drain and the live table are checked afterwards: the
committed (source table, primary key) set must equal the valid creates
sent, with no key lost or duplicated.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import datagen
import layers
import stats
from loadgen import PLACEHOLDER

N_USERS = 1500
# A drain costs a fixed ~1.7 s per micro-batch plus ~12-20 us per row on
# a 4-vCPU box (availableNow drains of 3k/12k/60k/150k/300k events in one
# file: 1.8/2.0/2.4/3.8-5.2/5.3-5.5 s), so at 150k rows the per-row part
# is more than half of a drain, against ~2% of a live batch.
N_BACKLOG = 150_000
BACKLOG_DAYS = 1
DRAINS = 3
STARTS = 3
START_EVENTS = 250
RATE = 1000  # events per second, live phase
# One file per interval, and an interval longer than a micro-batch, so each
# batch takes one file. A one-file batch of 2,000 events costs ~1.3-1.5 s
# on a 4-vCPU box. With files closer together than a batch lasts, a batch
# takes every file that arrived while the previous one ran, and each file
# adds ~0.2 s of sink tasks: at 500 ms files batches settled at 3-5 files
# and ~2 s, and freshness moved +-15% from run to run with that grouping.
INTERVAL_S = 2.0
WARMUP_EVENTS = 250
LIVE_WARMUP_S = 2  # live load before the measured window starts
LEAD_S = 0.5  # generator staging time before its first due time
_SENTINEL = 987_654_321_987  # stands in for the due time in the templates
_LIVE_ID_BASE = 10_000_000
_WARMUP_ID_BASE = 20_000_000
_START_ID_BASE = 30_000_000


def _offset_ids(events: dict, base: int) -> dict:
    return {**events, "event_id": events["event_id"] + base}


def stage(ctx) -> dict:
    """Generate the start-up file, the backlog and the live templates."""
    d = os.path.join(ctx.work, "stage")
    tmpl = os.path.join(d, "templates")
    os.makedirs(tmpl)
    for name in ("backlog", "start"):
        os.makedirs(os.path.join(d, name))
    backlog = datagen.make_events(ctx.seed, N_BACKLOG, N_USERS, BACKLOG_DAYS)
    with open(os.path.join(d, "backlog", "backlog.jsonl"), "w") as f:
        f.write("\n".join(datagen.cdc_lines(backlog)) + "\n")
    start = _offset_ids(
        datagen.make_events(ctx.seed + 3, START_EVENTS, N_USERS, 1), _START_ID_BASE
    )
    with open(os.path.join(d, "start", "start.jsonl"), "w") as f:
        f.write("\n".join(datagen.cdc_lines(start)) + "\n")
    per_file = int(RATE * INTERVAL_S)
    n_files = int(round((LIVE_WARMUP_S + ctx.seconds) / INTERVAL_S))
    live = _offset_ids(
        datagen.make_events(ctx.seed + 1, per_file * n_files, N_USERS, 1), _LIVE_ID_BASE
    )
    ts = [_SENTINEL] * len(live["event_id"])
    lines = datagen.cdc_lines(live, ts)
    for i in range(n_files):
        body = "\n".join(lines[i * per_file : (i + 1) * per_file]) + "\n"
        with open(os.path.join(tmpl, f"live-{i:05d}.jsonl"), "w") as f:
            f.write(body.replace(str(_SENTINEL), PLACEHOLDER))
    return {
        "start": os.path.join(d, "start"),
        "start_keys": datagen.valid_creates(start),
        "backlog": os.path.join(d, "backlog"),
        "backlog_keys": datagen.valid_creates(backlog),
        "templates": tmpl,
        "live_keys": datagen.valid_creates(live),
        "live_events": len(live["event_id"]),
        "per_file": per_file,
    }


def drain(ctx, cp, src: str, keys: set, name: str) -> dict:
    """Drain a staged source directory with an availableNow trigger into a
    fresh table and checkpoint, and check the committed keys."""
    d = os.path.join(ctx.work, name)
    feed = os.path.join(d, "feed")
    t_epoch, t0 = time.time(), time.perf_counter()
    with ctx.tracer.span("cdc_pipeline.run_cdc_pipeline", request=name):
        q = cp.run_cdc_pipeline(ctx.spark, src, feed, os.path.join(d, "ckpt"))
        q.awaitTermination()
    wall = time.perf_counter() - t0
    steal = ctx.steal.share(t_epoch, time.time())
    if q.exception() is not None:
        raise RuntimeError(f"{name} failed: {q.exception()}")
    errors = layers.key_mismatch(layers.committed_keys(feed), keys)
    shutil.rmtree(d)
    return {"wall_s": wall, "events_per_s": len(keys) / wall, "steal": steal, "errors": errors}


def live(ctx, cp, staged: dict) -> dict:
    spark, tr = ctx.spark, ctx.tracer
    d = os.path.join(ctx.work, "live")
    src, stage_dir = os.path.join(d, "src"), os.path.join(d, "stage")
    feed, ckpt = os.path.join(d, "feed"), os.path.join(d, "ckpt")
    os.makedirs(src)
    q = cp.run_cdc_pipeline(spark, src, feed, ckpt, available_now=False)
    try:
        # one warm-up file, so the measured batches do not pay the first
        # batch's planning and codegen
        warm = _offset_ids(
            datagen.make_events(ctx.seed + 2, WARMUP_EVENTS, N_USERS, 1), _WARMUP_ID_BASE
        )
        now_ms = int(time.time() * 1000)
        with open(os.path.join(src, "warmup.jsonl"), "w") as f:
            f.write("\n".join(datagen.cdc_lines(warm, [now_ms] * WARMUP_EVENTS)) + "\n")
        q.processAllAvailable()
        jobs = layers.StreamJobs(spark.sparkContext, q)
        first_live_batch = q.lastProgress["batchId"] + 1

        log = os.path.join(d, "loadgen.json")
        start = time.time() + LEAD_S
        gen = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py"),
             staged["templates"], stage_dir, src, repr(start), repr(INTERVAL_S), log]
        )
        with tr.span("cdc_pipeline.live", request="live"):
            try:
                rc = gen.wait(timeout=ctx.seconds + LEAD_S + 60)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            if rc != 0:
                raise RuntimeError(f"load generator exited with {rc}")
            q.processAllAvailable()
        counts = jobs.counts(q)
        progresses = q.recentProgress
    finally:
        q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"live pipeline failed: {q.exception()}")

    with open(log) as f:
        sent = json.load(f)
    file_batch = stats.source_file_batches(ckpt)
    commits = stats.commit_times_ms(ckpt)
    batches = [p for p in layers.data_batches(progresses) if p["batchId"] >= first_live_batch]
    starts = {p["batchId"]: layers.epoch_ms(p["timestamp"]) for p in batches}
    measured_from = round((start + LIVE_WARMUP_S) * 1000)  # as loadgen rounds due times
    rows = stats.join_freshness(
        {s["file"]: s["due_ms"] for s in sent if s["due_ms"] >= measured_from},
        {s["file"]: staged["per_file"] for s in sent},
        file_batch,
        commits,
        starts,
    )
    for p in batches:
        b = p["batchId"]
        tr.add("cdc_pipeline.batch", starts[b], commits[b], request="live", batch=b,
               rows=int(p["numInputRows"]), durationMs=p["durationMs"])
    live_ids = {r["batch"] for r in rows}
    expected = staged["live_keys"] | datagen.valid_creates(warm)
    errors = layers.key_mismatch(layers.committed_keys(feed), expected)
    return {
        "rows": rows,
        "sent": sent,
        "batches": [p for p in batches if p["batchId"] in live_ids],
        "jobs": counts,
        "all_batches": len(batches),
        "sink": layers.sink_metrics(feed, live_ids),
        "errors": errors,
        "events": staged["live_events"] + WARMUP_EVENTS,
    }


def between_phases(spark) -> None:
    """Start each phase from an empty cache and a collected heap, so one
    phase's garbage is not charged to the next."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()


def run(ctx) -> dict:
    from user_feed_cdc_spark.streaming import cdc_pipeline as cp

    t = [time.perf_counter()]
    staged = stage(ctx)
    t.append(time.perf_counter())
    starts = [drain(ctx, cp, staged["start"], staged["start_keys"], f"start{k}")
              for k in range(STARTS)]
    between_phases(ctx.spark)
    t.append(time.perf_counter())
    drains = [drain(ctx, cp, staged["backlog"], staged["backlog_keys"], f"drain{k}")
              for k in range(DRAINS)]
    between_phases(ctx.spark)
    t.append(time.perf_counter())
    lv = live(ctx, cp, staged)
    t.append(time.perf_counter())

    rows = stats.calmest(
        lv["rows"],
        [ctx.steal.share(r["due_ms"] / 1e3, r["commit_ms"] / 1e3) for r in lv["rows"]],
    )
    pairs = [(r["freshness_ms"], r["events"]) for r in rows]
    p50, _ = stats.weighted_percentile(pairs, 50)
    p90, beyond = stats.weighted_percentile(pairs, 90)
    calm_drains = stats.calmest(drains, [d["steal"] for d in drains])
    late = [s["dropped_ms"] - s["due_ms"] for s in lv["sent"]]
    growth = stats.backlog_growth(lv["rows"])
    errors = sum(d["errors"] for d in drains + starts) + lv["errors"]
    attempted = DRAINS * N_BACKLOG + STARTS * START_EVENTS + lv["events"]
    result = {
        "correct": errors == 0,
        "attempted": attempted,
        "failed": errors,
        "end_to_end": {
            "setup_s": ctx.get_spark_s + stats.median(d["wall_s"] for d in starts),
            "latency_p50_ms": p50,
            "alt_latency_ms": p90,
            "throughput_per_s": stats.median(d["events_per_s"] for d in calm_drains),
        },
        "info": {
            "live_files": len(lv["sent"]),
            "live_events": lv["events"],
            "freshness_files": len(lv["rows"]),
            "freshness_calm_files": len(rows),
            "freshness_beyond_p90_events": beyond,
            "live_batches": len(lv["batches"]),
            "backlog_growth": round(growth, 4),
            "backlog_growing": growth > 0.25,
            "generator_late_ms_max": round(max(late), 3),
            "start_wall_s": [round(d["wall_s"], 3) for d in starts],
            "drain_wall_s": [round(d["wall_s"], 3) for d in drains],
            "drain_steal_pct": [round(100 * d["steal"], 2) for d in drains],
            "calm_drains": len(calm_drains),
            "key_errors": errors,
            "get_spark_s": round(ctx.get_spark_s, 3),
            "phase_s": {k: round(b - a, 3) for k, a, b in
                        zip(("stage", "starts", "drains", "live"), t, t[1:])},
        },
        "per_layer": {},
        "detail": {
            "batches": [
                (p["batchId"], int(p["numInputRows"]), p["durationMs"].get("triggerExecution"),
                 p["durationMs"].get("addBatch"))
                for p in lv["batches"]
            ],
            "freshness_ms": [round(r["freshness_ms"]) for r in lv["rows"]],
            "calm_files": [r["file"] for r in rows],
        },
    }
    if ctx.trace:
        out = {"session.get_spark_s": ctx.get_spark_s}
        out.update(layers.progress_metrics(lv["batches"]))
        out.update(lv["sink"])
        n = max(1, lv["all_batches"])  # the job counts span the whole live phase
        out["cdc_pipeline.jobs_per_batch"] = lv["jobs"]["jobs"] / n
        out["cdc_pipeline.tasks_per_batch"] = lv["jobs"]["tasks"] / n
        out["cdc_pipeline.queue_wait_ms_p50"] = stats.weighted_percentile(
            [(r["queue_wait_ms"], r["events"]) for r in lv["rows"]], 50
        )[0]
        out["cdc_pipeline.freshness_growth_pct"] = growth * 100
        out["gen.files"] = len(lv["sent"])
        out["gen.events"] = lv["events"] - WARMUP_EVENTS
        out["gen.late_ms_max"] = max(late)
        # tracing here is one span per pipeline run; its cost is the span's
        # own job-group and StatusTracker bookkeeping
        spans = ctx.tracer.by_name("cdc_pipeline.run_cdc_pipeline")
        out["trace.overhead_ms_p50"] = stats.median(s.cost * 1e3 for s in spans)
        result["per_layer"] = out
    return result
