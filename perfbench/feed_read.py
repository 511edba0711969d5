"""feed_read: one closed-loop client reading per-user feed pages.

Set-up builds the serving table through the engine's own write path, three
times over from scratch (the median is reported): a ``run_cdc_pipeline``
backfill of the seeded change events, ``compact_feed`` into the serving
layout, and the first ``FeedCache.page``, which materializes the cache.

The timed loop then issues Zipf-skewed page requests (limit 20, offsets
0/20/40), alternating between the storage path (``read_user_feed`` on the
compacted table) and the cache-aside path (``FeedCache.page``). Every page
served is checked afterwards against a pyarrow reading of the same table.

Only the calm pages count towards the latencies: each page is weighed by
the host CPU steal over its own interval, and a page during which the host
stole CPU is set aside (``stats.calmest``). When under half of the pages
served in ``--seconds`` were calm, the loop goes on, for at most
``EXTEND_S`` more seconds, until that many are.

With tracing on, every other request pair runs inside spans (build and
execute, with job/stage/task counts); the untraced pairs give the
tracing-overhead figure.
"""

from __future__ import annotations

import math
import os
import time
import traceback
from typing import NamedTuple

import datagen
import layers
from stats import STEAL_KEEP, STEAL_LIMIT, calm_count, calmest, median, percentile
from tracing import untraced

N_USERS = 1500
N_EVENTS = 6_000
DAYS = 1
SETUPS = 3
PAGE = 20
# untimed read-path warm-up, counted in request pairs rather than seconds:
# the JIT speeds pages up with the number of requests served (on a 4-vCPU
# box calm storage pages fell from ~440 to ~250 ms over the first ~40
# pairs, then ~10% more over the next ~100), so a fixed count gives every
# run the same JIT state however slowly the host let it get there. A
# stop-when-settled rule was not kept: a stolen block reads slow and ends
# the warm-up early.
WARMUP_PAIRS = 30
# steal episodes on a shared 4-vCPU host often lasted 10-15 s, so a window
# with too few calm pages may go on this much longer to outlast one
EXTEND_S = 8


def build_serving_table(ctx, cp, lines, rep: int) -> dict:
    """Backfill -> compact -> materialize the cache, in fresh directories."""
    spark, tr = ctx.spark, ctx.tracer
    d = os.path.join(ctx.work, f"setup{rep}")
    src = os.path.join(d, "src")
    os.makedirs(src)
    with open(os.path.join(src, "backlog.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    feed, served = os.path.join(d, "feed"), os.path.join(d, "served")
    jobs = layers.StreamJobs(spark.sparkContext)
    t0 = time.perf_counter()
    with tr.span("cdc_pipeline.run_cdc_pipeline", request=f"setup{rep}"):
        q = cp.run_cdc_pipeline(spark, src, feed, os.path.join(d, "ckpt"))
        q.awaitTermination()
    t1 = time.perf_counter()
    if q.exception() is not None:
        raise RuntimeError(f"backfill failed: {q.exception()}")
    stream_counts = jobs.counts(q)
    with tr.span("cdc_pipeline.compact_feed", request=f"setup{rep}"):
        cp.compact_feed(spark, feed, served)
    t2 = time.perf_counter()
    cache = cp.FeedCache(spark, served)
    with tr.span("cdc_pipeline.feed_cache.materialize", request=f"setup{rep}"):
        cache.page("0", PAGE, 0).collect()
    t3 = time.perf_counter()
    batches = layers.data_batches(q.recentProgress)
    return {
        "served": served,
        "cache": cache,
        "build_s": t3 - t0,
        "compact_s": t2 - t1,
        "materialize_s": t3 - t2,
        "progress": layers.progress_metrics(batches),
        "sink": layers.sink_metrics(feed),
        "jobs_per_batch": stream_counts["jobs"] / max(1, len(batches)),
        "tasks_per_batch": stream_counts["tasks"] / max(1, len(batches)),
    }


class Page(NamedTuple):
    path: str  # "storage" or "cached"
    traced: bool
    ms: float
    user: str
    offset: int
    ids: tuple
    req: int
    start: float  # epoch seconds, for the host steal over the page
    end: float


def _page(ctx, cp, table, path: str, user: str, offset: int, req: int, traced: bool) -> Page:
    span = ctx.tracer.span if traced else untraced
    name = "cdc_pipeline.read_user_feed" if path == "storage" else "cdc_pipeline.feed_cache"
    start = time.time()
    t0 = time.perf_counter()
    with span(name, request=req, user=user, offset=offset):
        with span(name + ".build"):
            if path == "storage":
                df = cp.read_user_feed(ctx.spark, table["served"], user, PAGE, offset)
            else:
                df = table["cache"].page(user, PAGE, offset)
        with span(name + ".exec"):
            rows = df.collect()
    ms = (time.perf_counter() - t0) * 1e3
    ids = tuple(r.activity_id for r in rows)
    return Page(path, traced, ms, user, offset, ids, req, start, time.time())


def run(ctx) -> dict:
    from user_feed_cdc_spark.streaming import cdc_pipeline as cp

    events = datagen.make_events(ctx.seed, N_EVENTS, N_USERS, DAYS)
    lines = datagen.cdc_lines(events)
    expected_keys = datagen.valid_creates(events)

    tables = []
    for rep in range(SETUPS):
        if tables:
            tables[-1]["cache"].invalidate()
        tables.append(build_serving_table(ctx, cp, lines, rep))
    table = tables[-1]

    # independent reference over the same compacted table (outside timing)
    ref = layers.reference_pages(table["served"])
    users = sorted(ref, key=lambda u: (-len(ref[u]), u))
    committed = layers.committed_keys(table["served"])
    key_errors = layers.key_mismatch(committed, expected_keys)

    requests = datagen.page_requests(ctx.seed, users, 20_000)
    for u, off in requests[:WARMUP_PAIRS]:
        for path in ("storage", "cached"):
            _page(ctx, cp, table, path, u, off, -1, False)
    requests = requests[WARMUP_PAIRS:]
    ctx.spark.sparkContext._jvm.System.gc()

    served: list[Page] = []
    failed_calls = 0
    start = time.perf_counter()
    deadline = start + ctx.seconds
    need = 0  # calm pages wanted: half of those served in the --seconds window
    i = 0
    while True:
        now = time.perf_counter()
        if now >= deadline:
            need = need or math.ceil(STEAL_KEEP * len(served))
            if calm_count(_steal(ctx, served)) >= need or now >= deadline + EXTEND_S:
                break
        u, off = requests[i]
        traced = ctx.trace and i % 2 == 1
        # each request goes to the storage path, then the cached path
        for path in ("storage", "cached"):
            try:
                served.append(_page(ctx, cp, table, path, u, off, i, traced))
            except Exception:  # a failed page is counted, not fatal
                traceback.print_exc()
                failed_calls += 1
        i += 1
    elapsed = time.perf_counter() - start

    wrong = sum(1 for p in served if list(p.ids) != ref.get(p.user, [])[p.offset : p.offset + PAGE])
    attempted = len(served) + failed_calls
    steal = dict(zip(served, _steal(ctx, served)))

    def calm(pages):
        return calmest(pages, [steal[p] for p in pages])

    storage = calm([p for p in served if p.path == "storage" and not p.traced])
    cached = calm([p for p in served if p.path == "cached" and not p.traced])
    by_req = {}
    for p in served:
        by_req.setdefault(p.req, []).append(p)
    pairs = [ps for ps in by_req.values() if len(ps) == 2 and not ps[0].traced]
    pairs = calmest(pairs, [max(steal[p] for p in ps) for ps in pairs])

    p50, _ = percentile([p.ms for p in storage], 50)
    p90, beyond = percentile([p.ms for p in storage], 90)
    cp50, _ = percentile([p.ms for p in cached], 50)
    cp90, cbeyond = percentile([p.ms for p in cached], 90)
    setup_s = ctx.get_spark_s + median(t["build_s"] for t in tables)
    result = {
        "correct": wrong == 0 and failed_calls == 0 and key_errors == 0,
        "attempted": attempted,
        "failed": wrong + failed_calls,
        "end_to_end": {
            "setup_s": setup_s,
            "latency_p50_ms": p50,
            "alt_latency_ms": cp50,
            "throughput_per_s": 2000.0 / median(sum(p.ms for p in ps) for ps in pairs),
        },
        "info": {
            "pages": len(served),
            "pages_per_s": round(len(served) / elapsed, 3),
            "calm_pages": sum(1 for p in served if steal[p] <= STEAL_LIMIT),
            "window_s": round(elapsed, 3),
            "storage_samples": len(storage),
            "storage_p90_ms": p90,
            "storage_beyond_p90": beyond,
            "cached_samples": len(cached),
            "cached_p90_ms": cp90,
            "cached_beyond_p90": cbeyond,
            "wrong_pages": wrong,
            "key_errors": key_errors,
            "setup_build_s": [round(t["build_s"], 3) for t in tables],
            "get_spark_s": round(ctx.get_spark_s, 3),
        },
    }
    result["detail"] = {
        "pages": [(p.path[0], round(p.ms, 1), round(100 * steal[p], 2)) for p in served]
    }
    result["per_layer"] = per_layer(ctx, cp, tables, served, calm, table) if ctx.trace else {}
    return result


def _steal(ctx, pages) -> list[float]:
    return [ctx.steal.share(p.start, p.end) for p in pages]


def per_layer(ctx, cp, tables, served, calm, table) -> dict:
    tr = ctx.tracer
    out = {"session.get_spark_s": ctx.get_spark_s}
    for key in tables[0]["progress"]:
        out[key] = median(t["progress"][key] for t in tables)
    for key in tables[0]["sink"]:
        out[key] = median(t["sink"][key] for t in tables)
    out["cdc_pipeline.jobs_per_batch"] = median(t["jobs_per_batch"] for t in tables)
    out["cdc_pipeline.tasks_per_batch"] = median(t["tasks_per_batch"] for t in tables)
    out["cdc_pipeline.compact_feed_s"] = median(t["compact_s"] for t in tables)
    out["cdc_pipeline.feed_cache.materialize_s"] = median(t["materialize_s"] for t in tables)

    for prefix in ("cdc_pipeline.read_user_feed", "cdc_pipeline.feed_cache"):
        pages = tr.by_name(prefix)
        builds = tr.by_name(prefix + ".build")
        execs = tr.by_name(prefix + ".exec")
        out[prefix + ".build_ms_p50"] = median(s.ms for s in builds)
        out[prefix + ".exec_ms_p50"] = median(s.ms for s in execs)
        n = max(1, len(pages))
        for what in ("jobs", "tasks"):
            total = sum(s.counts[what] for s in builds + execs)
            out[f"{prefix}.{what}_per_page"] = total / n

    # read_feed_meta on its own, after the timed loop
    metas = []
    for k in range(20):
        with tr.span("cdc_pipeline.read_feed_meta", request=f"meta{k}") as s:
            cp.read_feed_meta(ctx.spark, table["served"])
        metas.append(s.ms)
    out["cdc_pipeline.read_feed_meta_ms_p50"] = median(metas)

    def storage(traced):
        return [p.ms for p in calm([p for p in served if p.path == "storage" and p.traced == traced])]

    out["trace.overhead_ms_p50"] = median(storage(True)) - median(storage(False))
    return out
