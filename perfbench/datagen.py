"""Seeded input generators for the benchmark.

Everything the benchmark feeds the engine is derived from ``--seed`` here,
so the same seed always yields byte-identical inputs:

* an ``events`` table shaped like the engine's test data (event_id, ts,
  user_id, event_type, value, props) with Zipf-skewed user activity;
* the Debezium-shaped JSON lines the CDC pipeline consumes, one per event,
  using the same event_type -> source table and event_id -> op mapping as
  ``operators.cdc.cdc_fixture_json``;
* Zipf-skewed page requests for the feed-read workloads.
"""

from __future__ import annotations

import json

import numpy as np

EVENT_TYPES = ("purchase", "view", "signup", "click", "error")
# event_type -> CDC source table; "error" goes to a table the pipeline does
# not know, so it lands in the dead-letter path (mirrors cdc_fixture_json).
TYPE_TABLE = {
    "purchase": "likes",
    "view": "comments",
    "signup": "shards",
    "click": "followers",
    "error": "mystery",
}
DAY_MS = 86_400_000
BASE_TS_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


def zipf_weights(n: int, s: float = 1.0) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def zipf_users(rng: np.random.Generator, n_users: int, size: int, s: float = 1.0):
    """``size`` user ids in [0, n_users), rank-Zipf skewed over a seeded
    permutation so the hot users are not simply the smallest ids."""
    perm = rng.permutation(n_users)
    ranks = rng.choice(n_users, size=size, p=zipf_weights(n_users, s))
    return perm[ranks]


def make_events(seed: int, n_events: int, n_users: int, days: int) -> dict:
    """Column dict of the events table: ts ascending over ``days`` days,
    users Zipf-skewed, types uniform, exponential values, props {"k": 0..99}."""
    rng = np.random.default_rng(seed)
    ts_ms = np.sort(rng.integers(0, days * DAY_MS, size=n_events)) + BASE_TS_MS
    return {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts_ms": ts_ms.astype(np.int64),
        "user_id": zipf_users(rng, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(len(EVENT_TYPES), size=n_events),
        "value": np.round(rng.exponential(50.0, size=n_events), 2),
        "k": rng.integers(0, 100, size=n_events),
    }


def op_for(event_id: int) -> str:
    """Debezium op cycle of the fixture: 0 -> update, 5 -> delete, else create."""
    r = event_id % 10
    return "u" if r == 0 else "d" if r == 5 else "c"


def cdc_record(event_id: int, etype: str, uid: int, k: int, ts_ms: int) -> dict:
    """One flattened Debezium change event (ExtractNewRecordState shape)."""
    table = TYPE_TABLE[etype]
    meta = {
        "__op": op_for(event_id),
        "__table": table,
        "__source_ts_ms": int(ts_ms),
        "__source_table": table,
    }
    if table == "likes":
        body = {"id": event_id, "shard_id": k, "liked_by": str(uid)}
    elif table == "comments":
        body = {"id": event_id, "message": json.dumps({"k": k}), "user_id": str(uid), "shard_id": k}
    elif table == "shards":
        body = {
            "id": event_id,
            "title": f"shard {event_id}",
            "user_id": str(uid),
            "templateType": "react",
            "mode": "normal",
            "type": "public",
        }
    elif table == "followers":
        body = {"id": event_id, "follower_id": str(uid), "following_id": str(uid + 1)}
    else:
        body = {"id": event_id}
    body.update(meta)
    return body


def cdc_lines(events: dict, ts_ms=None) -> list[str]:
    """JSON lines for every event; ``ts_ms`` overrides the source timestamps
    (the live load generator stamps each file with its due time)."""
    ts = events["ts_ms"] if ts_ms is None else ts_ms
    return [
        json.dumps(
            cdc_record(int(e), EVENT_TYPES[t], int(u), int(k), int(s)),
            separators=(",", ":"),
        )
        for e, t, u, k, s in zip(
            events["event_id"], events["event_type"], events["user_id"], events["k"], ts
        )
    ]


def valid_creates(events: dict) -> set[tuple[str, str]]:
    """(source_table, primary key) of every event the pipeline must commit:
    creates on one of the four known tables."""
    out = set()
    for e, t in zip(events["event_id"], events["event_type"]):
        table = TYPE_TABLE[EVENT_TYPES[t]]
        if table != "mystery" and op_for(int(e)) == "c":
            out.add((table, str(int(e))))
    return out


def page_requests(seed: int, user_ids, n: int, offsets=(0, 20, 40)):
    """``n`` (user_id, offset) page requests: users Zipf-skewed over
    ``user_ids`` (ordered most active first); offsets cycle in order, so
    every run asks for the same mix of first and later pages."""
    rng = np.random.default_rng(seed + 7919)
    ranks = rng.choice(len(user_ids), size=n, p=zipf_weights(len(user_ids)))
    return [(user_ids[r], offsets[i % len(offsets)]) for i, r in enumerate(ranks)]
