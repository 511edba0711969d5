"""Unit tests for the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import stats  # noqa: E402


def test_percentile_reports_samples_beyond():
    values = list(range(1, 101))  # 1..100
    assert stats.percentile(values, 50) == (50, 50)
    assert stats.percentile(values, 90) == (90, 10)
    assert stats.percentile([7.0], 90) == (7.0, 0)
    # ties at the percentile are not "beyond" it
    assert stats.percentile([1, 2, 2, 2, 2, 2, 2, 2, 2, 3], 90) == (2, 1)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_weighted_percentile_matches_expanded():
    pairs = [(30.0, 3), (10.0, 5), (20.0, 2)]
    expanded = [v for v, w in pairs for _ in range(w)]
    for q in (10, 50, 60, 70, 90, 100):
        assert stats.weighted_percentile(pairs, q) == stats.percentile(expanded, q)


def _checkpoint(tmp_path, batches: dict[int, list[str]], commit_ms: dict[int, int]):
    src = tmp_path / "ckpt" / "sources" / "0"
    com = tmp_path / "ckpt" / "commits"
    src.mkdir(parents=True)
    com.mkdir(parents=True)
    compact = [b for b in batches if b <= 1]
    # batches 0-1 folded into a compact file, the rest one file per batch
    with open(src / "1.compact", "w") as f:
        f.write("v1\n")
        for b in compact:
            for name in batches[b]:
                f.write(json.dumps({"path": f"file:///in/{name}", "timestamp": 0, "batchId": b}) + "\n")
    for b, names in batches.items():
        if b in compact:
            continue
        with open(src / str(b), "w") as f:
            f.write("v1\n" + "".join(
                json.dumps({"path": f"file:///in/{n}", "timestamp": 0, "batchId": b}) + "\n"
                for n in names))
    for b, ms in commit_ms.items():
        p = com / str(b)
        p.write_text("v1\n{}\n")
        os.utime(p, ns=(ms * 1_000_000, ms * 1_000_000))
    return str(tmp_path / "ckpt")


def test_freshness_joins_files_to_batch_commits(tmp_path):
    ckpt = _checkpoint(
        tmp_path,
        {0: ["a"], 1: ["b", "c"], 2: ["d"]},
        {0: 10_000, 1: 11_000, 2: 12_500},
    )
    file_batch = stats.source_file_batches(ckpt)
    assert file_batch == {"a": 0, "b": 1, "c": 1, "d": 2}
    commits = stats.commit_times_ms(ckpt)
    assert commits == {0: 10_000.0, 1: 11_000.0, 2: 12_500.0}
    due = {"a": 9_000, "b": 9_500, "c": 10_200, "d": 11_900}
    rows = stats.join_freshness(
        due, {k: 10 for k in due}, file_batch, commits,
        {0: 9_100, 1: 10_300, 2: 11_950},
    )
    assert [r["file"] for r in rows] == ["a", "b", "c", "d"]
    assert [r["freshness_ms"] for r in rows] == [1_000, 1_500, 800, 600]
    assert [r["queue_wait_ms"] for r in rows] == [100, 800, 100, 50]
    assert stats.backlog_growth(rows) == pytest.approx(600 / 1_000 - 1)


def test_freshness_join_rejects_unaccounted_files(tmp_path):
    ckpt = _checkpoint(tmp_path, {0: ["a"], 1: ["b"]}, {0: 10_000})
    fb, cm = stats.source_file_batches(ckpt), stats.commit_times_ms(ckpt)
    with pytest.raises(ValueError, match="never taken"):
        stats.join_freshness({"z": 1}, {"z": 1}, fb, cm)
    with pytest.raises(ValueError, match="no commit"):
        stats.join_freshness({"b": 1}, {"b": 1}, fb, cm)


def test_zipf_draw_is_seeded_and_skewed():
    import numpy as np

    a = datagen.zipf_users(np.random.default_rng(5), 1500, 20_000)
    b = datagen.zipf_users(np.random.default_rng(5), 1500, 20_000)
    c = datagen.zipf_users(np.random.default_rng(6), 1500, 20_000)
    assert (a == b).all() and not (a == c).all()
    counts = np.bincount(a, minlength=1500)
    assert counts.max() > 20 * np.median(counts[counts > 0])
    users = [str(u) for u in range(50)]
    assert datagen.page_requests(3, users, 200) == datagen.page_requests(3, users, 200)
    assert datagen.page_requests(3, users, 200) != datagen.page_requests(4, users, 200)
    assert [o for _, o in datagen.page_requests(3, users, 6)] == [0, 20, 40, 0, 20, 40]


def test_event_generator_is_seeded():
    one = datagen.cdc_lines(datagen.make_events(11, 500, 100, 2))
    two = datagen.cdc_lines(datagen.make_events(11, 500, 100, 2))
    other = datagen.cdc_lines(datagen.make_events(12, 500, 100, 2))
    assert one == two and one != other
    rec = json.loads(one[0])
    assert {"__op", "__table", "__source_ts_ms", "__source_table", "id"} <= rec.keys()


def test_valid_creates_follow_the_fixture_rules():
    ev = datagen.make_events(1, 1000, 50, 1)
    keys = datagen.valid_creates(ev)
    for line in datagen.cdc_lines(ev):
        rec = json.loads(line)
        valid = rec["__op"] == "c" and rec["__table"] != "mystery"
        assert ((rec["__table"], str(rec["id"])) in keys) == valid


def test_steal_share_uses_the_bracketing_samples():
    # cumulative (time, steal, total) jiffies: calm, then 50% stolen, then calm
    samples = [(0.0, 0, 0), (1.0, 0, 400), (2.0, 200, 800), (3.0, 200, 1200)]
    assert stats.steal_share(samples, 0.0, 1.0) == 0.0
    assert stats.steal_share(samples, 1.0, 2.0) == 0.5
    assert stats.steal_share(samples, 1.2, 1.8) == 0.5  # widened to whole samples
    assert stats.steal_share(samples, 0.5, 3.0) == pytest.approx(200 / 1200)
    assert stats.steal_share(samples, -5.0, 9.0) == pytest.approx(200 / 1200)
    assert stats.steal_share(samples, 2.5, 2.5) == 0.0
    assert stats.steal_share(samples[:1], 0.0, 1.0) == 0.0


def test_calmest_keeps_calm_items_or_the_least_stolen_share():
    items = ["a", "b", "c", "d"]
    assert stats.calmest(items, [0.0, 0.01, 0.3, 0.0], 0.02, 0.5) == ["a", "b", "d"]
    # only one calm item: fall back to the least-stolen half, in input order
    assert stats.calmest(items, [0.2, 0.05, 0.3, 0.0], 0.02, 0.5) == ["b", "d"]
    assert stats.calmest(items, [0.2, 0.2, 0.2, 0.2], 0.02, 0.5) == ["a", "b"]
    assert stats.calmest([], [], 0.02, 0.5) == []
