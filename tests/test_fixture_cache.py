"""Crash and race behaviour of formats.cached_fixture, the one cache
protocol every on-disk fixture builds through: a build that dies
part-way leaves nothing a later call reuses or appends to, a failed
post-write check is never cached, and concurrent callers on one key
run exactly one build."""

from __future__ import annotations

import multiprocessing as mp
import os

import pytest

N_RACERS = 4


@pytest.fixture
def scratch(monkeypatch, tmp_path):
    """Point the fixture cache at a private scratch dir, so these tests
    neither reuse nor evict the shared cache."""
    from user_feed_cdc_spark.sources import formats

    d = tmp_path / "scratch"
    d.mkdir()
    monkeypatch.setattr(formats, "_scratch_dir", lambda: str(d))
    return str(d)


@pytest.fixture
def fake_sf(tmp_path):
    """An sf dir whose only content is the events.parquet the cache key
    reads the mtime of; the pure-Python builds below never open it."""
    d = tmp_path / "sf_fake"
    d.mkdir()
    (d / "events.parquet").write_bytes(b"")
    return str(d)


def _racer(sf_dir: str, log: str, barrier, out_q) -> None:
    import time

    from user_feed_cdc_spark.sources import formats

    def build(root: str) -> None:
        with open(log, "a") as f:
            f.write(f"{os.getpid()}\n")
        time.sleep(0.3)  # hold the build open while the others arrive
        with open(os.path.join(root, "payload"), "w") as f:
            f.write("complete\n")

    barrier.wait()
    root = formats.cached_fixture("race", sf_dir, ":v1", build)
    with open(os.path.join(root, "payload")) as f:
        out_q.put((root, f.read()))


def test_cached_fixture_race_builds_once(scratch, fake_sf, tmp_path):
    ctx = mp.get_context("fork")  # children inherit the scratch patch
    barrier = ctx.Barrier(N_RACERS)
    out_q = ctx.Queue()
    log = str(tmp_path / "builds.log")
    procs = [
        ctx.Process(target=_racer, args=(fake_sf, log, barrier, out_q))
        for _ in range(N_RACERS)
    ]
    for p in procs:
        p.start()
    results = [out_q.get(timeout=60) for _ in range(N_RACERS)]
    for p in procs:
        p.join(timeout=30)
        assert p.exitcode == 0

    with open(log) as f:
        assert len(f.read().split()) == 1  # exactly one build ran
    roots = {root for root, _ in results}
    assert len(roots) == 1
    assert [payload for _, payload in results] == ["complete\n"] * N_RACERS
    (root,) = roots
    assert sorted(os.listdir(root)) == ["_BUILT", "payload"]


def _dies_mid_build(sf_dir: str) -> None:
    from user_feed_cdc_spark.sources import formats

    def build(root: str) -> None:
        with open(os.path.join(root, "partial"), "w") as f:
            f.write("half")
        os._exit(3)

    formats.cached_fixture("killed", sf_dir, ":v1", build)


def test_cached_fixture_rebuilds_after_killed_build(scratch, fake_sf):
    from user_feed_cdc_spark.sources import formats

    p = mp.get_context("fork").Process(target=_dies_mid_build, args=(fake_sf,))
    p.start()
    p.join(timeout=60)
    assert p.exitcode == 3
    (left,) = [n for n in os.listdir(scratch) if n.startswith("killed_")]
    assert os.listdir(os.path.join(scratch, left)) == ["partial"]

    seen = []

    def build(root: str) -> None:
        seen.append(sorted(os.listdir(root)))
        with open(os.path.join(root, "payload"), "w") as f:
            f.write("complete\n")

    root = formats.cached_fixture("killed", fake_sf, ":v1", build)
    assert seen == [[]]  # the dead build's partial output was wiped
    assert os.path.basename(root) == left
    assert sorted(os.listdir(root)) == ["_BUILT", "payload"]
    # warm: no second build
    assert formats.cached_fixture("killed", fake_sf, ":v1", build) == root
    assert len(seen) == 1


def test_txn_log_build_killed_after_two_commits_rebuilds_clean(
    spark, sf_dir, scratch, monkeypatch
):
    """A _txn_log_table build that dies after its second commit must
    not leave a log the next call appends to: the rebuild holds
    exactly v0..v2 and its snapshot is the events table."""
    from user_feed_cdc_spark.sources import txn_writer
    from user_feed_cdc_spark.sources.formats import (
        _txn_log_table,
        read_snapshot,
    )
    from user_feed_cdc_spark.sources.tables import load_table

    real_commit = txn_writer.Transaction.commit
    calls = []

    def dying_commit(self, *a, **kw):
        calls.append(1)
        if len(calls) == 3:
            raise RuntimeError("injected: build killed after commit 2")
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(txn_writer.Transaction, "commit", dying_commit)
    with pytest.raises(RuntimeError, match="injected"):
        _txn_log_table(spark, sf_dir)
    monkeypatch.setattr(txn_writer.Transaction, "commit", real_commit)

    root, _log_dir = _txn_log_table(spark, sf_dir)
    assert txn_writer.TxnLogWriter(root)._commit_versions() == [0, 1, 2]
    snap = read_snapshot(spark, root).select("event_id")
    ev = load_table(spark, sf_dir, "events").select("event_id")
    assert snap.count() == ev.count()
    assert snap.exceptAll(ev).count() == 0
    assert ev.exceptAll(snap).count() == 0


@pytest.mark.parametrize(
    "entry, module, attr, prefix",
    [
        ("source_json_gzip_roundtrip", "gzip", "open", "events_jsongz"),
        (
            "source_parquet_zstd_roundtrip",
            "pyarrow.parquet",
            "ParquetFile",
            "events_pqzstd",
        ),
    ],
)
def test_failed_codec_verification_is_never_cached(
    spark, sf_dir, scratch, monkeypatch, entry, module, attr, prefix
):
    """The codec entries check their written files (suffix, magic,
    codec) before certifying them. A check that fails once must run
    again on the next call, never be skipped by a cached fixture."""
    import glob
    import importlib

    from user_feed_cdc_spark.sources import formats
    from user_feed_cdc_spark.sources.tables import load_table

    mod = importlib.import_module(module)
    real = getattr(mod, attr)
    checks = []

    def flaky(path, *a, **kw):
        if prefix in str(path):
            checks.append(path)
            if len(checks) == 1:
                raise ValueError("injected: verification failed")
        return real(path, *a, **kw)

    monkeypatch.setattr(mod, attr, flaky)
    with pytest.raises(ValueError, match="injected"):
        getattr(formats, entry)(spark, sf_dir)
    assert not glob.glob(os.path.join(scratch, f"{prefix}_*", "_BUILT"))

    n_checks = len(checks)
    rows = getattr(formats, entry)(spark, sf_dir).collect()
    assert len(checks) > n_checks  # the verification ran again
    assert glob.glob(os.path.join(scratch, f"{prefix}_*", "_BUILT"))
    assert sum(r["n"] for r in rows) == load_table(
        spark, sf_dir, "events"
    ).count()
