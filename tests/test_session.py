"""Engine code overrides conf only through session.scoped_session: the
session a caller passes in keeps its conf while engine work runs, so a
concurrent query on it plans exactly as it would alone."""

from __future__ import annotations

import ast
import re
import threading
import time
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parents[1] / "user_feed_cdc_spark"

WATCHED = (
    "spark.sql.shuffle.partitions",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.legacy.parquet.nanosAsLong",
)


def _package_nodes():
    for path in sorted(PKG.rglob("*.py")):
        if path.name != "session.py":
            yield path, ast.walk(ast.parse(path.read_text()))


def test_conf_is_written_only_in_session_module():
    """No `<x>.conf.set(...)` / `<x>.conf.unset(...)` outside
    session.py: a conf value set on a shared session leaks into every
    query planned on it meanwhile."""
    offenders = [
        f"{path.name}:{node.lineno}"
        for path, nodes in _package_nodes()
        for node in nodes
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("set", "unset")
        and isinstance(node.func.value, ast.Attribute)
        and node.func.value.attr == "conf"
    ]
    assert not offenders, offenders


def test_environment_is_read_only_in_session_module():
    """The engine takes no env knobs: only session.py reads the
    environment, and only SPARK_GRAFT_CPUS and SPARK_DRIVER_MEM."""
    offenders = [
        f"{path.name}:{node.lineno}"
        for path, nodes in _package_nodes()
        for node in nodes
        if isinstance(node, ast.Attribute)
        and ast.unparse(node) in ("os.environ", "os.getenv")
    ]
    assert not offenders, offenders
    tree = ast.parse((PKG / "session.py").read_text())
    names = {
        node.args[0].value
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and ast.unparse(node.func) in ("os.environ.get", "os.getenv")
    }
    assert names == {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM"}, names


def test_input_width_rule(tmp_path):
    """ceil(bytes / 8 MiB) clamped to [4, 4096], over files, `file:`
    URIs and directory trees alike."""
    from user_feed_cdc_spark.session import WIDTH_BYTES, input_width

    small = tmp_path / "small"
    small.write_bytes(b"x" * 100)
    assert input_width(str(small)) == 4
    d = tmp_path / "d"
    d.mkdir()
    for i in range(5):
        with open(d / f"f{i}", "wb") as f:
            f.truncate(2 * WIDTH_BYTES)  # sparse: size without the bytes
    assert input_width(str(d)) == 10
    assert input_width(f"file://{d}", str(small)) == 11
    with open(tmp_path / "huge", "wb") as f:
        f.truncate(5000 * WIDTH_BYTES)
    assert input_width(str(tmp_path / "huge")) == 4096


def test_with_conf_clones_only_to_change_a_value(spark):
    """with_conf binds to a clone holding the values, and leaves a frame
    whose session already holds them where it is."""
    from user_feed_cdc_spark.session import with_conf

    key = "spark.sql.shuffle.partitions"
    df = spark.range(100).groupBy("id").count()
    same = with_conf(df, {key: spark.conf.get(key)})
    assert same is df
    other = str(int(spark.conf.get(key)) + 3)
    moved = with_conf(df, {key: other})
    assert moved.sparkSession is not spark
    assert moved.sparkSession.conf.get(key) == other
    assert _shuffle_width(moved.groupBy("count").count()) == int(other)
    assert spark.conf.get(key) != other


def _shuffle_width(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return int(re.search(r"hashpartitioning\(.*, (\d+)\)", plan).group(1))


def _write_ns_events(path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts = [1704456000000000000, 1704456060000000000]  # 2024-01-05, ns
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([0, 1], pa.int64()),
                "ts": pa.array(ts, pa.timestamp("ns")),
                "user_id": pa.array([1, 1], pa.int64()),
                "event_type": pa.array(["view"] * 2),
                "value": pa.array([1.0] * 2, pa.float64()),
                "props": pa.array(["{}"] * 2),
            }
        ),
        path,
        version="2.6",
    )


def _clustering(parent, sf_dir, _tmp):
    from user_feed_cdc_spark.operators.dedup import dedup_minhash_md5_clusters

    return dedup_minhash_md5_clusters(parent, sf_dir).count()


def _drain(parent, sf_dir, _tmp):
    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
        run_to_memory,
        tumbling_counts,
    )

    src = events_stream_dir(sf_dir)
    agg = tumbling_counts(events_file_stream(parent, src), "1 hour")
    return run_to_memory(
        parent, agg, "scoped_drain_sink", "complete", src_paths=(src,)
    ).count()


def _bzip2(parent, sf_dir, _tmp):
    from user_feed_cdc_spark.sources.formats import source_json_bzip2_roundtrip

    return source_json_bzip2_roundtrip(parent, sf_dir).count()


def _nanos(parent, _sf_dir, tmp):
    from user_feed_cdc_spark.sources.tables import load_events

    path = str(tmp / "events_ns.parquet")
    _write_ns_events(path)
    df = load_events(parent, path)
    assert min(r.ts for r in df.collect()).year == 2024
    return df.count()


@pytest.mark.parametrize(
    "site", [_clustering, _drain, _bzip2, _nanos], ids=lambda f: f.__name__
)
def test_engine_leaves_the_callers_conf_alone(
    spark, sf_dir, tmp_path, monkeypatch, site
):
    """While each former conf-mutating site runs on a session, a
    concurrent thread keeps planning a shuffle on that session: every
    plan it makes is at the session's own width, no watched conf value
    ever reads differently, and nothing writes the session's conf."""
    from pyspark.sql import functions as F
    from pyspark.sql.conf import RuntimeConfig

    from user_feed_cdc_spark.session import scoped_session

    # a width no engine site derives (input_width floors at 4 and the
    # fixtures are tiny), so any leak shows
    parent = scoped_session(spark, {"spark.sql.shuffle.partitions": "7"})
    before = {k: parent.conf.get(k, None) for k in WATCHED}
    writes = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def recording_set(self, key, value):
        if self is parent.conf:
            writes.append((key, value))
        return real_set(self, key, value)

    def recording_unset(self, key):
        if self is parent.conf:
            writes.append((key, None))
        return real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    monkeypatch.setattr(RuntimeConfig, "unset", recording_unset)

    seen_widths, seen_confs, errors = set(), [], []
    done = threading.Event()

    def concurrent_planner():
        try:
            while not done.is_set():
                q = parent.range(100).groupBy((F.col("id") % 10).alias("k"))
                seen_widths.add(_shuffle_width(q.count()))
                seen_confs.append({k: parent.conf.get(k, None) for k in WATCHED})
                time.sleep(0.005)
        except Exception as e:  # surfaced below, never swallowed
            errors.append(e)

    t = threading.Thread(target=concurrent_planner)
    t.start()
    try:
        assert site(parent, sf_dir, tmp_path) > 0
    finally:
        done.set()
        t.join(60)
    assert not t.is_alive()
    assert not errors, errors
    assert writes == []
    assert seen_widths == {7}
    assert all(c == before for c in seen_confs)
    assert {k: parent.conf.get(k, None) for k in WATCHED} == before


def test_parent_listener_sees_scoped_stream(spark, sf_dir):
    """A StreamingQueryListener on the caller's session receives the
    start, progress and termination of a stream run_to_memory starts
    from a scoped session."""
    from pyspark.sql.streaming import StreamingQueryListener

    from user_feed_cdc_spark.session import scoped_session
    from user_feed_cdc_spark.streaming.windows import (
        events_file_stream,
        events_stream_dir,
        run_to_memory,
        tumbling_counts,
    )

    class Recorder(StreamingQueryListener):
        def __init__(self):
            self.events = []

        def onQueryStarted(self, event):
            self.events.append(("start", event.name))

        def onQueryProgress(self, event):
            self.events.append(("progress", event.progress.name))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.events.append(("end", None))

    # a width the stream's own (input_width, at least 4) differs from,
    # so the stream starts from a clone
    parent = scoped_session(spark, {"spark.sql.shuffle.partitions": "7"})
    rec = Recorder()
    parent.streams.addListener(rec)
    src = events_stream_dir(sf_dir)
    agg = tumbling_counts(events_file_stream(parent, src), "1 hour")
    name = "scoped_listener_sink"
    out = run_to_memory(parent, agg, name, "complete", src_paths=(src,))
    assert out.count() > 0
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and ("end", None) not in rec.events:
        time.sleep(0.05)
    kinds = [k for k, _ in rec.events]
    assert ("start", name) in rec.events and ("progress", name) in rec.events
    assert kinds[-1] == "end"
    # the sink was read through the query's session and handed back
    # bound to the caller's
    assert out.sparkSession is parent


def _stream_buses(spark) -> int:
    listeners = spark.sparkContext._jsc.sc().listenerBus().listeners()
    return sum(
        1
        for listener in listeners
        if listener.getClass().getSimpleName() == "StreamingQueryListenerBus"
    )


def test_scoped_sessions_leave_no_listener_bus(spark, tmp_path):
    """Every session's StreamingQueryManager puts a listener bus on the
    SparkContext. Batch work on scoped clones never makes one, even when
    the caller's session has a streaming listener, and a drain
    run_to_memory starts from a scoped clone takes the clone's bus off
    again once it has ended: ten width-changing drains and ten
    width-changing batch queries leave the count where it was."""
    from pyspark.sql.streaming import StreamingQueryListener

    from user_feed_cdc_spark.session import scoped_session, with_conf
    from user_feed_cdc_spark.streaming.windows import run_to_memory

    class Ends(StreamingQueryListener):
        def __init__(self):
            self.n = 0

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.n += 1

    parent = scoped_session(spark, {"spark.sql.shuffle.partitions": "7"})
    ends = Ends()
    parent.streams.addListener(ends)
    src = str(tmp_path / "ids")
    parent.range(10).write.parquet(src)
    before = _stream_buses(spark)
    wide = {"spark.sql.shuffle.partitions": "10"}
    try:
        for i in range(10):
            batch = with_conf(parent.range(100).groupBy("id").count(), wide)
            assert batch.count() == 100
            stream = parent.readStream.schema("id long").parquet(src)
            out = run_to_memory(parent, stream, f"bus_drain_{i}", width=10)
            assert out.count() == 10
        assert _stream_buses(spark) == before
        assert ends.n == 10
    finally:
        parent.streams.removeListener(ends)
