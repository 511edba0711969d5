"""The in-process local filesystem (user_feed_cdc_spark/jvm): it starts no
helper process, gives the same modes and link statuses as Hadoop's stock
RawLocalFileSystem, keeps the streaming checkpoint checksummed, and the
committed jar is built from the committed sources."""

from __future__ import annotations

import importlib.util
import json
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from user_feed_cdc_spark.session import LOCALFS_JAR, default_cpus
from user_feed_cdc_spark.streaming.cdc_pipeline import run_cdc_pipeline

ROOT = Path(__file__).resolve().parents[1]
SHIMMED = ("chmod", "readlink", "ls", "stat")

# A fresh JVM: backfill 400 CDC events, compact the feed, read one page.
FORK_PROBE = """
import os, subprocess, sys
sys.path.insert(0, sys.argv[1])
from perfbench import datagen
from user_feed_cdc_spark.session import get_spark
from user_feed_cdc_spark.streaming import cdc_pipeline as cp

work = sys.argv[2]
spark = get_spark("fork-probe")
src = os.path.join(work, "src")
os.makedirs(src)
with open(os.path.join(src, "backlog.jsonl"), "w") as f:
    f.write("\\n".join(datagen.cdc_lines(datagen.make_events(7, 400, 50, 3))) + "\\n")
feed, served = os.path.join(work, "feed"), os.path.join(work, "served")
q = cp.run_cdc_pipeline(spark, src, feed, os.path.join(work, "ckpt"))
q.awaitTermination()
assert q.exception() is None
cp.compact_feed(spark, feed, served)
assert cp.read_user_feed(spark, served, "0", 20, 0).collect()
subprocess.run(["chmod", "644", os.path.join(src, "backlog.jsonl")], check=True)
"""


def test_feed_pipeline_starts_no_helper_process(tmp_path):
    """Every chmod/readlink/ls/stat the Spark JVM starts is logged by a
    PATH shim; the stock local filesystem starts hundreds here."""
    shim, log = tmp_path / "shim", tmp_path / "calls.log"
    shim.mkdir()
    for name in SHIMMED:
        script = shim / name
        script.write_text(
            "#!/bin/sh\n"
            "read parent < /proc/$PPID/comm\n"
            f'echo "{name} $parent $*" >> {log}\n'
            f'exec {shutil.which(name)} "$@"\n'
        )
        script.chmod(0o755)
    env = dict(os.environ, PATH=f"{shim}{os.pathsep}{os.environ['PATH']}",
               SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    work = tmp_path / "work"
    work.mkdir()
    proc = subprocess.run([sys.executable, "-c", FORK_PROBE, str(ROOT), str(work)],
                          env=env, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    calls = [line.split(" ", 2) for line in log.read_text().splitlines()]
    # the probe's own chmod shows the shim was on the path
    assert any(c[0] == "chmod" and c[1] != "java" for c in calls), calls
    jvm_calls = [c for c in calls if c[1] == "java"]
    assert jvm_calls == [], f"{len(jvm_calls)} helper processes, e.g. {jvm_calls[:5]}"


def _raw_filesystems(spark):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    nio = jvm.userfeed.localfs.NioRawLocalFileSystem()
    stock.initialize(root, conf)
    nio.initialize(root, conf)
    return jvm, {"stock": stock, "nio": nio}


@pytest.mark.parametrize("kind", ["file", "dir", "setgid_dir"])
@pytest.mark.parametrize("mode", [0o644, 0o600, 0o755, 0o700, 0o777, 0o1777])
def test_set_permission_matches_stock(spark, tmp_path, kind, mode):
    jvm, filesystems = _raw_filesystems(spark)
    got = {}
    for name, fs in filesystems.items():
        target = tmp_path / name
        if kind == "file":
            target.write_text("x")
        else:
            target.mkdir()
        if kind == "setgid_dir":
            os.chmod(target, 0o2755)
        fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(target)),
                         jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}"))
        got[name] = oct(os.stat(target).st_mode & 0o7777)
    assert got["nio"] == got["stock"]
    if kind == "file":
        assert got["stock"] == oct(mode)


@pytest.mark.parametrize("mode", [0o755, 0o700, 0o1777])
def test_mkdirs_mode_matches_stock(spark, tmp_path, mode):
    jvm, filesystems = _raw_filesystems(spark)
    got = {}
    for name, fs in filesystems.items():
        target = tmp_path / name / "a" / "b"
        assert fs.mkdirs(jvm.org.apache.hadoop.fs.Path(str(target)),
                         jvm.org.apache.hadoop.fs.permission.FsPermission(f"{mode:o}"))
        got[name] = [oct(os.stat(d).st_mode & 0o7777)
                     for d in (target.parent.parent, target.parent, target)]
    assert got["nio"] == got["stock"]


def _link_status(fs, path):
    try:
        st = fs.getFileLinkStatus(path)
    except Py4JJavaError as e:
        return ("raises", e.java_exception.getClass().getName())
    return (
        st.isFile(), st.isDirectory(), st.isSymlink(),
        st.getSymlink().toString() if st.isSymlink() else None,
        st.getLen(), st.getPath().toString(), st.getModificationTime(),
        st.getPermission().toString(), st.getOwner(), st.getGroup(),
    )


@pytest.mark.parametrize("entry", ["file", "dir", "link", "dangling", "missing"])
@pytest.mark.parametrize("qualified", [False, True])
def test_file_link_status_matches_stock(spark, tmp_path, entry, qualified):
    jvm, filesystems = _raw_filesystems(spark)
    (tmp_path / "file").write_text("0123456789")
    (tmp_path / "dir").mkdir()
    (tmp_path / "link").symlink_to(tmp_path / "file")
    (tmp_path / "dangling").symlink_to(tmp_path / "nowhere")
    path = jvm.org.apache.hadoop.fs.Path(("file:" if qualified else "") + str(tmp_path / entry))
    stock, nio = (_link_status(fs, path) for fs in filesystems.values())
    assert nio == stock
    if entry == "missing":
        assert stock == ("raises", "java.io.FileNotFoundException")


def test_session_binds_checksummed_nio_filesystems(spark):
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    local = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    assert local.getClass().getName() == "userfeed.localfs.NioLocalFileSystem"
    assert local.getRaw().getClass().getName() == "userfeed.localfs.NioRawLocalFileSystem"
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == "userfeed.localfs.NioLocalFs"


def test_corrupt_checkpoint_offset_fails_restart(spark, tmp_path):
    """A bit flip in a committed offset-log entry that leaves its JSON
    valid: only the checkpoint's .crc can catch it, and the restart must
    fail instead of resuming from the corrupt entry."""
    src, ckpt = tmp_path / "src", tmp_path / "ckpt"
    src.mkdir()
    (src / "a.jsonl").write_text(json.dumps({
        "__op": "c", "__table": "likes", "__source_table": "likes",
        "__source_ts_ms": 1704456000000, "id": 1, "shard_id": 3, "liked_by": "2",
    }) + "\n")
    q = run_cdc_pipeline(spark, str(src), str(tmp_path / "feed"), str(ckpt))
    q.awaitTermination()
    assert q.exception() is None
    offsets = ckpt / "offsets" / "0"
    data = bytearray(offsets.read_bytes())
    at = data.index(b'"batchTimestampMs":') + len(b'"batchTimestampMs":')
    data[at] = ord("1") if data[at] != ord("1") else ord("2")
    json.loads(data.decode().splitlines()[1])  # still well-formed
    offsets.write_bytes(bytes(data))
    q = run_cdc_pipeline(spark, str(src), str(tmp_path / "feed"), str(ckpt))
    with pytest.raises(Exception, match="Checksum"):
        q.awaitTermination()


def test_default_cpus_is_usable_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == str(len(os.sched_getaffinity(0)))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == "3"


def test_committed_jar_is_built_from_committed_sources():
    spec = importlib.util.spec_from_file_location(
        "build_localfs_jar", ROOT / "tools" / "build_localfs_jar.py")
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    assert tool.JAR == LOCALFS_JAR
    with zipfile.ZipFile(LOCALFS_JAR) as jar:
        manifest = jar.read("META-INF/MANIFEST.MF").decode()
    # manifest lines wrap at 72 bytes; a continuation starts with a space
    fields = dict(
        line.split(": ", 1) for line in manifest.replace("\r\n", "\n").replace("\n ", "").splitlines()
        if line
    )
    assert fields["Source-SHA256"] == tool.source_digest(), (
        "the jar is stale: run tools/build_localfs_jar.py")
