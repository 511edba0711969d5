"""Build user_feed_cdc_spark/jvm/nio-localfs.jar from the Java sources beside it.

    python tools/build_localfs_jar.py

Compiles with ``javac --release 17`` against the jars of the installed
pyspark and packs the classes with ``jar --date=...`` in sorted order, so the
same sources and JDK give a byte-identical jar. The manifest records
``Source-SHA256``, the digest of the sources (``source_digest``); the test
suite compares it with the sources so a stale committed jar fails.
"""

from __future__ import annotations

import hashlib
import subprocess
import sys
import tempfile
from pathlib import Path

JVM_DIR = Path(__file__).resolve().parents[1] / "user_feed_cdc_spark" / "jvm"
JAR = JVM_DIR / "nio-localfs.jar"
DATE = "2000-01-01T00:00:00Z"  # fixed entry timestamps: a reproducible jar


def sources() -> list[Path]:
    return sorted(JVM_DIR.glob("*.java"))


def source_digest() -> str:
    h = hashlib.sha256()
    for src in sources():
        h.update(src.name.encode() + b"\0" + src.read_bytes() + b"\0")
    return h.hexdigest()


def build(out: Path = JAR) -> Path:
    import pyspark

    classpath = str(Path(pyspark.__file__).parent / "jars" / "*")
    with tempfile.TemporaryDirectory() as tmp:
        classes = Path(tmp) / "classes"
        subprocess.run(
            ["javac", "--release", "17", "-nowarn", "-cp", classpath,
             "-d", str(classes), *map(str, sources())],
            check=True,
        )
        manifest = Path(tmp) / "MANIFEST.MF"
        manifest.write_text(f"Source-SHA256: {source_digest()}\n")
        entries = sorted(p.relative_to(classes).as_posix() for p in classes.rglob("*.class"))
        cmd = ["jar", "--create", f"--file={out}", f"--manifest={manifest}", f"--date={DATE}"]
        for entry in entries:
            cmd += ["-C", str(classes), entry]
        subprocess.run(cmd, check=True)
    return out


if __name__ == "__main__":
    print(build(Path(sys.argv[1]) if len(sys.argv) > 1 else JAR))
