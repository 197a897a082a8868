"""Build the engine's jar from its Java sources.

Compiles every ``.java`` file under ``go_nats_to_clickhouse_spark/jvm/src``
with ``javac --release 17`` against the jars bundled with pyspark, and writes
the classes to ``session.ENGINE_JAR`` (``go_nats_to_clickhouse_spark/jvm/
gntcs-fs.jar``). Entries are sorted and carry a fixed
timestamp, so the same compiler writes the same jar. The committed jar is the
one ``session.get_spark`` puts on the driver and executor classpath; rebuild
and commit it with any change to the sources.

    python tools/build_jvm.py
"""

from __future__ import annotations

import glob
import os
import subprocess
import sys
import tempfile
import zipfile

import pyspark

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from go_nats_to_clickhouse_spark.session import ENGINE_JAR  # noqa: E402

SRC = os.path.join(os.path.dirname(ENGINE_JAR), "src")


def build(out: str = ENGINE_JAR) -> str:
    """Compile the sources and write the jar to ``out``; returns ``out``."""
    sources = sorted(glob.glob(os.path.join(SRC, "**", "*.java"), recursive=True))
    classpath = os.path.join(os.path.dirname(pyspark.__file__), "jars", "*")
    with tempfile.TemporaryDirectory() as classes:
        subprocess.run(
            ["javac", "--release", "17", "-encoding", "UTF-8", "-cp", classpath,
             "-d", classes, *sources],
            check=True,
        )
        names = sorted(
            os.path.relpath(path, classes).replace(os.sep, "/")
            for path in glob.glob(os.path.join(classes, "**", "*.class"), recursive=True)
        )
        with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as jar:
            for name in names:
                info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
                info.compress_type = zipfile.ZIP_DEFLATED
                with open(os.path.join(classes, name), "rb") as f:
                    jar.writestr(info, f.read())
    return out


if __name__ == "__main__":
    print(build())
