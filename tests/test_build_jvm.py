"""The committed engine jar is what its Java sources compile to."""

from __future__ import annotations

import os
import shutil
import sys
import zipfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.skipif(shutil.which("javac") is None, reason="javac is not installed")
def test_committed_jar_matches_a_rebuild(tmp_path):
    from go_nats_to_clickhouse_spark.session import ENGINE_JAR
    from tools.build_jvm import build

    def classes(path):
        with zipfile.ZipFile(path) as jar:
            return {name: jar.read(name) for name in jar.namelist()}

    rebuilt = classes(build(str(tmp_path / "rebuilt.jar")))
    assert rebuilt and all(name.endswith(".class") for name in rebuilt)
    assert rebuilt == classes(ENGINE_JAR), "rebuild and commit the jar: python tools/build_jvm.py"
