"""Session settings that change what the engine pays per plan."""

from __future__ import annotations

import os
import stat

from go_nats_to_clickhouse_spark.session import codegen_stats


def test_codegen_cache_keeps_a_plan_across_a_hundred_others(spark):
    """Run a plan, then more than 100 other distinct generated plans, then the
    first plan again: its classes must still be cached. Spark's default cache
    (100 entries) evicts them, and the re-run compiles again. The filler plans
    differ in an inlined long literal, so each one is a distinct class; they
    are compiled on the driver by ``execute()``, as every action does, without
    the cost of a job each."""

    def plan(i: int):
        return spark.range(8).selectExpr(f"id * {i}L + {i}L AS x")

    expected = [r.x for r in plan(1).collect()]
    for i in range(2, 160):
        plan(i)._jdf.queryExecution().executedPlan().execute()
    before, _ = codegen_stats(spark)
    assert [r.x for r in plan(1).collect()] == expected
    after, _ = codegen_stats(spark)
    assert after == before, f"re-run compiled {after - before} classes"


def test_python_workers_run_without_zip_finders(spark):
    """Python tasks run through the engine's worker module, and a reused
    worker starts each task with no ``zipimporter`` in
    ``sys.path_importer_cache``: Spark invalidates that cache at the start of
    every task, and each zipimporter re-reads all of ``pyspark.zip`` when it
    is invalidated. Spark's own worker module keeps one per pyspark
    subpackage (16 after a ``mapInPandas`` task). Only workers that already
    ran the probe count: a worker's first task may import new pyspark
    subpackages while it unpickles the probe, after the finders were
    dropped. Spark hands out idle workers first in, first out, so the job is
    repeated until it lands on a worker it used before."""
    import pandas as pd

    from go_nats_to_clickhouse_spark.session import WORKER_MODULE

    def probe(batches):
        import os
        import sys
        import zipimport

        loaded = WORKER_MODULE in sys.modules
        zip_finders = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "loaded": [loaded], "zip_finders": [zip_finders]})

    df = spark.range(4).repartition(4)
    schema = "pid int, loaded boolean, zip_finders int"
    seen: set[int] = set()
    for _ in range(4):
        rows = df.mapInPandas(probe, schema).collect()
        assert rows and all(r.loaded for r in rows), rows
        reused = [r for r in rows if r.pid in seen]
        if reused:
            break
        seen.update(r.pid for r in rows)
    assert reused, "no Python worker was reused across four jobs"
    assert [r.zip_finders for r in reused] == [0] * len(reused), reused


def _hadoop(spark):
    sc = spark.sparkContext
    return sc._jvm, sc._jsc.hadoopConfiguration()


def _engine_and_stock_raw(spark):
    jvm, conf = _hadoop(spark)
    engine = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf).getRaw()
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    return jvm, engine, stock


def test_local_files_go_through_the_engines_filesystem(spark):
    """Both Hadoop APIs resolve ``file:`` to the engine's classes: the
    ``FileSystem`` the sinks write through and the ``FileContext`` the
    streaming checkpoint writes its offset and commit logs through."""
    from go_nats_to_clickhouse_spark.session import LOCAL_FS_CLASS

    jvm, conf = _hadoop(spark)
    local = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    assert local.getClass().getName() == LOCAL_FS_CLASS
    assert local.getRaw().getClass().getName() == f"{LOCAL_FS_CLASS}$Raw"
    fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == f"{LOCAL_FS_CLASS}$Fs"


def test_engine_filesystem_sets_the_stock_mode_bits(spark, tmp_path):
    """Files and directories created through the engine's filesystem carry the
    same ``st_mode`` as through Hadoop's stock ``RawLocalFileSystem`` (the
    conf's umask applied by both), including the special bits that the
    engine's filesystem leaves to the stock ``chmod``: a sticky bit set on a
    directory (the umask step drops it from a create), and a setgid bit that
    a new directory inherits from its parent."""
    jvm, engine, stock = _engine_and_stock_raw(spark)
    Path = jvm.org.apache.hadoop.fs.Path
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    setgid_parent = tmp_path / "setgid"
    setgid_parent.mkdir()
    os.chmod(setgid_parent, 0o2755)

    def modes(kind: str, octal: str, parent=tmp_path, then: str | None = None) -> dict[str, int]:
        out = {}
        for side, fs in (("engine", engine), ("stock", stock)):
            target = parent / f"{side}-{kind}-{octal}"
            path = Path(str(target))
            if kind == "dir":
                assert fs.mkdirs(path, FsPermission(octal))
            else:
                fs.create(path, FsPermission(octal), True, 4096, 1, 1 << 20, None).close()
            if then:
                fs.setPermission(path, FsPermission(then))
            out[side] = os.stat(target).st_mode
        return out

    for octal in ("644", "755", "700", "600", "777"):
        for kind in ("file", "dir"):
            got = modes(kind, octal)
            assert got["engine"] == got["stock"], (kind, octal, {k: oct(v) for k, v in got.items()})
    sticky = modes("dir", "700", then="1777")
    assert sticky["engine"] == sticky["stock"] and sticky["engine"] & stat.S_ISVTX
    inherited = modes("dir", "755", setgid_parent)
    assert inherited["engine"] == inherited["stock"] and inherited["engine"] & stat.S_ISGID


def test_engine_filesystem_link_status_matches_the_stock_lookup(spark, tmp_path):
    """``getFileLinkStatus`` answers as the stock ``readlink`` lookup does:
    for a file, a directory, a missing path, and a symbolic link named both
    by a qualified path (which the stock lookup never sees as a link) and by
    a bare path (which it does)."""
    from py4j.protocol import Py4JJavaError

    jvm, engine, stock = _engine_and_stock_raw(spark)
    Path = jvm.org.apache.hadoop.fs.Path
    (tmp_path / "f").write_text("x")
    (tmp_path / "d").mkdir()
    os.symlink(tmp_path / "f", tmp_path / "link")

    def status(fs, name: str):
        try:
            st = fs.getFileLinkStatus(Path(name))
        except Py4JJavaError as e:
            return e.java_exception.getClass().getName()
        link = st.getSymlink().toString() if st.isSymlink() else None
        return st.getPath().toString(), st.isDirectory(), st.getLen(), link

    names = [f"file:{tmp_path}/{n}" for n in ("f", "d", "missing", "link")]
    names.append(f"{tmp_path}/link")
    for name in names:
        assert status(engine, name) == status(stock, name), name
    assert status(engine, names[-1])[3] == f"file:{tmp_path}/f"


def test_engine_filesystem_renames_as_the_stock_registry_does(spark, tmp_path):
    """Without ``fs.file.impl`` the service registry binds ``file:`` to Hive's
    ``ProxyLocalFileSystem`` (pyspark's jars register it), which refuses to
    rename onto an existing file, as HDFS does. The engine's filesystem
    answers the same: false, both files left as they were; a rename to a free
    name moves the checksum too."""
    jvm, conf = _hadoop(spark)
    Path = jvm.org.apache.hadoop.fs.Path
    stock_conf = jvm.org.apache.hadoop.conf.Configuration(conf)
    stock_conf.unset("fs.file.impl")
    stock = jvm.org.apache.hadoop.fs.FileSystem.newInstance(jvm.java.net.URI("file:///"), stock_conf)
    assert stock.getClass().getName() == "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"
    engine = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)
    for side, fs in (("engine", engine), ("stock", stock)):
        root = tmp_path / side
        root.mkdir()
        for name, body in (("a", b"aa"), ("b", b"bbb")):
            out = fs.create(Path(str(root / name)))
            out.write(bytearray(body))
            out.close()
        assert not fs.rename(Path(str(root / "a")), Path(str(root / "b"))), side
        assert (root / "a").read_bytes() == b"aa" and (root / "b").read_bytes() == b"bbb", side
        assert fs.rename(Path(str(root / "a")), Path(str(root / "c"))), side
        assert sorted(p.name for p in root.iterdir()) == [".b.crc", ".c.crc", "b", "c"], side
    stock.close()


def test_engine_jar_leads_the_callers_classpath():
    """For a local master the engine jar leads the classpaths, before the
    caller's entries from ``extra_spark_conf`` or else from
    ``spark-defaults.conf``; the caller's other conf passes through, and may
    override the filesystem binding."""
    from go_nats_to_clickhouse_spark.session import ENGINE_JAR, LOCAL_FS_CLASS, extra_conf

    binding = {
        "spark.hadoop.fs.file.impl": LOCAL_FS_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{LOCAL_FS_CLASS}$Fs",
    }
    assert extra_conf("local[4]", {}, {}) == {
        **binding,
        "spark.driver.extraClassPath": ENGINE_JAR,
        "spark.executor.extraClassPath": ENGINE_JAR,
    }
    caller = os.pathsep.join(["lib/a.jar", "extra/*"])
    defaults = {
        "spark.driver.extraClassPath": "site/d.jar",
        "spark.executor.extraClassPath": "site/e.jar",
    }
    given = {"spark.driver.extraClassPath": caller, "spark.app.name": "x"}
    assert extra_conf("local-cluster[2,1,1024]", given, defaults) == {
        **binding,
        "spark.app.name": "x",
        "spark.driver.extraClassPath": ENGINE_JAR + os.pathsep + caller,
        "spark.executor.extraClassPath": ENGINE_JAR + os.pathsep + "site/e.jar",
    }
    stock = {"spark.hadoop.fs.file.impl": "org.apache.hadoop.fs.LocalFileSystem"}
    assert extra_conf("local", stock, {})["spark.hadoop.fs.file.impl"] == "org.apache.hadoop.fs.LocalFileSystem"


def test_cluster_masters_keep_the_stock_filesystem():
    """A master that is not local gets the caller's conf and nothing else: its
    executors need not have the engine jar at this checkout's path."""
    from go_nats_to_clickhouse_spark.session import extra_conf

    caller = {"spark.executor.extraClassPath": "lib/a.jar", "spark.app.name": "x"}
    for master in ("spark://host:7077", "yarn", "k8s://https://host:6443"):
        assert extra_conf(master, caller, {}) == caller


def test_spark_defaults_are_read_from_the_conf_dir(tmp_path, monkeypatch):
    """``spark-defaults.conf`` lines are read as ``spark-submit`` reads them:
    key and value split by whitespace, ``=`` or ``:``; comments skipped."""
    from go_nats_to_clickhouse_spark.session import _spark_defaults

    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert _spark_defaults() == {}
    (tmp_path / "spark-defaults.conf").write_text(
        "# site classpath\n"
        "spark.driver.extraClassPath   /site/a.jar:/site/lib/*  \n"
        "spark.executor.extraClassPath=/site/b.jar\n"
        "! another comment\n"
        "\n"
        "spark.app.name : site app\n"
    )
    assert _spark_defaults() == {
        "spark.driver.extraClassPath": "/site/a.jar:/site/lib/*",
        "spark.executor.extraClassPath": "/site/b.jar",
        "spark.app.name": "site app",
    }


def test_appends_rewrite_no_file_in_place(spark, tmp_path):
    """A table append only creates files: every file the first append left,
    checksum sidecars included, keeps its inode, mtime and size through the
    second, and no ``_SUCCESS`` marker is written. Hadoop's committer
    otherwise rewrites the table's marker and its ``.crc`` on every append,
    and replacing a non-empty file by truncation makes ext4 flush it."""
    df = spark.range(20).selectExpr("id", "CAST(id % 2 AS INT) AS part")
    writes = {
        "plain": lambda path: df.coalesce(1).write.mode("append").parquet(path),
        "partitioned": lambda path: df.write.mode("append").partitionBy("part").parquet(path),
    }

    def files(root) -> dict[str, tuple[int, int, int]]:
        out = {}
        for p in root.rglob("*"):
            if p.is_file():
                st = p.stat()
                out[str(p.relative_to(root))] = (st.st_ino, st.st_mtime_ns, st.st_size)
        return out

    for name, append in writes.items():
        root = tmp_path / name
        append(str(root))
        first = files(root)
        append(str(root))
        second = files(root)
        changed = {f for f, st in first.items() if second.get(f) != st}
        assert not changed, (name, sorted(changed))
        assert len(second) > len(first), name
        assert not [f for f in second if os.path.basename(f) == "_SUCCESS"], (name, sorted(second))
