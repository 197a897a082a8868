"""SparkSession factory tuned for the engine's scale posture.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default ``local[*]``, one
thread per core); the same settings translate to a multi-executor cluster
because everything is expressed through partition-parallel DataFrame plans:

* AQE on: runtime shuffle-partition coalescing + skew-join splitting, which
  is what keeps the 100 TB plans healthy without hand-tuning every query.
* Arrow on: vectorized Pandas-UDF exchange for the few operators that must
  drop to Python (embeddings, multimodal decode).
* Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle.
* ANSI mode left at the Spark 4 default (on); ClickHouse's
  "default value instead of error" edge semantics are implemented with
  explicit null-safe functions (``try_cast``, ``get``, ``coalesce``) in
  :mod:`go_nats_to_clickhouse_spark.functions.clickhouse` rather than by
  globally weakening the engine.
* Generated-code cache sized to the engine's working set
  (:data:`CODEGEN_CACHE_ENTRIES`), so a plan that runs again — the next
  micro-batch of the service, a query's timed pass after its oracle pass —
  reuses its compiled classes instead of recompiling them.
* Python workers run through the engine's worker entry point
  (:data:`WORKER_MODULE`), which keeps Spark's per-task import-cache
  invalidation from re-reading ``pyspark.zip`` in every Python task.
* Local files go through the engine's Hadoop filesystem
  (:data:`LOCAL_FS_CLASS`, in :data:`ENGINE_JAR`). Without libhadoop, Hadoop's
  own starts a ``chmod`` process for every file, checksum sidecar and
  directory it creates, and a ``readlink`` process for checkpoint-log
  renames: about 230 and 15 per service trigger. The engine's sets the same
  mode bits and answers the same link lookups in-process; checksums, the
  commit protocol and the file layout stay Hadoop's. It is bound for local
  masters only (:func:`extra_conf`): the jar is on the classpath by its
  path in this checkout, which a cluster's executors need not have.
* Table writes are create-only: no ``_SUCCESS`` marker, which nothing in
  the engine reads. With it, every append rewrote the table's existing
  marker and its checksum in place, and ext4 flushes a file that is
  replaced by truncation; a service trigger appends 8-9 tables.
"""

from __future__ import annotations

import os
import re

from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

from go_nats_to_clickhouse_spark.config import EngineConfig

# Entries in Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``,
# a static conf; Spark's default is 100). Each distinct generated class is one
# entry; on a miss Janino compiles the class again and the JVM runs it
# interpreted until it JIT-compiles it again. Working sets measured with
# tools/codegen_probe.py (4-core host, ``local[4]``): one ``ingest_service``
# benchmark run compiles about 150 distinct classes, one ``query_llm`` run
# about 380, and the 290-query tools/selfcheck.py sweep about 2900. At 100 all
# three evict and recompile: a steady service trigger compiled about 75
# classes instead of none, a ``query_llm`` run 757 instead of 382. 4096 holds
# the whole registry, and the sweep's memory was no higher than at 100.
CODEGEN_CACHE_ENTRIES = 4096

# Python worker module (``spark.python.worker.module``): drops the
# ``zipimporter`` finders before each task, so Spark's per-task
# ``importlib.invalidate_caches()`` no longer re-reads ``pyspark.zip`` once per
# pyspark subpackage (110-340 ms per task on a 4-core host, under 1 ms after).
# It lives at the repository root, beside the engine package that workers
# already import pickled readers and kernels from (pyspark_gntcs_worker.py).
WORKER_MODULE = "pyspark_gntcs_worker"

# The engine's local Hadoop filesystem (``jvm/src/gntcs/fs``), bound for both
# Hadoop APIs: ``FileSystem`` (the sinks' parquet writes, the commit protocol)
# and ``FileContext`` (the streaming checkpoint's offset and commit logs).
# Rebuild the jar with tools/build_jvm.py after changing the source.
ENGINE_JAR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm", "gntcs-fs.jar")
LOCAL_FS_CLASS = "gntcs.fs.ForkFreeLocalFileSystem"
_CLASSPATH_KEYS = ("spark.driver.extraClassPath", "spark.executor.extraClassPath")


def _default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return f"local[{cpus}]" if cpus else "local[*]"


def _spark_defaults() -> dict[str, str]:
    """The properties ``spark-submit`` reads from ``spark-defaults.conf`` (in
    ``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``), as ``key value`` or
    ``key=value`` lines; empty when there is no such file."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(_find_spark_home(), "conf")
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf"), encoding="utf-8") as f:
            lines = f.read().splitlines()
    except OSError:
        return {}
    matches = (re.match(r"\s*([^\s#!=:][^\s=:]*)\s*[=:\s]\s*(.*)", line) for line in lines)
    return {m[1]: m[2].strip() for m in matches if m}


def extra_conf(
    master: str, extra_spark_conf: dict[str, str], defaults: dict[str, str] | None = None
) -> dict[str, str]:
    """The caller's ``extra_spark_conf`` and, for a local master, the binding
    of ``file:`` to the engine's filesystem. A cluster's executors may not have
    the jar at this checkout's path, and a ``fs.file.impl`` they cannot load
    fails every local file access there, so other masters keep the stock one.
    The jar leads the driver and executor classpaths, before the caller's
    entries from ``extra_spark_conf`` or, when it sets none, from
    ``spark-defaults.conf`` (``defaults``, read when not given): the ``--conf``
    value replaces both, and without the jar ``fs.file.impl`` would name a
    class the JVM cannot load."""
    if not master.startswith("local"):
        return dict(extra_spark_conf)
    if defaults is None:
        defaults = _spark_defaults()
    conf = {
        "spark.hadoop.fs.file.impl": LOCAL_FS_CLASS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{LOCAL_FS_CLASS}$Fs",
        **extra_spark_conf,
    }
    for key in _CLASSPATH_KEYS:
        caller = extra_spark_conf.get(key, defaults.get(key))
        conf[key] = os.pathsep.join(filter(None, [ENGINE_JAR, caller]))
    return conf


def get_spark(cfg: EngineConfig | None = None, app_name: str = "gntcs-engine") -> SparkSession:
    """Build (or fetch) the engine's SparkSession."""
    cfg = cfg or EngineConfig()
    master = cfg.master or _default_master()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Micro-batch parquet output: don't write tiny-file summaries.
        .config("spark.hadoop.parquet.summary.metadata.level", "NONE")
        # Nor a ``_SUCCESS`` marker per write: nothing reads it, and an
        # append rewrote the table's existing marker and its ``.crc`` in
        # place. Replacing a non-empty file by truncation makes ext4 flush it
        # (``auto_da_alloc``): a one-file append of 1000 rows to an existing
        # table took 59-64 ms (median) with the marker and 38-40 ms without
        # (4-core host, ``local[4]``), and a service trigger appends 8-9
        # tables.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
        # Write modern INT64 TIMESTAMP(MICROS), not Spark's legacy INT96
        # default: parquet writers emit NO min/max statistics for INT96
        # (deprecated since PARQUET-323), so every timestamp column the
        # cascade writes would be un-prunable — a time-range predicate
        # could never skip a row group, silently defeating the
        # ClickHouse-granule-skipping story for the ORDER BY timestamp
        # sort keys (init.sql:19,32,46). INT64 micros carries full stats
        # and is 8 bytes instead of 12. Pinned by
        # tests/test_bucketing_layout.py::test_warehouse_timestamps_are_prunable_micros.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # Keep driver results bounded — the engine never collects big data,
        # but guard against accidental driver OOM at scale anyway.
        .config("spark.driver.maxResultSize", "2g")
        # see EngineConfig.driver_memory (launch-time only; a live JVM
        # keeps its heap)
        .config("spark.driver.memory", cfg.driver_memory)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.worker.module", WORKER_MODULE)
    )
    for k, v in extra_conf(master, cfg.extra_spark_conf).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


def codegen_stats(spark: SparkSession) -> tuple[int, float]:
    """Classes compiled by this JVM's code generator so far, and the seconds
    spent compiling them (cache misses only; a cache hit compiles nothing)."""
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return metrics.METRIC_COMPILATION_TIME().getCount(), codegen.compileTime() / 1e9
