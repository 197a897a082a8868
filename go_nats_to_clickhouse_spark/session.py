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
"""

from __future__ import annotations

import os

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


def _default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
    return f"local[{cpus}]" if cpus else "local[*]"


def get_spark(cfg: EngineConfig | None = None, app_name: str = "gntcs-engine") -> SparkSession:
    """Build (or fetch) the engine's SparkSession."""
    cfg = cfg or EngineConfig()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(cfg.master or _default_master())
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Micro-batch parquet output: don't write tiny-file summaries.
        .config("spark.hadoop.parquet.summary.metadata.level", "NONE")
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
    )
    for k, v in cfg.extra_spark_conf.items():
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
