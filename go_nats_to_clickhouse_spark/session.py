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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from go_nats_to_clickhouse_spark.config import EngineConfig


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
    )
    for k, v in cfg.extra_spark_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
