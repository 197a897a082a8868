"""State and helpers shared by the benchmark's workloads."""

from __future__ import annotations

import os
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field

#: the read-only fixture set of TESTDATA.md (``~/testdata/sf*``);
#: override with PERFBENCH_TESTDATA
TESTDATA = os.environ.get(
    "PERFBENCH_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata")
)
#: end-to-end metrics (``--trace 0``): name -> unit
END_TO_END = {
    "setup_s": "s",
    "batch_p50_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}

#: query families of ``query_llm`` (per-family layer metrics below), named
#: by domain: the LLM-pipeline families, then the OLAP control families
FAMILIES = (
    "pipeline", "graph", "dedup", "vector", "text",
    "relational", "clickhouse", "reference", "behavioral", "streaming",
)
_FAMILY_METRICS = {
    "build_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "shuffle_write_mb": "MB",
    "input_mb": "MB",
    "spill_mb": "MB",
    "gc_s": "s",
    "overhead_share": "ratio",
}

#: per-layer metrics (``--trace 1``): name -> unit. Every traced run
#: prints all of them; a layer the workload never calls reads 0.
PER_LAYER = {
    "sources.nats.read_msgs_per_s": "1/s",
    "streaming.trigger.latestOffset_ms": "ms",
    "streaming.trigger.queryPlanning_ms": "ms",
    "streaming.trigger.addBatch_ms": "ms",
    "streaming.trigger.walCommit_ms": "ms",
    "streaming.trigger.commitOffsets_ms": "ms",
    "streaming.pipeline.apply_cascade_s": "s",
    "plans.layout.write_partitioned_s": "s",
    "streaming.pipeline.record_health_s": "s",
    "streaming.pipeline.record_health_calls": "count",
    "plans.materialize.append_batch_index_s": "s",
    "plans.materialize.append_ann_batch_s": "s",
    "streaming.service.self_s": "s",
    "spark.jobs_per_trigger": "count",
    "streaming.useful_trigger_ratio": "ratio",
    "plans.materialize.ann_tables_s": "s",
    "plans.materialize.build_s": "s",
    "queries.streaming.fixture_s": "s",
    **{
        f"query.{fam}.{m}": unit
        for fam in FAMILIES
        for m, unit in _FAMILY_METRICS.items()
    },
    "trace.batch_p50_s": "s",
}


def layer_metrics(values: dict[str, float]) -> dict[str, tuple[float, str]]:
    """Every per-layer metric with its unit; layers absent from
    ``values`` were not called by the workload and read 0."""
    unknown = set(values) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
    return {name: (float(values.get(name, 0.0)), unit) for name, unit in PER_LAYER.items()}


@dataclass
class Result:
    """What a workload run hands back: operations attempted and failed,
    and metrics as name -> (value, unit)."""

    attempted: int
    failed: int
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    #: called after the session stopped (the event log is complete then)
    finish_trace: Callable[["RunContext"], None] | None = None


class RunContext:
    """Per-run state handed to a workload: the session, the run's scratch
    dir, the seed and whether tracing is on."""

    def __init__(
        self, workdir: str, seed: int, trace: bool, t_start: float, cores: int
    ) -> None:
        self.workdir = workdir
        self.t_start = t_start
        self.seed = seed
        self.trace = trace
        self.cores = cores
        self.event_log_dir = self.path("eventlog")
        self.spark = None
        self.session_s = 0.0
        #: the run's memory sampler; workloads open its window around the
        #: timed region (``open_window`` / ``close_window``)
        self.memory = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.workdir, *parts)

    def start_spark(self):
        from go_nats_to_clickhouse_spark.config import EngineConfig
        from go_nats_to_clickhouse_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            "spark.local.dir": self.path("local"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.trace:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": self.event_log_dir,
                }
            )
        cfg = EngineConfig(
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            warehouse_dir=self.path("warehouse"),
            checkpoint_dir=self.path("checkpoints"),
            driver_memory="1g",
            extra_spark_conf=conf,
        )
        self.spark = get_spark(cfg, app_name="perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - self.t_start
        return self.spark


def median(xs) -> float:
    return float(statistics.median(xs))


