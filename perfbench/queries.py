"""``query_llm`` workload: repeated passes over a fixed list of queries,
one per family, each written to the noop sink.

The list holds the LLM-pipeline families (manifest, graph, dedup, vector
and text queries that read the documents, the embeddings and the
materialized index tables) and, as an in-run control, the OLAP families
(scan, aggregate, join, window and streaming queries over the TPC-H tables
and the events fixture), which bypass the ingest, graph, vector and index
code. Set-up writes the streaming queries' events fixture and builds the
materialized cells (``plans.materialize.pipeline_tables``) into the run's
empty cache dir.

The oracle check (``tools.selfcheck.check_queries``, DuckDB) runs once
before the timed passes and doubles as their warm-up; it is not part of
``setup_s``. Each query is tagged with ``setJobGroup`` so the traced run
can fold the event log per query family.
"""

from __future__ import annotations

import os
import time

from perfbench import eventlog
from perfbench.common import (
    FAMILIES,
    TESTDATA,
    Result,
    RunContext,
    layer_metrics,
    median,
)

SF = "sf0.01"

#: query family -> queries: one per family, so that a run fits the
#: benchmark's budget of about a minute on four cores
FAMILY_QUERIES = {
    "pipeline": ("pipeline_dedup_provenance",),
    "graph": ("dedup_connected_components",),
    "dedup": ("dedup_minhash_lsh_pairs",),
    "vector": ("vector_neardup_pairs",),
    "text": ("text_bm25_topk",),
    "relational": ("q3_shipping_priority",),
    "clickhouse": ("agg_rollup_lineitem",),
    "reference": ("mv_union_streams_monthly",),
    "behavioral": ("funnel_conversion",),
    "streaming": ("streaming_tumbling_daily",),
}


def _streaming_fixture(spark, sf_dir: str) -> None:
    """Write the events fixture the streaming queries share (cached for
    the process, so the timed passes reuse it)."""
    from go_nats_to_clickhouse_spark.queries import streaming

    streaming._events_stream(spark, sf_dir)


def _pipeline_cells(spark, sf_dir: str) -> None:
    from go_nats_to_clickhouse_spark.plans import materialize

    materialize.pipeline_tables(spark, sf_dir)


#: set-up steps, in order, with the layer metric each reports
SETUP = (
    ("queries.streaming.fixture_s", _streaming_fixture),
    ("plans.materialize.build_s", _pipeline_cells),
)


def run(ctx: RunContext, seconds: float) -> Result:
    import __spark_entry__  # noqa: F401 (imported before tools.selfcheck edits sys.path)
    from go_nats_to_clickhouse_spark.queries import QUERIES
    from tools.selfcheck import check_queries, make_oracle_connection

    spark = ctx.spark
    sc = spark.sparkContext
    sf_dir = os.path.join(TESTDATA, SF)
    names = [n for fam in FAMILIES for n in FAMILY_QUERIES[fam]]

    setup_steps: dict[str, float] = {}
    for layer, step in SETUP:
        t0 = time.perf_counter()
        step(spark, sf_dir)
        setup_steps[layer] = time.perf_counter() - t0
    print(f"perfbench: session {ctx.session_s:.2f} s, set-up {setup_steps}")

    sc.setJobGroup("oracle-check", "oracle check")
    failures = check_queries(spark, make_oracle_connection(sf_dir), sf_dir, names)
    result = Result(attempted=len(names), failed=len(failures))

    timings: dict[str, list[tuple[float, float]]] = {n: [] for n in names}
    #: job group -> epoch ms window of the query call it tags
    windows: dict[str, tuple[int, int]] = {}
    passes: list[float] = []
    ctx.memory.open_window()
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        tp = time.perf_counter()
        for name in names:
            tag = f"{name}#{len(passes)}"
            sc.setJobGroup(tag, name)
            start_ms = int(time.time() * 1000)
            tb = time.perf_counter()
            df = QUERIES[name](spark, sf_dir)
            te = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            timings[name].append((te - tb, time.perf_counter() - te))
            windows[tag] = (start_ms, int(time.time() * 1000))
        passes.append(time.perf_counter() - tp)
    ctx.memory.close_window()
    sc.setJobGroup("idle", "idle")
    print(f"perfbench: passes {passes}")

    if not ctx.trace:
        result.metrics = {
            "setup_s": (ctx.session_s + sum(setup_steps.values()), "s"),
            "batch_p50_s": (median(passes), "s"),
            "items_per_s": (len(names) * len(passes) / sum(passes), "1/s"),
        }
        return result

    def finish_trace(ctx: RunContext) -> None:
        groups, jobs = eventlog.fold(eventlog.read_events(ctx.event_log_dir))
        groups = eventlog.charge_by_time(groups, jobs, windows)
        n_pass = len(passes)
        values = {**setup_steps, "trace.batch_p50_s": median(passes)}
        for fam in FAMILIES:
            qs = FAMILY_QUERIES[fam]
            tot = eventlog.GroupCounters()
            for name in qs:
                for k in range(n_pass):
                    tot.add(groups.get(f"{name}#{k}", eventlog.GroupCounters()))
            build_s = sum(b for n in qs for b, _ in timings[n]) / n_pass
            exec_s = sum(x for n in qs for _, x in timings[n]) / n_pass
            per_pass = {
                "build_s": build_s,
                "exec_s": exec_s,
                "jobs": tot.jobs / n_pass,
                "tasks": tot.tasks / n_pass,
                "executor_run_s": tot.executor_run_s / n_pass,
                "shuffle_write_mb": tot.shuffle_write_mb / n_pass,
                "input_mb": tot.input_mb / n_pass,
                "spill_mb": tot.spill_mb / n_pass,
                "gc_s": tot.gc_s / n_pass,
                # base: cores x family wall per pass
                "overhead_share": 1.0
                - (tot.executor_run_s / n_pass) / (ctx.cores * (build_s + exec_s)),
            }
            values.update({f"query.{fam}.{k}": v for k, v in per_pass.items()})
        result.metrics = layer_metrics(values)

    result.finish_trace = finish_trace
    return result
