"""``ingest_service`` workload: the composed service at the reference
batch size, driven closed-loop by one client.

The client publishes one 1000-message batch (``gen.MessageStream``) into
the NATS replay file, waits until the service has committed it, then
publishes the next, until ``--seconds`` have passed since the warm-up
batches committed and at least ``MIN_TIMED`` triggers were timed. The
first trigger finds no union table and skips the idempotency anti-join;
the second is the first to run that path, so two warm-up batches leave
the timed triggers on the warm anti-join path. The service is
``streaming.pipeline.start_ingest_service`` with its defaults (idempotent
cascade, health rows, doc index, ANN sink against a base index from
``plans.materialize.ann_tables``) and ``trigger_seconds=0``; the source
admits ``maxRecordsPerTrigger=1000`` over ``partitions=nproc``.
"""

from __future__ import annotations

import datetime as dt
import importlib
import os
import time

from perfbench import eventlog, gen
from perfbench.common import (
    TESTDATA,
    Result,
    RunContext,
    layer_metrics,
    median,
)
from perfbench.trace import Tracer, top_level_seconds, totals_by_name

SF = "sf0.1"
BATCH = 1000
QUERY_NAME = "perfbench-service"
WARMUP_BATCHES = 2
#: triggers timed at the least, whatever ``--seconds`` says: one trigger
#: takes several seconds, two halve the weight of a slow one, and each
#: more adds as much again to every run
MIN_TIMED = 2
POLL_S = 0.05
#: a batch that takes longer than this is reported as a failure
STALL_S = 150.0

#: (module path, attribute, span name) of the layer functions traced
TRACED = (
    ("go_nats_to_clickhouse_spark.streaming.pipeline", "apply_cascade",
     "streaming.pipeline.apply_cascade"),
    ("go_nats_to_clickhouse_spark.plans.layout", "write_partitioned",
     "plans.layout.write_partitioned"),
    ("go_nats_to_clickhouse_spark.streaming.pipeline", "record_health",
     "streaming.pipeline.record_health"),
    ("go_nats_to_clickhouse_spark.plans.materialize", "append_batch_index",
     "plans.materialize.append_batch_index"),
    ("go_nats_to_clickhouse_spark.plans.materialize", "append_ann_batch",
     "plans.materialize.append_ann_batch"),
)
#: phases of StreamingQueryProgress.durationMs reported per trigger
PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def _write_replay(path: str, lines: list[str]) -> None:
    """Replace the replay file atomically (the source re-reads it when
    its mtime changes)."""
    tmp = path + ".next"
    with open(tmp, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


def _start_epoch_s(progress) -> float:
    return dt.datetime.fromisoformat(progress["timestamp"]).timestamp()


def _trigger_s(progress) -> float:
    return progress["durationMs"]["triggerExecution"] / 1000.0


def _window(progress) -> tuple[float, float]:
    start = _start_epoch_s(progress)
    return start, start + _trigger_s(progress)


def run(ctx: RunContext, seconds: float) -> Result:
    from go_nats_to_clickhouse_spark.config import EngineConfig
    from go_nats_to_clickhouse_spark.plans import materialize
    from go_nats_to_clickhouse_spark.sources.nats import NatsDataSource
    from go_nats_to_clickhouse_spark.streaming import pipeline

    spark = ctx.spark
    sf_dir = os.path.join(TESTDATA, SF)
    tracer = Tracer() if ctx.trace else None
    if tracer is not None:
        for mod, attr, name in TRACED:
            tracer.wrap(importlib.import_module(mod), attr, name)

    t0 = time.perf_counter()
    docs, vecs = gen.load_fixture(sf_dir)
    stream = gen.MessageStream(ctx.seed, docs, vecs, batch_size=BATCH)
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    ann = materialize.ann_tables(spark, sf_dir)
    ann_s = time.perf_counter() - t0
    print(
        f"perfbench: session {ctx.session_s:.2f} s, generator {gen_s:.2f} s, "
        f"base index build {ann_s:.2f} s"
    )
    corpus_before = spark.read.parquet(ann["ann_corpus"]).count()

    replay = ctx.path("replay.jsonl")
    lines: list[str] = []
    published = 0

    def publish() -> None:
        nonlocal published
        lines.extend(stream.batch(published))
        _write_replay(replay, lines)
        published += 1

    publish()  # the first warm-up batch
    spark.dataSource.register(NatsDataSource)
    src = (
        spark.readStream.format("nats-jetstream")
        .option("replayFile", replay)
        .option("subjects", gen.SUBJECTS)
        .option("maxRecordsPerTrigger", BATCH)
        .option("partitions", ctx.cores)
        .load()
    )
    cfg = EngineConfig(
        warehouse_dir=ctx.path("warehouse"), checkpoint_dir=ctx.path("checkpoints")
    )
    index_root = ctx.path("index")
    t_query = time.perf_counter()
    q = pipeline.start_ingest_service(
        spark, cfg, src, index_root=index_root, ann_tables=ann,
        query_name=QUERY_NAME, trigger_seconds=0,
    )
    done: dict[int, dict] = {}
    committed = 0
    warm_s = t_window = None
    try:
        t_last = time.perf_counter()
        while True:
            if not q.isActive:
                raise RuntimeError(f"ingest service stopped: {q.exception()}")
            p = q.lastProgress
            now = time.perf_counter()
            if p is not None and p["numInputRows"] and p["batchId"] not in done:
                done[p["batchId"]] = p
                committed += p["numInputRows"]
                t_last = now
                if committed == published * BATCH:
                    if warm_s is None and published == WARMUP_BATCHES:
                        warm_s, t_window = now - t_query, now
                        ctx.memory.open_window()
                    timed = published - WARMUP_BATCHES
                    if t_window is None or (
                        published < stream.max_batches
                        and (timed < MIN_TIMED or now - t_window < seconds)
                    ):
                        publish()
                    else:
                        ctx.memory.close_window()
                        break
            elif now - t_last > STALL_S:
                raise RuntimeError(f"no batch committed for {STALL_S:.0f} s")
            time.sleep(POLL_S)
        all_progress = list(q.recentProgress)
    finally:
        q.stop()
        q.awaitTermination(60)

    progress = [done[b] for b in sorted(done)]
    print(
        f"perfbench: warm-up {warm_s:.2f} s, triggers "
        f"{[_trigger_s(p) for p in progress]}"
    )
    warm, measured = progress[WARMUP_BATCHES - 1], progress[WARMUP_BATCHES:]
    if not measured:
        raise RuntimeError("no trigger after the warm-up; raise --seconds")

    # correctness, outside the timed region
    n_msgs = published * BATCH
    n_vecs = published * stream.vecs_per_batch
    wh = cfg.warehouse_dir
    analytics = spark.read.parquet(os.path.join(wh, pipeline.ANALYTICS_TABLE)).count()
    dead_path = os.path.join(wh, pipeline.DEAD_LETTER_TABLE)
    dead = spark.read.parquet(dead_path).count() if os.path.isdir(dead_path) else 0
    indexed = {
        r[0]
        for r in spark.read.parquet(os.path.join(index_root, "doc_sigs"))
        .select("doc_id")
        .distinct()
        .collect()
    }
    growth = spark.read.parquet(ann["ann_corpus"]).count() - corpus_before
    failed = (
        abs(n_msgs - committed)
        + abs(n_msgs - analytics - dead)
        + len(stream.doc_ids(published) ^ indexed)
        + abs(n_vecs - growth)
    )

    batch_p50_s = median(_trigger_s(p) for p in measured)
    window_s = _window(measured[-1])[1] - _window(warm)[1]
    items_per_s = sum(p["numInputRows"] for p in measured) / window_s
    result = Result(attempted=n_msgs, failed=failed)
    if tracer is None:
        result.metrics = {
            "setup_s": (ctx.session_s + gen_s + ann_s + warm_s, "s"),
            "batch_p50_s": (batch_p50_s, "s"),
            "items_per_s": (items_per_s, "1/s"),
        }
        return result

    tracer.unwrap_all()
    read_msgs_per_s = _source_read_rate(replay, ctx.cores)

    def finish_trace(ctx: RunContext) -> None:
        _, jobs = eventlog.fold(eventlog.read_events(ctx.event_log_dir))
        windows = [_window(p) for p in measured]
        per_trigger = [totals_by_name(tracer.spans, w) for w in windows]

        def mean_of(name: str, idx: int) -> float:
            return sum(t.get(name, (0.0, 0.0, 0))[idx] for t in per_trigger) / len(windows)

        add_batch = [p["durationMs"]["addBatch"] / 1000.0 for p in measured]
        self_s = [
            a - top_level_seconds(tracer.spans, w) for a, w in zip(add_batch, windows)
        ]
        values = {
            "sources.nats.read_msgs_per_s": read_msgs_per_s,
            **{
                f"streaming.trigger.{ph}_ms": median(
                    p["durationMs"].get(ph, 0) for p in measured
                )
                for ph in PHASES
            },
            "streaming.pipeline.apply_cascade_s": mean_of("streaming.pipeline.apply_cascade", 0),
            "plans.layout.write_partitioned_s": mean_of("plans.layout.write_partitioned", 0),
            "streaming.pipeline.record_health_s": mean_of("streaming.pipeline.record_health", 0),
            "streaming.pipeline.record_health_calls": mean_of(
                "streaming.pipeline.record_health", 2
            ),
            "plans.materialize.append_batch_index_s": mean_of(
                "plans.materialize.append_batch_index", 0
            ),
            "plans.materialize.append_ann_batch_s": mean_of(
                "plans.materialize.append_ann_batch", 0
            ),
            "streaming.service.self_s": sum(self_s) / len(self_s),
            "spark.jobs_per_trigger": median(
                eventlog.jobs_in_windows(
                    jobs, [(int(a * 1000), int(b * 1000)) for a, b in windows]
                )
            ),
            "streaming.useful_trigger_ratio": (
                sum(1 for p in all_progress if p["numInputRows"]) / len(all_progress)
            ),
            "plans.materialize.ann_tables_s": ann_s,
            "trace.batch_p50_s": batch_p50_s,
        }
        result.metrics = layer_metrics(values)

    result.finish_trace = finish_trace
    return result


def _source_read_rate(replay: str, partitions: int) -> float:
    """Messages per second through the NATS source's reader calls
    (latestOffset, partitions, read, commit), in-process over the run's
    replay file, ``BATCH`` messages per planned batch."""
    from go_nats_to_clickhouse_spark.schemas import MESSAGE_SCHEMA
    from go_nats_to_clickhouse_spark.sources.nats import NatsStreamReader

    reader = NatsStreamReader(
        MESSAGE_SCHEMA,
        {
            "replayFile": replay,
            "subjects": gen.SUBJECTS,
            "maxRecordsPerTrigger": BATCH,
            "partitions": partitions,
        },
    )
    t0 = time.perf_counter()
    start = reader.initialOffset()
    n = 0
    while True:
        end = reader.latestOffset()
        if end["seq"] <= start["seq"]:
            break
        for part in reader.partitions(start, end):
            n += sum(1 for _ in reader.read(part))
        reader.commit(end)
        start = end
    return n / (time.perf_counter() - t0)
