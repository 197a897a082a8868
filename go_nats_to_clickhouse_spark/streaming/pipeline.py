"""Micro-batch ingestion pipeline: source -> raw -> union -> analytics.

Reproduces the reference's end-to-end flow (SURVEY.md §3.1-3.2) in one
Structured Streaming query:

* count/time micro-batch triggers (main.go:26-27: 1000 rows / 5 s) ->
  ``trigger(processingTime=...)`` + source-side ``maxRecordsPerTrigger``
  admission control;
* the ClickHouse MV cascade (init.sql:49-121) -> a single ``foreachBatch``
  that derives raw, union and analytics layouts from the same in-memory
  batch and appends all three tables. Writing all levels from one batch
  sidesteps the MV-chain consistency problem: a batch is either fully
  applied or fully retried;
* at-least-once (main.go:199-208 ack-after-commit) -> checkpointing: the
  offset commit happens only after foreachBatch returns, so a crashed batch
  replays — same possible-duplicates contract as the reference;
* flush-on-shutdown (main.go:138-147) -> ``query.stop()`` lets the running
  trigger finish draining admitted records;
* dead-letter instead of silent loss (fixes reference quirk K4,
  main.go:162-166): rows with null timestamp/sequence/subject go to a
  ``dead_letter`` table, not the floor, and remain counted.

Scale posture: every transform here is a narrow projection (no shuffle);
per-batch work is bounded by ``batch_size`` admission control; state lives
in the checkpoint, not the driver. On a cluster the same code runs with a
partitioned source (one NATS consumer per partition ≈ queue-group member).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import NamedTuple

import pyarrow as pa
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from go_nats_to_clickhouse_spark.config import EngineConfig
from go_nats_to_clickhouse_spark.functions.clickhouse import ch_split_element, to_yyyymm
from go_nats_to_clickhouse_spark.functions.constant import once_per_jvm
from go_nats_to_clickhouse_spark.operators.analytics import (
    analytics_projection,
    message_to_raw,
)
from go_nats_to_clickhouse_spark.plans import layout
from go_nats_to_clickhouse_spark.schemas import ALL_STREAMS_SCHEMA

#: engine table names -> warehouse subdirectories
RAW_TABLE_PREFIX = "nats_data_stream_"
ALL_STREAMS_TABLE = "nats_data_all_streams"
ANALYTICS_TABLE = "analitics_data"  # (sic) — keep the reference's spelling
DEAD_LETTER_TABLE = "dead_letter"
HEALTH_TABLE = "service_health"

#: service_health row shape: one row per (batch, sink family) the
#: composed service processed, plus maintenance events appended by the
#: erase/promotion paths — the queryable analog of the reference's
#: per-batch slog banner (main.go:169-171 logs inserted-row counts) and
#: of ClickHouse's system.part_log/system.query_log observability
#: surface. ``drift`` carries the ANN drift-guard ratio (null for
#: non-ANN families).
HEALTH_SCHEMA = (
    "batch_id long, family string, rows_in long, rows_out long, drift double"
)


class HealthRow(NamedTuple):
    """One ``service_health`` row (fields as in :data:`HEALTH_SCHEMA`)."""

    batch_id: int
    family: str
    rows_in: int
    rows_out: int
    drift: float | None = None


def record_health(spark: SparkSession, warehouse: str, rows: list[HealthRow]) -> None:
    """Append ``rows`` to the warehouse's ``service_health`` table as one
    parquet file. The counts are already computed scalars, so the rows go
    to Spark as a local Arrow table: the write plans a LocalRelation scan
    with no Python worker and costs one small job (about 0.04 s on a
    4-core host), whatever the batch size. The ingest service calls this
    once per trigger with all of the trigger's rows; maintenance paths
    pass their one row."""
    table = pa.Table.from_pylist([r._asdict() for r in rows])
    spark.createDataFrame(table, HEALTH_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(os.path.join(warehouse, HEALTH_TABLE))


@once_per_jvm
def stream_name_from_subject_col():
    """Route each message to its raw table by the 2nd subject segment —
    ``globex.supprt.>`` -> ``supprt`` (nats.yml:8-10). Fixes reference quirk
    K2 (main.go:154 hardcodes one table)."""
    return ch_split_element("subject", 2)


@dataclass
class PipelineTables:
    warehouse: str

    def path(self, table: str) -> str:
        return os.path.join(self.warehouse, table)


#: write parallelism of one micro-batch's cascade appends: the batch is
#: admission-controlled (<= batch_size rows), so writing from the source's
#: full partition count would spray tiny files (tasks x hive-partitions per
#: table per trigger) and pay commit overhead per file
WRITE_PARTITIONS = 4

#: the union-table columns the idempotency anti-join reads, given up front
#: so the per-trigger read plans without a schema-inference job
_KEY_SCHEMA = T.StructType([ALL_STREAMS_SCHEMA[c] for c in ("subject", "sequence")])


@once_per_jvm
def _is_valid():
    """A row the cascade accepts; the rest (missing ts/seq/subject) are
    dead letters."""
    return (
        F.col("timestamp").isNotNull()
        & F.col("sequence").isNotNull()
        & F.col("subject").isNotNull()
    )


@once_per_jvm
def _dead_letter_cols():
    """(the dead-letter test, the dead-letter row's columns)"""
    return ~_is_valid(), (
        F.col("timestamp"),
        F.col("subject"),
        F.lit("missing jetstream metadata").alias("error"),
        F.to_json(F.struct("*")).alias("raw"),
    )


def _split_valid(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Valid rows vs dead-letter rows (malformed: missing ts/seq/subject)."""
    is_dead, dead_cols = _dead_letter_cols()
    return df.filter(_is_valid()), df.filter(is_dead).select(*dead_cols)


@once_per_jvm
def _census_cols():
    return (
        F.count_if(~_is_valid()),
        F.collect_set(F.when(_is_valid(), to_yyyymm("timestamp"))),
    )


def _census(batch: DataFrame) -> tuple[int, list[int]]:
    """(dead-letter rows, distinct ``ym`` months of the valid rows) of a
    batch, from one aggregate job. A batch spans few months, so the set
    is small."""
    n_dead, months = batch.select(*_census_cols()).first()
    return n_dead, months


def _run_concurrently(spark: SparkSession, *steps):
    """Run ``steps`` (no-argument callables) on threads of their own and
    return their results in order once all have finished; the first
    failure, in ``steps`` order, is raised after the others finished.

    Each step is wrapped in ``inheritable_thread_target`` on its own: the
    wrapper copies this thread's local properties once per wrapping, so
    the steps' jobs keep its job group (``query.stop()`` cancels them)
    while each thread gets a copy of its own, and concurrent SQL
    executions do not share the property that carries an execution id."""
    with ThreadPoolExecutor(max_workers=len(steps)) as pool:
        done = [pool.submit(inheritable_thread_target(spark)(step)) for step in steps]
    return [d.result() for d in done]


def apply_cascade(
    batch: DataFrame,
    tables: PipelineTables,
    idempotent: bool = False,
    collect_counts: bool = True,
) -> dict[str, int]:
    """Apply one micro-batch through the full cascade; returns row counts.

    Used by both the streaming foreachBatch and batch backfills — identical
    semantics either way (Spark's batch/streaming unification).

    ``idempotent=True`` upgrades the at-least-once contract to effective
    exactly-once: the batch is deduplicated on the (subject, sequence)
    idempotency key both within itself and against rows already persisted
    in the union table for the batch's months. The existing-key read is
    bounded by ym partition pruning, so the check scans only the partitions
    this batch touches — at one month of hot data that is a single
    partition regardless of table history. (The reference accepts
    duplicates on redelivery — main.go:122-127; this is the documented
    upgrade path, off by default for parity.)

    Write order: once the batch's valid rows are snapshotted, the raw,
    analytics and dead-letter appends (and, with ``collect_counts``, the
    count of valid rows) run at the same time on threads of their own;
    the union table is appended last, and only when all of them
    succeeded.

    Crash contract of the idempotent cascade: the union table is what the
    replay's anti-join reads as landed, so a row lands there only after
    every other table has it. A failure or crash before the union append
    leaves whatever raw, analytics and dead-letter rows were written, and
    the replay appends those rows again: every table then holds every
    row at least once and the union table exactly once. The raw,
    analytics and dead-letter tables are at-least-once under a crash
    until per-sink commit markers exist (ROADMAP item 1).
    """
    # coalesce, not repartition: narrow, so the census, the dedup and the
    # sink writes read the batch without a shuffle, and still at most
    # WRITE_PARTITIONS files per table partition per trigger. Being
    # narrow, it also runs an unpersisted batch's source read in at most
    # WRITE_PARTITIONS tasks; that suits the admission-controlled batches
    # this cascade takes, but costs read parallelism on a source of many
    # partitions (PERF_NOTES "Overlapped index sinks").
    batch = batch.coalesce(WRITE_PARTITIONS)
    spark = batch.sparkSession
    valid, dead = _split_valid(batch)
    snapshotted = False
    # One aggregate gives the dead-letter count and the months the
    # idempotent path probes. The months are taken before the in-batch
    # dedup, which only drops rows, so no month left after it is missed.
    n_dead, months = _census(batch)
    if idempotent:
        valid = valid.dropDuplicates(["subject", "sequence"])
        dest = tables.path(ALL_STREAMS_TABLE)
        if os.path.exists(dest):
            existing = (
                layout.read_table(spark, dest, _KEY_SCHEMA)
                .filter(F.col(layout.PARTITION_COL).isin(months))
                .select("subject", "sequence")
            )
            # The anti-join's plan SCANS the union table this cascade is
            # about to append to, and Spark drops any cached plan that
            # reads a path the moment that path is written
            # (CacheManager.uncacheByPath on insert). A plain persist()
            # here is therefore silently invalidated by the union append,
            # and a later read would re-run the anti-join against the NEW
            # file listing — filtering this batch's own freshly-landed
            # rows away (observed: analytics lost every batch after the
            # first). localCheckpoint cuts the lineage to a block-manager
            # snapshot with no path dependency, so all sinks write
            # exactly the same row set.
            valid = valid.join(
                existing, ["subject", "sequence"], "left_anti"
            ).localCheckpoint(eager=True)
            snapshotted = True
    # One pass over the batch feeds every table; cache so the (small,
    # admission-controlled) batch isn't recomputed per sink.
    if not snapshotted:
        valid = valid.persist()
    try:
        raw = message_to_raw(valid)

        def write_raw() -> None:
            # Per-stream raw tables (init.sql:8-32): one write partitioned
            # by the derived stream column — N streams land in N
            # directories from a single job instead of N sequential jobs.
            raw_out = layout.with_partition_col(
                raw.withColumn("stream", stream_name_from_subject_col())
            ).sortWithinPartitions(*layout.SORT_KEYS["raw"])
            raw_out.write.mode("append").options(
                **layout.bloom_options(layout.BLOOM_KEYS["raw"])
            ).partitionBy("stream", layout.PARTITION_COL).parquet(
                tables.path(RAW_TABLE_PREFIX.rstrip("_"))
            )

        def write_analytics() -> None:
            # Analytics table (init.sql:74-121): the MV projection.
            layout.write_partitioned(
                analytics_projection(raw),
                tables.path(ANALYTICS_TABLE),
                layout.SORT_KEYS["analytics"],
                bloom_cols=layout.BLOOM_KEYS["analytics"],
            )

        def write_dead() -> None:
            dead.write.mode("append").parquet(tables.path(DEAD_LETTER_TABLE))

        steps = [write_raw, write_analytics]
        if n_dead:
            steps.append(write_dead)
        if collect_counts:
            steps.append(valid.count)
        done = _run_concurrently(spark, *steps)
        # Union table (init.sql:35-46): identical rows, one flat table,
        # last (see the crash contract above).
        layout.write_partitioned(
            raw,
            tables.path(ALL_STREAMS_TABLE),
            layout.SORT_KEYS["all_streams"],
            bloom_cols=layout.BLOOM_KEYS["all_streams"],
        )
        return {
            "raw": done[-1] if collect_counts else -1,
            "dead_letter": n_dead,
        }
    finally:
        if not snapshotted:
            valid.unpersist()


def start_pipeline(
    spark: SparkSession,
    cfg: EngineConfig,
    source_df: DataFrame,
    query_name: str = "gntcs-ingest",
    idempotent: bool = False,
    trigger_seconds: float | None = None,
) -> StreamingQuery:
    """Start the ingestion query over any streaming DataFrame with
    MESSAGE_SCHEMA columns (NATS source, file source, or a test source).

    Default cadence is the reference's 5-second time trigger
    (cfg.batch_timeout_seconds); pass ``trigger_seconds=0`` for
    back-to-back batches (used by :func:`run_backfill`).
    """
    tables = PipelineTables(cfg.warehouse_dir)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        # steady-state ingest skips the per-batch counting jobs
        apply_cascade(batch_df, tables, idempotent=idempotent, collect_counts=False)

    seconds = cfg.batch_timeout_seconds if trigger_seconds is None else trigger_seconds
    return (
        source_df.writeStream.queryName(query_name)
        .foreachBatch(_process)
        .option("checkpointLocation", os.path.join(cfg.checkpoint_dir, query_name))
        .trigger(processingTime=f"{seconds} seconds")
        .start()
    )


#: document payload fields as they ride inside a message's ``data`` JSON
#: (the document-bearing message contract: a corpus doc published to the
#: broker is one envelope whose data JSON carries these fields).
DOC_PAYLOAD_SCHEMA = (
    "doc_id long, text string, lang string, source string, n_chars long"
)


def docs_from_messages(batch: DataFrame) -> DataFrame:
    """Extract document rows from a micro-batch of MESSAGE_SCHEMA rows:
    parse each message's ``data`` JSON against the document payload
    contract and keep the rows that carry one (doc_id present). Pure
    column expressions (from_json is permissive — a non-document payload
    yields nulls, never a crash), so the extraction is a narrow map-side
    stage on the already-admitted batch."""
    has_data, payload, is_doc = _doc_cols()
    return batch.filter(has_data).select(payload).select("d.*").filter(is_doc)


@once_per_jvm
def _doc_cols():
    """(has a payload, the parsed document payload ``d``, carries a doc)"""
    return (
        F.col("data").isNotNull(),
        F.from_json("data", DOC_PAYLOAD_SCHEMA).alias("d"),
        F.col("doc_id").isNotNull(),
    )


#: embedding payload fields inside a message's ``data`` JSON
VEC_PAYLOAD_SCHEMA = "vec_id long, embedding array<double>"


def vecs_from_messages(batch: DataFrame) -> DataFrame:
    """Extract (neighbor_id, cv) embedding rows from a micro-batch of
    MESSAGE_SCHEMA rows — the vector twin of :func:`docs_from_messages`
    (document payloads parse to null vec_id/embedding and drop out, and
    vice versa, so mixed-payload streams route themselves)."""
    has_data, payload, is_vec, cols = _vec_cols()
    return (
        batch.filter(has_data).select(payload).select("v.*").filter(is_vec).select(*cols)
    )


@once_per_jvm
def _vec_cols():
    """(has a payload, the parsed embedding payload ``v``, carries a
    vector, the (neighbor_id, cv) columns)"""
    return (
        F.col("data").isNotNull(),
        F.from_json("data", VEC_PAYLOAD_SCHEMA).alias("v"),
        F.col("vec_id").isNotNull() & F.col("embedding").isNotNull(),
        (F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")),
    )


def payload_counts(batch: DataFrame) -> tuple[int, int]:
    """(documents, embeddings) in a micro-batch: the row counts of
    :func:`docs_from_messages` and :func:`vecs_from_messages`, from one
    aggregate job over the batch instead of one job per extractor."""
    n_docs, n_vecs = batch.select(*_payload_count_cols()).first()
    return n_docs, n_vecs


@once_per_jvm
def _payload_count_cols():
    d = F.from_json("data", DOC_PAYLOAD_SCHEMA)
    v = F.from_json("data", VEC_PAYLOAD_SCHEMA)
    return (
        F.count_if(d["doc_id"].isNotNull()),
        F.count_if(v["vec_id"].isNotNull() & v["embedding"].isNotNull()),
    )


def start_ingest_service(
    spark: SparkSession,
    cfg: EngineConfig,
    source_df: DataFrame,
    index_root: str,
    ann_tables: dict[str, str] | None = None,
    drift_limit: float = 2.0,
    query_name: str = "gntcs-service",
    idempotent: bool = True,
    trigger_seconds: float | None = None,
    health: bool = True,
) -> StreamingQuery:
    """The COMPOSED service lifecycle — the reference's actual
    architecture in one checkpointed run: messages arrive (NATS source or
    envelope file replay), every micro-batch feeds BOTH the
    raw/union/analytics MV cascade (:func:`apply_cascade` — the
    insert-triggered views of init.sql:49-121 firing on main.go:154's
    INSERT) AND the LLM-pipeline index maintainers
    (plans/materialize.append_batch_index — the same insert-triggered
    contract applied to the signature/band/quality tables). One source,
    one checkpoint, one commit point: a crash replays the whole epoch
    into both sinks, so the two halves can never drift apart by more
    than one batch, and the downstream manifest consumer (duplicate-
    invariant, queries/pipeline_mat.kept_docs_from) absorbs the replay.

    ``idempotent=True`` (the default here — this is the upgraded
    exactly-once service config) dedups the cascade on (subject,
    sequence); the index side needs no such key because every consumer
    is duplicate-invariant by construction.

    With ``ann_tables`` given, embedding-bearing messages
    (:func:`vecs_from_messages`) additionally feed the ANN maintainer
    (plans/materialize.append_ann_batch) against the frozen
    centroids/codebooks — the THIRD sink family of the same epoch, with
    the pre-append drift guard (``drift_limit``) fail-stopping the
    stream before an out-of-distribution batch lands. Scale shape: all
    sink families are append-only partition-parallel writes over the
    same admitted batch, persisted once and reused; each write only
    creates files, and rewrites none in place (session.py).

    ``health=True`` (default) additionally appends one ``service_health``
    row per (batch, sink family) under the warehouse — batch id, rows
    presented, rows appended, and the ANN drift-guard ratio — the
    queryable analog of the reference's per-insert slog banner
    (main.go:169-171) and ClickHouse's system tables (VERDICT r7 #7).
    A trigger's rows are appended together at its end, as one
    :func:`record_health` write (one small job and one file per
    non-empty trigger); the only other cost is the cascade's count of
    the rows it appended. A trigger that fails (a tripped drift guard)
    writes no health rows; its replay writes them.

    Per trigger, one aggregate over the persisted batch
    (:func:`payload_counts`) finds how many documents and embeddings it
    carries, and a sink family with none is skipped. The frozen ANN
    index (centroids, codebooks, training distortion) is loaded once,
    when the query starts (plans/materialize.load_ann_index).

    The cascade (which overlaps its own appends, see :func:`apply_cascade`)
    runs on one thread and the doc-index sink on another. The sink counts
    the batch's payloads, then, with ``ann_tables`` and only when the
    batch carries embeddings, runs the ANN assignment
    (plans/materialize.assign_ann_batch: the batch's cells, codes and
    drift ratio, which writes nothing), then appends the doc index (its
    three appends one after another). The two threads share only the
    persisted batch, and at the reference batch size their small jobs
    cost launch latency and the gaps between jobs rather than data, so
    overlapping them shortens the trigger. Their jobs keep the query's
    run id as their job group, so ``query.stop()`` cancels them too. The
    trigger waits for both, then checks the drift guard, appends the
    assigned vectors to the ANN corpus (not overlapped) and records
    health; the offset commit follows foreachBatch's return, so no
    thread outlives its trigger.

    Failure contract: if the cascade or the doc-index sink (its count,
    the ANN assignment or the doc-index appends) raises, the trigger
    fails with the first of their errors, the cascade's before the
    sink's, once both have finished, and the epoch replays; what the
    other thread appended stays. A failed cascade can therefore leave
    doc-index rows of its epoch, which the replay appends again, as a
    crash mid-trigger already can; the doc-index consumers read through
    such duplicates (the ``ingested_index`` cell bakes one in). The ANN
    corpus does not: its top-k assumes each vector once. So the ANN
    append runs only after the cascade, the assignment and the doc-index
    appends all succeeded, and only a crash between it and the offset
    commit can repeat it; a failed trigger drops its assignment unused.
    A tripped drift guard appends nothing to the ANN corpus, while that
    epoch's cascade and doc-index rows land; the idempotent cascade
    absorbs them on replay."""
    from go_nats_to_clickhouse_spark.plans.materialize import (
        AnnAssignment,
        append_ann_batch,
        append_batch_index,
        assign_ann_batch,
        load_ann_index,
    )

    tables = PipelineTables(cfg.warehouse_dir)
    ann_index = None if ann_tables is None else load_ann_index(spark, ann_tables)

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.persist()  # the sink families share this batch
        spark_b = batch_df.sparkSession
        vecs = None if ann_index is None else vecs_from_messages(batch_df)

        def doc_sink() -> tuple[int, int, AnnAssignment | None]:
            n_docs, n_vecs = payload_counts(batch_df)
            assignment = None
            if vecs is not None and n_vecs:
                assignment = assign_ann_batch(vecs, ann_index)
            if n_docs:
                append_batch_index(
                    docs_from_messages(batch_df), index_root, is_new=True
                )
            return n_docs, n_vecs, assignment

        def cascade() -> dict[str, int]:
            return apply_cascade(
                batch_df, tables, idempotent=idempotent, collect_counts=health
            )

        try:
            counts, (n_docs, n_vecs, assignment) = _run_concurrently(
                spark_b, cascade, doc_sink
            )
            # only after both threads succeeded: the ANN corpus must not
            # hold a failed epoch's vectors, which its replay appends again
            drift = None
            if assignment is not None:
                drift = append_ann_batch(
                    spark_b,
                    vecs,
                    ann_tables,
                    drift_limit=drift_limit,
                    assignment=assignment,
                )
            if health:
                rows: list[HealthRow] = []
                # rows_in derives from the counts the cascade already
                # collected (valid appended + dead-lettered) — no extra
                # count() job on the batch (ADVICE r8). Idempotent-dedup
                # drops are invisible here by construction: health
                # records what the sink admitted, and a replayed epoch's
                # rows were admitted in their original batch.
                n_msgs = counts["raw"] + counts["dead_letter"]
                if n_msgs:
                    rows.append(HealthRow(batch_id, "cascade", n_msgs, counts["raw"]))
                if n_docs:
                    rows.append(HealthRow(batch_id, "doc_index", n_docs, n_docs))
                if drift is not None:
                    rows.append(HealthRow(batch_id, "ann", n_vecs, n_vecs, drift))
                if rows:
                    record_health(spark_b, cfg.warehouse_dir, rows)
        finally:
            batch_df.unpersist()

    seconds = cfg.batch_timeout_seconds if trigger_seconds is None else trigger_seconds
    return (
        source_df.writeStream.queryName(query_name)
        .foreachBatch(_process)
        .option("checkpointLocation", os.path.join(cfg.checkpoint_dir, query_name))
        .trigger(processingTime=f"{seconds} seconds")
        .start()
    )


def run_backfill(
    spark: SparkSession,
    cfg: EngineConfig,
    source_df: DataFrame,
    query_name: str = "gntcs-backfill",
    idempotent: bool = False,
) -> None:
    """Drain-and-stop catch-up: process everything the source currently has
    in admission-controlled micro-batches (maxRecordsPerTrigger still
    bounds each one), then terminate.

    Implemented as a zero-interval query drained with
    ``processAllAvailable`` rather than ``trigger(availableNow=True)``:
    Spark's availableNow wrapper snapshots a Python data source's
    ``latestOffset`` once, which under admission control means a single
    clamped batch — observed live, not just theorized. This form iterates
    until the source reports no new offsets.
    """
    q = start_pipeline(
        spark,
        cfg,
        source_df,
        query_name=query_name,
        idempotent=idempotent,
        trigger_seconds=0,
    )
    stop_gracefully(q)


def stop_gracefully(query: StreamingQuery, timeout_seconds: float = 60.0) -> None:
    """Flush-on-shutdown (ref main.go:138-147): drain everything the source
    has admitted, then stop.

    ``StreamingQuery.stop()`` alone *interrupts* an in-flight micro-batch —
    the Spark analog of dropping the buffer, which the reference explicitly
    avoids. ``processAllAvailable()`` first blocks until the sink has
    processed everything available, so the final batch commits before the
    trigger thread is torn down (at-least-once preserved either way via
    checkpoint replay; this avoids the pointless replay).
    """
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(timeout_seconds)
