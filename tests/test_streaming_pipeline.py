"""Micro-batch pipeline tests (SURVEY.md §2.2, §2.6, §3.1-3.2): the
raw -> union -> analytics cascade, dead-letter handling, graceful stop,
checkpointed at-least-once restart."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from go_nats_to_clickhouse_spark.config import EngineConfig
from go_nats_to_clickhouse_spark.schemas import MESSAGE_SCHEMA
from go_nats_to_clickhouse_spark.sources.nats import (
    JsMessage,
    NatsDataSource,
    write_replay_file,
)
from go_nats_to_clickhouse_spark.streaming.pipeline import (
    ALL_STREAMS_TABLE,
    ANALYTICS_TABLE,
    DEAD_LETTER_TABLE,
    PipelineTables,
    apply_cascade,
    start_pipeline,
    stop_gracefully,
)

TS = dt.datetime(2024, 3, 1, 12, 0, 0)
BASE_US = int(TS.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)


def _messages(n):
    return [
        JsMessage(
            subject=(
                f"globex.{'supprt' if i % 2 == 0 else 'crmabc'}"
                f".u{i % 5}.chat-{i % 3}.click.dst0.t1.ctx{i % 7}"
            ),
            data=f'{{"text":"hi-{i}","meta":"m","id":"{i}","timestamp":1709294400}}',
            sequence=i + 1,
            timestamp_us=BASE_US + i * 1000,
        )
        for i in range(n)
    ]


def _run_pipeline(spark, tmp_path, msgs, max_per_trigger=100, name="t"):
    replay = tmp_path / f"replay_{name}.jsonl"
    if not replay.exists():
        write_replay_file(str(replay), msgs)
    spark.dataSource.register(NatsDataSource)
    cfg = EngineConfig(
        warehouse_dir=str(tmp_path / "wh"),
        checkpoint_dir=str(tmp_path / "ckpt"),
        batch_timeout_seconds=1,
    )
    src = (
        spark.readStream.format("nats-jetstream")
        .option("replayFile", str(replay))
        .option("subjects", "globex.>")
        .option("maxRecordsPerTrigger", max_per_trigger)
        .load()
    )
    q = start_pipeline(spark, cfg, src, query_name=f"test-ingest-{name}")
    stop_gracefully(q)
    return cfg


class TestCascade:
    def test_three_tables_written(self, spark, tmp_path):
        cfg = _run_pipeline(spark, tmp_path, _messages(50), name="cascade")
        raw = spark.read.parquet(os.path.join(cfg.warehouse_dir, "nats_data_stream"))
        alls = spark.read.parquet(os.path.join(cfg.warehouse_dir, ALL_STREAMS_TABLE))
        ana = spark.read.parquet(os.path.join(cfg.warehouse_dir, ANALYTICS_TABLE))
        assert raw.count() == alls.count() == ana.count() == 50

    def test_raw_routed_per_stream(self, spark, tmp_path):
        # fixes reference quirk K2 (main.go:154 hardcodes one sink table)
        cfg = _run_pipeline(spark, tmp_path, _messages(20), name="routing")
        raw = spark.read.parquet(os.path.join(cfg.warehouse_dir, "nats_data_stream"))
        streams = {r["stream"] for r in raw.select("stream").distinct().collect()}
        assert streams == {"supprt", "crmabc"}

    def test_analytics_projection_applied(self, spark, tmp_path):
        cfg = _run_pipeline(spark, tmp_path, _messages(10), name="proj")
        ana = spark.read.parquet(os.path.join(cfg.warehouse_dir, ANALYTICS_TABLE))
        row = ana.filter(ana.message_id == "3").first()
        assert row["message_text"] == "hi-3"
        assert row["client_code"] == "globex"
        assert row["ym"] == 202403  # partition column materialized

    def test_restart_does_not_duplicate(self, spark, tmp_path):
        msgs = _messages(25)
        cfg = _run_pipeline(spark, tmp_path, msgs, name="restart")
        n1 = spark.read.parquet(os.path.join(cfg.warehouse_dir, ANALYTICS_TABLE)).count()
        _run_pipeline(spark, tmp_path, msgs, name="restart")  # same checkpoint
        n2 = spark.read.parquet(os.path.join(cfg.warehouse_dir, ANALYTICS_TABLE)).count()
        assert n1 == n2 == 25


class TestDeadLetter:
    def test_malformed_rows_kept_not_dropped(self, spark, tmp_path):
        # fixes reference quirk K4 (main.go:162-166: dropped rows still acked)
        rows = [
            (TS, "a.b.c.d", 1, "{}", "{}"),
            (None, "a.b.c.d", 2, "{}", "{}"),  # missing timestamp -> dead letter
        ]
        df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
        tables = PipelineTables(str(tmp_path / "wh2"))
        counts = apply_cascade(df, tables)
        assert counts["raw"] == 1
        assert counts["dead_letter"] == 1
        dead = spark.read.parquet(tables.path(DEAD_LETTER_TABLE))
        assert dead.count() == 1
        assert dead.first()["error"] == "missing jetstream metadata"


class TestBatchStreamingUnification:
    def test_apply_cascade_as_batch_backfill(self, spark, tmp_path):
        """The same cascade function is usable for batch backfills —
        Spark's batch/streaming unification."""
        rows = [
            (TS, f"globex.supprt.u{i}.c{i}.t", i, "{}", '{"text":"x"}')
            for i in range(7)
        ]
        df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
        tables = PipelineTables(str(tmp_path / "wh3"))
        counts = apply_cascade(df, tables)
        assert counts == {"raw": 7, "dead_letter": 0}
        ana = spark.read.parquet(tables.path(ANALYTICS_TABLE))
        assert ana.count() == 7


class TestIdempotentSink:
    def test_replayed_batch_not_duplicated(self, spark, tmp_path):
        """Exactly-once upgrade: applying the same batch twice (the
        at-least-once replay scenario, main.go:122-127) persists once."""
        rows = [
            (TS, f"globex.supprt.u{i}.c{i}.t", i, "{}", '{"text":"x"}')
            for i in range(10)
        ]
        df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
        tables = PipelineTables(str(tmp_path / "wh_idem"))
        apply_cascade(df, tables, idempotent=True)
        apply_cascade(df, tables, idempotent=True)  # full replay
        ana = spark.read.parquet(tables.path(ANALYTICS_TABLE))
        assert ana.count() == 10

    def test_intra_batch_duplicates_collapsed(self, spark, tmp_path):
        rows = [(TS, "globex.supprt.u1.c1.t", 1, "{}", "{}")] * 3
        df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
        tables = PipelineTables(str(tmp_path / "wh_idem2"))
        apply_cascade(df, tables, idempotent=True)
        assert spark.read.parquet(tables.path(ANALYTICS_TABLE)).count() == 1

    def test_sequential_novel_batches_all_reach_analytics(self, spark, tmp_path):
        """Regression (r7): the idempotent anti-join's plan scans the
        union table the cascade appends to, and Spark auto-uncaches
        plans by written path — so a persist()-only cascade silently
        recomputed the anti-join for the analytics write and dropped
        every batch after the first (analytics saw its own union rows as
        'existing'). The localCheckpoint snapshot must keep all three
        sinks row-identical across many novel batches."""
        tables = PipelineTables(str(tmp_path / "wh_seq"))
        for ep in range(3):
            rows = [
                (TS, f"globex.supprt.u{i}.c{i}.t", ep * 100 + i, "{}", '{"text":"x"}')
                for i in range(10)
            ]
            df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
            apply_cascade(df, tables, idempotent=True, collect_counts=False)
        alls = spark.read.parquet(tables.path(ALL_STREAMS_TABLE)).count()
        ana = spark.read.parquet(tables.path(ANALYTICS_TABLE)).count()
        assert alls == ana == 30

    def test_cross_month_replay_with_one_new_row_lands_once(self, spark, tmp_path):
        """A batch spanning February and March 2024, replayed with one
        new row, lands exactly once: the anti-join must probe every
        month the batch touches, not just one."""
        feb = dt.datetime(2024, 2, 29, 23, 0, 0)
        rows = [
            (feb if i % 2 else TS, f"globex.supprt.u{i}.c{i}.t", i, "{}", '{"text":"x"}')
            for i in range(10)
        ]
        tables = PipelineTables(str(tmp_path / "wh_months"))
        apply_cascade(
            spark.createDataFrame(rows, MESSAGE_SCHEMA), tables, idempotent=True
        )
        rows.append((feb, "globex.supprt.u10.c10.t", 10, "{}", '{"text":"x"}'))
        counts = apply_cascade(
            spark.createDataFrame(rows, MESSAGE_SCHEMA), tables, idempotent=True
        )
        assert counts == {"raw": 1, "dead_letter": 0}
        for table in (ALL_STREAMS_TABLE, ANALYTICS_TABLE):
            got = spark.read.parquet(tables.path(table))
            assert got.count() == 11, table
            assert {r.ym: r["count"] for r in got.groupBy("ym").count().collect()} == {
                202402: 6,
                202403: 5,
            }

    def test_default_keeps_reference_at_least_once(self, spark, tmp_path):
        rows = [(TS, "globex.supprt.u1.c1.t", 1, "{}", "{}")]
        df = spark.createDataFrame(rows, MESSAGE_SCHEMA)
        tables = PipelineTables(str(tmp_path / "wh_alo"))
        apply_cascade(df, tables)
        apply_cascade(df, tables)  # replay duplicates — reference contract
        assert spark.read.parquet(tables.path(ANALYTICS_TABLE)).count() == 2


class TestCascadeFailureReplay:
    """A cascade append that fails, then a replay of the same batch
    through the idempotent cascade. The union table is appended last
    because the replay's anti-join reads it as landed: a batch whose
    analytics append failed must not count as landed. The raw and
    analytics tables stay at-least-once under such a failure (the replay
    appends again the rows a failed trigger already wrote there) until
    per-sink commit markers exist (ROADMAP item 1)."""

    @staticmethod
    def _batch(spark, ids):
        rows = [
            (TS, f"globex.supprt.u{i}.c{i}.t", i, "{}", f'{{"text":"x","id":"{i}"}}')
            for i in ids
        ]
        return spark.createDataFrame(rows, MESSAGE_SCHEMA)

    @staticmethod
    def _fail_once(monkeypatch, table):
        """Make the next ``layout.write_partitioned`` call into ``table``
        raise before it writes anything."""
        from go_nats_to_clickhouse_spark.plans import layout

        write = layout.write_partitioned
        armed = [True]

        def flaky(df, path, *args, **kwargs):
            if armed[0] and os.path.basename(path) == table:
                armed[0] = False
                raise RuntimeError(f"{table} append down")
            return write(df, path, *args, **kwargs)

        monkeypatch.setattr(layout, "write_partitioned", flaky)

    def _fail_then_replay(self, spark, tmp_path, monkeypatch, table):
        tables = PipelineTables(str(tmp_path / "wh_fail"))
        # a first batch lands cleanly, so the replay runs the anti-join
        apply_cascade(self._batch(spark, range(10)), tables, idempotent=True)
        batch = self._batch(spark, range(10, 20))
        self._fail_once(monkeypatch, table)
        with pytest.raises(Exception, match=f"{table} append down"):
            apply_cascade(batch, tables, idempotent=True)
        apply_cascade(batch, tables, idempotent=True)  # the replay
        return tables

    @staticmethod
    def _sequences(spark, tables, table):
        return [r.sequence for r in spark.read.parquet(tables.path(table)).collect()]

    @staticmethod
    def _ids(spark, tables):
        ana = spark.read.parquet(tables.path(ANALYTICS_TABLE))
        return [int(r.message_id) for r in ana.select("message_id").collect()]

    def test_failed_analytics_append_replays_into_analytics(
        self, spark, tmp_path, monkeypatch
    ):
        tables = self._fail_then_replay(spark, tmp_path, monkeypatch, ANALYTICS_TABLE)
        assert set(self._ids(spark, tables)) == set(range(20))
        union = self._sequences(spark, tables, ALL_STREAMS_TABLE)
        assert sorted(union) == list(range(20))
        assert set(self._sequences(spark, tables, "nats_data_stream")) == set(range(20))

    def test_failed_union_append_replays_into_every_table(
        self, spark, tmp_path, monkeypatch
    ):
        tables = self._fail_then_replay(spark, tmp_path, monkeypatch, ALL_STREAMS_TABLE)
        assert set(self._ids(spark, tables)) == set(range(20))
        union = self._sequences(spark, tables, ALL_STREAMS_TABLE)
        assert sorted(union) == list(range(20))
        assert set(self._sequences(spark, tables, "nats_data_stream")) == set(range(20))


#: Spark jobs of one composed-service trigger that carries documents
#: and embeddings
JOBS_CEILING = 23
#: the same trigger's jobs without its doc-sink thread's jobs (7 of
#: them) come to 16; a count this low means those jobs lost the query's
#: job group
JOBS_FLOOR = 20


class TestComposedIngestService:
    """The reference's full service shape (VERDICT r6 #1): one
    checkpointed run whose every micro-batch feeds the MV cascade AND
    the LLM-pipeline index maintainers."""

    @staticmethod
    def _docs(spark, ids):
        # Gopher-passing texts (50 words, alpha, 2 stopwords) with a
        # DISJOINT vocabulary per doc — shared vocab would legitimately
        # near-dup-collapse the corpus (lesson from the r6 promotion
        # edge-case tests) and empty the keep-set under test.
        def text(i):
            tag = chr(97 + i // 26) + chr(97 + i % 26)
            words = [
                f"w{tag}x{chr(97 + j // 26)}{chr(97 + j % 26)}" for j in range(48)
            ]
            return " ".join(words + ["the", "and"])

        rows = [(i, text(i), "en", f"src{i % 2}", 300) for i in ids]
        return spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        )

    @staticmethod
    def _ann_copy(spark, sf_dir, tmp_path):
        """A private copy of the base ANN index tables, for a test that
        appends to them."""
        import shutil

        from go_nats_to_clickhouse_spark.plans import materialize

        ann = {}
        for name, p in materialize.ann_tables(spark, sf_dir).items():
            ann[name] = str(tmp_path / "ann" / name)
            shutil.copytree(p, ann[name])
        return ann

    def _run_service(self, spark, tmp_path, name="svc", ann_tables=None):
        from go_nats_to_clickhouse_spark.sources.envelope import (
            message_file_stream,
        )
        from go_nats_to_clickhouse_spark.streaming.pipeline import (
            start_ingest_service,
        )

        cfg = EngineConfig(
            warehouse_dir=str(tmp_path / "wh_svc"),
            checkpoint_dir=str(tmp_path / "ckpt_svc"),
        )
        src = message_file_stream(
            spark, str(tmp_path / "arrivals"), max_files_per_trigger=1
        )
        q = start_ingest_service(
            spark, cfg, src, index_root=str(tmp_path / "idx"),
            ann_tables=ann_tables, query_name=name, trigger_seconds=0,
        )
        stop_gracefully(q)
        # Every sink write is create-only: no table carries a _SUCCESS
        # marker, which each append would otherwise rewrite in place.
        roots = [cfg.warehouse_dir, str(tmp_path / "idx"), *(ann_tables or {}).values()]
        markers = [
            os.path.join(d, f)
            for root in roots
            for d, _, files in os.walk(root)
            for f in files
            if f == "_SUCCESS"
        ]
        assert not markers, markers
        return cfg, q

    def test_both_sink_families_fed_and_restart_no_duplicates(
        self, spark, tmp_path
    ):
        """Land one arrival file, run the composed service, stop; land
        two more, restart from the SAME checkpoint: the cascade must
        hold exactly-once counts and the index side must cover exactly
        the published docs — the restart-no-duplicate e2e extended to
        the composed sink (VERDICT r6 #1)."""
        from go_nats_to_clickhouse_spark.sources.envelope import (
            document_envelopes,
        )

        arrivals = tmp_path / "arrivals"
        document_envelopes(self._docs(spark, range(10))).coalesce(1).write.mode(
            "append"
        ).text(str(arrivals))
        cfg, _ = self._run_service(spark, tmp_path)
        ana1 = spark.read.parquet(
            os.path.join(cfg.warehouse_dir, ANALYTICS_TABLE)
        ).count()
        assert ana1 == 10

        document_envelopes(self._docs(spark, range(10, 20))).coalesce(1).write.mode(
            "append"
        ).text(str(arrivals))
        document_envelopes(self._docs(spark, range(20, 30))).coalesce(1).write.mode(
            "append"
        ).text(str(arrivals))
        self._run_service(spark, tmp_path)  # same checkpoint: resumes

        ana = spark.read.parquet(os.path.join(cfg.warehouse_dir, ANALYTICS_TABLE))
        assert ana.count() == 30
        assert ana.select("message_id").distinct().count() == 30
        # index side: every published doc indexed exactly once per table
        sigs = spark.read.parquet(str(tmp_path / "idx" / "doc_sigs"))
        qual = spark.read.parquet(str(tmp_path / "idx" / "doc_quality"))
        assert sigs.count() == sigs.select("doc_id").distinct().count() == 30
        assert qual.count() == 30
        # cascade and index halves describe the SAME doc set
        got_ana = {int(r.message_id) for r in ana.select("message_id").collect()}
        got_idx = {r.doc_id for r in sigs.select("doc_id").collect()}
        assert got_ana == got_idx == set(range(30))

    def test_ann_sink_fed_and_restart_no_duplicates(self, spark, sf_dir, tmp_path):
        """The THIRD sink family: embedding-bearing messages in the same
        checkpointed run feed append_ann_batch; across a restart each
        streamed vector is appended exactly once (checkpoint resume),
        alongside the doc/cascade sinks."""
        from pyspark.sql import functions as F

        from go_nats_to_clickhouse_spark.sources.envelope import (
            document_envelopes, embedding_envelopes,
        )

        ann = self._ann_copy(spark, sf_dir, tmp_path)
        n0 = spark.read.parquet(ann["ann_corpus"]).count()

        from go_nats_to_clickhouse_spark.schemas import load_table

        e = load_table(spark, sf_dir, "embeddings")
        arrivals = tmp_path / "arrivals"
        document_envelopes(self._docs(spark, range(6))).coalesce(1).write.mode(
            "append"
        ).text(str(arrivals))
        embedding_envelopes(
            e.filter(F.col("vec_id") < 20).select("vec_id", "embedding")
        ).coalesce(1).write.mode("append").text(str(arrivals))
        self._run_service(spark, tmp_path, ann_tables=ann)
        assert spark.read.parquet(ann["ann_corpus"]).count() == n0 + 20

        # one mixed epoch, so the restart trigger feeds all three sinks
        document_envelopes(self._docs(spark, range(6, 9))).union(
            embedding_envelopes(
                e.filter(F.col("vec_id").between(20, 29)).select("vec_id", "embedding")
            )
        ).coalesce(1).write.mode("append").text(str(arrivals))
        _, q = self._run_service(spark, tmp_path, ann_tables=ann)  # same checkpoint
        corpus = spark.read.parquet(ann["ann_corpus"])
        # earlier epochs NOT re-appended; new epoch appended once
        assert corpus.count() == n0 + 30
        # the restart ran one trigger (cascade with the idempotency
        # anti-join, doc index, ANN append, health row); foreachBatch
        # jobs carry the query's run id as their job group. Pins the
        # per-trigger job count: health rows as one local append, the
        # frozen ANN index loaded at query start, one fused payload
        # count, one census aggregate in the cascade. The floor checks
        # that the doc sink's thread kept the group, so query.stop()
        # cancels its jobs.
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
        assert JOBS_FLOOR <= len(jobs) <= JOBS_CEILING, len(jobs)
        # doc sink fed from the same run
        sigs = spark.read.parquet(str(tmp_path / "idx" / "doc_sigs"))
        assert {r.doc_id for r in sigs.select("doc_id").collect()} == set(range(9))

    def test_trigger_without_embeddings_runs_no_ann_assignment(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """The ANN assignment runs only for a trigger that carries
        embeddings: a documents-only trigger of a service with an ANN
        index assigns nothing, and the next trigger's vectors are
        assigned once."""
        from pyspark.sql import functions as F

        from go_nats_to_clickhouse_spark.plans import materialize
        from go_nats_to_clickhouse_spark.schemas import load_table
        from go_nats_to_clickhouse_spark.sources.envelope import (
            document_envelopes, embedding_envelopes,
        )

        ann = self._ann_copy(spark, sf_dir, tmp_path)
        n0 = spark.read.parquet(ann["ann_corpus"]).count()
        assigned = []
        assign = materialize.assign_ann_batch

        def counted(new_vectors, index):
            assigned.append(1)
            return assign(new_vectors, index)

        monkeypatch.setattr(materialize, "assign_ann_batch", counted)
        arrivals = tmp_path / "arrivals"
        document_envelopes(self._docs(spark, range(4))).coalesce(1).write.mode(
            "append"
        ).text(str(arrivals))
        self._run_service(spark, tmp_path, ann_tables=ann)
        assert assigned == []
        assert spark.read.parquet(ann["ann_corpus"]).count() == n0

        e = load_table(spark, sf_dir, "embeddings")
        embedding_envelopes(
            e.filter(F.col("vec_id") < 5).select("vec_id", "embedding")
        ).coalesce(1).write.mode("append").text(str(arrivals))
        self._run_service(spark, tmp_path, ann_tables=ann)  # same checkpoint
        assert assigned == [1]
        assert spark.read.parquet(ann["ann_corpus"]).count() == n0 + 5

    def test_drift_trip_fails_query_without_ann_or_health_rows(
        self, spark, sf_dir, tmp_path
    ):
        """A shifted embedding batch through the composed service: the
        drift guard trips after the cascade and the doc sink, and its
        error must fail the query. The guard runs before the ANN append,
        and the failed trigger writes no health rows."""
        from pyspark.sql import functions as F

        from go_nats_to_clickhouse_spark.schemas import load_table
        from go_nats_to_clickhouse_spark.sources.envelope import (
            document_envelopes, embedding_envelopes, message_file_stream,
        )
        from go_nats_to_clickhouse_spark.streaming.pipeline import (
            HEALTH_TABLE, start_ingest_service,
        )

        ann = self._ann_copy(spark, sf_dir, tmp_path)
        n0 = spark.read.parquet(ann["ann_corpus"]).count()

        arrivals = tmp_path / "arrivals"
        document_envelopes(self._docs(spark, range(4))).coalesce(1).write.mode(
            "append"
        ).text(str(arrivals))  # batch 0: clean
        e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
        embedding_envelopes(
            e.select(
                "vec_id",
                F.transform("embedding", lambda x: x + F.lit(1000.0)).alias(
                    "embedding"
                ),
            )
        ).coalesce(1).write.mode("append").text(str(arrivals))  # batch 1: shifted

        cfg = EngineConfig(
            warehouse_dir=str(tmp_path / "wh_svc"),
            checkpoint_dir=str(tmp_path / "ckpt_svc"),
        )
        q = start_ingest_service(
            spark, cfg,
            message_file_stream(spark, str(arrivals), max_files_per_trigger=1),
            index_root=str(tmp_path / "idx"), ann_tables=ann,
            query_name="svc-drift", trigger_seconds=0,
        )
        try:
            with pytest.raises(Exception, match="drift guard"):
                q.processAllAvailable()
        finally:
            q.stop()
        assert spark.read.parquet(ann["ann_corpus"]).count() == n0
        h = spark.read.parquet(os.path.join(cfg.warehouse_dir, HEALTH_TABLE))
        assert {r.batch_id for r in h.select("batch_id").distinct().collect()} == {0}

    def test_failed_cascade_appends_no_ann_rows(
        self, spark, sf_dir, tmp_path, monkeypatch
    ):
        """A cascade that raises fails the trigger, and the epoch's
        vectors must not reach the ANN corpus: its top-k assumes each
        vector once, and the replay would append them again."""
        from pyspark.sql import functions as F

        from go_nats_to_clickhouse_spark.schemas import load_table
        from go_nats_to_clickhouse_spark.sources.envelope import (
            document_envelopes, embedding_envelopes, message_file_stream,
        )
        from go_nats_to_clickhouse_spark.streaming import pipeline

        ann = self._ann_copy(spark, sf_dir, tmp_path)
        n0 = spark.read.parquet(ann["ann_corpus"]).count()
        e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
        document_envelopes(self._docs(spark, range(4))).union(
            embedding_envelopes(e.select("vec_id", "embedding"))
        ).coalesce(1).write.text(str(tmp_path / "arrivals"))

        def cascade_down(*args, **kwargs):
            raise RuntimeError("cascade down")

        monkeypatch.setattr(pipeline, "apply_cascade", cascade_down)
        cfg = EngineConfig(
            warehouse_dir=str(tmp_path / "wh_svc"),
            checkpoint_dir=str(tmp_path / "ckpt_svc"),
        )
        q = pipeline.start_ingest_service(
            spark, cfg,
            message_file_stream(spark, str(tmp_path / "arrivals")),
            index_root=str(tmp_path / "idx"), ann_tables=ann,
            query_name="svc-cascade-down", trigger_seconds=0,
        )
        try:
            with pytest.raises(Exception, match="cascade down"):
                q.processAllAvailable()
        finally:
            q.stop()
        assert spark.read.parquet(ann["ann_corpus"]).count() == n0
        assert not os.path.exists(os.path.join(cfg.warehouse_dir, pipeline.HEALTH_TABLE))

    def test_replayed_epoch_absorbed_by_both_halves(self, spark, tmp_path):
        """Re-applying one epoch through the composed per-batch body
        (the crash-replay scenario) must leave the idempotent cascade
        unchanged and only add index rows every consumer dedups —
        kept_docs_from's manifest over the index stays identical."""
        from go_nats_to_clickhouse_spark.plans.materialize import (
            append_batch_index,
        )
        from go_nats_to_clickhouse_spark.queries.pipeline_mat import (
            kept_docs_from, manifest_rows,
        )
        from go_nats_to_clickhouse_spark.sources.envelope import (
            document_envelopes, message_file_batch,
        )
        from go_nats_to_clickhouse_spark.streaming.pipeline import (
            PipelineTables, docs_from_messages,
        )

        arrivals = tmp_path / "arrivals"
        document_envelopes(self._docs(spark, range(12))).coalesce(1).write.text(
            str(arrivals)
        )
        cfg, _ = self._run_service(spark, tmp_path)
        idx = str(tmp_path / "idx")

        def manifest():
            empty_surv = spark.createDataFrame([], "doc_id long")
            kept = kept_docs_from(
                spark.read.parquet(os.path.join(idx, "doc_bands")),
                spark.read.parquet(os.path.join(idx, "doc_quality")),
                empty_surv,
            )
            return sorted(
                (r.doc_id, r.from_batch, r.shard, r.pos)
                for r in manifest_rows(kept).collect()
            )

        before = manifest()
        assert len(before) == 12  # gopher-passing docs: non-trivial keep-set
        replayed = message_file_batch(
            spark,
            str(next(arrivals.glob("part-*.txt"))),
        )
        apply_cascade(
            replayed, PipelineTables(cfg.warehouse_dir),
            idempotent=True, collect_counts=False,
        )
        append_batch_index(docs_from_messages(replayed), idx, is_new=True)
        ana = spark.read.parquet(os.path.join(cfg.warehouse_dir, ANALYTICS_TABLE))
        assert ana.count() == 12  # cascade absorbed the replay
        assert manifest() == before  # consumer absorbed the index dupes

    def test_health_rows_derive_from_cascade_counts(self, spark, tmp_path):
        """ADVICE r8: cascade health rows_in comes from the counts the
        cascade already collected — no extra count() job on the batch.
        Conservation must still hold batch-by-batch, INCLUDING the
        dead-letter branch: a malformed envelope is counted in rows_in
        but not rows_out."""
        from go_nats_to_clickhouse_spark.sources.envelope import (
            document_envelopes,
        )
        from go_nats_to_clickhouse_spark.streaming.pipeline import (
            HEALTH_TABLE,
        )

        arrivals = tmp_path / "arrivals"
        document_envelopes(self._docs(spark, range(8))).coalesce(1).write.mode(
            "append"
        ).text(str(arrivals))
        # a metadata-less envelope: parses, but ts/sequence are null ->
        # dead letter (the K4 silent-loss fix path)
        spark.createDataFrame(
            [('{"subject":"corpus.src0.ingest.doc-99.batch","data":"{}"}',)],
            "value string",
        ).coalesce(1).write.mode("append").text(str(arrivals))
        from pyspark.sql import functions as F

        cfg, _ = self._run_service(spark, tmp_path, name="svc-health")
        h = spark.read.parquet(os.path.join(cfg.warehouse_dir, HEALTH_TABLE))
        sums = {
            r.family: (r.i, r.o)
            for r in h.groupBy("family")
            .agg(F.sum("rows_in").alias("i"), F.sum("rows_out").alias("o"))
            .collect()
        }
        assert sums["cascade"] == (9, 8)  # dead letter in rows_in only
        assert sums["doc_index"] == (8, 8)
        # each non-empty trigger appends its rows as ONE part file
        parts = [
            f
            for f in os.listdir(os.path.join(cfg.warehouse_dir, HEALTH_TABLE))
            if f.startswith("part-")
        ]
        assert len(parts) == h.select("batch_id").distinct().count() == 2


class TestBackfill:
    def test_drain_in_admission_controlled_batches(self, spark, tmp_path):
        """run_backfill: everything currently available is processed, in
        multiple maxRecordsPerTrigger-bounded micro-batches, then stop."""
        from go_nats_to_clickhouse_spark.streaming.pipeline import run_backfill

        replay = tmp_path / "replay_an.jsonl"
        write_replay_file(str(replay), _messages(30))
        spark.dataSource.register(NatsDataSource)
        cfg = EngineConfig(
            warehouse_dir=str(tmp_path / "wh_an"),
            checkpoint_dir=str(tmp_path / "ckpt_an"),
        )
        src = (
            spark.readStream.format("nats-jetstream")
            .option("replayFile", str(replay))
            .option("subjects", "globex.>")
            .option("maxRecordsPerTrigger", 10)
            .load()
        )
        run_backfill(spark, cfg, src, query_name="an")
        ana = spark.read.parquet(os.path.join(cfg.warehouse_dir, ANALYTICS_TABLE))
        assert ana.count() == 30  # all three 10-row batches drained


class TestComposedServiceOverNatsSource:
    def test_nats_replay_source_feeds_composed_service(self, spark, tmp_path):
        """Source interchangeability, proven at the composed level: the
        SAME start_ingest_service runs over the NATS JetStream replay
        source (S1) — document payloads arriving as JetStream messages
        are parsed, routed through the cascade, AND indexed in one
        checkpointed run."""
        import json as _json

        from go_nats_to_clickhouse_spark.streaming.pipeline import (
            start_ingest_service, stop_gracefully,
        )

        docs = TestComposedIngestService._docs(spark, range(8)).collect()
        msgs = [
            JsMessage(
                subject=f"corpus.{r.source}.ingest.doc-{r.doc_id}.batch",
                data=_json.dumps(
                    {
                        "doc_id": r.doc_id,
                        "text": r.text,
                        "lang": r.lang,
                        "source": r.source,
                        "n_chars": r.n_chars,
                        "id": str(r.doc_id),
                    }
                ),
                sequence=r.doc_id + 1,
                timestamp_us=BASE_US + r.doc_id,
            )
            for r in docs
        ]
        replay = tmp_path / "replay_svc.jsonl"
        write_replay_file(str(replay), msgs)
        spark.dataSource.register(NatsDataSource)
        cfg = EngineConfig(
            warehouse_dir=str(tmp_path / "wh_nats_svc"),
            checkpoint_dir=str(tmp_path / "ckpt_nats_svc"),
        )
        src = (
            spark.readStream.format("nats-jetstream")
            .option("replayFile", str(replay))
            .option("subjects", "corpus.>")
            .option("maxRecordsPerTrigger", 3)
            .load()
        )
        q = start_ingest_service(
            spark, cfg, src, index_root=str(tmp_path / "idx_nats"),
            query_name="nats-svc", trigger_seconds=0,
        )
        stop_gracefully(q)
        ana = spark.read.parquet(os.path.join(cfg.warehouse_dir, ANALYTICS_TABLE))
        assert ana.count() == 8
        sigs = spark.read.parquet(str(tmp_path / "idx_nats" / "doc_sigs"))
        assert {r.doc_id for r in sigs.select("doc_id").collect()} == set(range(8))
