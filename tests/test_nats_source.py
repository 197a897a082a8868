"""NATS JetStream source unit tests (SURVEY.md §2.1-2.2): subject matching,
sequence-offset admission control, partition planning, replay transport."""

from __future__ import annotations

import pytest

from go_nats_to_clickhouse_spark.schemas import MESSAGE_SCHEMA
from go_nats_to_clickhouse_spark.sources.nats import (
    JsMessage,
    NatsStreamReader,
    ReplayJetStreamClient,
    _subject_matches,
)


def _msgs(n, subject_fn=lambda i: f"globex.supprt.u{i}.c{i}.evt"):
    return [
        JsMessage(
            subject=subject_fn(i),
            data="{}",
            sequence=i + 1,
            timestamp_us=1_700_000_000_000_000 + i,
        )
        for i in range(n)
    ]


class TestSubjectMatching:
    def test_exact(self):
        assert _subject_matches("a.b.c", "a.b.c")

    def test_wildcard_token(self):
        assert _subject_matches("a.b.c", "a.*.c")
        assert not _subject_matches("a.b.c", "a.*.d")

    def test_trailing_gt_matches_one_or_more(self):
        assert _subject_matches("globex.supprt.x.y", "globex.supprt.>")
        assert _subject_matches("globex.supprt.x", "globex.supprt.>")
        assert not _subject_matches("globex.supprt", "globex.supprt.>")

    def test_length_mismatch(self):
        assert not _subject_matches("a.b", "a.b.c")
        assert not _subject_matches("a.b.c", "a.b")


class TestReplayClient:
    def test_fetch_range_and_filter(self):
        client = ReplayJetStreamClient(_msgs(10))
        got = client.fetch(2, 5, ["globex.supprt.>"])
        assert [m.sequence for m in got] == [3, 4, 5]

    def test_ack_through_is_monotone(self):
        client = ReplayJetStreamClient(_msgs(3))
        client.ack_through(2)
        client.ack_through(1)
        assert client.acked_through == 2


def _reader(client_msgs, max_per_trigger=1000, **opts):
    import json
    import tempfile

    # route through the replayFile transport (what production options do)
    f = tempfile.NamedTemporaryFile(
        mode="w", suffix=".jsonl", delete=False, encoding="utf-8"
    )
    for m in client_msgs:
        f.write(
            json.dumps(
                {
                    "subject": m.subject,
                    "data": m.data,
                    "sequence": m.sequence,
                    "timestamp_us": m.timestamp_us,
                    "metadata_json": m.metadata_json,
                }
            )
            + "\n"
        )
    f.close()
    options = {
        "replayFile": f.name,
        "subjects": "globex.>",
        "maxRecordsPerTrigger": str(max_per_trigger),
        **opts,
    }
    return NatsStreamReader(MESSAGE_SCHEMA, options)


class TestAdmissionControl:
    def test_count_trigger_caps_batch(self):
        # ref batchSize=1000 (main.go:26): a flood of messages is admitted in
        # maxRecordsPerTrigger-sized slices, nothing skipped.
        r = _reader(_msgs(2500), max_per_trigger=1000)
        o0 = r.initialOffset()
        o1 = r.latestOffset()
        o2 = r.latestOffset()
        o3 = r.latestOffset()
        assert (o0["seq"], o1["seq"], o2["seq"], o3["seq"]) == (0, 1000, 2000, 2500)

    def test_partitions_split_range(self):
        r = _reader(_msgs(100), partitions="4")
        parts = r.partitions({"seq": 0}, {"seq": 100})
        assert len(parts) == 4
        assert parts[0].start_seq == 0 and parts[-1].end_seq == 100
        # contiguous, no gaps
        for a, b in zip(parts, parts[1:]):
            assert a.end_seq == b.start_seq

    def test_read_yields_rows_in_slice(self):
        r = _reader(_msgs(10))
        parts = r.partitions({"seq": 0}, {"seq": 10})
        rows = [row for p in parts for row in r.read(p)]
        assert len(rows) == 10
        assert sorted(r[2] for r in rows) == list(range(1, 11))

    def test_empty_range_yields_nothing(self):
        r = _reader(_msgs(5))
        parts = r.partitions({"seq": 5}, {"seq": 5})
        assert all(len(list(r.read(p))) == 0 for p in parts)

    def test_commit_acks_upstream(self):
        # ack-after-commit (main.go:199-208)
        r = _reader(_msgs(5))
        r.commit({"seq": 5})
        assert r._client.acked_through == 5


class TestRestartCursor:
    """Restart with backlog > maxRecordsPerTrigger (ADVICE r1, high): a
    planner that has lost its cursor may emit a regressed end offset, and
    Spark then uses that regressed offset as the next batch's start. The
    committed-boundary clip in partitions() must keep already-committed
    sequence ranges from being re-read and double-appended — while leaving
    fresh starts and recovery replays untouched."""

    def setup_method(self):
        from go_nats_to_clickhouse_spark.sources.nats import _reset_cursor_caches

        _reset_cursor_caches()

    def test_fresh_start_stays_clamped(self):
        # Admission control (B2) must hold for the very first batch of a
        # fresh query — a flood is drained in trigger-sized slices.
        r = _reader(_msgs(2500), max_per_trigger=1000)
        assert r.initialOffset()["seq"] == 0
        assert r.latestOffset()["seq"] == 1000

    def test_planner_instance_without_initial_offset_stays_clamped(self):
        # Spark may plan on a different reader instance than the one that
        # answered initialOffset(); the options-keyed cursor cache must make
        # both behave identically (a per-instance flag does not).
        r1 = _reader(_msgs(2500), max_per_trigger=1000)
        opts = dict(r1._options)
        r1.initialOffset()
        from go_nats_to_clickhouse_spark.schemas import MESSAGE_SCHEMA as S
        from go_nats_to_clickhouse_spark.sources.nats import NatsStreamReader

        r2 = NatsStreamReader(S, opts)  # planner instance, fresh object
        assert r2.latestOffset()["seq"] == 1000

    def test_regressed_batch_does_not_reread_committed_range(self):
        # New-process restart: caches empty, committed cursor is 2000 but
        # startingSequence says 0. latestOffset may regress (API limit) —
        # but the committed boundary learned from Spark's own batch starts
        # must clip any later range that dips below it.
        r = _reader(_msgs(2500), max_per_trigger=1000)
        end = r.latestOffset()  # regressed: 1000 < committed 2000
        assert end["seq"] == 1000
        # Spark schedules [2000, 1000] — start reveals the committed boundary
        parts = r.partitions({"seq": 2000}, end)
        assert all(len(list(r.read(p))) == 0 for p in parts)  # empty batch
        # next batch starts at the regressed offset; reads must clip to 2000
        parts = r.partitions({"seq": 1000}, {"seq": 2500})
        rows = [row for p in parts for row in r.read(p)]
        assert sorted(r[2] for r in rows) == list(range(2001, 2501))

    def test_recovery_replay_reads_its_full_range(self):
        # Restart with an uncommitted batch: Spark replays partitions(start,
        # end) from the offset log FIRST. The boundary learned from this
        # call's own start must not clip the replay itself.
        r = _reader(_msgs(5000), max_per_trigger=1000)
        parts = r.partitions({"seq": 2000}, {"seq": 3000})
        rows = [row for p in parts for row in r.read(p)]
        assert sorted(r[2] for r in rows) == list(range(2001, 3001))
        # and subsequent planning clamps from the replayed range, not from 0
        assert r.latestOffset()["seq"] == 4000

    def test_commit_ratchets_cursor(self):
        r = _reader(_msgs(100), max_per_trigger=10)
        r.commit({"seq": 50})
        assert r.latestOffset()["seq"] == 60

    def test_catchup_batch_slices_bounded_by_trigger_size(self):
        # A catch-up batch must not become one giant task: slices are capped
        # at maxRecordsPerTrigger sequences each.
        r = _reader(_msgs(5000), max_per_trigger=1000, partitions="2")
        parts = r.partitions({"seq": 0}, {"seq": 5000})
        assert len(parts) >= 5
        assert all(p.end_seq - p.start_seq <= 1000 for p in parts)
        assert parts[0].start_seq == 0 and parts[-1].end_seq == 5000

    def test_restart_backlog_no_duplicates_e2e(self, spark, tmp_path):
        # End-to-end version of the ADVICE scenario: stop after the first
        # trigger with 30 messages of backlog remaining (> trigger size 10),
        # restart from the same checkpoint, and require exactly-one copy of
        # every sequence in the sink.
        from go_nats_to_clickhouse_spark.sources.nats import (
            NatsDataSource,
            write_replay_file,
        )

        replay = tmp_path / "replay.jsonl"
        write_replay_file(str(replay), _msgs(40))
        spark.dataSource.register(NatsDataSource)

        def start_query(name):
            df = (
                spark.readStream.format("nats-jetstream")
                .option("replayFile", str(replay))
                .option("subjects", "globex.supprt.>")
                .option("maxRecordsPerTrigger", 10)
                .load()
            )
            return (
                df.writeStream.format("parquet")
                .option("path", str(tmp_path / "out"))
                .option("checkpointLocation", str(tmp_path / "ckpt"))
                .trigger(once=True)  # exactly one 10-record batch, then stop
                .queryName(name)
                .start()
            )

        q = start_query("nats_restart_a")
        q.awaitTermination(60)
        q2 = (
            spark.readStream.format("nats-jetstream")
            .option("replayFile", str(replay))
            .option("subjects", "globex.supprt.>")
            .option("maxRecordsPerTrigger", 10)
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .queryName("nats_restart_b")
            .start()
        )
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        got = spark.read.parquet(str(tmp_path / "out"))
        seqs = [r["sequence"] for r in got.select("sequence").collect()]
        assert sorted(seqs) == list(range(1, 41)), (
            f"expected each of 1..40 exactly once, got {len(seqs)} rows"
        )


class TestTransportSelection:
    def test_missing_nats_py_raises_clear_error(self, monkeypatch):
        import builtins

        from go_nats_to_clickhouse_spark.sources import nats as natsmod

        real_import = builtins.__import__

        def fake_import(name, *a, **k):
            if name == "nats":
                raise ImportError("No module named 'nats'")
            return real_import(name, *a, **k)

        monkeypatch.setattr(builtins, "__import__", fake_import)
        with pytest.raises(NotImplementedError, match="nats-py"):
            natsmod._connect({"servers": "nats://localhost:4222"})

    def test_rewritten_replay_file_keeps_only_newest_generation(self, monkeypatch, tmp_path):
        import os

        from go_nats_to_clickhouse_spark.sources import nats as natsmod

        monkeypatch.setattr(natsmod, "_CLIENT_CACHE", {})
        path = str(tmp_path / "replay.jsonl")
        for gen, n in enumerate((3, 5, 7)):
            natsmod.write_replay_file(path, _msgs(n))
            # distinct mtimes, whatever the filesystem's timestamp resolution
            os.utime(path, (1_700_000_000 + gen, 1_700_000_000 + gen))
            client = natsmod._connect({"replayFile": path})
        assert [k for k in natsmod._CLIENT_CACHE if k[0] == path] == [
            (path, os.path.getmtime(path))
        ]
        assert client.max_sequence() == 7
        assert natsmod._connect({"replayFile": path}) is client

    def test_grown_replay_file_parses_only_its_new_lines(self, monkeypatch, tmp_path):
        """A generation that extends the cached one's bytes parses only the
        lines after them; one whose prefix changed, or that shrank, is parsed
        whole. Either way the client holds exactly the file's messages, in
        sequence order."""
        import json
        import os

        from go_nats_to_clickhouse_spark.sources import nats as natsmod

        monkeypatch.setattr(natsmod, "_CLIENT_CACHE", {})
        monkeypatch.setattr(natsmod, "_REPLAY_PARSED", {})
        loads = []
        real_loads = json.loads
        monkeypatch.setattr(json, "loads", lambda s: loads.append(s) or real_loads(s))
        path = str(tmp_path / "replay.jsonl")
        base = _msgs(9)
        moved = [JsMessage(m.subject, m.data, m.sequence + 100, m.timestamp_us) for m in base]
        generations = [
            (base[:4], 4),  # first parse
            (base[:6], 2),  # grown: the two new lines only
            (base[:6] + base[8:] + base[6:8], 3),  # grown out of sequence order
            (moved[:1] + base[1:9], 9),  # first line changed
            (base[:3], 3),  # shrank
        ]
        for gen, (msgs, parsed) in enumerate(generations):
            natsmod.write_replay_file(path, msgs)
            os.utime(path, (1_700_000_000 + gen, 1_700_000_000 + gen))
            loads.clear()
            client = natsmod._connect({"replayFile": path})
            assert len(loads) == parsed, gen
            want = sorted(m.sequence for m in msgs)
            assert [m.sequence for m in client.fetch(0, 10**6, [">"])] == want, gen

    def test_no_transport_option_raises_value_error(self):
        from go_nats_to_clickhouse_spark.sources import nats as natsmod

        with pytest.raises(ValueError, match="replayFile"):
            natsmod._connect({})

    def test_servers_option_selects_natspy_client(self, monkeypatch):
        import sys
        import types

        from go_nats_to_clickhouse_spark.sources import nats as natsmod

        monkeypatch.setitem(sys.modules, "nats", types.ModuleType("nats"))
        built = {}

        class FakeClient:
            def __init__(self, servers, stream, durable):
                built.update(servers=servers, stream=stream, durable=durable)

        monkeypatch.setattr(natsmod, "NatsPyJetStreamClient", FakeClient)
        monkeypatch.setattr(natsmod, "_CLIENT_CACHE", {})
        client = natsmod._connect(
            {"servers": "nats://a:4222, nats://b:4222", "stream": "s1", "durable": "d1"}
        )
        assert isinstance(client, FakeClient)
        assert built == {
            "servers": ["nats://a:4222", "nats://b:4222"],
            "stream": "s1",
            "durable": "d1",
        }
        # cached: same options -> same client instance
        assert natsmod._connect({"servers": "nats://a:4222, nats://b:4222",
                                 "stream": "s1", "durable": "d1"}) is client


class TestEndToEndStream:
    def test_stream_into_memory_sink(self, spark, tmp_path):
        import json

        from go_nats_to_clickhouse_spark.sources.nats import (
            NatsDataSource,
            write_replay_file,
        )

        replay = tmp_path / "replay.jsonl"
        write_replay_file(str(replay), _msgs(30))
        spark.dataSource.register(NatsDataSource)
        df = (
            spark.readStream.format("nats-jetstream")
            .option("replayFile", str(replay))
            .option("subjects", "globex.supprt.>")
            .option("maxRecordsPerTrigger", 10)
            .load()
        )
        q = (
            df.writeStream.format("memory")
            .queryName("nats_mem_sink")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = spark.sql("SELECT count(*) AS n FROM nats_mem_sink").first()["n"]
            assert got == 30
        finally:
            q.stop()
