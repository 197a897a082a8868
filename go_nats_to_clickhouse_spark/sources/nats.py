"""NATS JetStream streaming source — Spark 4 Python Data Source API.

Re-expresses the reference's consumption model (main.go:86-94):

* durable consumer  -> Structured Streaming offsets are the JetStream
  *stream sequence* (monotone, replayable); the checkpoint is the durable
  cursor, so restart resumes exactly where the last committed batch ended
  — same contract as ``nats.Durable(...)``.
* queue-group load balancing -> partition planning: the sequence range of
  each micro-batch is split into ``partitions`` contiguous slices, one per
  task; on a cluster each slice is fetched by a different executor, which
  is the Spark-native analog of N queue-group members.
* count-triggered batches (main.go:26, batchSize=1000) ->
  ``maxRecordsPerTrigger`` admission control in ``latestOffset``.
* at-least-once ack-after-commit (main.go:199-208) -> ``commit(offset)``
  is invoked by Spark only after the batch's sink write succeeded; that is
  where consumed sequences are ack'ed upstream.

Transport: the wire layer is injectable. ``JetStreamClient`` is the minimal
protocol the source needs; tests and local runs use
:class:`ReplayJetStreamClient` (deterministic, in-memory), and
:class:`NatsPyJetStreamClient` wires the public ``nats-py`` client
(import-gated — this environment does not ship it; the transport's full
orchestration is exercised against a protocol-faithful in-process fake
of the nats-py API in tests/test_nats_live_transport.py, and only the
socket layer itself still needs a live broker).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

from go_nats_to_clickhouse_spark.schemas import MESSAGE_SCHEMA


@dataclass
class JsMessage:
    """One JetStream message: what main.go:160-191 consumes per record."""

    subject: str
    data: str  # JSON payload (opaque)
    sequence: int  # stream sequence (the replayable offset)
    timestamp_us: int  # JetStream receive time, epoch micros
    metadata_json: str = "{}"


class JetStreamClient:
    """Minimal JetStream transport protocol used by the source."""

    def max_sequence(self) -> int:  # newest stream sequence (0 if empty)
        raise NotImplementedError

    def fetch(self, start_seq: int, end_seq: int, subjects: Sequence[str]) -> list[JsMessage]:
        """Messages with start_seq < sequence <= end_seq matching subjects."""
        raise NotImplementedError

    def ack_through(self, seq: int) -> None:  # cumulative ack (commit hook)
        raise NotImplementedError


class ReplayJetStreamClient(JetStreamClient):
    """Deterministic in-memory JetStream for tests/dev: a pre-loaded or
    appendable sequence of messages, replayable from any offset (JetStream
    streams are replayable by sequence, which is what makes the reference's
    durable-consumer semantics recoverable)."""

    def __init__(self, messages: Sequence[JsMessage] = ()):  # sorted by seq
        self._messages = sorted(messages, key=lambda m: m.sequence)
        self.acked_through = 0

    def publish(self, msg: JsMessage) -> None:
        self._messages.append(msg)

    def max_sequence(self) -> int:
        return self._messages[-1].sequence if self._messages else 0

    def fetch(self, start_seq: int, end_seq: int, subjects: Sequence[str]) -> list[JsMessage]:
        return [
            m
            for m in self._messages
            if start_seq < m.sequence <= end_seq
            and any(_subject_matches(m.subject, pat) for pat in subjects)
        ]

    def ack_through(self, seq: int) -> None:
        self.acked_through = max(self.acked_through, seq)


def _subject_matches(subject: str, pattern: str) -> bool:
    """NATS subject matching: '.'-separated tokens, '*' = one token,
    '>' = one-or-more trailing tokens."""
    s_toks = subject.split(".")
    p_toks = pattern.split(".")
    for i, p in enumerate(p_toks):
        if p == ">":
            return len(s_toks) >= i + 1
        if i >= len(s_toks):
            return False
        if p != "*" and p != s_toks[i]:
            return False
    return len(s_toks) == len(p_toks)


@dataclass
class SeqRangePartition(InputPartition):
    start_seq: int  # exclusive
    end_seq: int  # inclusive


class NatsStreamReader(DataSourceStreamReader):
    """Offset = {"seq": <last stream sequence admitted>}."""

    def __init__(self, schema: StructType, options: dict):
        # Spark passes Python data source options with case-insensitive
        # (lowercased) keys — normalize so camelCase callers work both via
        # Spark and in direct construction (tests).
        self._options = {str(k).lower(): v for k, v in dict(options).items()}
        self._subjects = [
            s.strip() for s in self._options.get("subjects", ">").split(",") if s.strip()
        ]
        self._max_per_trigger = int(self._options.get("maxrecordspertrigger", 1000))
        self._num_partitions = int(self._options.get("partitions", 4))
        # Cursor state lives in module-level caches keyed by the source
        # options, NOT on the instance: Spark may construct several reader
        # instances for one query (schema probe, planner, recovery), and the
        # restart-duplicate bug (ADVICE r1, high) comes exactly from a
        # planner instance that has seen none of the query's history.
        self._key = tuple(sorted((k, str(v)) for k, v in self._options.items()))

    @property
    def _client(self) -> JetStreamClient:
        # Resolved through a per-process cache, never stored on the reader:
        # the reader object is pickled to every task, and a transport
        # holding the whole replay stream must not travel with it. Each
        # worker process connects (or parses the replay file) once.
        return _connect(self._options)

    # -- cursor bookkeeping ------------------------------------------------
    # planned: the furthest offset ever planned/seen — the clamp base for
    #   count-trigger admission. Ratcheted by everything.
    # committed: a provably durable boundary — ONLY ratcheted from offsets
    #   Spark derives from its logs where everything below is safe to skip:
    #   the *start* of a batch it schedules (batch N starts where committed
    #   batch N-1 ended) and the *end* passed to commit(). Used to clip
    #   re-read ranges after a planning regression, never from planned
    #   values (a planned-but-uncommitted end must be re-readable).

    def _planned(self) -> int | None:
        return _PLANNED_CURSOR.get(self._key)

    def _ratchet_planned(self, seq: int) -> None:
        cur = _PLANNED_CURSOR.get(self._key)
        if cur is None or seq > cur:
            _PLANNED_CURSOR[self._key] = seq

    def _ratchet_committed(self, seq: int) -> None:
        cur = _COMMITTED_CURSOR.get(self._key)
        if cur is None or seq > cur:
            _COMMITTED_CURSOR[self._key] = seq
        self._ratchet_planned(seq)

    def initialOffset(self) -> dict:
        # Called only when no checkpoint exists; startingSequence is then a
        # committed-equivalent boundary (nothing below it is wanted).
        seq0 = int(self._options.get("startingsequence", 0))
        self._ratchet_committed(seq0)
        return {"seq": seq0}

    def latestOffset(self) -> dict:
        # Count-trigger admission control (ref batchSize=1000): admit at most
        # maxRecordsPerTrigger sequences past the furthest planned offset.
        # Clamping HERE (not in partitions()) keeps the checkpointed offset
        # equal to what was actually read — nothing is silently skipped.
        #
        # After a restart in a NEW process both caches are empty and this
        # method cannot see the checkpointed cursor (Python DS API limit), so
        # the clamp base may sit below it and the returned end may regress.
        # That is safe here because (a) a regressed range is planned as an
        # empty batch, and (b) the first partitions() call reveals the true
        # committed boundary, below which later reads are clipped — so the
        # committed backlog is never re-appended (see partitions()).
        newest = self._client.max_sequence()
        base = self._planned()
        if base is None:
            base = int(self._options.get("startingsequence", 0))
        planned = min(max(newest, base), base + self._max_per_trigger)
        self._ratchet_planned(planned)
        return {"seq": planned}

    def partitions(self, start: dict, end: dict) -> list[SeqRangePartition]:
        lo, hi = int(start["seq"]), int(end["seq"])
        # The start of any batch Spark schedules is the end of the previous
        # COMMITTED batch (recovery replays use their logged start, whose
        # predecessor is committed too) — a durable boundary.
        committed_before = _COMMITTED_CURSOR.get(self._key)
        self._ratchet_committed(lo)
        self._ratchet_planned(max(lo, hi))
        if hi <= lo:
            return [SeqRangePartition(lo, lo)]
        # Clip below the committed boundary known BEFORE this call: after a
        # post-restart planning regression the offset log can hand us a range
        # that dips under sequences committed before the restart; re-reading
        # them would double-append. (The boundary learned from *this* call's
        # own start must not clip this batch — a recovery replay reads its
        # full logged range.)
        if committed_before is not None and committed_before > lo:
            lo = min(committed_before, hi)
            if hi <= lo:
                return [SeqRangePartition(lo, lo)]
        # At least num_partitions slices; for a catch-up batch (range >>
        # maxRecordsPerTrigger) cap each slice at the trigger size so
        # per-task memory stays bounded and the backlog drains in parallel.
        n = max(
            max(1, self._num_partitions),
            (hi - lo + self._max_per_trigger - 1) // self._max_per_trigger,
        )
        step = max(1, (hi - lo + n - 1) // n)
        parts = []
        s = lo
        while s < hi:
            e = min(s + step, hi)
            parts.append(SeqRangePartition(s, e))
            s = e
        return parts

    def read(self, partition: SeqRangePartition) -> Iterator[tuple]:
        import datetime as _dt

        if partition.end_seq <= partition.start_seq:
            return iter(())
        msgs = self._client.fetch(partition.start_seq, partition.end_seq, self._subjects)
        return iter(
            (
                _dt.datetime.fromtimestamp(m.timestamp_us / 1e6, tz=_dt.timezone.utc),
                m.subject,
                m.sequence,
                m.metadata_json,
                m.data,
            )
            for m in msgs
        )

    def commit(self, end: dict) -> None:
        # Ack-after-commit (main.go:199-208): Spark calls this only after the
        # micro-batch has been durably written + checkpointed.
        self._ratchet_committed(int(end["seq"]))
        self._client.ack_through(int(end["seq"]))


class NatsDataSource(DataSource):
    """spark.readStream.format("nats-jetstream") after
    ``spark.dataSource.register(NatsDataSource)``."""

    @classmethod
    def name(cls) -> str:
        return "nats-jetstream"

    def schema(self) -> StructType:
        return MESSAGE_SCHEMA

    def streamReader(self, schema: StructType) -> NatsStreamReader:
        return NatsStreamReader(schema, self.options)


class NatsPyJetStreamClient(JetStreamClient):
    """Real transport over the public ``nats-py`` client (async API wrapped
    behind a dedicated event-loop thread so the synchronous
    :class:`JetStreamClient` protocol holds).

    Mirrors the reference consumer (main.go:86-94) JetStream-natively:

    * ``max_sequence`` — ``stream_info().state.last_seq`` (the newest stream
      sequence; what the planner admits up to).
    * ``fetch`` — an ephemeral pull consumer started *by sequence*
      (``DeliverPolicy.BY_START_SEQUENCE``); sequence-addressed reads are
      what make the checkpointed cursor replayable after failure, exactly
      like the reference's durable consumer redelivery.
    * ``ack_through`` — persists the committed cursor in a JetStream
      key-value bucket named after the durable; the KV write happens only
      after Spark committed the batch (ack-after-commit, main.go:199-208).

    Coverage: the full orchestration — event-loop thread, connect/KV
    bucket creation, sequence-windowed fetch loop with mid-batch early
    stop, ack cursor write, drain-on-close — runs in
    tests/test_nats_live_transport.py against a protocol-faithful
    in-process fake of the public nats-py API (installed into
    ``sys.modules``); only the socket layer itself still needs a real
    broker, which the sandbox does not provide. Transport *selection*
    is unit-tested via :func:`_connect`.
    """

    FETCH_BATCH = 500

    def __init__(self, servers: Sequence[str], stream: str, durable: str):
        import asyncio
        import threading

        self._servers = list(servers)
        self._stream = stream
        self._durable = durable
        self._loop = asyncio.new_event_loop()
        self._thread = threading.Thread(
            target=self._loop.run_forever, name="nats-jetstream-io", daemon=True
        )
        self._thread.start()
        self._nc = None
        self._js = None
        self._kv = None
        self._closed = False
        try:
            self._run(self._connect_async())
        except BaseException:
            self._shutdown_loop()
            raise

    def _run(self, coro):
        import asyncio

        return asyncio.run_coroutine_threadsafe(coro, self._loop).result(timeout=60)

    async def _connect_async(self) -> None:
        import nats
        from nats.js.errors import NotFoundError

        self._nc = await nats.connect(servers=self._servers)
        self._js = self._nc.jetstream()
        bucket = f"{self._durable}-cursor"
        try:
            self._kv = await self._js.key_value(bucket)
        except NotFoundError:
            self._kv = await self._js.create_key_value(bucket=bucket)

    def max_sequence(self) -> int:
        async def go():
            info = await self._js.stream_info(self._stream)
            return int(info.state.last_seq)

        return self._run(go())

    def fetch(
        self, start_seq: int, end_seq: int, subjects: Sequence[str]
    ) -> list[JsMessage]:
        # Empty subject list = nothing requested. Without this guard the
        # live path would pass filter_subjects=None (JetStream's
        # match-ALL), while ReplayJetStreamClient matches nothing — the
        # exact transport-divergence class the filter_subjects comment
        # below warns about (reachable: option('subjects', '') strips to
        # [] in NatsStreamReader). Replay semantics win: no patterns, no
        # messages. Pinned in tests/test_nats_live_transport.py.
        if not subjects:
            return []

        async def go():
            import asyncio

            from nats.js.api import ConsumerConfig, DeliverPolicy

            if end_seq <= start_seq:
                return []
            sub = await self._js.pull_subscribe(
                subject="",
                stream=self._stream,
                config=ConsumerConfig(
                    deliver_policy=DeliverPolicy.BY_START_SEQUENCE,
                    opt_start_seq=start_seq + 1,
                    # '>' matches everything: if present, the ONLY correct
                    # server-side filter is none at all (keeping the other
                    # patterns would silently drop messages '>' matches —
                    # the replay transport delivers them, so the two
                    # transports would disagree).
                    filter_subjects=(
                        None
                        if ">" in subjects
                        else list(subjects) or None
                    ),
                ),
            )
            out: list[JsMessage] = []
            try:
                done = False
                while not done:
                    try:
                        msgs = await sub.fetch(self.FETCH_BATCH, timeout=5)
                    except asyncio.TimeoutError:
                        break  # drained what the broker has
                    if not msgs:
                        break
                    for m in msgs:
                        seq = int(m.metadata.sequence.stream)
                        if seq > end_seq:
                            done = True
                            break
                        out.append(
                            JsMessage(
                                subject=m.subject,
                                data=m.data.decode("utf-8", errors="replace"),
                                sequence=seq,
                                timestamp_us=int(
                                    m.metadata.timestamp.timestamp() * 1_000_000
                                ),
                                metadata_json=json.dumps(
                                    {"stream": self._stream, "domain": m.metadata.domain}
                                ),
                            )
                        )
            finally:
                await sub.unsubscribe()
            return out

        return self._run(go())

    def ack_through(self, seq: int) -> None:
        async def go():
            await self._kv.put("acked_through", str(seq).encode())

        self._run(go())

    def close(self) -> None:
        # Idempotent: _shutdown_loop stops and closes the event loop, so a
        # second close() (or any call routed through _run afterwards) would
        # raise RuntimeError from run_coroutine_threadsafe. Also evict this
        # client from _CLIENT_CACHE so a later _connect with the same
        # options rebuilds a live transport instead of handing out the
        # closed one.
        if self._closed:
            return
        self._closed = True
        for key, cached in list(_CLIENT_CACHE.items()):
            if cached is self:
                del _CLIENT_CACHE[key]

        async def go():
            if self._nc is not None:
                await self._nc.drain()

        self._run(go())
        self._shutdown_loop()

    def _shutdown_loop(self) -> None:
        """Stop the IO loop, JOIN its thread, and close the loop — close()
        must be synchronous (callers may tear the process down next), and
        a failed connect must not leak a spinning run_forever thread."""
        self._loop.call_soon_threadsafe(self._loop.stop)
        self._thread.join(timeout=10)
        if not self._thread.is_alive():
            self._loop.close()


#: per-process transport cache (workers are reused across batches)
_CLIENT_CACHE: dict = {}

#: per-process cursor caches keyed by normalized source options — shared by
#: every reader instance of the same query config (see NatsStreamReader
#: cursor bookkeeping). Caveat: two concurrently running queries with
#: IDENTICAL options in one process would share a cursor; give them
#: distinct startingSequence/subjects/durable options.
_PLANNED_CURSOR: dict = {}
_COMMITTED_CURSOR: dict = {}


def _reset_cursor_caches() -> None:
    """Test hook: simulate a fresh driver process."""
    _PLANNED_CURSOR.clear()
    _COMMITTED_CURSOR.clear()


#: replay file path -> (length, CRC-32) of the bytes its cached generation
#: was parsed from; absent when that generation cannot be extended
_REPLAY_PARSED: dict[str, tuple[int, int]] = {}


def _parse_replay(data: bytes) -> list[JsMessage]:
    return [JsMessage(**json.loads(line)) for line in data.splitlines() if line.strip()]


def _replay_client(path: str) -> ReplayJetStreamClient:
    """The replay file's messages, parsed once per generation (mtime) of the
    file. A publisher that appends rewrites the file with the earlier lines
    as its prefix, so a new generation whose first bytes are those the cached
    one was parsed from (same length and CRC-32) parses only the lines after
    them; a file that shrank or whose prefix changed is parsed whole."""
    import os as _os
    import zlib

    key = (path, _os.path.getmtime(path))
    client = _CLIENT_CACHE.get(key)
    if client is not None:
        return client
    with open(path, "rb") as fh:
        data = fh.read()
    # A rewritten file is a new generation: drop the older ones, or a
    # publisher that rewrites the file k times leaves every worker holding
    # all k parsed copies.
    older = [_CLIENT_CACHE.pop(k) for k in list(_CLIENT_CACHE) if len(k) == 2 and k[0] == path]
    n, crc = _REPLAY_PARSED.pop(path, (0, 0))
    view = memoryview(data)
    if older and 0 < n <= len(data) and zlib.crc32(view[:n]) == crc:
        client = ReplayJetStreamClient([*older[-1]._messages, *_parse_replay(data[n:])])
        crc = zlib.crc32(view[n:], crc)
    else:
        client = ReplayJetStreamClient(_parse_replay(data))
        crc = zlib.crc32(view)
    # Only a generation that ends at a line break can be extended: a partial
    # last line, parsed here, would be parsed again with its continuation.
    if data.endswith(b"\n"):
        _REPLAY_PARSED[path] = (len(data), crc)
    _CLIENT_CACHE[key] = client
    return client


def _connect(options: dict) -> JetStreamClient:
    """Build (or fetch the cached) transport.

    * ``replayFile`` -> deterministic local replay (tests/dev default).
    * ``servers`` (+ ``stream``) -> live JetStream via the public nats-py
      client (import-gated: a clear error, not a crash, when absent).
    """
    replay_file = options.get("replayfile") or options.get("replayFile")
    if replay_file:
        return _replay_client(replay_file)
    servers = options.get("servers") or options.get("url")
    if not servers:
        raise ValueError(
            "nats-jetstream source needs either option('replayFile', ...) or "
            "option('servers', 'nats://host:4222[,...]')"
        )
    try:
        import nats  # type: ignore # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "live NATS transport requires the public 'nats-py' client "
            "(pip install nats-py), which is not installed in this "
            "environment; use option('replayFile', ...) for the "
            "deterministic replay transport"
        ) from exc
    stream = options.get("stream", "globex_support")
    durable = options.get("durable", "spark-ingest")
    key = ("natspy", servers, stream, durable)
    client = _CLIENT_CACHE.get(key)
    if client is None:
        client = NatsPyJetStreamClient(
            [s.strip() for s in str(servers).split(",") if s.strip()], stream, durable
        )
        _CLIENT_CACHE[key] = client
    return client


def write_replay_file(path: str, messages: Sequence[JsMessage]) -> None:
    """Persist messages as a replay file (one JSON object per line)."""
    with open(path, "w", encoding="utf-8") as fh:
        for m in messages:
            fh.write(
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
