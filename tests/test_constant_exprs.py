"""Constant Column expressions built once per JVM
(functions/constant.once_per_jvm): a cached builder costs no py4j round
trip after its first call, concurrent first callers share one result,
and the cached expressions keep serving a cascade after the session is
restarted."""

from __future__ import annotations

import os
import subprocess
import sys
import threading

import pytest
from py4j.clientserver import ClientServerConnection
from pyspark.sql import functions as F

from go_nats_to_clickhouse_spark.functions.constant import once_per_jvm
from go_nats_to_clickhouse_spark.operators import analytics, dedup
from go_nats_to_clickhouse_spark.queries import clickhouse_r5
from go_nats_to_clickhouse_spark.streaming import pipeline

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def round_trips(monkeypatch):
    """Counts this thread's py4j round trips (py4j's finalizer thread
    sends its releases on a connection of its own)."""
    me = threading.get_ident()
    count = [0]
    send = ClientServerConnection.send_command

    def counted(connection, command):
        if threading.get_ident() == me:
            count[0] += 1
        return send(connection, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counted)
    return count


@pytest.mark.parametrize(
    "builder, args",
    [
        (dedup._minhash_cols, (16,)),
        (dedup._band_cols, (4, 4)),
        (analytics._analytics_cols, ()),
        (analytics._raw_cols, ()),
        (clickhouse_r5._gopher_cols, ()),
        (pipeline._census_cols, ()),
        (pipeline._vec_cols, ()),
    ],
)
def test_cached_builder_issues_no_py4j_call_the_second_time(
    spark, round_trips, builder, args
):
    first = builder(*args)
    before = round_trips[0]
    assert builder(*args) is first
    assert round_trips[0] == before


def test_first_call_builds_through_py4j(spark, round_trips):
    @once_per_jvm
    def plus_one(name):
        return F.col(name) + F.lit(1)

    plus_one("x")
    assert round_trips[0] > 0


def test_concurrent_callers_share_one_result_per_key(spark):
    """More threads than cores race on first calls of several keys, with
    a short switch interval: every caller of a key gets the one object
    stored for it, whoever built it."""
    n_threads, keys = 4 * (os.cpu_count() or 1), range(8)
    start = threading.Barrier(n_threads)

    @once_per_jvm
    def build(k):
        return F.lit(k)

    got = [None] * n_threads

    def call(i):
        start.wait(timeout=30)
        got[i] = [build(k) for k in keys for _ in range(3)]

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=call, args=(i,)) for i in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    stored = [build(k) for k in keys for _ in range(3)]
    assert all(g is not None and all(a is b for a, b in zip(g, stored)) for g in got)


_RESTART = """
import datetime as dt, os, sys
from go_nats_to_clickhouse_spark.config import EngineConfig
from go_nats_to_clickhouse_spark.schemas import MESSAGE_SCHEMA
from go_nats_to_clickhouse_spark.session import get_spark
from go_nats_to_clickhouse_spark.streaming import pipeline

root = sys.argv[1]
ts = dt.datetime(2024, 3, 1, 12, 0, 0)
rows = [
    (ts, f"globex.supprt.u{i}.c{i}.t", i, "{}", f'{{"text":"x","id":"{i}"}}')
    for i in range(6)
] + [(None, "a.b.c.d", 99, "{}", "{}")]
cfg = EngineConfig(master="local[2]", shuffle_partitions=2)


def cascade(name):
    spark = get_spark(cfg, app_name=name)
    tables = pipeline.PipelineTables(os.path.join(root, name))
    counts = pipeline.apply_cascade(
        spark.createDataFrame(rows, MESSAGE_SCHEMA), tables, idempotent=True
    )
    got = {
        t: sorted(tuple(r) for r in spark.read.parquet(tables.path(t)).collect())
        for t in (pipeline.ALL_STREAMS_TABLE, pipeline.ANALYTICS_TABLE,
                  pipeline.DEAD_LETTER_TABLE)
    }
    return spark, counts, got


spark, counts, before = cascade("first")
cached = pipeline._is_valid()
spark.stop()
spark, counts_after, after = cascade("second")
assert pipeline._is_valid() is cached  # served from the cache, not rebuilt
assert counts == counts_after == {"raw": 6, "dead_letter": 1}, (counts, counts_after)
assert before == after, (before, after)
spark.stop()
print("same rows")
"""


def test_cascade_after_session_restart_returns_the_same_rows(tmp_path):
    """A stopped and restarted session keeps its JVM and gateway, so the
    cached Columns built under the first session serve the second; run in
    a process of its own, which may stop its session."""
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART, str(tmp_path)],
        cwd=ROOT,
        env={**os.environ, "PYTHONPATH": ROOT},
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert "same rows" in proc.stdout
