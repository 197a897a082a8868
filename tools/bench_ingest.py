"""Ingest-throughput benchmark: messages/second through the full cascade
(NATS replay source -> raw -> union -> analytics, all persisted).

The reference's implied sustained floor is 200 msg/s (1000-message batches
on a 5 s timer, main.go:26-27); this measures what the Spark pipeline
actually sustains end-to-end on local[N]. Prints one JSON line.

Usage: python tools/bench_ingest.py [n_messages] [batch_size]
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    batch = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

    from go_nats_to_clickhouse_spark.config import EngineConfig
    from go_nats_to_clickhouse_spark.session import get_spark
    from go_nats_to_clickhouse_spark.sources.nats import (
        JsMessage,
        NatsDataSource,
        write_replay_file,
    )
    from go_nats_to_clickhouse_spark.streaming.pipeline import (
        ANALYTICS_TABLE,
        run_backfill,
    )

    base_us = int(
        dt.datetime(2024, 3, 1, tzinfo=dt.timezone.utc).timestamp() * 1e6
    )
    msgs = [
        JsMessage(
            subject=(
                f"globex.{'supprt' if i % 2 == 0 else 'crmabc'}"
                f".u{i % 500}.chat-{i % 97}.click.dst0.t{i % 3}.ctx{i % 7}"
            ),
            data=(
                f'{{"text":"msg-{i}","meta":"m{i % 5}","id":"{i}",'
                f'"timestamp":{1709251200 + i}}}'
            ),
            sequence=i + 1,
            timestamp_us=base_us + i * 1000,
        )
        for i in range(n)
    ]
    tmp = tempfile.mkdtemp(prefix="ingest_bench_")
    spark = None
    try:
        replay = os.path.join(tmp, "replay.jsonl")
        write_replay_file(replay, msgs)

        cfg = EngineConfig(
            master=f"local[{cpus}]",
            shuffle_partitions=int(cpus),
            warehouse_dir=os.path.join(tmp, "wh"),
            checkpoint_dir=os.path.join(tmp, "ckpt"),
        )
        spark = get_spark(cfg, app_name="gntcs-ingest-bench")
        spark.sparkContext.setLogLevel("ERROR")
        spark.dataSource.register(NatsDataSource)
        src = (
            spark.readStream.format("nats-jetstream")
            .option("replayFile", replay)
            .option("subjects", "globex.>")
            .option("maxRecordsPerTrigger", batch)
            .option("partitions", cpus)
            .load()
        )
        t0 = time.perf_counter()
        run_backfill(spark, cfg, src, query_name="ingest-bench")
        elapsed = time.perf_counter() - t0
        analytics = os.path.join(cfg.warehouse_dir, ANALYTICS_TABLE)
        persisted = spark.read.parquet(analytics).count()
        print(
            json.dumps(
                {
                    "metric": "ingest_messages_per_second",
                    "value": round(persisted / elapsed, 1),
                    "unit": "msg/s",
                    "messages": persisted,
                    "wall_seconds": round(elapsed, 2),
                    "batch_size": batch,
                    "reference_floor_msg_per_s": 200,
                }
            )
        )
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
