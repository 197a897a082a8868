"""Solo per-query bench for regression adjudication (PERF_NOTES protocol):
fresh session, bench.py's own warmup + streaming-fixture prebuild, then
N timed noop-sink runs of each named query. Prints one JSON line.

Usage: python tools/solo_bench.py query [query ...] [--runs N] [--sf DIR]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    runs = 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    for i, a in enumerate(sys.argv):
        if a == "--runs":
            runs = int(sys.argv[i + 1])
            args.remove(sys.argv[i + 1])
        if a == "--sf":
            sf_dir = sys.argv[i + 1]
            args.remove(sf_dir)

    from go_nats_to_clickhouse_spark.config import EngineConfig
    from go_nats_to_clickhouse_spark.queries import QUERIES
    from go_nats_to_clickhouse_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    cfg = EngineConfig(master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark = get_spark(cfg, app_name="gntcs-solo-bench")
    spark.sparkContext.setLogLevel("ERROR")

    QUERIES["q1_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    from pyspark.sql import functions as F

    warm = spark.range(64).repartition(int(cpus))
    warm.groupBy((F.col("id") % int(cpus)).alias("g")).applyInPandas(
        lambda pdf: pdf[["id"]], "id long"
    ).write.format("noop").mode("overwrite").save()

    if any(n.startswith("streaming") for n in args):
        from go_nats_to_clickhouse_spark.queries.streaming import (
            _events_stream,
            _late_replay_fixture,
        )

        for copies in (1, 2):
            _events_stream(spark, sf_dir, copies=copies)
        _late_replay_fixture(spark, sf_dir)

    out: dict[str, list[float]] = {}
    for name in args:
        fn = QUERIES[name]
        ts = []
        for _ in range(runs):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts.append(round(time.perf_counter() - t0, 3))
        out[name] = ts
    print(json.dumps({"sf_dir": sf_dir, "runs": out}))


if __name__ == "__main__":
    main()
