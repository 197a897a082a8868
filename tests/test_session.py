"""Session settings that change what the engine pays per plan."""

from __future__ import annotations

from go_nats_to_clickhouse_spark.session import codegen_stats


def test_codegen_cache_keeps_a_plan_across_a_hundred_others(spark):
    """Run a plan, then more than 100 other distinct generated plans, then the
    first plan again: its classes must still be cached. Spark's default cache
    (100 entries) evicts them, and the re-run compiles again. The filler plans
    differ in an inlined long literal, so each one is a distinct class; they
    are compiled on the driver by ``execute()``, as every action does, without
    the cost of a job each."""

    def plan(i: int):
        return spark.range(8).selectExpr(f"id * {i}L + {i}L AS x")

    expected = [r.x for r in plan(1).collect()]
    for i in range(2, 160):
        plan(i)._jdf.queryExecution().executedPlan().execute()
    before, _ = codegen_stats(spark)
    assert [r.x for r in plan(1).collect()] == expected
    after, _ = codegen_stats(spark)
    assert after == before, f"re-run compiled {after - before} classes"


def test_python_workers_run_without_zip_finders(spark):
    """Python tasks run through the engine's worker module, and a reused
    worker starts each task with no ``zipimporter`` in
    ``sys.path_importer_cache``: Spark invalidates that cache at the start of
    every task, and each zipimporter re-reads all of ``pyspark.zip`` when it
    is invalidated. Spark's own worker module keeps one per pyspark
    subpackage (16 after a ``mapInPandas`` task). Only workers that already
    ran the probe count: a worker's first task may import new pyspark
    subpackages while it unpickles the probe, after the finders were
    dropped. Spark hands out idle workers first in, first out, so the job is
    repeated until it lands on a worker it used before."""
    import pandas as pd

    from go_nats_to_clickhouse_spark.session import WORKER_MODULE

    def probe(batches):
        import os
        import sys
        import zipimport

        loaded = WORKER_MODULE in sys.modules
        zip_finders = sum(
            isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
        )
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()], "loaded": [loaded], "zip_finders": [zip_finders]})

    df = spark.range(4).repartition(4)
    schema = "pid int, loaded boolean, zip_finders int"
    seen: set[int] = set()
    for _ in range(4):
        rows = df.mapInPandas(probe, schema).collect()
        assert rows and all(r.loaded for r in rows), rows
        reused = [r for r in rows if r.pid in seen]
        if reused:
            break
        seen.update(r.pid for r in rows)
    assert reused, "no Python worker was reused across four jobs"
    assert [r.zip_finders for r in reused] == [0] * len(reused), reused
