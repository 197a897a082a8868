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
