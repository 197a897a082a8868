"""Every registered query's physical plan must stay free of scale red
flags (tools/planaudit.py): no shuffled cartesian products, no
row-at-a-time Python UDFs — the static part of the 100 TB posture.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from planaudit import audit_hints, audit_plan, formatted_plan  # noqa: E402

from go_nats_to_clickhouse_spark.queries import QUERIES  # noqa: E402


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_plan_has_no_scale_flags(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    flags, _ = audit_plan(formatted_plan(df))
    flags += audit_hints(df)  # forbidden-hint rule (VERDICT r9 #2)
    assert not flags, f"{name}: {flags}"


def test_hint_rule_fires_on_scaling_frame(spark, sf_dir):
    """The forbidden-hint rule actually detects the banned pattern: a
    fresh F.broadcast on a filtered sf-scaling table must flag."""
    from pyspark.sql import functions as F

    from go_nats_to_clickhouse_spark.schemas import load_table

    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") > 40)
    bad = l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
    assert audit_hints(bad), "hint on filtered part must flag"

    from go_nats_to_clickhouse_spark.operators.hints import bounded

    blessed = l.join(
        F.broadcast(bounded(p, "test contract")), l.l_partkey == p.p_partkey
    )
    assert not audit_hints(blessed)
    n = load_table(spark, sf_dir, "nation")
    fixed = l.join(F.broadcast(n), l.l_suppkey == n.n_nationkey)
    assert not audit_hints(fixed)
