"""The pre-snapshot gate is only worth anything if the compare machinery
actually catches wrong answers. Feed it deliberately-broken oracles and
assert each failure class is detected (and that a correct pair passes)."""

from __future__ import annotations

import sys

sys.path.insert(0, "/root/repo")


def _run_gate(spark, sf_dir, monkeypatch, oracle_override):
    import __spark_entry__ as entrymod
    from tools.selfcheck import check_queries, make_oracle_connection

    real = entrymod.oracle_sql()
    real.update(oracle_override)
    monkeypatch.setattr(entrymod, "oracle_sql", lambda: real)
    con = make_oracle_connection(sf_dir)
    return check_queries(spark, con, sf_dir, list(oracle_override))


def test_gate_passes_on_correct_oracle(spark, sf_dir, monkeypatch):
    import __spark_entry__ as entrymod

    good = {"q4_late_shipments": entrymod.oracle_sql()["q4_late_shipments"]}
    assert _run_gate(spark, sf_dir, monkeypatch, good) == []


def test_gate_catches_row_count_mismatch(spark, sf_dir, monkeypatch):
    bad = {
        "q4_late_shipments": (
            "SELECT o_orderpriority, CAST(0 AS BIGINT) AS late_orders "
            "FROM orders GROUP BY o_orderpriority LIMIT 2"
        )
    }
    assert _run_gate(spark, sf_dir, monkeypatch, bad) == ["q4_late_shipments"]


def test_gate_catches_value_mismatch(spark, sf_dir, monkeypatch):
    import __spark_entry__ as entrymod

    # same rows/columns, one value off by one
    orig = entrymod.oracle_sql()["q4_late_shipments"]
    bad = {
        "q4_late_shipments": (
            f"SELECT o_orderpriority, late_orders + 1 AS late_orders FROM ({orig})"
        )
    }
    assert _run_gate(spark, sf_dir, monkeypatch, bad) == ["q4_late_shipments"]


def test_gate_catches_column_rename(spark, sf_dir, monkeypatch):
    import __spark_entry__ as entrymod

    orig = entrymod.oracle_sql()["q4_late_shipments"]
    bad = {
        "q4_late_shipments": (
            f"SELECT o_orderpriority, late_orders AS n_late FROM ({orig})"
        )
    }
    assert _run_gate(spark, sf_dir, monkeypatch, bad) == ["q4_late_shipments"]


def test_norm_cell_preserves_signed_zero():
    """Driver canonicalization stringifies -0.0 as '-0.000000' (the
    agg_bounding_ratio red row in CORRECTNESS_r03.json proves it does NOT
    collapse signed zero); the local gate must do the same."""
    from tools.selfcheck import _norm_cell

    assert _norm_cell(-0.0) == "-0.000000"
    assert _norm_cell(0.0) == "0.000000"
    assert _norm_cell(-0.0) != _norm_cell(0.0)


def test_gate_catches_signed_zero_divergence(spark, sf_dir, monkeypatch):
    """An engine/oracle pair that differs only in the sign of a zero (Spark
    round(-1e-9) = +0.0, DuckDB round(-1e-9) = -0.0) must fail the gate —
    this is exactly the class tools/selfcheck.py used to mask."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    qs = entrymod.queries()
    qs = dict(qs)
    qs["q4_late_shipments"] = lambda sp, sf: sp.range(1).select(
        F.round(F.lit(-1e-9), 6).alias("z")  # Spark: +0.0
    )
    monkeypatch.setattr(entrymod, "queries", lambda: qs)
    # -1e-9 (not -0.000000001): DuckDB types the decimal literal as DECIMAL,
    # which has no signed zero — only the DOUBLE path preserves -0.0
    bad = {"q4_late_shipments": "SELECT round(-1e-9, 6) AS z"}  # DuckDB: -0.0
    assert _run_gate(spark, sf_dir, monkeypatch, bad) == ["q4_late_shipments"]


def test_gate_passes_signed_zero_when_normalized(spark, sf_dir, monkeypatch):
    """`+ 0.0` after the round() is the sanctioned normalization: it turns
    the same divergent pair into a green row."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    qs = dict(entrymod.queries())
    qs["q4_late_shipments"] = lambda sp, sf: sp.range(1).select(
        (F.round(F.lit(-1e-9), 6) + F.lit(0.0)).alias("z")
    )
    monkeypatch.setattr(entrymod, "queries", lambda: qs)
    good = {"q4_late_shipments": "SELECT round(-1e-9, 6) + 0.0 AS z"}
    assert _run_gate(spark, sf_dir, monkeypatch, good) == []


def test_gate_fails_unknown_name_and_counts_only_queries_run(spark, sf_dir, capsys):
    """A misspelled query name is a failure, not a silent skip, and the
    summary counts the queries that ran, not the registry."""
    from tools.selfcheck import check_queries, make_oracle_connection

    con = make_oracle_connection(sf_dir)
    failures = check_queries(spark, con, sf_dir, ["q4_late_shipments", "q4_late_shipmnets"])
    assert failures == ["q4_late_shipmnets"]
    out = capsys.readouterr().out
    assert "FAIL q4_late_shipmnets: unknown query" in out
    assert "0 failures / 1 queries, 1 unknown names" in out
