"""BENCHMARK.json declares exactly the metrics the benchmark prints."""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import queries  # noqa: E402
from perfbench.common import END_TO_END, FAMILIES, PER_LAYER, layer_metrics  # noqa: E402


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_declared_metrics_match_printed_ones():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == {"ingest_service", "query_llm"}


def test_query_workload_runs_the_declared_families():
    assert tuple(queries.FAMILY_QUERIES) == FAMILIES
    for layer, _ in queries.SETUP:
        assert layer in PER_LAYER


def test_setup_has_the_largest_bound():
    bounds = {m["name"]: m["bound"] for m in _spec()["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_layer_metrics_fill_every_layer():
    out = layer_metrics({"spark.jobs_per_trigger": 41})
    assert set(out) == set(PER_LAYER)
    assert out["spark.jobs_per_trigger"] == (41.0, "count")
    assert out["query.text.jobs"] == (0.0, "count")
