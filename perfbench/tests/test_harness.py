"""Statistics helpers and the agreement between BENCHMARK.json and the code."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from perfbench.harness import QUERY_LAYERS, SPAN_LAYERS, per_layer_names, percentile, rows_hash, tail

SPEC = json.loads((Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())


def test_percentile_and_tail():
    xs = [float(i) for i in range(1, 101)]
    assert percentile(xs, 50) == pytest.approx(50.5)
    assert percentile([3.0], 90) == 3.0
    assert tail(xs[:19]) == ("max", 19.0)  # a percentile would not exceed the median
    label, v = tail(xs)
    assert label == "p90" and v == pytest.approx(90.1)


def test_rows_hash_ignores_order():
    assert rows_hash([(1, "a"), (2, "b")]) == rows_hash([(2, "b"), (1, "a")])
    assert rows_hash([(1, "a")]) != rows_hash([(1, "a"), (1, "a")])


def test_per_layer_metrics_match_the_spec():
    names = per_layer_names()
    assert len(names) == len(set(names)) == 16 * 6 + 10 * 2 + 5 + 3
    assert [m["name"] for m in SPEC["per_layer"]] == names
    assert len(SPAN_LAYERS) == 16 and len(QUERY_LAYERS) == 10


def test_query_mix_covers_every_query_layer_but_the_heavy_ones():
    import etl_github_spark.queries  # noqa: F401 - populates the registry
    from etl_github_spark.queries.registry import QUERIES
    from perfbench.harness import layer_of
    from perfbench.workloads import HEAVY_QUERIES, QUERY_MIX

    layers = {layer_of(QUERIES[n].fn) for n in QUERY_MIX + HEAVY_QUERIES}
    assert layers == set(QUERY_LAYERS)
