"""Connected-components label propagation tests (queries/clustering.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_github_spark.queries.clustering import connected_components


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, ["doc_a", "doc_b"])


def _labels(df):
    return {r["id"]: r["label"] for r in df.collect()}


def test_chain_collapses_to_min(spark):
    # 1-2-3-4-5 chain: diameter 4 forces multiple propagation rounds.
    df = connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)]))
    assert _labels(df) == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_disjoint_components(spark):
    df = connected_components(
        _edges(spark, [(10, 11), (11, 12), (20, 21), (30, 31), (31, 30)])
    )
    lab = _labels(df)
    assert lab == {10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30, 31: 30}


def test_edge_direction_irrelevant(spark):
    # min id appearing only on the right side still wins.
    df = connected_components(_edges(spark, [(5, 1), (5, 9)]))
    assert _labels(df) == {1: 1, 5: 1, 9: 1}


def test_star_converges_fast(spark):
    # hub-and-spoke: one round reaches the fixpoint for every spoke.
    hub = [(100, s) for s in range(101, 120)]
    df = connected_components(_edges(spark, hub))
    lab = _labels(df)
    assert set(lab.values()) == {100}
    assert len(lab) == 20


def _union_find_labels(pairs):
    """Reference CC: plain python union-find, label = component min."""
    parent: dict[int, int] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        for v in (a, b):
            parent.setdefault(v, v)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_cc_matches_union_find_on_random_graphs(spark):
    """Property guard for the r9 pointer-jumping rewrite: on seeded
    random graphs — mixing deep chains (the case jumping accelerates),
    dense blobs, and singleton edges — the distributed labels must
    equal a plain union-find's component-min labels exactly."""
    import random

    rng = random.Random(20260815)
    for trial in range(4):
        n = rng.randrange(30, 120)
        m = rng.randrange(n // 2, 2 * n)
        pairs = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        pairs = [(a, b) for a, b in pairs if a != b]
        # graft a long chain onto the random part: diameter >> log n
        chain_base = n + 1000
        pairs += [(chain_base + i, chain_base + i + 1) for i in range(40)]
        pairs.append((chain_base, rng.randrange(n)))
        got = _labels(connected_components(_edges(spark, pairs)))
        assert got == _union_find_labels(pairs), f"trial {trial} diverged"


def test_cc_deep_chain_beyond_linear_budget(spark):
    """A 60-node chain converges inside the default 25-round budget ONLY
    because of pointer jumping (plain propagation needs ~59 rounds) —
    this is the regression test that the jump step stays in place."""
    pairs = [(i, i + 1) for i in range(60)]
    df = connected_components(_edges(spark, pairs))
    labs = _labels(df)
    assert set(labs.values()) == {0} and len(labs) == 61


def test_cc_raises_loudly_when_budget_exhausted(spark):
    """The non-convergence guard must still fire: with a 1-round budget
    a long chain cannot reach fixpoint even with pointer jumping, and
    silent wrong labels are never returned."""
    import pytest

    pairs = [(i, i + 1) for i in range(30)]
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(_edges(spark, pairs), max_iters=1)
