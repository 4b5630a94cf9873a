"""Incremental connected-components update vs full recompute."""

import random

import pytest

from py_stringsimjoin_spark.operators import connected_components as ccm
from py_stringsimjoin_spark.operators.connected_components import (
    connected_components,
    update_components,
)

from .oracle import bfs_components


def _cc(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r.node: r.component
        for r in connected_components(df, "src", "dst").collect()
    }


def test_update_merges_new_and_old(spark):
    base = [(1, 2), (2, 3), (10, 11)]
    assign = spark.createDataFrame(
        sorted(_cc(spark, base).items()), "node long, component long"
    )
    # delta: merge comp 1 with comp 10; brand-new cluster {20,21};
    # fresh node 50 attaching to an existing comp
    delta = spark.createDataFrame(
        [(3, 10), (20, 21), (11, 50)], "src long, dst long"
    )
    got = {
        r.node: r.component
        for r in update_components(assign, delta).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 1, 11: 1, 50: 1, 20: 20, 21: 20}


def test_fresh_node_becomes_new_min(spark):
    assign = spark.createDataFrame([(1, 1), (2, 1)], "node long, component long")
    delta = spark.createDataFrame([(2, 0)], "src long, dst long")
    got = {r.node: r.component for r in update_components(assign, delta).collect()}
    assert got == {0: 0, 1: 0, 2: 0}


def test_empty_delta_is_identity(spark):
    assign = spark.createDataFrame([(1, 1), (2, 1)], "node long, component long")
    delta = spark.createDataFrame([], "src long, dst long")
    got = {r.node: r.component for r in update_components(assign, delta).collect()}
    assert got == {1: 1, 2: 1}


def test_incremental_equals_full_recompute_randomized(spark):
    rng = random.Random(20260818)
    nodes = list(range(60))
    edges = [
        (rng.choice(nodes), rng.choice(nodes))
        for _ in range(120)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    cut = len(edges) * 2 // 3
    base, delta = edges[:cut], edges[cut:]
    assign = spark.createDataFrame(
        sorted(_cc(spark, base).items()), "node long, component long"
    )
    got = {
        r.node: r.component
        for r in update_components(
            assign, spark.createDataFrame(delta, "src long, dst long")
        ).collect()
    }
    want = _cc(spark, base + delta)
    # full CC covers only nodes present in edges; incremental covers the
    # same set (assignment nodes ∪ delta endpoints)
    assert got == want


@pytest.mark.parametrize("local_max_edges", [200_000, 0])
def test_update_matches_bfs_on_both_cc_paths(spark, monkeypatch, local_max_edges):
    """The contracted-graph CC inside update_components gives the same
    assignment whether it finishes locally or runs star rounds."""
    monkeypatch.setattr(ccm, "_LOCAL_MAX_EDGES", local_max_edges)
    rng = random.Random(20261018)
    ids = ["é", "z", "\U0001F600", "�"] + [f"n{i:02d}" for i in range(40)]
    edges = [(rng.choice(ids), rng.choice(ids)) for _ in range(70)]
    base, delta = edges[:45], edges[45:] + [("brand-new", "é"), (None, "z")]
    want_base = bfs_components(base)
    assign = spark.createDataFrame(
        sorted(want_base.items()), "node string, component string"
    )
    got = {
        r.node: r.component
        for r in update_components(
            assign, spark.createDataFrame(delta, "src string, dst string")
        ).collect()
    }
    assert got == bfs_components(base + delta)


def test_update_evaluates_delta_once(spark):
    """Each delta row is computed once: the CC checkpoint consumes the delta
    plan, and the fresh-node list is taken from the CC output."""
    sc = spark.sparkContext
    assign = spark.createDataFrame(
        [(i, i - i % 10) for i in range(0, 200, 2)], "node long, component long"
    )
    seen = sc.accumulator(0)

    def count(row):
        seen.add(1)
        return row

    rows = [(i, 1000 + i) if i % 3 else (i, i + 2) for i in range(0, 200, 2)]
    delta = spark.createDataFrame(
        sc.parallelize(rows, 2).map(count), "src long, dst long"
    )
    got = update_components(assign, delta).collect()
    assert len(got) > len(rows)
    assert seen.value == len(rows)
