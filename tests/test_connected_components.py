"""connected_components: every branch against a BFS oracle.

Three branches label a graph: the local finish on the initial edge set
(default bound), star rounds until convergence (bound forced to 0), and
star rounds that shrink the edge set under the bound and then finish
locally. Each must give component = min node id, with Spark's ordering of
the ids.
"""

import random

import pytest

from py_stringsimjoin_spark.operators import connected_components as ccm

from .oracle import bfs_components


def _random_edges(seed, n_nodes, n_edges, offset=0):
    rng = random.Random(seed)
    return [
        (offset + rng.randrange(n_nodes), offset + rng.randrange(n_nodes))
        for _ in range(n_edges)
    ]


_STR_NODES = ["é", "z", "\U0001F600", "�", "a", "Z", "ab", "aé", "€", ""]


def _string_edges():
    rng = random.Random(5)
    edges = [(rng.choice(_STR_NODES), rng.choice(_STR_NODES)) for _ in range(12)]
    # duplicates, reversed duplicates, self-loops and null endpoints
    edges += edges[:4] + [(b, a) for a, b in edges[4:8]]
    edges += [("é", "é"), ("solo", "solo"), (None, "z"), ("\U0001F600", None)]
    return edges


GRAPHS = {
    "long": (_random_edges(1, 80, 90), "long"),
    "long_big_ids": (_random_edges(2, 50, 70, offset=(1 << 62) - 25), "long"),
    "string": (_string_edges(), "string"),
    "empty": ([], "long"),
}


def _force(monkeypatch, path, n_edges):
    """Set the local bound so that ``path`` is the branch taken; on
    ``rounds_then_local``, return the list that records each star round and
    the local finish, in order."""
    calls = []
    if path == "distributed":
        monkeypatch.setattr(ccm, "_LOCAL_MAX_EDGES", 0)
    elif path == "rounds_then_local":
        # one edge too few for the probe; the rounds shrink a graph with
        # more edges than nodes to at most its node count
        monkeypatch.setattr(ccm, "_LOCAL_MAX_EDGES", max(n_edges - 1, 0))
        real_star, real_local = ccm._small_star, ccm._label_locally

        def star(edges):
            calls.append("round")
            return real_star(edges)

        def local(edges, arrow):
            calls.append("local")
            return real_local(edges, arrow)

        monkeypatch.setattr(ccm, "_small_star", star)
        monkeypatch.setattr(ccm, "_label_locally", local)
    return calls


@pytest.mark.parametrize("path", ["local", "distributed", "rounds_then_local"])
@pytest.mark.parametrize("graph", sorted(GRAPHS))
def test_branches_match_bfs(spark, monkeypatch, graph, path):
    edges, typ = GRAPHS[graph]
    if path == "rounds_then_local" and graph == "empty":
        pytest.skip("no edges to shrink")
    n_distinct = len({(a, b) for a, b in edges if a is not None and b is not None and a != b})
    calls = _force(monkeypatch, path, n_distinct)
    df = spark.createDataFrame(edges, f"src {typ}, dst {typ}")
    out = ccm.connected_components(df)
    t = df.schema["src"].dataType
    assert [f.dataType for f in out.schema] == [t, t]
    rows = out.collect()
    got = {r.node: r.component for r in rows}
    assert len(got) == len(rows)
    assert got == bfs_components(edges)
    if path == "rounds_then_local":
        assert calls[0] == "round" and calls[-1] == "local"


def test_other_column_names(spark):
    df = spark.createDataFrame([(3, 1), (1, 2), (7, 8)], "a long, b long")
    got = {r.node: r.component for r in ccm.connected_components(df, "a", "b").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_unconverged_rounds_raise(spark, monkeypatch):
    monkeypatch.setattr(ccm, "_LOCAL_MAX_EDGES", 0)
    path = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(path, "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge in 1 star round"):
        ccm.connected_components(df, max_iterations=1)


def test_small_graph_runs_at_most_four_jobs(spark):
    """A ~1k-edge graph finishes locally: the edge checkpoint and one probe
    collect, not a checkpoint and a signature job per star round."""
    sc = spark.sparkContext
    df = spark.createDataFrame(_random_edges(3, 2000, 1000), "src long, dst long")
    group = "cc-job-count"
    sc.setJobGroup(group, "connected_components job count")
    try:
        rows = ccm.connected_components(df).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) > 0
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 4, f"{len(jobs)} jobs"
