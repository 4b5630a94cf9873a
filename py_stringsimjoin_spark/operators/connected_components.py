"""Transitive clustering: connected components over match-pair edges.

The reference stops at pair output; the record-linkage pipeline
(BASELINE.json north_star) additionally needs transitive clustering. This is
the alternating large-star / small-star algorithm (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) expressed as DataFrame
self-joins — the standard scalable CC formulation (GraphFrames uses the same
scheme). Converges in O(log² n) rounds; every round is checkpointed to cut
lineage so 10^12-edge inputs don't build unbounded DAGs. When the session has
a checkpoint dir configured (``sc.setCheckpointDir`` — the cluster deployment
shape) rounds use RELIABLE ``checkpoint()``: under ``localCheckpoint`` an
executor loss destroys cached blocks and kills the whole job, which at
cluster scale over a multi-hour CC run is near-certain. Without a checkpoint
dir (local dev) it falls back to ``localCheckpoint``.

Local finish: once the edge set is at most ``_LOCAL_MAX_EDGES`` rows —
before the first round or at the top of any later one — the rest of the
work is smaller than one round's fixed cost (a checkpoint job, a signature
job and ~4 exchanges of driver latency: ~3 s per checkpoint for a
4k-edge graph at local[4]). The checkpointed edges are then fetched in one
Arrow collect and labelled on the driver by vectorized min-label hooking +
pointer jumping (numpy, no per-edge Python; < 0.1 s for 200k edges, a
path in random id order included), and the labels go back as a JVM
LocalTableScan. The bound also caps the driver memory this takes: ~3 MB
of long ids, a few tens of MB of url strings.

Cluster id = min(node id) per component (deterministic, data-derived — never
partition-order-dependent). The local finish orders node ids with Arrow's
sort, which compares strings as UTF-8 bytes like Spark does.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# edge sets at most this large finish with one local labelling pass instead
# of further star rounds; also bounds the edges collected to the driver
_LOCAL_MAX_EDGES = 200_000


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u, connect every strictly-larger neighbor to u's min
    neighbor (including u)."""
    nbrs = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    m = nbrs.groupBy("src").agg(F.min("dst").alias("m"))
    m = m.withColumn("m", F.least("src", "m"))
    # no trailing distinct: _small_star's first distinct (over the
    # greatest/least-normalized edges) immediately dedups this output —
    # keeping a distinct here would shuffle the same rows twice per round
    return (
        nbrs.join(m, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u, connect all ≤-neighbors to u's min neighbor."""
    dir_edges = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).distinct()
    m = dir_edges.groupBy("src").agg(F.min("dst").alias("m"))
    m = m.withColumn("m", F.least("src", "m"))
    joined = dir_edges.join(m, "src")
    out = joined.select(F.col("dst").alias("src"), F.col("m").alias("dst")).unionByName(
        joined.select(F.col("src"), F.col("m").alias("dst"))
    )
    return out.where(F.col("src") != F.col("dst")).distinct()


def _min_labels(u: np.ndarray, v: np.ndarray, n: int) -> np.ndarray:
    """Component label per node code 0..n-1 for edges (u, v): the smallest
    code of the node's component."""
    label = np.arange(n)
    while True:
        # pointer jumping: every node points straight at its tree's root
        while True:
            nxt = label[label]
            if np.array_equal(nxt, label):
                break
            label = nxt
        lu, lv = label[u], label[v]
        cross = lu != lv
        if not cross.any():
            return label
        # hook each root onto the smallest root it shares an edge with;
        # label[x] <= x always holds, so the last root left is the min code
        lu, lv = lu[cross], lv[cross]
        np.minimum.at(label, np.maximum(lu, lv), np.minimum(lu, lv))


def _label_locally(edges: DataFrame, arrow) -> DataFrame:
    """(node, component) for every node of ``arrow``, the collected rows of
    the small edge set ``edges``, labelled on the driver."""
    import pyarrow as pa
    import pyarrow.compute as pc

    src = arrow.column("src")
    dst = arrow.column("dst")
    nodes = pc.unique(pa.chunked_array(src.chunks + dst.chunks, type=src.type))
    # Arrow orders strings by UTF-8 bytes (= code points), as Spark does,
    # so code order is Spark's node order and the min code is the min id
    nodes = nodes.take(pc.sort_indices(nodes))
    u = pc.index_in(src, value_set=nodes).to_numpy()
    v = pc.index_in(dst, value_set=nodes).to_numpy()
    label = _min_labels(u, v, len(nodes))
    t = edges.schema["src"].dataType
    # an Arrow table becomes a JVM LocalTableScan, not a Python-sourced RDD
    # (see operators/token_ordering.build_token_ordering)
    return edges.sparkSession.createDataFrame(
        pa.table({"node": nodes, "component": nodes.take(pa.array(label))}),
        schema=StructType([StructField("node", t), StructField("component", t)]),
    )


def connected_components(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 25,
) -> DataFrame:
    """edges(src, dst) -> DataFrame(node, component) for every node in edges.

    ``component`` is the minimum node id of the component. Isolated nodes
    (absent from edges) are the caller's to add — they are their own cluster.
    Raises ``RuntimeError`` when ``max_iterations`` star rounds end before
    the edge set converges.
    """
    spark = edges.sparkSession
    reliable = spark.sparkContext.getCheckpointDir() is not None
    ckpt = (lambda df: df.checkpoint()) if reliable else (lambda df: df.localCheckpoint())
    e = ckpt(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # lazy: derived from the CHECKPOINTED initial edge set, so the plan stays
    # valid after ``e`` is rebound below; only consumed once by the final
    # roots anti-join — materializing it eagerly was one extra driver
    # round-trip + shuffle per call for no reuse
    all_nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    def _signature(df: DataFrame):
        # one cheap agg job per round instead of two exceptAll scans; the
        # edge sets are duplicate-free, so (count, sum of 64-bit pair
        # hashes) equality pinpoints set equality up to a 2^-64 collision
        row = df.agg(
            F.count("*").alias("n"),
            # decimal sum: immune to int64 overflow under ANSI mode
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    # one job both sizes the initial edge set and, when it is small, fetches
    # it (the shape of token_ordering's small-vocabulary probe)
    probe = e.limit(_LOCAL_MAX_EDGES + 1).toArrow()
    if probe.num_rows <= _LOCAL_MAX_EDGES:
        # the initial edge set holds every node: no roots to add
        return _label_locally(e, probe)
    sig = _signature(e)
    for _ in range(max_iterations):
        e = ckpt(_small_star(_large_star(e)))
        sig2 = _signature(e)
        if sig2 == sig:
            # after convergence every edge points node -> component-min
            comp = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
            comp = comp.groupBy("node").agg(F.min("component").alias("component"))
            break
        sig = sig2
        if sig[0] <= _LOCAL_MAX_EDGES:
            comp = _label_locally(e, e.toArrow())
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} star "
            f"rounds ({sig[0]} edges left); raise max_iterations"
        )
    roots = all_nodes.join(comp, "node", "left_anti").select(
        F.col("node"), F.col("node").alias("component")
    )
    return comp.unionByName(roots)


def update_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    node_col: str = "node",
    comp_col: str = "component",
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Incrementally fold a DELTA of match edges into existing components.

    ``assignments(node, component)`` is a previous ``connected_components``
    output (component = min node id of the component); ``new_edges`` are
    newly discovered match pairs (e.g. from ``join_delta_pairs`` after a
    crawl increment). Returns the assignment table CC would produce over
    (old edges ∪ new edges), covering every previously-assigned node plus
    every endpoint of the delta — WITHOUT re-clustering the full graph.

    Algorithm: contract each existing component to its id (ids are min node
    ids, so min-of-mins stays the global min), run the large/small-star CC
    on the CONTRACTED delta graph only — its size is bounded by the delta,
    never by the corpus — then remap. The remap table is at most
    2·|delta| rows, so the final assignment update is a broadcast join over
    the (arbitrarily large) assignment table: the only full-table shuffle
    anywhere is the hash join tagging delta endpoints with their current
    component. At 10^12 nodes with a daily delta this is the difference
    between minutes and a full multi-hour re-cluster.

    Endpoints never seen before enter as their own contracted node (their
    id is their component), so new-node/new-cluster cases need no special
    path.
    """
    a = assignments.select(
        F.col(node_col).alias("_n"), F.col(comp_col).alias("_c")
    )
    e = (
        new_edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    # tag both endpoints with their current component (own id if unseen)
    tagged = (
        e.join(a.withColumnRenamed("_n", "src").withColumnRenamed("_c", "_cs"),
               "src", "left")
        .join(a.withColumnRenamed("_n", "dst").withColumnRenamed("_c", "_cd"),
              "dst", "left")
        .select(
            F.coalesce("_cs", "src").alias("src"),
            F.coalesce("_cd", "dst").alias("dst"),
        )
    )
    contracted = tagged.where(F.col("src") != F.col("dst"))
    # CC over the contracted graph: node ids here are component ids
    sub = connected_components(contracted, "src", "dst")
    remap = F.broadcast(
        sub.where(F.col("node") != F.col("component"))
        .select(F.col("node").alias("_old"), F.col("component").alias("_new"))
    )
    updated = (
        assignments.join(
            remap, assignments[comp_col] == remap["_old"], "left"
        )
        .select(
            F.col(node_col).alias("node"),
            F.coalesce("_new", comp_col).alias("component"),
        )
    )
    # every unseen endpoint is a node of the contracted graph (its id is its
    # own contracted id, and it never equals the other end's component), so
    # the fresh nodes come from ``sub`` — re-reading ``new_edges`` here would
    # evaluate the whole delta plan a second time
    fresh = sub.join(a, F.col("node") == F.col("_n"), "left_anti")
    return updated.unionByName(fresh)
