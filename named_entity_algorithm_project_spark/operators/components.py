"""Stage D(i) — connected components over the linking edge list.

Up to the driver bounds (LOCAL_MAX_NODES / LOCAL_MAX_EDGES) the graph is
collected and solved by union-find on the driver, like the reference's
single-process DFS. Above them the distributed path runs the alternating
large-star/small-star rounds of Kiveris et al., "Connected Components in
MapReduce and Beyond" (SoCC'14): O(log n) rounds on any graph shape, long
chains included. Labels are the norm strings themselves (total
lexicographic order), so the component id is the lexicographically
smallest member — fully deterministic, no monotonically_increasing_id
anywhere.

Reference equivalent: the driver-side DFS at app.py:3185-3211 — verified
equal by tests/test_components.py against a Python DFS oracle.

Scale notes:
* each round is a few shuffles on node id; hub nodes (e.g. "polymer") are
  heavy keys, but the per-node min() is one aggregation whose map-side
  partial aggregation (Spark hash-aggregate) collapses a hub's rows to one
  partial min per map task before the exchange; AQE skew handling covers
  the join side.
* localCheckpoint() every round truncates the lineage so the plan doesn't
  grow across iterations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.localrel import local_df


#: Driver-path bounds: a graph with at most LOCAL_MAX_NODES nodes AND at
#: most LOCAL_MAX_EDGES edges is collected and solved by union-find on the
#: driver. A vocabulary graph far smaller than the corpus is a
#: broadcast-scale dimension, so collecting it is the same judgement call
#: as broadcasting the canonical map; the edge bound catches a small node
#: set with a dense gated similarity edge set (hub vocabulary, low
#: thresholds), which could still collect tens of millions of rows.
#: Beyond either bound the distributed rounds run. Every constant here is
#: read at call time; tests force the distributed path with
#: LOCAL_MAX_NODES = 0.
LOCAL_MAX_NODES = 200_000
LOCAL_MAX_EDGES = 2_000_000
#: Large/small-star round cap; a graph still changing after it raises
#: rather than return partial labels.
STAR_MAX_ROUNDS = 25


def connected_components(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Compute components.

    Args:
        nodes: one ``norm`` column — the node universe (singletons included).
        edges: ``src``/``dst`` string columns, undirected, deduped.

    Returns:
        DataFrame (norm, component) where component = lexicographic min of
        the node's component.
    """
    spark = nodes.sparkSession
    if LOCAL_MAX_NODES > 0:
        # ONE bounded limit-collect per input doubles as the size gate AND
        # the driver-path data. The collects are bounded by the thresholds
        # (+1 row), so driver memory stays capped even when the gate says
        # "too big" and the distributed path runs.
        node_rows = nodes.limit(LOCAL_MAX_NODES + 1).collect()
        if len(node_rows) <= LOCAL_MAX_NODES:
            edge_rows = edges.limit(LOCAL_MAX_EDGES + 1).collect()
            if len(edge_rows) <= LOCAL_MAX_EDGES:
                mapping = _local_components(
                    [r[0] for r in node_rows],
                    [(r[0], r[1]) for r in edge_rows],
                )
                return local_df(
                    spark,
                    sorted(mapping.items()),
                    "norm string, component string",
                )
    # the distributed result is lazy over `nodes` (its singletons):
    # materialize them once so no consumer re-runs their upstream DAG
    return _star_labels(nodes.localCheckpoint(eager=True), edges)


def _large_star(e: DataFrame) -> DataFrame:
    """Large-star round (Kiveris et al. §3): every node connects its
    strictly-greater neighbors to the minimum of its closed neighborhood."""
    sym = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn")).select(
        "src", F.least(F.col("mn"), F.col("src")).alias("m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star round: orient edges large->small; every node connects its
    small neighbors (and itself) to the minimum small neighbor."""
    oriented = e.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    ).filter(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    with_min = oriented.join(mins, "src")
    to_small = with_min.select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_edge = mins.select(F.col("src"), F.col("m").alias("dst"))
    return (
        to_small.unionByName(self_edge)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _is_star_forest(e: DataFrame) -> bool:
    """Exact convergence probe, one limit(1) job over one aggregation. After
    a small-star round every edge points from a larger node to a smaller
    one. Such an edge set is a star forest when no node has two out-edges
    and no node has both an out-edge and an in-edge; a star forest is a
    fixed point of both rounds, and the rounds converge to one (Kiveris et
    al.). They preserve connectivity, so each star's centre is then its
    component's minimum. Stopping here saves the round that would only
    confirm the fixed point."""
    ends = e.select(
        F.col("src").alias("node"), F.lit(1).alias("out"), F.lit(0).alias("in")
    ).unionByName(
        e.select(
            F.col("dst").alias("node"), F.lit(0).alias("out"), F.lit(1).alias("in")
        )
    )
    degrees = ends.groupBy("node").agg(
        F.sum("out").alias("n_out"), F.sum("in").alias("n_in")
    )
    not_star = (F.col("n_out") > 1) | ((F.col("n_out") > 0) & (F.col("n_in") > 0))
    return degrees.filter(not_star).limit(1).count() == 0


def _star_labels(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Alternating large-star/small-star to convergence: O(log n) rounds on
    any graph shape. At the fixed point every edge is (member -> component
    minimum)."""
    # read once, by the first round; every round ends in a distinct, so
    # duplicate input edges need no pass of their own
    e = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    for _ in range(STAR_MAX_ROUNDS):
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        if _is_star_forest(e):
            break
    else:
        raise RuntimeError(
            f"star components did not converge in {STAR_MAX_ROUNDS} rounds"
        )
    # fixed point: e is exactly {(member, min)}; singletons label themselves
    labels = e.select(F.col("src").alias("norm"), F.col("dst").alias("component"))
    singletons = nodes.join(
        labels.select("norm"), "norm", "left_anti"
    ).select("norm", F.col("norm").alias("component"))
    return labels.unionByName(singletons)


def _local_components(nodes: list, edges: list) -> dict:
    """Driver-side union-find for broadcast-scale graphs (same output
    contract as the distributed path: component = lexicographic min)."""
    parent = {n: n for n in nodes}
    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the lexicographically smaller root
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent}
