"""Stage D(i) — connected components over the linking edge list.

Only edge endpoints need labelling: a node with no edge is its own
component, labelled by one shared singleton step on either path. Up to
LOCAL_MAX_EDGES edges the edge list is collected and solved by union-find
on the driver, like the reference's single-process DFS. Above it the
distributed path runs the alternating large-star/small-star rounds of
Kiveris et al., "Connected Components in MapReduce and Beyond" (SoCC'14):
O(log n) rounds on any graph shape, long chains included. Labels are the
norm strings themselves (total lexicographic order), so the component id
is the lexicographically smallest member — fully deterministic, no
monotonically_increasing_id anywhere.

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


#: Driver-path bound: an edge list of at most LOCAL_MAX_EDGES rows is
#: collected and solved by union-find on the driver. The vocabulary graph
#: is a broadcast-scale dimension; the bound catches a dense gated
#: similarity edge set (hub vocabulary, low thresholds), which could still
#: collect tens of millions of rows. Nodes are not gated: singletons never
#: leave the JVM. Every constant here is read at call time; tests force the
#: distributed path with LOCAL_MAX_EDGES = 0.
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
    # one bounded limit-collect doubles as the size gate AND the driver-path
    # data; the +1 row keeps driver memory capped when the gate says "too big"
    edge_rows = edges.limit(LOCAL_MAX_EDGES + 1).collect()
    if len(edge_rows) <= LOCAL_MAX_EDGES:
        labels = local_df(
            nodes.sparkSession,
            sorted(_local_components(edge_rows).items()),
            "norm string, component string",
        )
    else:
        labels = _star_labels(edges)
    # every edge endpoint is labelled; the nodes left over label themselves
    singletons = nodes.join(
        labels.select("norm"), "norm", "left_anti"
    ).select("norm", F.col("norm").alias("component"))
    return labels.unionByName(singletons)


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


def _star_labels(edges: DataFrame) -> DataFrame:
    """Alternating large-star/small-star to convergence: O(log n) rounds on
    any graph shape. At the fixed point every edge is (member -> component
    minimum), so the result labels every endpoint of a non-loop edge."""
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
    # fixed point: e is exactly {(member, min)}
    return e.select(F.col("src").alias("norm"), F.col("dst").alias("component"))


def _local_components(edges: list) -> dict:
    """Driver-side union-find over the edge endpoints of a broadcast-scale
    graph (same output contract as the distributed path: component =
    lexicographic min)."""
    parent = {}
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
