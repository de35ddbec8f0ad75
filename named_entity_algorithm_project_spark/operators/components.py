"""Stage D(i) — connected components over the linking edge list.

Distributed min-label propagation ("hash-to-min") with iterative joins:
every node repeatedly adopts the smallest component label among itself and
its neighbors; convergence when no label changes. Labels are the norm
strings themselves (total lexicographic order), so the component id is the
lexicographically smallest member — fully deterministic, no
monotonically_increasing_id anywhere.

Reference equivalent: the driver-side DFS at app.py:3185-3211 — verified
equal by tests/test_components.py against a Python DFS oracle.

Scale notes:
* iterations = O(component diameter); linking components are alias
  groups/similarity cliques with tiny diameters (≤ ~6), so the loop
  terminates in a handful of rounds even at 10^12-turn vocabularies.
  When a pathological graph (long chains) blows past HASH_TO_MIN_ROUNDS,
  the O(log n)-round large-star/small-star variant (:func:`_star_labels`,
  Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14)
  takes over behind the same nodes+edges -> labels contract.
* each round is a shuffle on node id; hub nodes (e.g. "polymer") are heavy
  keys, but the neighbour min() is one aggregation whose map-side partial
  aggregation (Spark hash-aggregate) collapses a hub's rows to one partial
  min per map task before the exchange; AQE skew handling covers the join
  side.
* localCheckpoint() every round truncates the lineage so the plan doesn't
  grow exponentially across iterations.
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
#: Hash-to-min rounds before the switch to large/small-star: O(diameter)
#: is cheapest for the common tiny-diameter alias graphs, O(log n) star
#: rounds bound the long-chain worst case.
HASH_TO_MIN_ROUNDS = 8
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
        # the driver-path data (was: checkpoint + limit-count + full
        # collect per input — four extra jobs). The collects are bounded
        # by the thresholds (+1 row), so driver memory stays capped even
        # when the gate says "too big" and the distributed path runs.
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
    # Distributed path: materialize inputs once — the iterative rounds
    # otherwise re-execute the full upstream DAG (TF-IDF similarity join
    # included) per consumption. (The driver path above deliberately skips
    # this: its single collect per input is the only consumption, and the
    # pipeline already hands it checkpointed linking tables.)
    nodes = nodes.localCheckpoint(eager=True)
    edges = edges.localCheckpoint(eager=True)
    # Materialize the edge list once: without this every iteration would
    # re-execute the full upstream DAG (TF-IDF similarity join included).
    sym = (
        edges.select("src", "dst")
        .unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .localCheckpoint(eager=True)
    )
    # neighbor lists never materialize; we only ever join (node -> label)
    labels = nodes.select(
        F.col("norm"), F.col("norm").alias("component")
    ).localCheckpoint(eager=True)

    for _ in range(HASH_TO_MIN_ROUNDS):
        neighbor_min = (
            sym.join(
                labels.select(
                    F.col("norm").alias("dst"),
                    F.col("component").alias("n_component"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("norm"))
            .agg(F.min("n_component").alias("neighbor_component"))
        )
        updated = (
            labels.join(neighbor_min, "norm", "left")
            .select(
                "norm",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("neighbor_component"), F.col("component")),
                ).alias("component"),
                F.col("component").alias("prev_component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = updated.filter(
            F.col("component") != F.col("prev_component")
        ).limit(1).count()
        labels = updated.drop("prev_component")
        if changed == 0:
            return labels

    # diameter exceeded the hash-to-min rounds (long-chain graph) — switch
    # to the O(log n)-round star algorithm from scratch (the hash-to-min
    # rounds are sunk cost; correctness is unaffected)
    return _star_labels(nodes, edges)


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
        .filter(F.col("src") != F.col("dst"))
        .distinct()
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


def _edges_differ(new: DataFrame, old: DataFrame) -> bool:
    """Exact set-inequality probe for convergence detection — one job, same
    shape as the hash-to-min loop's changed-row limit(1) check (a checksum
    comparison would admit an astronomically-unlikely hash-collision false
    convergence; this is exact at the same cost). Both inputs are distinct
    edge sets, so a full-outer join with a one-sided-null filter finds a
    differing row iff the sets differ."""
    lhs = new.select("src", "dst", F.lit(1).alias("_new"))
    rhs = old.select("src", "dst", F.lit(1).alias("_old"))
    return (
        lhs.join(rhs, ["src", "dst"], "full_outer")
        .filter(F.col("_new").isNull() | F.col("_old").isNull())
        .limit(1)
        .count()
        > 0
    )


def _star_labels(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Alternating large-star/small-star to convergence: O(log n) rounds on
    any graph shape (the long-chain worst case hash-to-min handles poorly).
    At the fixed point every edge is (member -> component minimum)."""
    e = (
        edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(STAR_MAX_ROUNDS):
        prev = e
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        if not _edges_differ(e, prev):
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
