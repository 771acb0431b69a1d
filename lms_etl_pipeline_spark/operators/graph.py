"""Connected components over an edge list — the dedup-clustering step.

Near-duplicate detection yields PAIRS; production dedup needs GROUPS
(transitively connect a~b, b~c => {a,b,c}; keep one canonical doc per
group).  That's connected components on the similarity graph.

Algorithm: iterative min-label propagation (each node repeatedly adopts
the smallest label among itself and its neighbors) — the standard
large-scale formulation (cf. "hash-to-min" / GraphX's default), here as
plain DataFrame joins:

    labels(v) <- min(labels(v), min over neighbors u of labels(u))

Each iteration is ONE equi-join of the current labels against the
(symmetrized) edge list + a min-aggregation; the driver loop only checks
convergence (an updated-row count — a scalar, not data).  Similarity
graphs are overwhelmingly tiny cliques, so 2-4 one-hop iterations settle
in practice; from the third iteration on (a graph still moving then is
chain-shaped), each round adds pointer jumping (label <- label(label)),
so residual convergence is O(log diameter) rounds instead of O(diameter)
and ``max_iter`` = 20 covers diameters past 2^17.  At 100 TB scale each
iteration is shuffle-on-node-id — the same cost profile as one
self-join; no driver-side data ever.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.session import materialize, release


def connected_components(
    edges: DataFrame, src: str = "a", dst: str = "b", max_iter: int = 20
) -> DataFrame:
    """(node, component) for every node in ``edges``; component = the
    minimum node id reachable from it.

    ``edges`` is an undirected pair list (each pair listed once in either
    direction).  Raises if ``max_iter`` iterations don't converge —
    a similarity graph that deep signals a pathological giant component
    (i.e. a thresholding bug), which should fail loudly, not silently.
    """
    # Materialize the edge list ONCE: the upstream subtree (e.g. an LSH
    # pipeline) is expensive, and the old
    # symmetrized-union barrier evaluated it TWICE — once per union branch
    # — inside the materializing job.  Checkpoint |E| rows instead and
    # derive the symmetric view lazily: each iteration then re-reads the
    # cached edge blocks (cheap) rather than re-running the subtree.
    em = materialize(edges.select(F.col(src).alias("u"), F.col(dst).alias("v")))
    sym = em.unionByName(em.select(F.col("v").alias("u"), F.col("u").alias("v")))
    prev_m = None
    labels = None

    for it in range(max_iter):
        # each node's candidate label: min of its own and all neighbors'.
        # The node's OWN row is tagged so the same min-aggregation also
        # recovers the previous label (exactly one own row per node) —
        # the convergence check then reads the materialized frame instead
        # of joining old vs new labels in a second per-iteration job.
        if it == 0:
            # Iteration 0 folded into ONE aggregation: initial
            # labels ARE the node ids, so min-over-(self ∪ neighbors) is
            # just least(u, min(v)) grouped by u — no init-labels frame,
            # no distinct (subsumed by the groupBy), no join.  Every node
            # appears as u in the symmetric view, so coverage is complete;
            # the values are exactly what the join formulation produced.
            hop = (
                sym.groupBy("u")
                .agg(F.min("v").alias("_mv"))
                .select(
                    F.col("u").alias("node"),
                    F.least(F.col("u"), F.col("_mv")).alias("label"),
                    F.col("u").alias("_old"),
                )
            )
        else:
            neighbor_labels = (
                sym.join(labels, sym.v == labels.node)
                .select(F.col("u").alias("node"), "label", F.lit(False).alias("own"))
            )
            hop = (
                labels.select("node", "label", F.lit(True).alias("own"))
                .unionByName(neighbor_labels)
                .groupBy("node")
                .agg(
                    F.min("label").alias("label"),
                    F.min(F.when(F.col("own"), F.col("label"))).alias("_old"),
                )
            )
        if it >= 2:
            # Path compression (pointer jumping) for graphs still moving
            # after two one-hop rounds: each node also adopts its label's
            # own new label — label <- label(label) — turning the residual
            # convergence from O(diameter) rounds into O(log diameter).
            # Similarity graphs are overwhelmingly tiny cliques that settle
            # within the first two cheap rounds (measured: adding the jump
            # join unconditionally costs more than it saves there), but a
            # depth-d chain that survives them closes in ~log2(d) doubled
            # rounds instead of d — at 100 TB that is 5 shuffles vs 20 on
            # a deep chain.  Labels only decrease, and a label's label is
            # reachable by transitivity, so the fixpoint (min reachable
            # id) is unchanged.
            jump = hop.select(
                F.col("node").alias("jnode"), F.col("label").alias("jlabel")
            )
            hop = hop.join(jump, hop.label == jump.jnode, "left").select(
                "node",
                F.least(F.col("label"), F.coalesce("jlabel", "label")).alias("label"),
                "_old",
            )
        # materialization barrier: the convergence count IS the
        # materializing action (``eager=False`` saves the
        # separate populate-job per iteration; the filter applies above
        # the barrier, so the full frame is persisted/checkpointed by the
        # same job that counts the updates).  cut_lineage is REQUIRED
        # here: hop references the previous labels frame TWICE (the own-row
        # union + the neighbor join), so preserved lineage would double the
        # plan tree per iteration (2^k).  Each superseded iteration's CACHE
        # is released below so at most two full-dataset caches are live.
        new_labels = materialize(hop, eager=False, cut_lineage=True)
        changed = new_labels.filter(F.col("label") < F.col("_old")).count()
        if prev_m is not None:
            release(prev_m)
        prev_m = new_labels
        labels = new_labels.select("node", "label")
        if changed == 0:
            return labels.select("node", F.col("label").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations - "
        "suspiciously deep similarity graph (check the pairing threshold)"
    )


def components_sql() -> str:
    """DuckDB twin of ``connected_components`` over the CTE ``pairs``
    (a, b): CTEs ``sym``, ``reach`` (the recursive transitive closure) and
    ``comps`` (node, component = the minimum reachable node id).  The
    enclosing query must start ``WITH RECURSIVE``."""
    return """sym AS (SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs),
    reach AS (
      SELECT u AS node, u AS r FROM (SELECT DISTINCT u FROM sym)
      UNION
      SELECT reach.node, sym.v FROM reach JOIN sym ON reach.r = sym.u
    ),
    comps AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)"""


def order_flow_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """The order flow as a distinct bipartite edge list: ``src`` =
    ``'c' || o_custkey`` → ``dst`` = ``'s' || l_suppkey`` for every
    customer that bought a line item from the supplier."""
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .distinct()
    )


def order_flow_edges_sql() -> str:
    """DuckDB twin of ``order_flow_edges`` over ``orders`` and ``lineitem``."""
    return """SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                      's' || CAST(l_suppkey AS VARCHAR) AS dst
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey"""
