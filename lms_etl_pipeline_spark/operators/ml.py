"""Reusable distributed-ML operators: Lloyd k-means and PageRank.

Library-surface generalizations of the oracle-checked plans in
``plans/corpus_ml.py`` (which pin 2-iteration / 3-iteration unrolls so the
DuckDB twin stays writable). These take ANY DataFrame, run ANY number of
iterations, and stay fully declarative:

- every iteration is a bounded set of equi-joins / broadcasts — no
  driver-side data, no ``collect()``;
- ``localCheckpoint`` between iterations bounds lineage, so hundreds of
  iterations don't build a quadratic plan (the unrolled plan variants skip
  this — 2-3 layers don't need it);
- the same cross-engine determinism conventions as the plans: decimal sums
  for order-independence, fixed-scale rounding before values feed the next
  iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lms_etl_pipeline_spark.session import materialize, release


def _sq_dist(a, b) -> F.Column:
    """Left-assoc squared L2 between two array<numeric> columns."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0).cast("double"), lambda acc, p: acc + p)


def kmeans_assign(
    points: DataFrame, centroids: DataFrame, id_col: str = "id", vec_col: str = "vec"
) -> DataFrame:
    """Nearest-centroid assignment.

    ``points``: columns ``id_col``, ``vec_col``; ``centroids``: (cid,
    cvec).  The centroid table broadcasts (k rows); the corpus streams
    through once — no shuffle of the points.  Ties break on the lowest
    cid, so assignment is deterministic.
    Returns (id_col, cluster, d2).
    """
    pairs = points.crossJoin(F.broadcast(centroids)).select(
        id_col, "cid", _sq_dist(F.col(vec_col), F.col("cvec")).alias("d2")
    )
    w = Window.partitionBy(id_col).orderBy("d2", "cid")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, F.col("cid").alias("cluster"), "d2")
    )


def kmeans_fit(
    points: DataFrame,
    k: int,
    max_iter: int = 10,
    mean_scale: int = 6,
    stats: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd k-means over (``id``, ``vec``) rows; returns (assignments,
    centroids) after ``max_iter`` iterations or earlier convergence
    (assignment fixpoint).

    Deterministic end to end: init = the k lowest-id vectors (no random
    seeds), mean updates via exact DECIMAL sums rounded at ``mean_scale``
    (order-independent, so the result is identical under any partitioning),
    tie-broken assignment.  Per iteration: one k-row broadcast assignment
    pass + one posexplode/groupBy(cluster, dim) mean update — the
    (k·dim)-group aggregate combines map-side.  ``localCheckpoint`` bounds
    lineage so deep runs stay plannable; the convergence probe compares two
    already-materialized label frames (cheap scalar count).

    Consistency contract: the returned assignments are always computed
    against the returned centroids — on a max_iter exit a final assignment
    pass runs against the last centroid update (the convergent exit is
    already consistent).  A cluster that loses every member keeps its
    previous centroid (no silent k-shrink), matching the common
    "keep empty centroids" Lloyd variant.

    Pass a dict as ``stats`` to receive ``{"iterations": n, "converged":
    bool}`` — scale tests assert convergence happened and lineage stayed
    bounded without re-deriving the loop count.
    """
    pts = materialize(points.select("id", "vec"))
    w_init = Window.orderBy("id")
    cent = materialize(
        pts.withColumn("_rn", F.row_number().over(w_init))
        .filter(F.col("_rn") <= k)
        .select(F.col("id").alias("cid"), F.col("vec").alias("cvec"))
    )
    assign = None
    converged = False
    n_iter = 0
    for _ in range(max_iter):
        n_iter += 1
        new_assign = materialize(kmeans_assign(pts, cent))
        if assign is not None:
            moved = (
                assign.select("id", F.col("cluster").alias("_old"))
                .join(new_assign.select("id", "cluster"), "id")
                .filter(F.col("cluster") != F.col("_old"))
                .count()
            )
            # the previous assignment is superseded once the convergence
            # probe has read both frames — free its cache (persist mode
            # would otherwise pin one full-corpus cache per iteration)
            release(assign)
            if moved == 0:
                assign = new_assign
                converged = True
                break
        assign = new_assign
        m = assign.join(pts, "id").select(
            "cluster", F.posexplode("vec").alias("pos", "val")
        )
        c_elems = m.groupBy("cluster", "pos").agg(
            F.round(
                F.sum(F.col("val").cast("decimal(27,8)")).cast("double")
                / F.count("*"),
                mean_scale,
            ).alias("v")
        )
        cent_new = (
            c_elems.groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("s"))
            .select(
                F.col("cluster").alias("cid"),
                F.transform("s", lambda x: x["v"]).alias("cvec"),
            )
        )
        # Empty clusters keep their previous centroid so k never shrinks.
        # cut_lineage: this plan references the previous cent TWICE (via
        # cent_new's assignment pass and the anti-join), so persist-mode
        # lineage would double per iteration (2^k — measured driver OOM at
        # max_iter=10); the checkpoint is k rows, i.e. free.
        prev_cent = cent
        cent = materialize(
            cent_new.unionByName(
                cent.join(cent_new.select("cid"), "cid", "left_anti")
            ),
            cut_lineage=True,
        )
        release(prev_cent)  # superseded k-row centroid cache
    if not converged:
        # max_iter exit: re-assign so assignments match the final centroids.
        last = assign
        assign = materialize(kmeans_assign(pts, cent))
        if last is not None:
            release(last)
    if stats is not None:
        stats.update(iterations=n_iter, converged=converged)
    return assign, cent


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol_scale: int = 12,
    stats: dict | None = None,
) -> DataFrame:
    """PageRank over a directed edge list (columns ``src``, ``dst``);
    returns (node, pagerank).  Simplified model: no dangling-mass
    redistribution (sinks leak; document if your graph has them).

    Runs until scores reach a fixpoint AT the rounding scale (every score
    is rounded to ``tol_scale`` decimals each iteration — which also makes
    each iteration's output bit-deterministic under any partitioning, via
    rounded-then-DECIMAL-summed contributions) or ``max_iter``.  Each
    iteration: edges ⋈ scores on src (equi-join, edges keep their
    partitioning) + a map-side-combining sum by dst.  ``localCheckpoint``
    bounds lineage; the convergence probe joins two materialized frames.
    """
    # Deduplicate parallel edges to match the oracle-checked plan twin
    # pagerank_graph (which applies .distinct()); without this, duplicate
    # (src, dst) rows would silently compute edge-weighted PageRank.
    sym = materialize(edges.select("src", "dst").distinct())
    nodes = materialize(
        sym.select(F.col("src").alias("node"))
        .union(sym.select(F.col("dst").alias("node")))
        .distinct()
    )
    nn = nodes.agg(F.count("*").alias("n"))
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("outdeg"))
    pr = materialize(
        nodes.crossJoin(F.broadcast(nn))
        .select("node", F.round(F.lit(1.0) / F.col("n"), tol_scale).alias("pr"))
    )
    n_iter = 0
    converged = False
    for _ in range(max_iter):
        contrib = (
            sym.join(pr.withColumnRenamed("node", "src"), "src")
            .join(F.broadcast(deg.withColumnRenamed("node", "src")), "src")
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("pr") / F.col("outdeg"), tol_scale)
                .cast("decimal(28,12)")
                .alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").cast("double").alias("acc"))
        )
        new_pr = (
            nodes.join(contrib, "node", "left")
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                F.round(
                    (1 - damping) / F.col("n")
                    + damping * F.coalesce(F.col("acc"), F.lit(0.0)),
                    tol_scale,
                ).alias("pr"),
            )
        )
        # no cut_lineage: each iteration references the previous pr exactly
        # ONCE (the contrib join), so persist-mode plan growth is linear in
        # the (bounded) iteration count — not the 2^k doubling shape.
        new_pr = materialize(new_pr)
        moved = (
            pr.select("node", F.col("pr").alias("_old"))
            .join(new_pr, "node")
            .filter(F.col("pr") != F.col("_old"))
            .count()
        )
        release(pr)  # superseded score frame (probe above read both)
        pr = new_pr
        n_iter += 1
        if moved == 0:
            converged = True
            break
    if stats is not None:
        stats.update(iterations=n_iter, converged=converged)
    return pr.select("node", F.col("pr").alias("pagerank"))
