"""Distributed-ML operators: Lloyd k-means and PageRank.

One Lloyd update (``kmeans_update``) and one PageRank iteration
(``pagerank_step``) are defined here, each beside its DuckDB twin.  The
library loops ``kmeans_fit`` and ``pagerank`` (any input, any number of
iterations, a convergence fixpoint) and the oracle-checked catalog builders
``kmeans_lloyd`` and ``pagerank_graph`` in ``plans/corpus_ml.py`` (2 and 3
unrolled iterations) call the same steps, and their oracles call the twins,
so the DuckDB gate checks what the loops run.

- every iteration is a bounded set of equi-joins / broadcasts — no
  driver-side data, no ``collect()``;
- the loops put each iteration's frame through ``session.materialize``
  (local checkpoint on a local master, persist on a cluster), so hundreds
  of iterations don't build a quadratic plan; the unrolled builders keep
  one lazy plan;
- decimal sums make every step order-independent and fixed-scale rounding
  makes it bit-identical across partitionings and engines;
- a k-means cluster that loses every member drops out of the centroid set
  (k can shrink), as it does in ``pq_codebook_train``.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from lms_etl_pipeline_spark.session import materialize, release


def sq_dist(a, b) -> F.Column:
    """Left-assoc squared L2 between two array<numeric> columns."""
    diffs = F.zip_with(
        a, b, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(diffs, F.lit(0.0).cast("double"), lambda acc, p: acc + p)


def sq_dist_sql(a: str, c: str, dim: int) -> str:
    """DuckDB twin of ``sq_dist`` for ``dim``-element lists: the same
    left-assoc sum, so the two engines agree bit for bit."""
    terms = []
    for i in range(1, dim + 1):
        x = f"(CAST({a}[{i}] AS DOUBLE) - CAST({c}[{i}] AS DOUBLE))"
        terms.append(f"{x} * {x}")
    return " + ".join(terms)


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
        id_col, "cid", sq_dist(F.col(vec_col), F.col("cvec")).alias("d2")
    )
    w = Window.partitionBy(id_col).orderBy("d2", "cid")
    return (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(id_col, F.col("cid").alias("cluster"), "d2")
    )


def kmeans_assign_sql(
    points: str, centroids: str, id_col: str, vec_col: str, dim: int
) -> str:
    """DuckDB twin of ``kmeans_assign`` over the relations ``points`` and
    ``centroids`` (cid, cvec)."""
    return f"""
    SELECT {id_col}, cid AS cluster, d2 FROM (
      SELECT {id_col}, cid, d2,
             ROW_NUMBER() OVER (PARTITION BY {id_col} ORDER BY d2, cid) AS rn
      FROM (SELECT p.{id_col}, c.cid,
                   {sq_dist_sql(f"p.{vec_col}", "c.cvec", dim)} AS d2
            FROM {points} p CROSS JOIN {centroids} c)) WHERE rn = 1"""


def kmeans_update(
    points: DataFrame, assign: DataFrame, id_col: str = "id", vec_col: str = "vec"
) -> DataFrame:
    """One Lloyd mean update: (cid, cvec) for every cluster in ``assign``
    (id_col, cluster) that has members; an emptied cluster drops out.

    Each element mean is quantized to 6 dp in EXACT integer arithmetic:
    round-half-away of S/(100n) in 1e-6 units, S the exact 1e-8-unit
    DECIMAL(27,8) sum.  ROUND(double, 6) was itself a cross-engine tie (a
    mean on a 7th-decimal 5 rounded differently per engine, shifting the
    centroid by 1e-6 and every downstream distance with it); the same
    integer formula runs on both engines, and /1e6 is one correctly
    rounded divide.  Float elements widen to double before the decimal
    cast: casting float32 straight to scale 8 diverges between engines on
    ~20% of values (Spark rounds the float's shortest ~7-digit repr,
    DuckDB its binary expansion).  The (k·dim)-group aggregate combines
    map-side."""
    m = assign.select(id_col, "cluster").join(points, id_col).select(
        "cluster", F.posexplode(vec_col).alias("pos", "val")
    )
    elems = (
        m.groupBy("cluster", "pos")
        .agg(
            F.sum(F.col("val").cast("double").cast("decimal(27,8)")).alias("s8"),
            F.count("*").cast("bigint").alias("n"),
        )
        .select(
            "cluster",
            "pos",
            (
                F.expr(
                    "CASE WHEN s8 >= 0 THEN "
                    "(2 * CAST(s8 * 100000000 AS DECIMAL(38,0)) + 100 * n) "
                    "div (200 * n) "
                    "ELSE -((2 * CAST(-s8 * 100000000 AS DECIMAL(38,0)) "
                    "+ 100 * n) div (200 * n)) END"
                ).cast("double")
                / 1000000.0
            ).alias("v"),
        )
    )
    return (
        elems.groupBy("cluster")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "v"))).alias("s"))
        .select(
            F.col("cluster").alias("cid"),
            F.transform("s", lambda x: x["v"]).alias("cvec"),
        )
    )


def kmeans_update_sql(points: str, assign: str, id_col: str, vec_col: str) -> str:
    """DuckDB twin of ``kmeans_update``: HUGEINT and ``//`` where Spark
    uses DECIMAL(38,0) and ``div``."""
    return f"""
    SELECT cluster AS cid, LIST(v ORDER BY pos) AS cvec FROM (
      SELECT cluster, pos,
             CAST((CASE WHEN s8 >= 0
                   THEN (2 * CAST(s8 * 100000000 AS HUGEINT) + 100 * n)
                        // (200 * n)
                   ELSE -((2 * CAST(-s8 * 100000000 AS HUGEINT) + 100 * n)
                        // (200 * n)) END) AS DOUBLE) / 1000000.0 AS v
      FROM (SELECT cluster, pos,
                   SUM(CAST(CAST(val AS DOUBLE) AS DECIMAL(27,8))) AS s8,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM (SELECT a.cluster,
                         GENERATE_SUBSCRIPTS(p.{vec_col}, 1) AS pos,
                         UNNEST(p.{vec_col}) AS val
                  FROM {assign} a JOIN {points} p USING ({id_col}))
            GROUP BY 1, 2))
    GROUP BY 1"""


def kmeans_fit(
    points: DataFrame,
    k: int,
    max_iter: int = 10,
    stats: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Lloyd k-means over (``id``, ``vec``) rows; returns (assignments,
    centroids) after ``max_iter`` iterations or earlier convergence
    (assignment fixpoint).

    Deterministic end to end: init = the k lowest-id vectors (no random
    seeds), ``kmeans_update`` means (order-independent, so the result is
    identical under any partitioning), tie-broken assignment.  Per
    iteration: one k-row broadcast assignment pass + one mean update; the
    convergence probe compares two already-materialized label frames
    (cheap scalar count).

    Consistency contract: the returned assignments are always computed
    against the returned centroids — on a max_iter exit a final assignment
    pass runs against the last centroid update (the convergent exit is
    already consistent).  With k=8, max_iter=1 and ids from 0, this is
    ``kmeans_lloyd``'s computation.

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
        # the update reads the materialized assignment, not the centroids
        release(cent)
        cent = materialize(kmeans_update(pts, assign))
    if not converged:
        # max_iter exit: re-assign so assignments match the final centroids.
        last = assign
        assign = materialize(kmeans_assign(pts, cent))
        if last is not None:
            release(last)
    if stats is not None:
        stats.update(iterations=n_iter, converged=converged)
    return assign, cent


#: PageRank's damping factor: the share of rank that follows out-links.
PAGERANK_DAMPING = 0.85


class RankGraph(NamedTuple):
    """What every PageRank step reads, derived once from the edge list."""

    edges: DataFrame  # distinct (src, dst)
    nodes: DataFrame  # (node) over both endpoints, materialized
    nn: DataFrame  # one row: n, the node count
    deg: DataFrame  # (node, outdeg)


def pagerank_start(edges: DataFrame) -> tuple[RankGraph, DataFrame]:
    """The graph of a distinct (src, dst) edge list and the uniform start
    (node, pr = 1/n).  The node count stays a 1-row broadcast, not a
    driver-side count(), so a caller's unrolled plan runs no eager action
    beyond the node-set barrier."""
    nodes = materialize(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    nn = nodes.agg(F.count("*").alias("n"))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").alias("outdeg")
    )
    pr0 = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    return RankGraph(edges, nodes, nn, deg), pr0


def pagerank_start_sql() -> str:
    """DuckDB twin of ``pagerank_start``: the CTEs ``nodes``, ``nn``,
    ``deg`` and ``pr0`` over a relation named ``edges``."""
    return """
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY 1),
    pr0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes)"""


def pagerank_step(g: RankGraph, pr: DataFrame) -> DataFrame:
    """One power iteration over (node, pr): each node's contribution
    pr/outdeg rounded to 12 dp, DECIMAL(28,12)-summed per destination
    (order-independent), then teleport + damped sum rounded to 12 dp.
    Simplified model: no dangling-mass redistribution (sinks leak).  One
    equi-join of the edges against the scores on src + a map-side-combining
    sum by dst."""
    contrib = (
        g.edges.join(pr.withColumnRenamed("node", "src"), "src")
        .join(F.broadcast(g.deg.withColumnRenamed("node", "src")), "src")
        .select(
            F.col("dst").alias("node"),
            F.round(F.col("pr") / F.col("outdeg"), 12)
            .cast("decimal(28,12)")
            .alias("c"),
        )
        .groupBy("node")
        .agg(F.sum("c").cast("double").alias("acc"))
    )
    return (
        g.nodes.join(contrib, "node", "left")
        .crossJoin(F.broadcast(g.nn))
        .select(
            "node",
            F.round(
                (1 - PAGERANK_DAMPING) / F.col("n")
                + PAGERANK_DAMPING * F.coalesce(F.col("acc"), F.lit(0.0)),
                12,
            ).alias("pr"),
        )
    )


def pagerank_step_sql(prev: str, out: str) -> str:
    """DuckDB twin of ``pagerank_step``: the CTE ``out`` from the scores in
    ``prev``, reading ``pagerank_start_sql``'s CTEs."""
    return f"""
    {out} AS (
      SELECT n.node,
             ROUND((1 - {PAGERANK_DAMPING}) / (SELECT n FROM nn)
                   + {PAGERANK_DAMPING} * COALESCE(s.acc, 0.0), 12) AS pr
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node,
               CAST(SUM(CAST(ROUND(p.pr / d.outdeg, 12) AS DECIMAL(28,12)))
                    AS DOUBLE) AS acc
        FROM edges e JOIN {prev} p ON p.node = e.src
                     JOIN deg d ON d.node = e.src
        GROUP BY 1) s ON s.node = n.node)"""


def pagerank(
    edges: DataFrame,
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """PageRank over a directed edge list (columns ``src``, ``dst``);
    returns (node, pagerank).  Simplified model: no dangling-mass
    redistribution (sinks leak; document if your graph has them).

    Runs ``pagerank_step`` until scores reach a fixpoint at its 12-dp
    rounding scale or ``max_iter``; with max_iter=3 on the order-flow
    edges this is ``pagerank_graph``'s computation.  Each iteration's
    scores are materialized; the convergence probe joins two materialized
    frames.
    """
    # Parallel edges collapse, as in pagerank_graph's distinct edge list;
    # without this, duplicate (src, dst) rows would silently compute
    # edge-weighted PageRank.
    g, pr = pagerank_start(materialize(edges.select("src", "dst").distinct()))
    pr = materialize(pr)
    n_iter = 0
    converged = False
    for _ in range(max_iter):
        # no cut_lineage: each iteration references the previous pr exactly
        # ONCE (the contrib join), so persist-mode plan growth is linear in
        # the (bounded) iteration count — not the 2^k doubling shape.
        new_pr = materialize(pagerank_step(g, pr))
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
