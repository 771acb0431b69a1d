"""Embedding-vector operators: dot products, norms, cosine top-k ANN.

All pure native array expressions (``zip_with``/``aggregate``) — JVM-side,
no Python in the hot path.  Determinism convention: every element is cast
to DOUBLE before multiply and the fold accumulates left-to-right from 0.0,
so the result is bit-identical to a left-assoc ``a1*b1 + a2*b2 + ...`` sum —
which is exactly what the generated DuckDB oracle computes.

Scale posture (100 TB):

- exact top-k (``top_k(cosine_pairs(queries, corpus), k)``) is the
  oracle-checkable baseline that every approximate path is graded against:
  a broadcast of the (small) query set against the full corpus — linear
  scan, no N² blow-up, embarrassingly parallel.  Norms are computed once
  per row below the join, so each pair costs one fold (the dot), not
  three; ``cosine_topk_sql`` is its DuckDB twin;
- ``cosine_pairs(..., on=key)`` is the approximate path's candidate
  generation: random-hyperplane LSH (``hyperplane_bucket``, SimHash for
  vectors) or IVF cells assign every row a key in one narrow projection,
  then the pairs come from an equi-join on that key — shuffle on a
  well-distributed key instead of a cross join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double-precision dot product of two float arrays."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0).cast("double"), lambda acc, p: acc + p)


def norm(a: Column) -> Column:
    """Euclidean norm — sqrt is IEEE correctly-rounded, so bit-stable."""
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column, na: Column | None = None, nb: Column | None = None) -> Column:
    """Cosine similarity in double precision (NULL if either side is 0).

    ``na``/``nb`` are ``norm(a)``/``norm(b)`` computed earlier — once per
    row below a join, so a pair costs one fold instead of three.  The
    result is bit-identical: the same float ops, evaluated earlier."""
    na = norm(a) if na is None else na
    nb = norm(b) if nb is None else nb
    return F.try_divide(dot(a, b), na * nb)


def _side(df: DataFrame, s: str, on: str | None) -> DataFrame:
    """One side of a pair scan: ``{s}_id``, ``{s}_emb`` and its norm
    ``_n{s}``, then every other column — the join key under its own name,
    the rest prefixed ``{s}_``."""
    rest = [c for c in df.columns if c not in ("vec_id", "embedding")]
    return df.select(
        F.col("vec_id").alias(f"{s}_id"),
        F.col("embedding").alias(f"{s}_emb"),
        norm(F.col("embedding")).alias(f"_n{s}"),
        *[F.col(c) if c == on else F.col(c).alias(f"{s}_{c}") for c in rest],
    )


def cosine_pairs(queries: DataFrame, corpus: DataFrame, on: str | None = None) -> DataFrame:
    """Every (query, corpus row) pair with its cosine, self-pairs dropped.

    Both frames carry ``vec_id`` and ``embedding``.  The result holds
    ``q_id``, ``n_id``, the ``on`` key, the other columns of each side
    prefixed ``q_``/``n_``, and ``cosine`` (NULL for a zero vector).
    ``on=None`` broadcasts the query set against the corpus (cross join);
    otherwise the sides equi-join on ``on`` — hint a broadcast on the
    caller's side if one is wanted."""
    q, n = _side(queries, "q", on), _side(corpus, "n", on)
    pairs = F.broadcast(q).crossJoin(n) if on is None else q.join(n, on)
    rest = [c for c in pairs.columns if c not in ("q_id", "n_id", "q_emb", "n_emb", "_nq", "_nn")]
    return pairs.filter(F.col("n_id") != F.col("q_id")).select(
        "q_id",
        "n_id",
        *rest,
        cosine(F.col("q_emb"), F.col("n_emb"), F.col("_nq"), F.col("_nn")).alias("cosine"),
    )


def top_k(pairs: DataFrame, k: int) -> DataFrame:
    """The ``k`` best pairs per ``q_id`` with their rank ``rk``: cosine
    DESC with NULLs last, ties broken by ``n_id`` ASC."""
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id").asc())
    return pairs.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def hyperplane_bucket(vec: Column, hyperplanes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: bit_j = sign(<vec, h_j>).

    ``hyperplanes`` are fixed literal constants (versioned with the code, not
    runtime randomness) so bucketing is reproducible across runs/engines.
    Returns an integer bucket in [0, 2^len(hyperplanes)).
    """
    bucket = F.lit(0)
    for j, h in enumerate(hyperplanes):
        arr = F.array(*[F.lit(float(v)) for v in h])
        bit = F.when(dot(vec, arr) >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        bucket = bucket + bit
    return bucket.cast("int")


def cosines_to_centroids(vec: Column, centroids: list[list[float]]):
    """Arrow-vectorized cosine of each row vector against a fixed centroid
    matrix; returns an array<double> column of len(centroids) scores.

    The exact-kNN path keeps the native left-assoc ``dot`` (bit-identical
    to the SQL oracle); THIS is for the approximate paths (IVF cell
    assignment) where there is no oracle constraint and the nested
    interpreted array expressions are ~10x slower than one numpy matmul
    per Arrow batch.
    """
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(centroids, dtype=np.float64)  # (k, dim)
    cnorm = np.linalg.norm(cmat, axis=1)  # (k,)

    @pandas_udf("array<double>")
    def score(v: pd.Series) -> pd.Series:
        m = np.stack(v.to_numpy())  # (n, dim)
        vnorm = np.linalg.norm(m, axis=1)  # (n,)
        denom = np.outer(vnorm, cnorm)
        denom[denom == 0.0] = np.nan
        cos = (m @ cmat.T) / denom  # (n, k)
        return pd.Series(list(cos))

    return score(vec)


def dot_sql(left: str, right: str, dim: int) -> str:
    """DuckDB oracle fragment: the same left-assoc double dot product."""
    return " + ".join(
        f"CAST({left}[{i}] AS DOUBLE) * CAST({right}[{i}] AS DOUBLE)" for i in range(1, dim + 1)
    )


def cosine_sql(a: str, b: str, dim: int) -> str:
    """DuckDB twin of ``cosine`` over the first ``dim`` elements."""
    return cosine_of_sql(dot_sql(a, b, dim), dot_sql(a, a, dim), dot_sql(b, b, dim))


def cosine_of_sql(ab: str, aa: str, bb: str) -> str:
    """Cosine from its three inner products: ab / (sqrt(aa) * sqrt(bb)).
    DuckDB 1.0 returns NULL for a division by 0.0, as try_divide does."""
    return f"({ab}) / (SQRT({aa}) * SQRT({bb}))"


def cosine_topk_sql(queries: str, corpus: str, k: int, dim: int, on: str | None = None) -> str:
    """DuckDB twin of ``top_k(cosine_pairs(queries, corpus, on), k)``.

    ``queries`` and ``corpus`` are SELECTs with ``vec_id`` and
    ``embedding``; their other columns pass through under the names the
    caller gives them (Spark prefixes them ``q_``/``n_``).  DuckDB 1.0
    sorts NULL last under DESC, as Spark's ``desc()`` does."""
    join, cond, drop = "CROSS JOIN", "", "vec_id, embedding"
    if on is not None:
        join, cond, drop = "JOIN", f" ON n.{on} = q.{on}", f"{drop}, {on}"
    return f"""
    SELECT * FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY cosine DESC, n_id ASC) AS rk
      FROM (
        SELECT q.vec_id AS q_id, n.vec_id AS n_id,
               q.* EXCLUDE (vec_id, embedding), n.* EXCLUDE ({drop}),
               {cosine_sql("q.embedding", "n.embedding", dim)} AS cosine
        FROM ({queries}) q {join} ({corpus}) n{cond}
        WHERE n.vec_id != q.vec_id))
    WHERE rk <= {k}"""
