"""Embedding-vector operators: dot products, norms, cosine top-k ANN.

All pure native array expressions (``zip_with``/``aggregate``) — JVM-side,
no Python in the hot path.  Determinism convention: every element is cast
to DOUBLE before multiply and the fold accumulates left-to-right from 0.0,
so the result is bit-identical to a left-assoc ``a1*b1 + a2*b2 + ...`` sum —
which is exactly what the generated DuckDB oracle computes.

Scale posture (100 TB):

- exact top-k (``cosine_topk``) is the oracle-checkable baseline: a
  broadcast of the (small) query set against the full corpus — linear scan,
  no N² blow-up, embarrassingly parallel;
- ``hyperplane_bucket`` is the approximate path: random-hyperplane LSH
  (SimHash for vectors) assigns every row a bucket in one narrow projection,
  then candidate generation is an equi-join on the bucket key — shuffle on
  a well-distributed key instead of a cross join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double-precision dot product of two float arrays."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0).cast("double"), lambda acc, p: acc + p)


def norm(a: Column) -> Column:
    """Euclidean norm — sqrt is IEEE correctly-rounded, so bit-stable."""
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity in double precision (NULL if either side is 0)."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


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
