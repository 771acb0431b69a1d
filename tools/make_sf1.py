"""Synthesize a FULL ~sf1 fixture for the adversarial deep sweep.

Rationale: the Spark↔DuckDB differential harness is
data-agnostic, and bigger fixtures sample more of the float value space
and more tie/duplicate structure — the sf0.1 sweep caught a rounding-tie
bug (embedding_centroids) that the sf0.001/0.01 gates never hit.  This
builds a 10× fixture for EVERY table so the entire catalog can be swept
one more decade up:

    SPARK_GRAFT_ANCHOR_SLICES=bounded python tools/check_oracle.py .scratch/sf1full

The env var applies the explicit anchor slices (plans/anchors.py) to the
two corpus-wide "gate" queries whose result sets this fixture's deliberate
duplicate amplification pushes past the comparator row cap
(attribution_linear_multitouch, fifo_returns_allocation); sweeping them
unbounded fails loudly on the cap rather than OOMing.

Scaling model — facts grow, dimensions stay (the realistic shape):

- ``orders``/``lineitem``: 10 copies, o_orderkey/l_orderkey shifted per
  copy (PK uniqueness); custkey/suppkey/partkey left as-is, so each
  customer simply has 10× orders against the SAME dimension tables;
- ``events``: 10 copies, event_id shifted; user_id/ts left as-is — every
  (user, ts) now appears 10× with distinct event_ids, an adversarial
  test of the catalog's "total order, no ties left to the engine"
  tiebreak discipline;
- ``documents``: doc_id shifted + per-copy trailing tag token (exact-dup
  groups stay within-copy; near-dup groups intentionally span copies —
  the SCALING.md pair-amplification note);
- ``embeddings``: vec_id shifted, vectors UNCHANGED — 10 identical
  copies of every vector make cosine ties ubiquitous, stressing the
  bit-identical-fold + deterministic-tiebreak claims;
- ``region nation customer supplier part``: copied verbatim.

Usage: python tools/make_sf1.py [out_dir]   (default .scratch/sf1full)
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BASE = "/root/testdata/sf0.1"
COPIES = 10


def main() -> int:
    out = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch", "sf1full",
    )
    from pyspark.sql import functions as F

    from lms_etl_pipeline_spark.session import get_spark
    from lms_etl_pipeline_spark.sources.tables import load_table

    spark = get_spark("make-sf1")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out, exist_ok=True)
    copies = F.explode(F.sequence(F.lit(0), F.lit(COPIES - 1))).alias("_c")

    def write(df, name: str) -> None:
        df.repartition(32).write.mode("overwrite").parquet(
            os.path.join(out, f"{name}.parquet")
        )
        print(f"  {name}: done", flush=True)

    def replicate(name: str, shift_cols: list[str]) -> None:
        df = load_table(spark, BASE, name)
        shift = (
            df.agg(F.max(shift_cols[0])).collect()[0][0] + 1 if shift_cols else 0
        )
        rep = df.select("*", copies)
        for c in shift_cols:
            rep = rep.withColumn(c, F.col(c) + F.col("_c") * F.lit(int(shift)))
        write(rep.drop("_c"), name)

    for dim in ("region", "nation", "customer", "supplier", "part"):
        write(load_table(spark, BASE, dim), dim)

    # orders+lineitem share the orderkey shift so the FK stays consistent
    o = load_table(spark, BASE, "orders")
    kshift = o.agg(F.max("o_orderkey")).collect()[0][0] + 1
    write(
        o.select("*", copies)
        .withColumn("o_orderkey", F.col("o_orderkey") + F.col("_c") * F.lit(int(kshift)))
        .drop("_c"),
        "orders",
    )
    li = load_table(spark, BASE, "lineitem")
    write(
        li.select("*", copies)
        .withColumn("l_orderkey", F.col("l_orderkey") + F.col("_c") * F.lit(int(kshift)))
        .drop("_c"),
        "lineitem",
    )

    replicate("events", ["event_id"])
    replicate("embeddings", ["vec_id"])

    d = load_table(spark, BASE, "documents")
    dshift = d.agg(F.max("doc_id")).collect()[0][0] + 1
    write(
        d.select("*", copies)
        .withColumn("doc_id", F.col("doc_id") + F.col("_c") * F.lit(int(dshift)))
        .withColumn(
            "text",
            F.when(F.col("_c") == 0, F.col("text")).otherwise(
                F.concat(F.col("text"), F.lit(" copytag"), F.col("_c"))
            ),
        )
        .drop("_c"),
        "documents",
    )
    print(f"fixture at {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
