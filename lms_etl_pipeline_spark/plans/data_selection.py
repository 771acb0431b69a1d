"""Importance-weighted training-data selection: DSIR.

Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) picks pretraining documents that look like a small
target distribution: fit two bag-of-hashed-n-gram unigram models — one
over the target subset, one over the raw pool — and keep the documents
with the highest estimated log importance weight
``log p_target(doc) - log p_raw(doc)``.

Engine mapping (Spark-first, two queries):

- ``dsir_hashed_ngram_model`` — the per-bucket model itself: unigram +
  bigram features hashed into ``_DSIR_B`` buckets (engine-portable
  md5-prefix hash, the repo's cross-engine scheme), Laplace-smoothed
  target/raw counts, per-bucket log-ratio.  The model is
  ``_DSIR_B`` rows REGARDLESS of corpus size — the whole point of
  hashing the vocabulary is that the statistic the selector ships is
  vocabulary-bounded, not corpus-bounded.
- ``dsir_importance_selection`` — per-document log weight = Σ_b
  c_{d,b}·λ_b via ONE bucket-keyed equi-join of the doc×bucket count
  frame against the broadcast λ table, then a global top-k.

Scale posture (100 TB): feature extraction is a map-only explode with a
map-side-combining count; the model is a 256-row broadcast; the totals
are a 1-row broadcast; selection ends in a TakeOrderedAndProject (never
a global sort).  Nothing in the plan grows super-linearly with the
corpus, and nothing corpus-sized ever sits on a build side.

Cross-engine determinism: per-bucket λ is rounded at 9 dp and cast to
DECIMAL(11,9); per-doc weights are sums of exact DECIMAL products
(order-independent), compared exactly for the top-k boundary, and only
the EMITTED weight is cast back to DOUBLE (repo convention — no decimal
class ever crosses the driver's hasher, tools/check_oracle.py).

Reference parity note: the reference pipeline
(/root/reference/src/lms_to_s3_lambda.py) has no corpus layer; this
extends SURVEY.md §2's LLM-training-data axis like rounds 2-10 did.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.session import (
    local_frame,
    materialize,
    release,
    spread_for_cpu,
)
from lms_etl_pipeline_spark.sources.tables import load_table

#: hashed-feature buckets — vocabulary-bounded model size (paper uses 10k;
#: 256 keeps every bucket populated on the test fixtures)
_DSIR_B = 256
#: documents selected
_DSIR_TOPK = 64
#: the target distribution: English docs (the fixture's majority class,
#: standing in for "looks like Wikipedia" in the paper)
_TARGET_SQL = "lang = 'en'"

# Shared SQL prefix: unigram+bigram features -> hashed bucket per
# occurrence, with the doc's target-membership flag.
_FEATS_CTE = f"""
    toks AS (SELECT doc_id, ({_TARGET_SQL}) AS is_t, {tx.tokens_sql()} AS tk
             FROM documents),
    feats AS (SELECT doc_id, is_t,
                     CASE WHEN LEN(tk) >= 2
                          THEN LIST_CONCAT(tk, LIST_TRANSFORM(
                                 RANGE(1, LEN(tk)),
                                 i -> tk[i] || ' ' || tk[i + 1]))
                          ELSE tk END AS fs
              FROM toks),
    fb AS (SELECT doc_id, is_t, {tx.hash60_sql("CAST(f AS VARCHAR)")} % {_DSIR_B} AS b
           FROM (SELECT doc_id, is_t, UNNEST(fs) AS f FROM feats)),
    model AS (SELECT b,
                     CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_target,
                     CAST(COUNT(*) AS BIGINT) AS n_source
              FROM fb GROUP BY b),
    tot AS (SELECT CAST(SUM(n_target) AS BIGINT) AS nt,
                   CAST(SUM(n_source) AS BIGINT) AS ns
            FROM model)
"""

#: Laplace-smoothed per-bucket log importance ratio, 9 dp (SQL form)
_LAMBDA_SQL = f"""ROUND(
      LN(CAST(n_target + 1 AS DOUBLE) / CAST(nt + {_DSIR_B} AS DOUBLE))
    - LN(CAST(n_source + 1 AS DOUBLE) / CAST(ns + {_DSIR_B} AS DOUBLE)), 9)"""


def _feature_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, is_t, b): one row per unigram/bigram occurrence, bucketed.

    Map-only: tokenize, zip adjacent slices into bigrams (no explode of
    the token stream before per-doc pairing), explode once, hash.  Tokens
    are materialized behind a ``repartition`` BEFORE the interpreted
    zip_with/md5 work — a small parquet corpus scans as ONE task, and
    without the exchange the whole CPU-heavy feature pass runs on a
    single core (the operators/dedup.py discipline; without it this was
    the entire 3.2 s exec of `dsir_importance_selection` at
    sf0.1, ~4 s single-task -> sub-second across 32).
    """
    d = load_table(spark, sf_dir, "documents")
    base = (
        spread_for_cpu(d.select("doc_id", "lang", "text"), "doc_id")
        .select(
            "doc_id",
            (F.col("lang") == "en").alias("is_t"),
            tx.tokens("text").alias("tk"),
        )
    )
    n = F.size("tk")
    bigr = F.zip_with(
        F.slice("tk", 1, n - 1),
        F.slice("tk", 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    fs = F.when(n >= 2, F.concat(F.col("tk"), bigr)).otherwise(F.col("tk"))
    return base.select("doc_id", "is_t", F.explode(fs).alias("f")).select(
        "doc_id", "is_t", (tx.hash60(F.col("f").cast("string")) % _DSIR_B).alias("b")
    )


def _model(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(per-bucket counts, 1-row totals) — the hashed n-gram LM pair."""
    fb = _feature_buckets(spark, sf_dir)
    model = fb.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_target"),
        F.count("*").alias("n_source"),
    )
    tot = model.agg(
        F.sum("n_target").cast("bigint").alias("nt"),
        F.sum("n_source").cast("bigint").alias("ns"),
    )
    return model, tot


def _lambda_col() -> F.Column:
    """Laplace-smoothed log importance ratio, rounded at 9 dp (double)."""
    return F.round(
        F.log(
            (F.col("n_target") + 1).cast("double")
            / (F.col("nt") + _DSIR_B).cast("double")
        )
        - F.log(
            (F.col("n_source") + 1).cast("double")
            / (F.col("ns") + _DSIR_B).cast("double")
        ),
        9,
    )


@query(
    "dsir_hashed_ngram_model",
    oracle=f"""
    WITH {_FEATS_CTE}
    SELECT b AS bucket, n_target, n_source, {_LAMBDA_SQL} AS log_ratio
    FROM model, tot
    """,
)
def dsir_hashed_ngram_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DSIR bucket model: target/raw hashed-bigram counts and the
    smoothed per-bucket log importance ratio λ_b.

    Scale: ONE map-side-combining count over the exploded features, a
    1-row totals broadcast — the output is ``_DSIR_B`` rows however big
    the corpus is (vocabulary hashing bounds the model, Xie et al. §2.2).

    No redundant passes: the builder resolves the bucket-bounded counts
    EAGERLY (one ``collect``, <= ``_DSIR_B`` rows by construction) and
    derives totals + λ from the local relation ``session.local_frame``
    builds from them.  Previously ``tot`` was a broadcast whose build job
    re-ran the whole tokenize/explode/md5 feature pass — TWO full corpus
    scans per execution; now there is exactly one.  λ is computed by the
    same Spark expressions over the same 256 inputs (oracle re-verified).
    Explain-only callers pay the corpus scan at construction time.
    """
    model_agg, _ = _model(spark, sf_dir)
    model = local_frame(spark, model_agg.collect(), model_agg.schema)
    tot = model.agg(
        F.sum("n_target").cast("bigint").alias("nt"),
        F.sum("n_source").cast("bigint").alias("ns"),
    )
    return model.crossJoin(F.broadcast(tot)).select(
        F.col("b").alias("bucket"),
        "n_target",
        "n_source",
        _lambda_col().alias("log_ratio"),
    )


@query(
    "dsir_importance_selection",
    oracle=f"""
    WITH {_FEATS_CTE},
    lam AS (SELECT b, CAST({_LAMBDA_SQL} AS DECIMAL(11,9)) AS l
            FROM model, tot),
    dbc AS (SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
            FROM fb GROUP BY doc_id, b),
    wt AS (SELECT dbc.doc_id, SUM(CAST(dbc.c AS DECIMAL(10,0)) * lam.l) AS w
           FROM dbc JOIN lam ON lam.b = dbc.b
           GROUP BY dbc.doc_id)
    SELECT doc_id, ROUND(CAST(w AS DOUBLE), 6) AS dsir_logweight
    FROM wt ORDER BY w DESC, doc_id LIMIT {_DSIR_TOPK}
    """,
)
def dsir_importance_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{64} documents by DSIR log importance weight — the selection
    step a pretraining pipeline runs to tilt a raw pool toward a target
    domain without training a classifier.

    Scale: doc×bucket counts aggregate map-side; the λ table is a
    256-row broadcast equi-join (never corpus-side); weights are exact
    DECIMAL sums (order-independent, so the top-k boundary is
    deterministic across partitionings); the top-k is a
    TakeOrderedAndProject, not a global sort.  Only the emitted weight
    is cast back to DOUBLE.

    NOTE: this builder executes EAGERLY — the top-k
    is resolved inside (bounded ``collect``, {64} rows) so the shared
    feature cache can be released before returning, matching
    ``quantile_exact_selection``'s cache-lifetime pattern.  Explain-only
    callers pay the corpus scan at construction time; the returned frame
    is the local relation ``session.local_frame`` builds from the top-k.
    """
    # ONE pass over the exploded feature stream: the doc x bucket counts
    # (with the doc-level target flag carried through the grouping) feed
    # BOTH the model and the per-doc weights.  The two consumers prune
    # different columns, so Spark's ReusedExchange does NOT fire (verified
    # on the executed plan) — the frame goes through the deployment-keyed
    # materialize seam instead, exactly the GD-trainer pattern: extract
    # once, aggregate the cached narrow frame twice, release.
    dbc = materialize(
        _feature_buckets(spark, sf_dir)
        .groupBy("doc_id", "is_t", "b")
        .agg(F.count("*").alias("c"))
    )
    # No redundant passes: resolve the
    # bucket-bounded model ONCE (<= _DSIR_B rows by construction) and
    # derive λ from the resulting LOCAL relation.  Previously tot and lam
    # were two separate broadcast-build jobs, EACH re-aggregating the
    # corpus-sized dbc frame — three dbc scans per invocation; now dbc is
    # scanned exactly twice (model, weights).  λ itself is computed by the
    # SAME Spark expressions over the same 256 inputs, so the emitted
    # weights are bit-identical (oracle re-verified).
    model_agg = dbc.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_target"),
        F.sum("c").cast("bigint").alias("n_source"),
    )
    model = local_frame(spark, model_agg.collect(), model_agg.schema)
    tot = model.agg(
        F.sum("n_target").cast("bigint").alias("nt"),
        F.sum("n_source").cast("bigint").alias("ns"),
    )
    lam = model.crossJoin(F.broadcast(tot)).select(
        "b", _lambda_col().cast("decimal(11,9)").alias("l")
    )
    wt = (
        dbc.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(F.sum(F.col("c").cast("decimal(10,0)") * F.col("l")).alias("w"))
    )
    out = (
        wt.orderBy(F.col("w").desc(), "doc_id")
        .limit(_DSIR_TOPK)
        .select("doc_id", F.round(F.col("w").cast("double"), 6).alias("dsir_logweight"))
    )
    # the top-k is tiny: resolve it while the cache is alive, then free it
    rows = out.collect()
    release(dbc)
    return local_frame(spark, rows, out.schema)
