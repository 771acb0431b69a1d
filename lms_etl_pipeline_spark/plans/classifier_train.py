"""Quality-classifier TRAINING — full-batch gradient descent, looped on the
driver over a collapsed feature histogram.

The engine already ships classifier INFERENCE (`doc_quality_score_logistic`:
fixed exported weights as a codegen'd projection) and rule-based labeling
(`doc_quality_filter` / `gopher_quality_rules`).  What a real curation stack
trains between those two is the missing piece: a cheap linear model DISTILLED
from the rule labels (exactly how fastText-style quality filters are built —
heuristic/LLM labels in, linear scorer out), its features extracted ON the
cluster because the corpus is large.

This module adds that trainer as an exact, oracle-checkable operator:

- **Model**: linear probability model with a hard-sigmoid link
  ``p = clip((m + 2) / 4, 0, 1)``, ``m = w·x`` — the piecewise-linear
  sigmoid of quantized-NN practice.  Unlike ``exp()``, it is EXACTLY
  computable in scale-6 integer arithmetic, so the whole training
  trajectory is bit-reproducible across engines (the `pinball_loss_eval`
  discipline, applied to an iterative algorithm).
- **Algorithm**: full-batch GD on squared loss, K=12 iterations, learning
  rate 2^-12.  GD is sequential by nature, so the corpus collapses ONCE
  to a bounded statistic and the loop runs on the driver: the features'
  count histogram over ``(y, x1, x2, x3)`` is collected through
  ``session.collect_bounded`` (one action).  ``y`` is a function of the
  x's, so the histogram has one row per distinct ``(x1, x2, x3)`` triple:
  at most one per document, fewer wherever documents share a triple.
  Each iteration's d+2 sums are then count-weighted sums over the
  histogram in exact Python-int arithmetic, and the weight update is the
  same O(d) sign/magnitude step either way.
- **Fallback**: a histogram over ``session.LOCAL_COLLECT_BUDGET_ROWS``
  takes the distributed loop over the histogram frame ``collect_bounded``
  materialized for its collect, so the corpus pass never runs twice.
  Each iteration is ONE map-side-combining, count-weighted aggregate over
  it (d+2 exact sums, a 1-row collect), with the updated weights
  re-entering the next iteration's plan as LITERALS — no broadcast join,
  no closure state.
  Both arms produce the same trajectory bit for bit
  (tests/test_classifier_train.py runs each against a pure-Python
  reference).
- **Exactness**: features are integers; weights are scale-6 micro-units;
  the hard sigmoid clamps BEFORE the ``div 4`` so truncating division only
  ever sees non-negative operands (identical in Spark ``div``, DuckDB
  ``//`` and Python ``//``); the update magnitude ``|g| div (n * 2^12)``
  is sign/magnitude split for the same reason.  In the distributed arm,
  per-row products stay under int64 for any document below ~9.2e6 tokens
  (|r| <= 1e6 micro-units; the margin is the same precondition class
  `pinball_loss_eval` documents); the count weights and the cross-row
  sums go through DECIMAL(38,0); the driver arm's Python ints are
  unbounded.  The OUTPUT
  emits the loss as two BIGINT limbs (``loss_hi = loss // 10^18``,
  ``loss_lo = loss % 10^18``) — unbounded exactness with no decimal-class
  column in the result: native-type cell hashing diverges on Python
  ``Decimal`` vs ``int`` even at equal values, the same family as the
  HUGEINT rule in ``tools/check_oracle.py``, which also refuses DECIMAL
  outputs catalog-wide.  An empty corpus yields K rows with a NULL loss
  and zero weights (the oracle's NULL-sum arm).

Scale posture (100 TB): feature extraction is the only corpus-sized work
and runs once, feeding a partial-aggregated histogram; K does not grow
with data, and the driver holds the histogram plus d+1 integers.  The K
iterations cost driver CPU proportional to the histogram, not Spark
jobs: building the trainer launches the histogram's jobs only (≤ 3,
pinned in tests/test_classifier_train.py), where the fallback adds one
aggregate job pair per iteration.  Which arm runs depends on the number
of distinct feature triples, which nothing bounds but the document count:
a corpus with long, varied documents can pass the budget, and then takes
the fallback.  An over-budget histogram costs the rows the collect
shipped before it saw the overflow (up to the budget) on top of the
fallback itself.

Measured histogram sizes (distinct ``(y, x1, x2, x3)`` rows / documents
with at least one token): sf0.001 454 / 500, sf0.01 446 / 500, sf0.1
2 499 / 5 000, the benchmark's generated catalog 460 / 500.  These
fixtures' documents have at most 100 tokens from a 31-word vocabulary,
so their triple domain saturates; the figures say nothing of a real
corpus's histogram, which can approach one row per document.

Measured: the distributed loop (SCALING.md, "the GD trainer's
two-strategy materialize cells", taken when it iterated over the
feature frame rather than the histogram) is ~flat across
sf0.1→sf1→~sf3→~sf10 under both materialize strategies, and persist
beats localCheckpoint there by 18–22% — its frame is narrow and
re-scanned 12 times, so the columnar cache amortizes.  The driver arm
re-scans nothing: on the benchmark's `iterative_builders` workload
(perfbench/, 4-vCPU VM, ``local[4]``) one build-and-evaluate pass
launches 5 jobs where the distributed loop launches 28 (3 vs 26 while
building), and takes a median 3.2 s of CPU time against the distributed
loop's 5.5 s (ten paired runs).

Scope note: the reference pipeline (``/root/reference/README.md``,
pandas/boto3 Lambda ETL) has no model-training stage; this extends the
engine along the training-data axis the build mandates, over the
``documents`` fixture.

Oracle strategy: DuckDB replays the SAME K iterations via a generated CTE
chain over a MATERIALIZED feature CTE (the `bpe_train_merges_deep`
pattern); per-iteration gradient CTEs are MATERIALIZED because each is
referenced twice (output row + next weight state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lms_etl_pipeline_spark import session
from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.session import release
from lms_etl_pipeline_spark.sources.tables import load_table

#: GD iteration count — fixed, data-independent (each is one aggregate pass)
GD_ITERS = 12
#: learning rate 2^-LR_SHIFT (micro-unit update = |g| div (n << LR_SHIFT))
LR_SHIFT = 12
#: micro-unit scale for weights, predictions, and residuals
_U = 1_000_000
#: limb base for the exact loss output: loss = loss_hi * _LIMB + loss_lo,
#: both limbs int64-safe for ANY corpus (hi saturates at ~1.7e20 docs)
_LIMB = 10**18

_TRAIN_SCHEMA = (
    "iteration int, loss_hi bigint, loss_lo bigint, w_bias bigint, "
    "w_ntokens bigint, w_distinct bigint, w_stop bigint"
)

# Rule label = doc_quality_filter's gates in integer-exact form:
#   20 <= n <= 1000  AND  stop/n <= 0.5  AND  distinct/n > 0.05
# (2*s <= n  <=>  s/n <= 0.5;  20*d > n  <=>  d/n > 0.05, n > 0 — integer
# forms so the label can never ride a float-division ulp.)
_LABEL_SQL = (
    "CASE WHEN x1 BETWEEN 20 AND 1000 AND 2 * x3 <= x1 AND 20 * x2 > x1 "
    "THEN 1 ELSE 0 END"
)

_STOPLIST_SQL = "('the','a','an','and','of','to','in','is','on')"

_FEATS_SQL = f"""
    feats AS MATERIALIZED (
      SELECT doc_id, {_LABEL_SQL} AS y, x1, x2, x3
      FROM (
        SELECT doc_id,
               CAST(LEN(toks) AS BIGINT) AS x1,
               CAST(LEN(LIST_DISTINCT(toks)) AS BIGINT) AS x2,
               CAST(LEN(LIST_FILTER(toks, x -> x IN {_STOPLIST_SQL}))
                    AS BIGINT) AS x3
        FROM (SELECT doc_id, {tx.tokens_sql()} AS toks FROM documents)
        WHERE LEN(toks) > 0
      )
    ),
    w0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3)"""


def _iter_sql(k: int) -> str:
    """One GD iteration: residuals under w{k-1}, gradient sums, update."""
    upd = "\n".join(
        f"""             CAST(w.w{j} - CASE
               WHEN g.g{j} > 0 THEN ABS(g.g{j}) // (g.n << {LR_SHIFT})
               WHEN g.g{j} < 0 THEN -(ABS(g.g{j}) // (g.n << {LR_SHIFT}))
               ELSE 0 END AS BIGINT) AS w{j}{"," if j < 3 else ""}"""
        for j in range(4)
    )
    return f"""
    r{k} AS (
      SELECT (LEAST(GREATEST(w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3
                             + {2 * _U}, 0), {4 * _U}) // 4)
             - f.y * {_U} AS r,
             f.x1, f.x2, f.x3
      FROM feats f CROSS JOIN w{k - 1} w
    ),
    g{k} AS MATERIALIZED (
      SELECT SUM(r * r) AS loss_u, SUM(r) AS g0, SUM(r * x1) AS g1,
             SUM(r * x2) AS g2, SUM(r * x3) AS g3,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM r{k}
    ),
    w{k} AS MATERIALIZED (
      SELECT
{upd}
      FROM w{k - 1} w CROSS JOIN g{k} g
    )"""


_CHAIN_SQL = (
    "    WITH"
    + _FEATS_SQL
    + ","
    + ",".join(_iter_sql(k) for k in range(1, GD_ITERS + 1))
)

_TRAIN_ORACLE = _CHAIN_SQL + "".join(
    f"""
    {"SELECT" if k == 1 else "UNION ALL SELECT"} {k} AS iteration,
           CAST(g.loss_u // {_LIMB} AS BIGINT) AS loss_hi,
           CAST(g.loss_u % {_LIMB} AS BIGINT) AS loss_lo,
           w.w0 AS w_bias, w.w1 AS w_ntokens, w.w2 AS w_distinct,
           w.w3 AS w_stop
    FROM g{k} g CROSS JOIN w{k} w"""
    for k in range(1, GD_ITERS + 1)
)

_PREDICT_ORACLE = (
    _CHAIN_SQL
    + f"""
    SELECT f.doc_id, f.y AS y_rule,
           CAST(LEAST(GREATEST(w.w0 + w.w1 * f.x1 + w.w2 * f.x2
                               + w.w3 * f.x3 + {2 * _U}, 0), {4 * _U}) // 4
                AS BIGINT) AS p_u6
    FROM feats f CROSS JOIN w{GD_ITERS} w"""
)


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, y, x1=n_tokens, x2=n_distinct, x3=n_stopwords) — all BIGINT,
    label from the integer-exact quality-rule form (see _LABEL_SQL)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", tx.tokens("text").alias("_toks")).filter(
        F.size("_toks") > 0
    )
    raw = base.select(
        "doc_id",
        F.size("_toks").cast("bigint").alias("x1"),
        F.size(F.array_distinct("_toks")).cast("bigint").alias("x2"),
        F.size(F.filter("_toks", lambda t: t.isin(*tx.STOPWORDS_EN)))
        .cast("bigint")
        .alias("x3"),
    )
    return raw.select("doc_id", F.expr(_LABEL_SQL).alias("y"), "x1", "x2", "x3")


def _margin_sql(w: list[int]) -> str:
    """Hard-sigmoid prediction p (scale-6) under weight LITERALS: the clamp
    runs BEFORE the div so truncation only sees non-negative operands."""
    return (
        f"least(greatest({w[0]} + {w[1]} * x1 + {w[2]} * x2 + {w[3]} * x3 "
        f"+ {2 * _U}, CAST(0 AS BIGINT)), {4 * _U}) div 4"
    )


def _step(w: list[int], g: list[int], n: int) -> None:
    """GD weight update in place, sign/magnitude split so the truncating
    division only sees non-negative operands: w_j -= sign(g_j) * (|g_j|
    div (n << LR_SHIFT)).  No-op on an empty corpus (n == 0)."""
    if n <= 0:
        return
    den = n << LR_SHIFT
    for j in range(4):
        mag = abs(g[j]) // den
        w[j] -= mag if g[j] > 0 else -mag


def _train_local(hist: list[tuple[int, int, int, int, int]]):
    """The GD loop on the driver over the (y, x1, x2, x3, count) feature
    histogram: every sum is count-weighted, in exact Python ints."""
    n = sum(c for *_, c in hist)
    w = [0, 0, 0, 0]
    history = []
    for it in range(1, GD_ITERS + 1):
        loss, g = 0, [0, 0, 0, 0]
        for y, x1, x2, x3, c in hist:
            m = w[0] + w[1] * x1 + w[2] * x2 + w[3] * x3
            r = min(max(m + 2 * _U, 0), 4 * _U) // 4 - y * _U
            cr = c * r
            loss += cr * r
            g[0] += cr
            g[1] += cr * x1
            g[2] += cr * x2
            g[3] += cr * x3
        _step(w, g, n)
        # an empty corpus has a NULL loss, as SQL's SUM over no rows
        history.append((it, loss if n else None, *w))
    return history, w


def _train_distributed(hist: DataFrame):
    """The over-budget fallback: one aggregate pass per GD iteration over
    the feature histogram ``collect_bounded`` materialized, count-weighted,
    with the weights re-entering each pass as literals."""
    c = F.col("count").cast("decimal(20,0)")
    w = [0, 0, 0, 0]
    history = []
    for it in range(1, GD_ITERS + 1):
        r = F.expr(f"({_margin_sql(w)}) - y * {_U}")
        # per-row products are int64-safe below ~9.2e6 tokens/doc
        # (|r| <= 1e6); the count weight and the sums are DECIMAL(38,0)
        row = hist.select(
            r.alias("r"), "x1", "x2", "x3", "count"
        ).agg(
            F.sum(c * (F.col("r") * F.col("r"))).alias("loss_u"),
            F.sum(c * F.col("r")).alias("g0"),
            F.sum(c * (F.col("r") * F.col("x1"))).alias("g1"),
            F.sum(c * (F.col("r") * F.col("x2"))).alias("g2"),
            F.sum(c * (F.col("r") * F.col("x3"))).alias("g3"),
            F.sum("count").alias("n"),
        ).collect()[0]  # bounded: ONE row of d+2 scalars per iteration
        _step(w, [int(row[f"g{j}"] or 0) for j in range(4)], row["n"] or 0)
        loss = row["loss_u"]
        history.append((it, int(loss) if loss is not None else None, *w))
    release(hist)
    return history, w


def _train(spark: SparkSession, sf_dir: str):
    """Run the GD loop; returns (history rows, final weights).

    The feature histogram is collected once when it fits the driver
    budget; otherwise the distributed loop runs over it.
    """
    hist = _features(spark, sf_dir).groupBy("y", "x1", "x2", "x3").count()
    rows, frame = session.collect_bounded(hist)
    if rows is None:
        return _train_distributed(frame)
    return _train_local([tuple(r) for r in rows])


@query("quality_classifier_train", oracle=_TRAIN_ORACLE)
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distill the rule-based quality filter into a linear scorer by
    full-batch GD (K=12, lr=2^-12, hard-sigmoid link, exact
    scale-6 integer arithmetic end to end — module docstring).  Output: one
    row per iteration with the pre-update squared loss (micro-units², as
    two exact BIGINT limbs hi/lo at base 10^18 — no decimal-class output
    column) and the post-update weights, i.e. the full verifiable training
    trajectory.
    """
    history, _ = _train(spark, sf_dir)
    rows = [
        (it, *(divmod(loss, _LIMB) if loss is not None else (None, None)), *ws)
        for it, loss, *ws in history
    ]
    return session.local_frame(spark, rows, _TRAIN_SCHEMA)


@query("quality_classifier_predict", oracle=_PREDICT_ORACLE)
def quality_classifier_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-serve composition: run the GD loop, then score every
    document with the FINAL weights as a codegen'd projection (weights are
    literals — scoring 100 TB is one narrow scan, the
    `doc_quality_score_logistic` serving shape with learned instead of
    shipped weights).  Output: doc_id, the rule label, and the scale-6
    hard-sigmoid score.
    """
    _, w = _train(spark, sf_dir)
    # score over a FRESHLY derived (unmaterialized) feature plan, never a
    # training cache: the returned plan is lazy, and referencing a
    # materialized frame would pin a CacheManager entry with no handle for
    # the caller to release (and make repeated cold-run timings silently
    # warm via plan-matched cache reuse).  The weights are literals, so
    # serving is one narrow scan.
    return _features(spark, sf_dir).select(
        "doc_id",
        F.col("y").alias("y_rule"),
        F.expr(_margin_sql(w)).cast("bigint").alias("p_u6"),
    )
