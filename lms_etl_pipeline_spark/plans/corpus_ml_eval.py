"""Corpus-ML evaluation / sketch / mix-assembly plans — the second half of
the corpus-ML plans, split from ``plans/corpus_ml.py`` along
its section boundaries (repo convention: plan modules stay <= ~1,100 LoC).

Families here: dense-ANN recall evaluation, the dataset datasheet profile,
deterministic weighted sampling (Efraimidis-Spirakis), Count-Min heavy
hitters, SemDeDup over LEARNED clusters, PSI drift, language-ID confusion,
budget-constrained training-mix selection, and the events-graph /
co-occurrence analytics.  Shared constants and the k-means/SemDeDup
builders stay in ``plans/corpus_ml`` and are imported from there; scope,
determinism, and oracle conventions are that module's docstring.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.operators import vectors as vec
from lms_etl_pipeline_spark.operators.rank import global_running_sum
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.plans.corpus_ml import (
    _BATCH_MOD,
    _KMEANS_ORACLE,
    _SEMDEDUP_TAU,
    kmeans_lloyd,
    semdedup_embedding,
)
from lms_etl_pipeline_spark.plans.llm import EMB_DIM
from lms_etl_pipeline_spark.sources.tables import load_table

# ---------------------------------------------------------------------------
# Dense-ANN quality measurement: hyperplane-LSH recall vs exact kNN
# ---------------------------------------------------------------------------

_ANN_QIDS = 20
_ANN_K = 3


def _bucket_sql(col: str) -> str:
    """DuckDB fragment: the same literal-hyperplane sign signature the
    engine computes in vectors.hyperplane_bucket (left-assoc double dots
    against the versioned constant matrix => identical bits => identical
    buckets)."""
    from lms_etl_pipeline_spark.plans.llm_similarity import HYPERPLANES

    bits = []
    for j, h in enumerate(HYPERPLANES):
        dot = " + ".join(
            f"CAST({col}[{i + 1}] AS DOUBLE) * ({h[i]!r})"
            for i in range(len(h))
        )
        bits.append(f"(CASE WHEN ({dot}) >= 0 THEN {1 << j} ELSE 0 END)")
    return " + ".join(bits)


def _ann_recall_oracle() -> str:
    exact = vec.cosine_topk_sql(
        f"SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_ANN_QIDS}",
        "SELECT vec_id, embedding FROM embeddings",
        _ANN_K,
        EMB_DIM,
    )
    approx = vec.cosine_topk_sql(
        f"SELECT * FROM bkt WHERE vec_id < {_ANN_QIDS}", "SELECT * FROM bkt", _ANN_K, EMB_DIM, on="bucket"
    )
    return f"""
    WITH bkt AS (SELECT vec_id, embedding,
                        {_bucket_sql("embedding")} AS bucket FROM embeddings),
    exact AS (SELECT q_id, n_id FROM ({exact})),
    approx AS (SELECT q_id, n_id FROM ({approx}))
    SELECT x.q_id, COUNT(*) AS n_true,
           CAST(COALESCE(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_found,
           CAST(COALESCE(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END), 0)
                AS DOUBLE) / COUNT(*) AS recall
    FROM exact x LEFT JOIN approx a ON a.q_id = x.q_id AND a.n_id = x.n_id
    GROUP BY x.q_id
    """


@query("ann_recall_eval", oracle=_ann_recall_oracle())
def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@3 of the hyperplane-LSH approximate kNN
    (`knn_cosine_lsh`) against the exact cosine top-3 — the dense-retrieval
    twin of `lsh_recall_eval`: the approximate path's QUALITY graded as an
    exactly-checkable number (the hyperplane matrix is a versioned literal
    constant, so buckets — and therefore recall — are bit-identical across
    engines).

    Scale: the exact side is a query-set broadcast x linear scan (bounded
    by |queries|); the approximate side is an equi-join on 256 uniform
    bucket keys; the comparison joins two k·|queries|-row lists. This is
    the tuning measurement that says whether 8 hyperplanes are enough
    before trusting the bucketed path on the full corpus."""
    from lms_etl_pipeline_spark.plans.llm_similarity import HYPERPLANES

    e = load_table(spark, sf_dir, "embeddings")
    exact = vec.top_k(vec.cosine_pairs(e.filter(F.col("vec_id") < _ANN_QIDS), e), _ANN_K)
    bucketed = e.select(
        "vec_id",
        "embedding",
        vec.hyperplane_bucket(F.col("embedding"), HYPERPLANES).alias("bucket"),
    )
    approx = vec.top_k(
        vec.cosine_pairs(bucketed.filter(F.col("vec_id") < _ANN_QIDS), bucketed, on="bucket"),
        _ANN_K,
    )
    found = exact.select("q_id", "n_id").join(
        approx.select("q_id", "n_id", F.lit(1).alias("_hit")), ["q_id", "n_id"], "left"
    )
    return found.groupBy("q_id").agg(
        F.count("*").alias("n_true"),
        F.coalesce(F.sum("_hit"), F.lit(0)).alias("n_found"),
        (
            F.coalesce(F.sum("_hit"), F.lit(0)).cast("double") / F.count("*")
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Dataset-card profile (datasheet aggregate)
# ---------------------------------------------------------------------------


@query(
    "corpus_datasheet",
    oracle=f"""
    WITH t AS (SELECT lang, LEN({tx.tokens_sql()}) AS n_toks, n_chars,
                      doc_id % 10 = {_BATCH_MOD} AS in_delta
               FROM documents),
    tot AS (SELECT COUNT(*) AS total_docs, SUM(n_toks) AS total_toks FROM t)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           MIN(n_toks) AS min_tokens,
           MAX(n_toks) AS max_tokens,
           ROUND(CAST(SUM(n_toks) AS DOUBLE)
                 / (SELECT total_toks FROM tot), 6) AS token_share,
           CAST(SUM(CASE WHEN in_delta THEN 1 ELSE 0 END) AS BIGINT)
               AS n_delta_docs
    FROM t GROUP BY lang
    """,
)
def corpus_datasheet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card profile (Gebru et al. datasheet shape): per-language
    document/token/char totals, length extrema, the language's share of the
    token budget, and how much of it arrived in the latest delta — the
    summary table every corpus release publishes and every mixing decision
    reads.

    Scale: one scan, one hash aggregate on a low-cardinality key, corpus
    totals as a 1-row broadcast — the cheapest query in the catalog at any
    scale."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        F.size(tx.tokens("text")).alias("n_toks"),
        "n_chars",
        (F.col("doc_id") % 10 == _BATCH_MOD).alias("in_delta"),
    )
    tot = t.agg(F.sum("n_toks").alias("total_toks"))
    per_lang = t.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.min("n_toks").alias("min_tokens"),
        F.max("n_toks").alias("max_tokens"),
        F.sum(F.when(F.col("in_delta"), 1).otherwise(0)).alias("n_delta_docs"),
    )
    return per_lang.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_tokens",
        "n_chars",
        "min_tokens",
        "max_tokens",
        F.round(
            F.col("n_tokens").cast("double") / F.col("total_toks"), 6
        ).alias("token_share"),
        "n_delta_docs",
    )


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis, deterministic)
# ---------------------------------------------------------------------------

_WS_K = 3
_WS_M = 1 << 30


@query(
    "weighted_sample_es",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang, n_chars,
             ({tx.hash60_sql("CAST(doc_id AS VARCHAR)")}) % {_WS_M} + 1 AS hm
      FROM documents WHERE n_chars > 0),
    keyed AS (
      SELECT doc_id, lang, n_chars,
             ROUND(-LN(CAST(hm AS DOUBLE) / {_WS_M + 1}) / n_chars, 12) AS es_key
      FROM h)
    SELECT lang, doc_id, n_chars, rk, es_key FROM (
      SELECT lang, doc_id, n_chars, es_key,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY es_key, doc_id) AS rk
      FROM keyed)
    WHERE rk <= {_WS_K}
    """,
)
def weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, k=3 per language, via the
    Efraimidis-Spirakis exponential-key trick: each row draws u from a
    content-free hash (not ``rand()``) and ranks by -ln(u)/weight; the k
    smallest keys are a weight-proportional sample. Deterministic, so it is
    exactly differential-testable AND retry/replay-safe — the property
    seeded ``sample()`` cannot give (Spark re-draws per task attempt).

    Scale: one projection computes keys, one per-group top-k window picks
    winners — the same single-shuffle profile as any top-k; weights
    (n_chars) never need normalizing, and the sample is mergeable across
    partitions (min-k of min-ks), which is why this algorithm is THE
    distributed weighted-sampling standard."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    hm = tx.hash60(F.col("doc_id").cast("string")) % _WS_M + 1
    keyed = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.round(
            -F.log(hm.cast("double") / F.lit(float(_WS_M + 1))) / F.col("n_chars"),
            12,
        ).alias("es_key"),
    )
    w = Window.partitionBy("lang").orderBy("es_key", "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _WS_K)
        .select("lang", "doc_id", "n_chars", "rk", "es_key")
    )


# ---------------------------------------------------------------------------
# Count-Min sketch heavy hitters (mergeable stream summary, integer-exact)
# ---------------------------------------------------------------------------

_CMS_D = 4
_CMS_W = 1024
_CMS_TOPK = 10


def _cms_cell_sql(term_expr: str, d: int) -> str:
    salted = f"'{d}|' || {term_expr}"
    return f"({tx.hash60_sql(salted)}) % {_CMS_W}"


def _cms_cell(term, d: int) -> F.Column:
    return tx.hash60(F.concat(F.lit(f"{d}|"), term)) % _CMS_W


def _cms_oracle() -> str:
    cells_union = "\n      UNION ALL ".join(
        f"SELECT {d} AS d, {_cms_cell_sql('term', d)} AS cell, n FROM tc"
        for d in range(_CMS_D)
    )
    est_joins = "\n      ".join(
        f"JOIN cms c{d} ON c{d}.d = {d} AND c{d}.cell = {_cms_cell_sql('t.term', d)}"
        for d in range(_CMS_D)
    )
    least = "LEAST(" + ", ".join(f"c{d}.est" for d in range(_CMS_D)) + ")"
    return f"""
    WITH toks AS (SELECT UNNEST({tx.tokens_sql()}) AS term FROM documents),
    tc AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY term),
    cells AS (
      {cells_union}),
    cms AS (SELECT d, cell, SUM(n) AS est FROM cells GROUP BY d, cell),
    top AS (SELECT term, n FROM tc
            ORDER BY n DESC, term LIMIT {_CMS_TOPK})
    SELECT t.term, t.n AS true_n, CAST({least} AS BIGINT) AS est_n
    FROM top t
      {est_joins}
    """


@query("countmin_heavy_hitters", oracle=_cms_oracle())
def countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (d=4, w=1024, salted-md5 rows) queried for the
    top-10 true heavy hitters, emitting estimated next to true counts —
    the canonical mergeable stream summary with its error made visible
    (est >= true always; equality unless a row collides).

    Scale: the sketch is d·w = 4096 cells REGARDLESS of corpus size — cell
    counts aggregate map-side from one token explode, the whole sketch
    broadcasts, and two sketches merge by cell-wise addition (why CMS is
    the standard for streaming/distributed frequency estimation). The
    salted-md5 row hashes are the same engine-portable family as the
    MinHash pipeline, so every cell (and so every estimate) is an exact
    integer both engines agree on."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(tx.tokens("text")).alias("term"))
    tc = toks.groupBy("term").agg(F.count("*").alias("n"))
    cells = None
    for dep in range(_CMS_D):
        c = tc.select(
            F.lit(dep).alias("d"), _cms_cell(F.col("term"), dep).alias("cell"), "n"
        )
        cells = c if cells is None else cells.unionByName(c)
    cms = cells.groupBy("d", "cell").agg(F.sum("n").alias("est"))
    top = tc.orderBy(F.col("n").desc(), "term").limit(_CMS_TOPK)
    out = top.select("term", F.col("n").alias("true_n"))
    for dep in range(_CMS_D):
        side = cms.filter(F.col("d") == dep).select(
            F.col("cell").alias(f"cell{dep}"), F.col("est").alias(f"est{dep}")
        )
        out = out.join(
            F.broadcast(side),
            _cms_cell(F.col("term"), dep) == F.col(f"cell{dep}"),
        ).drop(f"cell{dep}")
    return out.select(
        "term",
        "true_n",
        F.least(*[F.col(f"est{dep}") for dep in range(_CMS_D)]).alias("est_n"),
    )


# ---------------------------------------------------------------------------
# SemDeDup over LEARNED clusters (the paper's actual composition)
# ---------------------------------------------------------------------------


def _semdedup_kmeans_oracle() -> str:
    """The kmeans_lloyd oracle's assignment chained with the within-
    cluster cosine dedup — the full SemDeDup pipeline in one SQL twin."""
    return f"""
    WITH a2 AS (SELECT vec_id, cluster FROM ({_KMEANS_ORACLE}))
    SELECT a.vec_id, aa.cluster FROM embeddings a
    JOIN a2 aa ON aa.vec_id = a.vec_id
    WHERE NOT EXISTS (
      SELECT 1 FROM embeddings b JOIN a2 bb ON bb.vec_id = b.vec_id
      WHERE bb.cluster = aa.cluster AND b.vec_id < a.vec_id
        AND {vec.cosine_sql("a.embedding", "b.embedding", EMB_DIM)} > {_SEMDEDUP_TAU})
    """


@query("semdedup_kmeans", oracle=_semdedup_kmeans_oracle())
def semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup exactly as the paper composes it: cluster the embeddings
    with k-means (the verified ``kmeans_lloyd`` 2-iteration trainer), then
    within each LEARNED cluster drop every vector cosine-closer than τ to
    an earlier member. ``semdedup_embedding`` anchors the dedup rule on the
    fixture's given labels; this one proves the full pipeline — trainer and
    dedup chained — against a single SQL twin.

    Scale: clustering is k-row-broadcast linear passes; the pairwise
    compare is bounded per learned cluster (k sized so clusters hold ~10⁴
    vectors keeps every block tractable and embarrassingly parallel)."""
    e = load_table(spark, sf_dir, "embeddings")
    assign = kmeans_lloyd(spark, sf_dir).select("vec_id", "cluster")
    # per-row norms below the join: 1 interpreted fold per compared pair
    a = (
        e.select("vec_id", "embedding", vec.norm(F.col("embedding")).alias("_na"))
        .join(assign, "vec_id")
    )
    b = a.select(
        F.col("vec_id").alias("b_id"),
        F.col("cluster").alias("b_cluster"),
        F.col("embedding").alias("b_emb"),
        F.col("_na").alias("_nb"),
    )
    dup = a.join(
        b,
        (F.col("cluster") == F.col("b_cluster"))
        & (F.col("b_id") < F.col("vec_id"))
        & (
            vec.cosine(F.col("embedding"), F.col("b_emb"), F.col("_na"), F.col("_nb"))
            > _SEMDEDUP_TAU
        ),
        "left_semi",
    )
    return a.join(dup.select("vec_id"), "vec_id", "left_anti").select(
        "vec_id", "cluster"
    )


# ---------------------------------------------------------------------------
# Distribution drift: Population Stability Index (delta batch vs index)
# ---------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_MAX_CHARS = 2000  # fixed literal bin range, versioned with the code


@query(
    "psi_drift_report",
    oracle=f"""
    WITH t AS (
      SELECT doc_id % 10 = {_BATCH_MOD} AS in_delta,
             LEAST(GREATEST(
               CAST(FLOOR(CAST(n_chars AS DOUBLE)
                          / {_PSI_MAX_CHARS} * {_PSI_BINS}) AS BIGINT),
               0), {_PSI_BINS - 1}) AS bin
      FROM documents),
    tot AS (SELECT SUM(CASE WHEN in_delta THEN 1 ELSE 0 END) AS nd,
                   SUM(CASE WHEN in_delta THEN 0 ELSE 1 END) AS ni FROM t),
    b AS (SELECT bin,
                 SUM(CASE WHEN in_delta THEN 1 ELSE 0 END) AS d_n,
                 SUM(CASE WHEN in_delta THEN 0 ELSE 1 END) AS i_n
          FROM t GROUP BY bin)
    SELECT bin, CAST(d_n AS BIGINT) AS d_n, CAST(i_n AS BIGINT) AS i_n,
           ROUND(((d_n + 1.0) / (nd + {_PSI_BINS})
                  - (i_n + 1.0) / (ni + {_PSI_BINS}))
                 * LN(((d_n + 1.0) / (nd + {_PSI_BINS}))
                      / ((i_n + 1.0) / (ni + {_PSI_BINS}))), 8)
               AS psi_term
    FROM b CROSS JOIN tot
    """,
)
def psi_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the newest delta batch and the
    existing corpus over the document-length distribution (10 fixed bins,
    add-one smoothed) — the standard production drift monitor; per-bin PSI
    terms sum to the headline PSI a release gate thresholds (<0.1 stable,
    >0.25 investigate).

    Scale: one scan, one 10-group aggregate, totals as a 1-row broadcast.
    Fixed literal bin edges (not data-derived quantiles) keep the monitor
    comparable release-over-release AND make the whole report exact:
    counts are integers, the smoothed ratios exact rationals, one rounded
    ln per bin."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        (F.col("doc_id") % 10 == _BATCH_MOD).alias("in_delta"),
        F.least(
            F.greatest(
                F.floor(
                    F.col("n_chars").cast("double") / _PSI_MAX_CHARS * _PSI_BINS
                ).cast("bigint"),
                F.lit(0),
            ),
            F.lit(_PSI_BINS - 1),
        ).alias("bin"),
    )
    tot = t.agg(
        F.sum(F.when(F.col("in_delta"), 1).otherwise(0)).alias("nd"),
        F.sum(F.when(F.col("in_delta"), 0).otherwise(1)).alias("ni"),
    )
    b = t.groupBy("bin").agg(
        F.sum(F.when(F.col("in_delta"), 1).otherwise(0)).alias("d_n"),
        F.sum(F.when(F.col("in_delta"), 0).otherwise(1)).alias("i_n"),
    )
    dp = (F.col("d_n") + 1.0) / (F.col("nd") + _PSI_BINS)
    ip = (F.col("i_n") + 1.0) / (F.col("ni") + _PSI_BINS)
    return b.crossJoin(F.broadcast(tot)).select(
        "bin",
        "d_n",
        "i_n",
        F.round((dp - ip) * F.log(dp / ip), 8).alias("psi_term"),
    )


# ---------------------------------------------------------------------------
# Classifier evaluation: language-ID confusion matrix vs labels
# ---------------------------------------------------------------------------


@query(
    "lang_id_confusion",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {tx.tokens_sql()} AS toks FROM documents),
    hits AS (
      SELECT doc_id, lang,
             LEN(LIST_FILTER(toks, x -> x IN ('the','a','an','and','of','to','is'))) AS en_hits,
             LEN(LIST_FILTER(toks, x -> x IN ('el','la','de','que','y','los'))) AS es_hits
      FROM t),
    pred AS (
      SELECT lang AS true_lang,
             CASE WHEN en_hits > es_hits THEN 'en'
                  WHEN es_hits > en_hits THEN 'es'
                  WHEN en_hits > 0 THEN 'en'
                  ELSE 'und' END AS pred_lang
      FROM hits)
    SELECT true_lang, pred_lang, COUNT(*) AS n,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (PARTITION BY true_lang), 6) AS row_frac
    FROM pred GROUP BY true_lang, pred_lang
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the marker-word language-ID heuristic
    (`text_language_id`) against the fixture's true labels, with per-true-
    language row fractions — the eval every classifier-driven curation
    filter needs before its predictions gate data (per-class recall falls
    straight out of the diagonal).

    Scale: prediction is the same narrow projection as the classifier;
    the matrix is a |langs|²-bounded aggregate with a window over the
    (tiny) matrix itself. Counts exact; fractions are one rounded
    integer-ratio division."""
    d = load_table(spark, sf_dir, "documents")
    from lms_etl_pipeline_spark.plans.llm import text_language_id

    pred = text_language_id(spark, sf_dir).select("doc_id", "pred_lang")
    joined = d.select("doc_id", F.col("lang").alias("true_lang")).join(pred, "doc_id")
    m = joined.groupBy("true_lang", "pred_lang").agg(F.count("*").alias("n"))
    w = Window.partitionBy("true_lang")
    return m.select(
        "true_lang",
        "pred_lang",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(w), 6).alias("row_frac"),
    )


# ---------------------------------------------------------------------------
# Training-mix assembly: budget-constrained selection
# ---------------------------------------------------------------------------

_BUDGET_TOKENS = 20_000


@query(
    "token_budget_selection",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, LEN({tx.tokens_sql()}) AS n_toks,
             {tx.hash60_sql("CAST(doc_id AS VARCHAR)")} AS hk
      FROM documents),
    ordered AS (
      SELECT doc_id, lang, n_toks,
             CAST(SUM(n_toks) OVER (ORDER BY hk, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS cum_toks
      FROM t)
    SELECT doc_id, lang, n_toks, cum_toks
    FROM ordered WHERE cum_toks <= {_BUDGET_TOKENS}
    """,
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assemble a training mix under a hard token budget: walk the corpus
    in deterministic hash order (an unbiased shuffle, no ``rand()``) and
    admit documents while the running token total stays within budget —
    the "fill exactly N tokens" step every training-mix builder ends with.
    Deterministic order makes the selection reproducible and auditable
    (the cum_toks column IS the audit trail).

    Scale: the running sum spans the WHOLE corpus in hash order, so a
    naive global window would single-partition it.  Instead the exact
    cumulative total comes from operators/rank.py's
    ``global_running_sum`` with the hash key's high 6 bits as the coarse
    bucket (hk is a uniform 60-bit MD5-derived integer, so ``hk >> 54``
    is a pure, monotone, CONSTANT-domain 64-way split): one ordinary
    hash shuffle, a partitioned within-bucket running sum, and a 64-row
    broadcast prefix table — the only unpartitioned window left is over
    those 64 rows (machine-checked by tools/audit_plans.py).  The
    per-(domain, shard) budget variant is
    ``token_budget_selection_sharded``."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.size(tx.tokens("text")).alias("n_toks"),
        tx.hash60(F.col("doc_id").cast("string")).alias("hk"),
    )
    return (
        global_running_sum(
            t,
            "n_toks",
            [F.col("hk").asc(), F.col("doc_id").asc()],
            F.shiftright("hk", 54),
            out_col="cum_toks",
        )
        .filter(F.col("cum_toks") <= _BUDGET_TOKENS)
        .select("doc_id", "lang", "n_toks", "cum_toks")
    )


_BUDGET_TOKENS_PER_LANG = 5_000


@query(
    "token_budget_selection_sharded",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang, LEN({tx.tokens_sql()}) AS n_toks,
             {tx.hash60_sql("CAST(doc_id AS VARCHAR)")} AS hk
      FROM documents),
    ordered AS (
      SELECT doc_id, lang, n_toks,
             CAST(SUM(n_toks) OVER (PARTITION BY lang ORDER BY hk, doc_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS cum_toks
      FROM t)
    SELECT doc_id, lang, n_toks, cum_toks
    FROM ordered WHERE cum_toks <= {_BUDGET_TOKENS_PER_LANG}
    """,
)
def token_budget_selection_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production form of ``token_budget_selection``: a per-shard
    token budget (here per ``lang`` — in a real mix, per (domain, shard)
    with the budget split by the mix weights), so the running-sum window
    is partitioned and parallelism scales with the shard count.  This is
    also the semantically-preferred form: a single global budget lets one
    over-represented language crowd out the rest, while per-lang budgets
    ARE the mixture specification.

    Equivalence to the global anchor is pinned by
    tests/test_rank_operators.py::test_sharded_budget_matches_global_per_lang:
    running the GLOBAL query on a single-lang slice yields exactly this
    query's rows for that lang at the same budget."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.size(tx.tokens("text")).alias("n_toks"),
        tx.hash60(F.col("doc_id").cast("string")).alias("hk"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("hk", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        t.withColumn("cum_toks", F.sum("n_toks").over(w))
        .filter(F.col("cum_toks") <= _BUDGET_TOKENS_PER_LANG)
        .select("doc_id", "lang", "n_toks", "cum_toks")
    )


# ---------------------------------------------------------------------------
# Graph + co-occurrence analytics over the events stream
# ---------------------------------------------------------------------------


@query(
    "triangle_count_cooccur",
    oracle="""
    WITH m AS (
      SELECT DISTINCT user_id, event_type,
             TIME_BUCKET(INTERVAL '5 minutes', ts) AS hb
      FROM events),
    e AS (
      SELECT DISTINCT a.user_id AS a, b.user_id AS b
      FROM m a JOIN m b
        ON a.event_type = b.event_type AND a.hb = b.hb
       AND a.user_id < b.user_id)
    SELECT (SELECT COUNT(*) FROM (SELECT DISTINCT a FROM e
            UNION SELECT DISTINCT b FROM e)) AS n_nodes,
           (SELECT COUNT(*) FROM e) AS n_edges,
           (SELECT COUNT(*)
            FROM e e1 JOIN e e2 ON e2.a = e1.b
                      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b) AS n_triangles
    """,
)
def triangle_count_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the user co-activity graph (users who acted in
    the same 5-minute x event-type cell are adjacent): the standard graph
    clustering-coefficient numerator, used on corpus link/citation graphs
    as a community-structure quality signal next to PageRank.

    Scale: the canonical distributed triangle algorithm — orient every
    edge low-id -> high-id (kills double counting AND bounds the join fan-
    out by out-degree), then wedges = edges ⋈ edges on the middle node and
    triangles = wedges ⋈ edges on the closing pair: all EQUI-joins that
    hash-partition on node ids.  Co-occurrence edges come from per-cell
    self-pairing (same bounded-cell pattern as the LSH band join), never
    an all-users cross join; the 5-minute cell keeps cells sparse."""
    e_ = load_table(spark, sf_dir, "events")
    m = e_.select(
        "user_id", "event_type", F.date_trunc("hour", "ts").alias("_h"),
        (F.floor(F.minute("ts") / 5) * 5).alias("_m5"),
    ).distinct()
    a = m.select("user_id", "event_type", "_h", "_m5")
    b = m.select(
        F.col("user_id").alias("b_user"), "event_type", "_h", "_m5"
    )
    edges = (
        a.join(b, ["event_type", "_h", "_m5"])
        .filter(F.col("user_id") < F.col("b_user"))
        .select(F.col("user_id").alias("a"), F.col("b_user").alias("b"))
        .distinct()
    )
    nodes = edges.select(F.col("a").alias("n")).union(
        edges.select(F.col("b").alias("n"))
    ).distinct()
    e1 = edges
    e2 = edges.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = edges.select(F.col("a").alias("a"), F.col("b").alias("c"))
    wedges = e1.join(e2, "b")
    tris = wedges.join(e3, ["a", "c"])
    return (
        nodes.agg(F.count("*").alias("n_nodes"))
        .crossJoin(edges.agg(F.count("*").alias("n_edges")))
        .crossJoin(tris.agg(F.count("*").alias("n_triangles")))
    )


@query(
    "event_type_itemsets",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id, event_type FROM events)
    SELECT a.event_type AS t1, b.event_type AS t2,
           COUNT(*) AS n_users
    FROM u a JOIN u b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY t1, t2
    """,
)
def event_type_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise itemset support: for every event-type pair, how many users
    exhibit BOTH — the support-counting core of association-rule mining
    (market-basket over behavior types; lift/confidence derive from this
    table plus the unary counts in ``events_type_pivot``).

    Scale: distinct (user, type) first — the stream collapses to at most
    |users| x |types| rows — then a self-equi-join on user_id (both sides
    hash-partition on the same key) and a |types|²-bounded aggregate."""
    e = load_table(spark, sf_dir, "events")
    u = e.select("user_id", "event_type").distinct()
    a = u.select("user_id", F.col("event_type").alias("t1"))
    b = u.select("user_id", F.col("event_type").alias("t2"))
    return (
        a.join(b, "user_id")
        .filter(F.col("t1") < F.col("t2"))
        .groupBy("t1", "t2")
        .agg(F.count("*").alias("n_users"))
    )


# --------------------------------------------------------------------------
# pass@k estimation (code-eval harness aggregate)
# --------------------------------------------------------------------------

def _pass_ratio_sql(k: int) -> str:
    """1 - C(n-c, k)/C(n, k) as a LEFT-ASSOCIATIVE product of k single
    correctly-rounded double divisions ((n-c-i)/(n-i), i ascending) — the
    numerically-stable unbiased estimator form from the HumanEval paper,
    chosen here because every intermediate is deterministic IEEE (no
    factorial overflow for large n, no ROUND knife edges)."""
    prod = " * ".join(
        f"(CAST(n_attempts - n_correct - {i} AS DOUBLE)"
        f" / CAST(n_attempts - {i} AS DOUBLE))"
        for i in range(k)
    )
    return (
        f"CASE WHEN n_attempts >= {k} THEN "
        f"1.0 - (CASE WHEN n_attempts - n_correct >= {k} THEN {prod} "
        f"ELSE 0.0 END) END"
    )


@query(
    "eval_pass_at_k",
    oracle=f"""
    WITH g AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_attempts,
             CAST(SUM(CASE WHEN value > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_correct
      FROM events GROUP BY user_id)
    SELECT user_id, n_attempts, n_correct,
           {_pass_ratio_sql(1)} AS pass_at_1,
           {_pass_ratio_sql(5)} AS pass_at_5
    FROM g
    """,
)
def eval_pass_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pass@k estimation — the code-eval harness aggregate (Chen et al.
    2021, "Evaluating Large Language Models Trained on Code"): each task
    (here: user) has n sampled attempts (events) of which c are correct
    (value > 0 — exercising the fuzzer's negative-metric axis), and the
    unbiased estimator is ``1 - C(n-c, k) / C(n, k)``.

    Exactness: the binomial ratio is evaluated as the left-associative
    product of k individual divisions ``(n-c-i)/(n-i)`` — each division
    is IEEE correctly rounded on exact integer inputs and both engines
    evaluate the identical expression tree, so the doubles are
    bit-identical with NO rounding step (the seed-23 lesson: a cosmetic
    ROUND on a deterministic double only adds divergence risk).  Tasks
    with n < k yield NULL (estimator undefined); n-c < k yields exactly
    1.0.

    Scale: one map-side-combining aggregate over (task, attempts) — no
    window, no shuffle beyond the group-by; the estimator arithmetic is
    per-group scalar math on two BIGINTs.  100 TB of eval logs reduce in
    a single pass.
    """
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_attempts"),
        F.sum(F.when(F.col("value") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
    )
    return g.select(
        "user_id",
        "n_attempts",
        "n_correct",
        F.expr(_pass_ratio_sql(1)).alias("pass_at_1"),
        F.expr(_pass_ratio_sql(5)).alias("pass_at_5"),
    )
