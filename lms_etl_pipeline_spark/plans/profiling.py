"""Distribution profiling, probabilistic membership, and OLAP-composite
plans.

Operators a production data platform runs for corpus QA, membership
indexing, statistics, and profiling that were not yet first-class.
The first wave:

- **Bloom-filter membership probe** (``bloom_filter_probe``) — the mergeable
  bitmap sketch every incremental-ingest pipeline consults before paying for
  a full dedup pass; built with BIT_OR word aggregation, probed with a
  broadcast join, and audited against exact membership truth;
- **duplicated-span detection** (``dup_ngram_spans``) — the Lee et al. 2022
  "Deduplicating Training Data Makes Language Models Better" signal:
  per-document fraction of token positions covered by a corpus-repeated
  8-gram (substring-level dedup, where doc-level fingerprints are blind);
- **token-entropy filter** (``token_entropy_filter``) — Shannon entropy of
  the per-document token distribution, the cheap spam/keyword-stuffing gate
  (low entropy = repeated-token boilerplate);
- **Zipf fit** (``zipf_slope_fit``) — closed-form least-squares slope of
  log-frequency vs log-rank over the top vocabulary, the classic
  natural-language sanity check on a crawled corpus (natural text ≈ -1);
- **PCA power iteration** (``pca_power_iteration``) — top principal
  direction of the mean-centered embedding cloud via two unrolled power
  iterations, the whitening/dimensionality step vector platforms run before
  quantization (and the eigenvector twin of the k-means trainer);
- **association rules** (``assoc_rules_confidence``) — confidence + lift
  over per-user behavior-type pairs (completes ``event_type_itemsets``'s
  support counts into actual rules);
- **equi-depth histogram** (``equidepth_histogram``) — decile-binned
  distribution profile of order totals (the optimizer-statistics /
  data-profiling shape, NTILE-exact rather than interpolated-edge);
- **MAD robust outliers** (``mad_robust_outliers``) — median-absolute-
  deviation outlier rates per event type (the robust twin of the z-score
  filter: immune to the outliers it hunts);
- **ABC / Pareto classification** (``abc_pareto_classification``) — parts
  tiered A/B/C by cumulative revenue share with exact-decimal thresholds;
- **RFM segmentation** (``rfm_segmentation``) — recency/frequency/monetary
  quartile codes per customer, the standard behavioral-cohort cut.

Later waves live in the sibling modules (the <=1100-LoC module-size
convention): ``profiling_distributions`` (overlap matrix,
dedup-savings histogram, seasonal profile, quantile normalization,
length-matching resample, n-gram novelty, key skew, CUSUM, column
profiler, exact SimHash pairs, Flesch, correlation matrix, grouped OLS,
Benford, Gini) and ``profiling_quality`` (token run-length QA, tokenizer
fertility, MIPS retrieval + cosine calibration, exact weighted median,
SymSpell typo mining, SemDeDup sweep, forecast backtest, MDM golden
record, KS drift, Cramer's V, dup rate by source).

Reference parity note: the reference (`/root/reference/src/lms_to_s3_lambda.py`,
`src/s3_to_rds_lambda.py` — a 2-file pandas ETL) has no analytics layer;
these extend the engine along the driver-mandated SURVEY.md §2.12 + LLM
training-data axis like rounds 2-5a.

Determinism / oracle strategy (repo convention, ``functions/numeric.py``):
cross-row double sums go through fixed-scale DECIMAL casts (exact,
order-independent); per-row derived doubles are IEEE-deterministic given
identical inputs; every emitted float is ROUNDed at a fixed scale; flags
and thresholds compare the ROUNDed value so both engines branch on
identical doubles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.functions.numeric import dec_sum
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.plans.corpus_ml import _BATCH_MOD
from lms_etl_pipeline_spark.plans.llm import EMB_DIM
from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.operators.rank import (
    attach_global_rank,
    global_ntile,
    global_running_agg,
    with_uniform_key_buckets,
)
from lms_etl_pipeline_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Bloom-filter membership probe
# --------------------------------------------------------------------------

_BLOOM_M = 8192          # bits
_BLOOM_K = 4             # hash functions
_BLOOM_WORD = 32         # bits per bitmap word (masks stay positive int64)

# Engine-portable position j for a text: md5-prefix bucket of a salted key.
def _bloom_pos_sql(j: int) -> str:
    key = f"CONCAT('bloom{j}|', text)"
    return f"{tx.hash60_sql(key)} % {_BLOOM_M}"


def _bloom_pos(j: int) -> F.Column:
    return tx.hash60(F.concat(F.lit(f"bloom{j}|"), F.col("text"))) % _BLOOM_M


@query(
    "bloom_filter_probe",
    oracle=f"""
    WITH idx AS (SELECT text FROM documents WHERE doc_id % 10 != {_BATCH_MOD}),
    delta AS (SELECT doc_id, text FROM documents
              WHERE doc_id % 10 = {_BATCH_MOD}),
    idx_pos AS (
      SELECT DISTINCT pos FROM idx, (
        SELECT UNNEST(RANGE(0, {_BLOOM_K})) AS j) h,
      LATERAL (SELECT CASE h.j
        {"".join(f"WHEN {j} THEN ({_bloom_pos_sql(j)}) " for j in range(_BLOOM_K))}
        END AS pos) p),
    bitmap AS (
      SELECT pos // {_BLOOM_WORD} AS word,
             BIT_OR(CAST(POWER(2, pos % {_BLOOM_WORD}) AS BIGINT)) AS bm
      FROM idx_pos GROUP BY 1),
    probe AS (
      SELECT d.doc_id, d.text, CASE h.j
        {"".join(f"WHEN {j} THEN ({_bloom_pos_sql(j)}) " for j in range(_BLOOM_K))}
        END AS pos
      FROM delta d, (SELECT UNNEST(RANGE(0, {_BLOOM_K})) AS j) h),
    hits AS (
      SELECT p.doc_id,
             CAST(SUM(CASE WHEN b.bm IS NOT NULL
                        AND (b.bm & CAST(POWER(2, p.pos % {_BLOOM_WORD}) AS BIGINT))
                            != 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
      FROM probe p LEFT JOIN bitmap b ON p.pos // {_BLOOM_WORD} = b.word
      GROUP BY p.doc_id)
    SELECT h.doc_id, h.n_hit,
           h.n_hit = {_BLOOM_K} AS bloom_member,
           EXISTS (SELECT 1 FROM idx i
                   JOIN delta dd ON dd.doc_id = h.doc_id AND i.text = dd.text)
               AS exact_member
    FROM hits h
    """,
)
def bloom_filter_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe of the delta batch against the index
    corpus: build an m={8192}-bit, k={4}-hash Bloom bitmap over index
    document texts, probe every delta document, and audit the sketch's
    answer against exact membership (``bloom_member`` may false-positive,
    never false-negative — the audit column makes that checkable).

    The salted-md5 positions are the same engine-portable hash family as
    the Count-Min/minhash plans, so bitmap and probe are bit-identical
    across engines and the whole sketch is exactly differential-testable.

    Scale: the bitmap is ≤ m/{32} = {256} words NO MATTER the corpus size —
    built with one map-side-combining BIT_OR aggregate (mergeable across
    partitions/shards by construction: OR is associative+commutative) and
    broadcast to the probe join.  Probing is k narrow projections + a
    broadcast hash join; the index corpus is scanned once, never shuffled.
    The exact-membership audit column is the only part that joins the full
    index (broadcast semi-join on the delta side, delta-sized output);
    at 100 TB you ship only the 256-word bitmap.

    Reference parity: the reference's load side re-reads its whole target
    table to decide inserts vs updates (/root/reference/src/s3_to_rds_lambda.py
    ON CONFLICT upsert); a Bloom pre-filter is the sketch that makes that
    membership question O(1)-sized at scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    idx = docs.filter(F.col("doc_id") % 10 != _BATCH_MOD).select("text")
    delta = docs.filter(F.col("doc_id") % 10 == _BATCH_MOD).select(
        "doc_id", "text"
    )
    positions = F.array(*[_bloom_pos(j) for j in range(_BLOOM_K)])
    mask = F.pow(F.lit(2.0), (F.col("pos") % _BLOOM_WORD).cast("double")).cast(
        "bigint"
    )
    bitmap = (
        idx.select(F.explode(positions).alias("pos"))
        .select((F.col("pos") / _BLOOM_WORD).cast("bigint").alias("word"),
                mask.alias("mask"))
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bm"))
    )
    probe = delta.select(
        "doc_id", F.explode(positions).alias("pos")
    ).select(
        "doc_id",
        (F.col("pos") / _BLOOM_WORD).cast("bigint").alias("word"),
        mask.alias("mask"),
    )
    hits = (
        probe.join(F.broadcast(bitmap), "word", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("bm").isNotNull()
                    & (F.col("bm").bitwiseAND(F.col("mask")) != 0),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_hit")
        )
    )
    exact = delta.join(
        idx.distinct().withColumn("exact_member", F.lit(True)),
        "text",
        "left",
    ).select("doc_id", F.coalesce("exact_member", F.lit(False)).alias("exact_member"))
    return (
        hits.join(exact, "doc_id")
        .select(
            "doc_id",
            "n_hit",
            (F.col("n_hit") == _BLOOM_K).alias("bloom_member"),
            "exact_member",
        )
    )


# --------------------------------------------------------------------------
# Duplicated-span detection (substring-level dedup signal)
# --------------------------------------------------------------------------

_SPAN_N = 8  # tokens per gram


@query(
    "dup_ngram_spans",
    oracle=f"""
    WITH t AS (SELECT doc_id, {tx.tokens_sql()} AS toks FROM documents),
    grams AS (
      SELECT doc_id, UNNEST(g.i) AS pos,
             ARRAY_TO_STRING(LIST_SLICE(toks, UNNEST(g.i),
                                        UNNEST(g.i) + {_SPAN_N - 1}), ' ') AS gram
      FROM t, LATERAL (SELECT RANGE(1, GREATEST(LEN(toks) - {_SPAN_N - 2}, 1))
                       AS i) g),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
    covered AS (
      SELECT DISTINCT g.doc_id, UNNEST(RANGE(g.pos, g.pos + {_SPAN_N})) AS p
      FROM grams g JOIN dup USING (gram))
    SELECT t.doc_id, CAST(LEN(t.toks) AS BIGINT) AS n_toks,
           CAST(COALESCE(c.n_dup, 0) AS BIGINT) AS n_dup_pos,
           ROUND(CAST(COALESCE(c.n_dup, 0) AS DOUBLE)
                 / GREATEST(LEN(t.toks), 1), 6) AS dup_frac
    FROM t LEFT JOIN (SELECT doc_id, COUNT(*) AS n_dup FROM covered
                      GROUP BY doc_id) c USING (doc_id)
    """,
)
def dup_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication signal (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"): for every document, the
    number and fraction of token positions covered by an {8}-gram that
    occurs at least twice corpus-wide (including within one document).
    Doc-level fingerprints are blind to these partial overlaps; this is the
    per-position view an exact-substring dedup pass removes.

    Scale: grams are a map-only zip-of-slices projection; the repeat test
    is one map-side-combining COUNT per gram (term-keyed, uniformly
    hash-distributed); cover-back is an equi-join on the gram string
    followed by a bounded position explode ({8} rows per duplicated gram)
    and a distinct — no self-join of documents, no suffix array, work
    linear in corpus grams + duplicated-gram hits.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tx.tokens("text").alias("toks"))
    n = F.size("toks")
    # Guard short docs explicitly: sequence(1, 0) in Spark is the
    # DESCENDING [1, 0] (not empty!), whose 0 start then aborts slice() —
    # a document under {span} tokens has no spans (same guard as
    # operators.text.shingles; hostile-text fixture sweep).
    starts = F.when(
        n >= _SPAN_N, F.sequence(F.lit(1), n - (_SPAN_N - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = t.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice("toks", i, _SPAN_N), " ").alias("gram"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.pos", "g.gram")
    dup = grams.groupBy("gram").count().filter(F.col("count") >= 2).select("gram")
    covered = (
        grams.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (_SPAN_N - 1))
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_dup"))
    )
    return (
        t.join(covered, "doc_id", "left")
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_toks"),
            F.coalesce("n_dup", F.lit(0)).cast("bigint").alias("n_dup_pos"),
            F.round(
                F.coalesce("n_dup", F.lit(0)).cast("double")
                / F.greatest(F.size("toks"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


@query(
    "dup_span_removal",
    oracle=f"""
    WITH t AS (SELECT doc_id, {{toks}} AS toks FROM documents),
    grams AS (
      SELECT doc_id, UNNEST(g.i) AS pos,
             ARRAY_TO_STRING(LIST_SLICE(toks, UNNEST(g.i),
                                        UNNEST(g.i) + {{n1}}), ' ') AS gram
      FROM t, LATERAL (SELECT RANGE(1, GREATEST(LEN(toks) - {{n2}}, 1))
                       AS i) g),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
    covered AS (
      SELECT DISTINCT g.doc_id, UNNEST(RANGE(g.pos, g.pos + {{n}})) AS p
      FROM grams g JOIN dup USING (gram)),
    cov AS (SELECT doc_id, LIST(p) AS cov FROM covered GROUP BY doc_id),
    k AS (SELECT t.doc_id, t.toks,
                 LIST_TRANSFORM(
                   LIST_FILTER(RANGE(1, LEN(t.toks) + 1),
                               i -> NOT LIST_CONTAINS(
                                      COALESCE(c.cov, CAST([] AS BIGINT[])),
                                      i)),
                   i -> t.toks[i]) AS kept
          FROM t LEFT JOIN cov c USING (doc_id))
    SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS n_toks,
           CAST(LEN(kept) AS BIGINT) AS n_kept,
           -- DuckDB ARRAY_TO_STRING([]) is NULL; Spark array_join([]) is ''
           COALESCE(ARRAY_TO_STRING(kept, ' '), '') AS cleaned_text
    FROM k
    """.format(toks=tx.tokens_sql(), n=_SPAN_N, n1=_SPAN_N - 1, n2=_SPAN_N - 2),
)
def dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REMOVAL half of substring-level dedup (Lee et al. 2022): rewrite
    every document keeping only the token positions NOT covered by an
    {8}-gram that repeats corpus-wide — ``dup_ngram_spans`` is the signal,
    this is the transform a pretraining pipeline actually applies.

    Documented divergence from the paper: Lee et al. keep ONE occurrence
    of each duplicated span (requires a global ordering of occurrences);
    this removes ALL covered positions — the conservative variant whose
    output is independent of any occurrence order, hence deterministic
    under any partitioning.

    Scale: identical dataflow to ``dup_ngram_spans`` (map-only gram
    projection, term-keyed repeat count, gram-keyed cover-back join — no
    doc self-join, no suffix array) plus ONE per-doc membership filter:
    the covered-position set is doc-length-bounded, so the rewrite is
    O(doc_len^2) worst-case PER DOCUMENT and embarrassingly parallel.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tx.tokens("text").alias("toks"))
    n = F.size("toks")
    starts = F.when(
        n >= _SPAN_N, F.sequence(F.lit(1), n - (_SPAN_N - 1))
    ).otherwise(F.array().cast("array<int>"))
    grams = t.select(
        "doc_id",
        F.explode(
            F.transform(
                starts,
                lambda i: F.struct(
                    i.alias("pos"),
                    F.array_join(F.slice("toks", i, _SPAN_N), " ").alias("gram"),
                ),
            )
        ).alias("g"),
    ).select("doc_id", "g.pos", "g.gram")
    dup = grams.groupBy("gram").count().filter(F.col("count") >= 2).select("gram")
    cov = (
        grams.join(dup, "gram")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + (_SPAN_N - 1))
            ).alias("p"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.collect_list("p").alias("cov"))
    )
    cov_or_empty = F.coalesce(F.col("cov"), F.array().cast("array<int>"))
    kept = F.filter(
        "toks", lambda tok, i: ~F.array_contains(cov_or_empty, i + F.lit(1))
    )
    return (
        t.join(cov, "doc_id", "left")
        .select("doc_id", "toks", kept.alias("kept"))
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_toks"),
            F.size("kept").cast("bigint").alias("n_kept"),
            F.array_join("kept", " ").alias("cleaned_text"),
        )
    )


# --------------------------------------------------------------------------
# Token-entropy quality filter
# --------------------------------------------------------------------------

_ENTROPY_MIN = 2.5  # bits; below = repeated-token boilerplate


@query(
    "token_entropy_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, {tx.tokens_sql()} AS toks FROM documents),
    counts AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, UNNEST(toks) AS tok FROM t) x
      GROUP BY doc_id, tok),
    ent AS (
      SELECT c.doc_id,
             CAST(SUM(CAST(c.c * LOG2(c.c) AS DECIMAL(38,12))) AS DOUBLE)
                 AS s_clog
      FROM counts c GROUP BY c.doc_id)
    SELECT t.doc_id, CAST(LEN(t.toks) AS BIGINT) AS n_toks,
           ROUND(LOG2(LEN(t.toks)) - e.s_clog / LEN(t.toks), 6) AS entropy_bits,
           ROUND(LOG2(LEN(t.toks)) - e.s_clog / LEN(t.toks), 6)
               < {_ENTROPY_MIN} AS low_entropy
    FROM t JOIN ent e USING (doc_id) WHERE LEN(t.toks) > 0
    """,
)
def token_entropy_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each document's token distribution, in bits:
    H = log2(N) - (Σ c·log2 c)/N over per-token counts c.  Low entropy
    means a few tokens dominate — the cheap spam/keyword-stuffing/
    template-page gate run before any model-based scorer (CCNet and C4
    both ship entropy-family heuristics).

    Determinism: each c·log2(c) term is computed once in double (IEEE-
    deterministic), cast to DECIMAL(38,12) and summed exactly, so the
    cross-row sum is order-independent; the final H is rounded and the
    ``low_entropy`` flag compares the ROUNDed value — both engines branch
    on identical doubles.

    Scale: one explode + two map-side-combining aggregates keyed by
    (doc_id[, token]) — uniformly distributed, no joins wider than the
    per-doc count table, no Python.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tx.tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    counts = (
        t.select("doc_id", F.explode("toks").alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    ent = counts.groupBy("doc_id").agg(
        F.sum(
            (F.col("c") * F.log2("c")).cast("decimal(38,12)")
        )
        .cast("double")
        .alias("s_clog")
    )
    h = F.round(F.log2(F.size("toks")) - F.col("s_clog") / F.size("toks"), 6)
    return (
        t.join(ent, "doc_id")
        .select(
            "doc_id",
            F.size("toks").cast("bigint").alias("n_toks"),
            h.alias("entropy_bits"),
            (h < _ENTROPY_MIN).alias("low_entropy"),
        )
    )


# --------------------------------------------------------------------------
# Zipf's-law fit over the top vocabulary
# --------------------------------------------------------------------------

_ZIPF_TOPN = 100


@query(
    "zipf_slope_fit",
    oracle=f"""
    WITH counts AS (
      SELECT tok, COUNT(*) AS n
      FROM (SELECT UNNEST({tx.tokens_sql()}) AS tok FROM documents) x
      GROUP BY tok),
    top AS (
      SELECT tok, n, ROW_NUMBER() OVER (ORDER BY n DESC, tok) AS rk
      FROM counts ORDER BY n DESC, tok LIMIT {_ZIPF_TOPN}),
    terms AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CAST(LN(rk) AS DECIMAL(38,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(LN(n) AS DECIMAL(38,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(LN(rk) * LN(rk) AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(LN(rk) * LN(n) AS DECIMAL(38,12))) AS DOUBLE) AS sxy
      FROM top)
    SELECT m AS n_terms,
           ROUND((sxy - sx * sy / m) / (sxx - sx * sx / m), 6) AS slope,
           ROUND(sy / m - (sxy - sx * sy / m) / (sxx - sx * sx / m) * sx / m, 6)
               AS intercept
    FROM terms
    """,
)
def zipf_slope_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law check: closed-form least-squares fit of ln(frequency)
    against ln(rank) over the top-{100} vocabulary.  Natural language sits
    near slope -1; a synthetic or boilerplate-heavy corpus drifts off —
    the one-number distributional sanity gate on any new crawl source.

    Determinism: ranks come from an exact count with a deterministic
    tie-break (count desc, token asc); each regression term is one IEEE
    double product cast to DECIMAL(38,12) and summed exactly; the final
    slope/intercept arithmetic is identical double math on both engines.

    Scale: one map-side-combining token count, a top-{100}
    TakeOrderedAndProject (never a global sort of the vocabulary), and a
    {100}-row aggregate.  Output is one row.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(tx.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(_ZIPF_TOPN)
    )
    w = Window.orderBy(F.col("n").desc(), "tok")
    top = counts.select("tok", "n", F.row_number().over(w).alias("rk"))
    lx, ly = F.log(F.col("rk").cast("double")), F.log(F.col("n").cast("double"))
    terms = top.agg(
        F.count("*").cast("bigint").alias("m"),
        F.sum(lx.cast("decimal(38,12)")).cast("double").alias("sx"),
        F.sum(ly.cast("decimal(38,12)")).cast("double").alias("sy"),
        F.sum((lx * lx).cast("decimal(38,12)")).cast("double").alias("sxx"),
        F.sum((lx * ly).cast("decimal(38,12)")).cast("double").alias("sxy"),
    )
    slope = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("m")) / (
        F.col("sxx") - F.col("sx") * F.col("sx") / F.col("m")
    )
    return terms.select(
        F.col("m").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(F.col("sy") / F.col("m") - slope * F.col("sx") / F.col("m"), 6)
        .alias("intercept"),
    )


# --------------------------------------------------------------------------
# PCA top principal direction via unrolled power iteration
# --------------------------------------------------------------------------


@query(
    "pca_power_iteration",
    oracle=f"""
    WITH x AS (
      SELECT e.vec_id, d.i, CAST(e.embedding[d.i] AS DOUBLE) AS x
      FROM embeddings e, (SELECT UNNEST(RANGE(1, {EMB_DIM} + 1)) AS i) d),
    mu AS (
      SELECT i, CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS mu
      FROM x GROUP BY i),
    c AS (SELECT x.vec_id, x.i, x.x - mu.mu AS cx FROM x JOIN mu USING (i)),
    s1 AS (
      SELECT vec_id,
             CAST(SUM(CAST(cx * 0.125 AS DECIMAL(38,12))) AS DOUBLE) AS s
      FROM c GROUP BY vec_id),
    w1 AS (
      SELECT c.i,
             CAST(SUM(CAST(c.cx * s1.s AS DECIMAL(38,12))) AS DOUBLE) AS w
      FROM c JOIN s1 USING (vec_id) GROUP BY c.i),
    n1 AS (SELECT SQRT(CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE))
               AS nrm FROM w1),
    v1 AS (SELECT i, w / (SELECT nrm FROM n1) AS v FROM w1),
    s2 AS (
      SELECT c.vec_id,
             CAST(SUM(CAST(c.cx * v1.v AS DECIMAL(38,12))) AS DOUBLE) AS s
      FROM c JOIN v1 USING (i) GROUP BY c.vec_id),
    w2 AS (
      SELECT c.i,
             CAST(SUM(CAST(c.cx * s2.s AS DECIMAL(38,12))) AS DOUBLE) AS w
      FROM c JOIN s2 USING (vec_id) GROUP BY c.i),
    n2 AS (SELECT SQRT(CAST(SUM(CAST(w * w AS DECIMAL(38,12))) AS DOUBLE))
               AS nrm FROM w2)
    SELECT CAST(i AS BIGINT) AS dim,
           ROUND(w / (SELECT nrm FROM n2), 6) AS loading,
           ROUND((SELECT nrm FROM n2), 4) AS eigval_est
    FROM w2
    """,
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the mean-centered embedding cloud via two
    unrolled power iterations (v0 = uniform 1/8 vector, exactly
    representable): v_{{t+1}} ∝ Σ_r (x_r-μ)·⟨x_r-μ, v_t⟩.  This is the
    whitening / dominant-direction step vector platforms run before
    quantization or anisotropic-similarity correction, and the eigen-twin
    of the k-means trainer (``kmeans_lloyd``).  ``eigval_est`` is the
    Rayleigh-quotient estimate ‖A v₁‖ of the top covariance eigenvalue.

    Never materializes the d×d covariance: each iteration is two linear
    passes in long (row, dim, value) form — per-row projections ⟨x_r-μ, v⟩
    (group by vec_id), then the weighted recombination (group by dim).
    Cross-row sums are DECIMAL(38,12)-cast (order-independent); all
    per-term products are IEEE doubles identical on both engines.

    Scale: work is O(N·d) per iteration with only equi-joins on vec_id/dim
    (the μ and v tables are d = {EMB_DIM} rows, broadcast); no collect, no
    d² blow-up, partitioning-invariant by the decimal-sum convention.
    """
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("i0", "xf")
    ).select(
        "vec_id",
        (F.col("i0") + 1).alias("i"),
        F.col("xf").cast("double").alias("x"),
    )
    dec = lambda c: F.sum(c.cast("decimal(38,12)")).cast("double")  # noqa: E731
    mu = x.groupBy("i").agg(
        (dec(F.col("x")) / F.count("*")).alias("mu")
    )
    c = x.join(F.broadcast(mu), "i").select(
        "vec_id", "i", (F.col("x") - F.col("mu")).alias("cx")
    )
    s1 = c.groupBy("vec_id").agg(dec(F.col("cx") * F.lit(0.125)).alias("s"))
    w1 = (
        c.join(s1, "vec_id")
        .groupBy("i")
        .agg(dec(F.col("cx") * F.col("s")).alias("w"))
    )
    n1 = w1.agg(F.sqrt(dec(F.col("w") * F.col("w"))).alias("nrm"))
    # try_divide: a single-vector (or all-identical) corpus centers to
    # the zero vector — norm 0, direction undefined => NULL, not an
    # ANSI abort (n=1 fixture sweep)
    v1 = w1.crossJoin(F.broadcast(n1)).select(
        "i", F.try_divide(F.col("w"), F.col("nrm")).alias("v")
    )
    s2 = (
        c.join(F.broadcast(v1), "i")
        .groupBy("vec_id")
        .agg(dec(F.col("cx") * F.col("v")).alias("s"))
    )
    w2 = (
        c.join(s2, "vec_id")
        .groupBy("i")
        .agg(dec(F.col("cx") * F.col("s")).alias("w"))
    )
    n2 = w2.agg(F.sqrt(dec(F.col("w") * F.col("w"))).alias("nrm"))
    return w2.crossJoin(F.broadcast(n2)).select(
        F.col("i").cast("bigint").alias("dim"),
        F.round(F.try_divide(F.col("w"), F.col("nrm")), 6).alias("loading"),
        F.round(F.col("nrm"), 4).alias("eigval_est"),
    )


# --------------------------------------------------------------------------
# Association rules over per-user behavior types
# --------------------------------------------------------------------------

_RULE_MIN_SUPPORT = 5


@query(
    "assoc_rules_confidence",
    oracle=f"""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    n_users AS (SELECT COUNT(DISTINCT user_id) AS nu FROM ut),
    singles AS (SELECT event_type, COUNT(*) AS n FROM ut GROUP BY event_type),
    pairs AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             COUNT(*) AS n_ab
      FROM ut a JOIN ut b
        ON a.user_id = b.user_id AND a.event_type != b.event_type
      GROUP BY 1, 2)
    SELECT p.antecedent, p.consequent,
           CAST(p.n_ab AS BIGINT) AS n_ab,
           CAST(sa.n AS BIGINT) AS n_ante,
           CAST(sb.n AS BIGINT) AS n_cons,
           ROUND(CAST(p.n_ab AS DOUBLE) / sa.n, 6) AS confidence,
           ROUND(CAST(p.n_ab AS DOUBLE) * (SELECT nu FROM n_users)
                 / (CAST(sa.n AS DOUBLE) * sb.n), 6) AS lift
    FROM pairs p
    JOIN singles sa ON sa.event_type = p.antecedent
    JOIN singles sb ON sb.event_type = p.consequent
    WHERE p.n_ab >= {_RULE_MIN_SUPPORT}
    """,
)
def assoc_rules_confidence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules antecedent→consequent over per-user behavior-type
    sets: exact support, confidence n_ab/n_a, and lift
    n_ab·N/(n_a·n_b) for every directed type pair above min-support —
    the rule-emission half of market-basket mining
    (``event_type_itemsets`` is the support-counting half).

    Determinism: all counts exact integers; confidence/lift are single
    double divisions of identical integers, rounded.

    Scale: the distinct collapse shrinks events to ≤ |users|·|types| rows;
    the pair join is keyed on user_id (equi-join on the natural
    partitioning); the singles table and the 1-row user count are
    broadcast.  |types| is small and bounded, so output is ≤ |types|².
    """
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    nu = ut.agg(F.countDistinct("user_id").alias("nu"))
    singles = ut.groupBy("event_type").agg(F.count("*").alias("n"))
    pairs = (
        ut.alias("a")
        .join(ut.alias("b"), "user_id")
        .filter(F.col("a.event_type") != F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("antecedent"),
            F.col("b.event_type").alias("consequent"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= _RULE_MIN_SUPPORT)
    )
    sa = singles.select(
        F.col("event_type").alias("antecedent"), F.col("n").alias("n_ante")
    )
    sb = singles.select(
        F.col("event_type").alias("consequent"), F.col("n").alias("n_cons")
    )
    return (
        pairs.join(F.broadcast(sa), "antecedent")
        .join(F.broadcast(sb), "consequent")
        .crossJoin(F.broadcast(nu))
        .select(
            "antecedent",
            "consequent",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.col("n_ante").cast("bigint").alias("n_ante"),
            F.col("n_cons").cast("bigint").alias("n_cons"),
            F.round(F.col("n_ab").cast("double") / F.col("n_ante"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("n_ab").cast("double")
                * F.col("nu")
                / (F.col("n_ante").cast("double") * F.col("n_cons")),
                6,
            ).alias("lift"),
        )
    )


# --------------------------------------------------------------------------
# Equi-depth histogram of order totals
# --------------------------------------------------------------------------

_HIST_BINS = 10


@query(
    "equidepth_histogram",
    oracle=f"""
    WITH b AS (
      SELECT o_totalprice,
             NTILE({_HIST_BINS}) OVER (ORDER BY o_totalprice, o_orderkey)
                 AS bin
      FROM orders)
    SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_orders,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
               AS sum_total
    FROM b GROUP BY bin
    """,
)
def equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (equal-height) histogram of order totals in {10} bins —
    the distribution profile optimizers and data-profiling jobs keep per
    column.  NTILE over a deterministic total order makes the bin
    boundaries EXACT (no interpolated edges, no knife-edge float
    comparisons), so the whole profile is bit-checkable.

    Scale: the NTILE spans ALL of orders, so a naive global window would
    single-partition the fact table.  Instead the exact bin comes from
    operators/rank.py's ``global_ntile`` over a data-dependent monotone
    coarse key — ``width_bucket(o_totalprice, min, max, 64)`` from a
    1-row broadcast of the exact (min, max) (``with_uniform_key_buckets``;
    deterministic, so every plan branch agrees on the assignment): one
    ordinary hash shuffle + a <=66-row broadcast prefix table.  The
    aggregate itself is map-side combining on {10} keys; min/max/sum are
    raw-value passthroughs + exact decimal.
    """
    o = load_table(spark, sf_dir, "orders")
    tagged = with_uniform_key_buckets(
        o.select("o_totalprice", "o_orderkey"), "o_totalprice"
    )
    return (
        global_ntile(
            tagged,
            _HIST_BINS,
            [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()],
            F.col("_gbk"),
            bucket_col="bin",
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            dec_sum("o_totalprice", "sum_total"),
        )
    )


# --------------------------------------------------------------------------
# MAD (median-absolute-deviation) robust outlier rates
# --------------------------------------------------------------------------


@query(
    "mad_robust_outliers",
    oracle="""
    WITH med AS (
      SELECT event_type,
             ROUND(QUANTILE_CONT(value, 0.5), 6) AS med
      FROM events GROUP BY event_type),
    dev AS (
      SELECT e.event_type, e.value, m.med,
             ROUND(ABS(e.value - m.med), 6) AS adev
      FROM events e JOIN med m USING (event_type)),
    mad AS (
      SELECT event_type, ROUND(QUANTILE_CONT(adev, 0.5), 6) AS mad
      FROM dev GROUP BY event_type)
    SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ANY_VALUE(d.med) AS med, ANY_VALUE(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.adev > ROUND(3 * 1.4826 * m.mad, 6)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier rates per event type via median absolute deviation:
    flag |x - median| > 3·1.4826·MAD (the normal-consistent robust sigma).
    Unlike the z-score filter (``doc_zscore_normalize``), the threshold
    itself is immune to the outliers it hunts — the robust-statistics twin
    every metrics pipeline keeps next to the mean/σ one.

    Determinism: medians are exact PERCENTILE_CONT values ROUNDed at scale
    6 before any downstream arithmetic, so deviations, the MAD, and the
    threshold are identical doubles on both engines and the outlier
    comparison is never a cross-engine knife edge.

    Scale: two aggregate passes keyed by event_type (bounded key count,
    map-side combining) with the k-row median table broadcast back —
    no windows, no sort of the full relation.
    """
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.round(F.abs(F.col("value") - F.col("med")), 6).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad")
    )
    thr = F.round(F.lit(3 * 1.4826) * F.col("mad"), 6)
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.any_value("med").alias("med"),
            F.any_value("mad").alias("mad"),
            F.sum(F.when(F.col("adev") > thr, 1).otherwise(0))
            .cast("bigint")
            .alias("n_outliers"),
        )
    )


# --------------------------------------------------------------------------
# ABC / Pareto classification of parts by revenue
# --------------------------------------------------------------------------

_REV_DEC = "CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(12,2))"


@query(
    "abc_pareto_classification",
    oracle=f"""
    WITH rev AS (
      SELECT l_partkey, SUM({_REV_DEC}) AS rev
      FROM lineitem GROUP BY l_partkey),
    ranked AS (
      SELECT l_partkey, rev,
             ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS rk,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey
                            ROWS UNBOUNDED PRECEDING) AS cum_rev,
             SUM(rev) OVER () AS total_rev
      FROM rev)
    SELECT l_partkey, CAST(ROUND(rev, 4) AS DOUBLE) AS revenue, rk,
           CASE WHEN cum_rev * 100 <= total_rev * 70 THEN 'A'
                WHEN cum_rev * 100 <= total_rev * 90 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def abc_pareto_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification: rank parts by total revenue and tier
    them A/B/C at 70% / 90% cumulative revenue share — the classic
    inventory-analytics composite (rank + running total + share threshold
    in one pass).

    Determinism: revenue, the running total, and the class thresholds all
    stay in EXACT decimal arithmetic (``cum·100 ≤ total·70`` instead of a
    float share), so the tier boundary is never a floating knife edge;
    only the emitted ``revenue`` column is rounded out to double.

    Scale: the per-part aggregate is map-side combining on l_partkey; the
    global rank and running revenue total run over the |part|-sized
    AGGREGATE through operators/rank.py (uniform buckets on the negated
    revenue — the order is rev DESC — then partitioned rank + prefix
    offsets), so even a part catalog that grows with the corpus never
    single-partitions; the grand total is the standard 1-row broadcast
    (ALLOW_CROSS).
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev_expr = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(12,2)")
    rev = li.groupBy("l_partkey").agg(F.sum(rev_expr).alias("rev"))
    order = [F.col("rev").desc(), F.col("l_partkey").asc()]
    tagged = with_uniform_key_buckets(
        rev.withColumn("_negrev", (-F.col("rev")).cast("double")),
        "_negrev",
        nulls="last",
    )
    ranked = global_running_agg(
        attach_global_rank(tagged, order, F.col("_gbk"), rank_col="rk"),
        "rev",
        order,
        F.col("_gbk"),
        out_col="cum_rev",
        agg="sum",
    ).crossJoin(
        F.broadcast(rev.agg(F.sum("rev").alias("total_rev")))
    )
    return ranked.select(
        "l_partkey",
        F.round("rev", 4).cast("double").alias("revenue"),
        "rk",
        F.when(F.col("cum_rev") * 100 <= F.col("total_rev") * 70, "A")
        .when(F.col("cum_rev") * 100 <= F.col("total_rev") * 90, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


# --------------------------------------------------------------------------
# RFM customer segmentation
# --------------------------------------------------------------------------


@query(
    "rfm_segmentation",
    oracle="""
    WITH anchor AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d0 FROM orders),
    base AS (
      SELECT o_custkey,
             DATE_DIFF('day', MAX(CAST(o_orderdate AS DATE)),
                       (SELECT d0 FROM anchor)) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS monetary_dec
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT o_custkey, recency_days, n_orders,
             CAST(monetary_dec AS DOUBLE) AS monetary,
             NTILE(4) OVER (ORDER BY recency_days, o_custkey) AS r_q,
             NTILE(4) OVER (ORDER BY n_orders DESC, o_custkey) AS f_q,
             NTILE(4) OVER (ORDER BY monetary_dec DESC, o_custkey) AS m_q
      FROM base)
    SELECT o_custkey, recency_days, n_orders, monetary, r_q, f_q, m_q,
           CONCAT(r_q, f_q, m_q) AS segment
    FROM scored
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, days since last order (vs the
    corpus max order date), order count, and exact-decimal monetary total,
    each cut into quartiles (1 = best) and concatenated into the classic
    3-digit segment code — the standard behavioral-cohort composite.

    Determinism: recency/frequency are exact integers, monetary quartiles
    are ordered on the EXACT decimal (ties broken by custkey), and NTILE
    over a deterministic total order is exact — no float anywhere until
    the emitted monetary column.

    Scale: one map-side-combining aggregate on o_custkey, then three
    exact quartile cuts over the CUSTOMER-sized aggregate via
    operators/rank.py ``global_ntile`` (uniform buckets on each cut key,
    negated for the DESC cuts) — three ordinary hash shuffles, no
    single-partition window even as the customer base scales with the
    corpus; the 1-row anchor date is a broadcast.
    """
    o = load_table(spark, sf_dir, "orders")
    anchor = o.agg(F.max(F.to_date("o_orderdate")).alias("d0"))
    base = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_d"),
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias(
                "monetary_dec"
            ),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "o_custkey",
            F.datediff("d0", "last_d").alias("recency_days"),
            "n_orders",
            "monetary_dec",
        )
    )
    t1 = global_ntile(
        with_uniform_key_buckets(base, "recency_days"),
        4,
        [F.col("recency_days").asc(), F.col("o_custkey").asc()],
        F.col("_gbk"),
        bucket_col="r_q",
    ).drop("_gbk")
    t2 = global_ntile(
        with_uniform_key_buckets(
            t1.withColumn("_negn", -F.col("n_orders")), "_negn", nulls="last"
        ),
        4,
        [F.col("n_orders").desc(), F.col("o_custkey").asc()],
        F.col("_gbk"),
        bucket_col="f_q",
    ).drop("_gbk", "_negn")
    t3 = global_ntile(
        with_uniform_key_buckets(
            t2.withColumn("_negm", (-F.col("monetary_dec")).cast("double")),
            "_negm",
            nulls="last",
        ),
        4,
        [F.col("monetary_dec").desc(), F.col("o_custkey").asc()],
        F.col("_gbk"),
        bucket_col="m_q",
    ).drop("_gbk", "_negm")
    scored = t3.select(
        "o_custkey",
        "recency_days",
        "n_orders",
        F.col("monetary_dec").cast("double").alias("monetary"),
        "r_q",
        "f_q",
        "m_q",
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "n_orders",
        "monetary",
        "r_q",
        "f_q",
        "m_q",
        F.concat("r_q", "f_q", "m_q").alias("segment"),
    )


