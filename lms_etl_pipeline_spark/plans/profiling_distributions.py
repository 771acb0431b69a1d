"""Distribution, drift, and statistical profiling plans (split from
plans/profiling.py by the module-size convention, <=1100 LoC per plan
module; registry and semantics unchanged).

Sections: cross-source duplicate overlap matrix, duplicate-cluster size
histogram, seasonal (hour-of-day) profile, per-source quantile
normalization, length-distribution-matching resample, n-gram novelty rate,
join-key skew diagnostic, CUSUM changepoints, generic column profiler,
exactly-checkable SimHash pairs, Flesch readability, Pearson correlation
matrix, grouped OLS regression, Benford first-digit audit, and the Gini
concentration coefficient — each with its own scale note and DuckDB oracle.

Determinism / oracle strategy: see plans/profiling.py (the repo convention
in functions/numeric.py applies throughout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.operators.rank import (
    attach_global_rank,
    global_ntile,
    with_uniform_key_buckets,
)
from lms_etl_pipeline_spark.plans import anchors
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.session import materialize, spread_for_cpu
from lms_etl_pipeline_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Cross-source duplicate overlap matrix
# --------------------------------------------------------------------------


@query(
    "source_overlap_matrix",
    oracle=f"""
    WITH fp AS (SELECT DISTINCT source, {tx.fingerprint_sql(tx.tokens_sql())} AS f FROM documents)
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared_fp
    FROM fp a JOIN fp b ON a.f = b.f AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how many
    exact-duplicate content fingerprints they share — the signal that tells
    a curation team two crawls/feeds are mirroring each other (and that
    per-source dedup alone is insufficient).  Uses the same content
    fingerprint as ``dedup_fingerprint``, so the matrix is the pairwise
    roll-up of those duplicate groups.

    Scale: the distinct (source, fingerprint) projection collapses the
    corpus before any join; the self-join is an EQUI-join on the
    fingerprint (uniform 128-bit key, no skew); output is bounded by
    |sources|².  A fingerprint shared by s sources contributes C(s,2)
    pairs — bounded by the square of the replication factor, not corpus
    size.
    """
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "source", tx.fingerprint("text").alias("f")
    ).distinct()
    a = fp.select(F.col("source").alias("src_a"), "f")
    b = fp.select(F.col("source").alias("src_b"), "f")
    return (
        a.join(b, "f")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("bigint").alias("n_shared_fp"))
    )


# --------------------------------------------------------------------------
# Duplicate-cluster size histogram (count-of-counts over dup groups)
# --------------------------------------------------------------------------


@query(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH g AS (SELECT {tx.fingerprint_sql(tx.tokens_sql())} AS f, COUNT(*) AS sz
               FROM documents GROUP BY 1)
    SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_removable
    FROM g GROUP BY sz
    """,
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of exact-duplicate groups (count-of-counts over
    content fingerprints) with the per-size removable-row count — the
    one-page answer to "how much does dedup save us, and is it a few huge
    clusters or a long tail?"  ``n_removable = n_docs - n_clusters`` is the
    rows a keep-one-per-cluster pass deletes.

    Scale: two map-side-combining hash aggregates (fingerprint, then
    size) — the second input is already collapsed to one row per distinct
    fingerprint; no joins, no windows.  The same shape as TPC-H Q13's
    count-of-counts, pointed at the dedup ledger.
    """
    d = load_table(spark, sf_dir, "documents")
    g = (
        d.select(tx.fingerprint("text").alias("f"))
        .groupBy("f")
        .agg(F.count("*").alias("sz"))
    )
    return g.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
        (F.sum("sz") - F.count("*")).cast("bigint").alias("n_removable"),
    )


# --------------------------------------------------------------------------
# Seasonal (hour-of-day) profile + residuals
# --------------------------------------------------------------------------


@query(
    "timeseries_seasonal_profile",
    oracle="""
    WITH e AS (
      SELECT event_id, event_type, value,
             EXTRACT(HOUR FROM ts) AS hod
      FROM events),
    prof AS (
      SELECT event_type, hod,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
                 AS seasonal_mean
      FROM e GROUP BY event_type, hod)
    SELECT e.event_id, e.event_type, CAST(e.hod AS BIGINT) AS hod, e.value,
           p.seasonal_mean,
           e.value - p.seasonal_mean AS residual
    FROM e JOIN prof p USING (event_type, hod)
    """,
)
def timeseries_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal decomposition, additive hour-of-day model: per (event_type,
    hour) seasonal mean and per-event residual value − seasonal(type, hour)
    — the de-seasonalization step before any anomaly threshold is applied
    to diurnal metrics (the calendar twin of ``events_rolling_anomaly``'s
    rolling window).

    Determinism: the seasonal mean is an exact DECIMAL sum (order-
    independent), ONE exact decimal→double cast (scaled sum < 2^53 at
    every checked SF), ONE IEEE division by the count — bit-identical on
    both engines WITHOUT rounding; the residual is then one IEEE
    subtraction of identical doubles, also bit-identical.  Deliberately
    NO ROUND() on the quotient: rounding a double that happens to sit
    within an ulp of a decimal .5 boundary is engine-divergent (Spark
    rounds the full binary expansion via BigDecimal, DuckDB rounds the
    scaled double — fuzz seed 11 landed a seasonal mean on exactly such a
    tie), whereas the unrounded quotient is deterministic by IEEE 754.

    Scale: one map-side-combining aggregate on the bounded
    (type × 24-hour) key, broadcast back onto the events in a map-only
    join — events are scanned twice, shuffled never.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_id", "event_type", "value", F.hour("ts").alias("hod")
    )
    prof = e.groupBy("event_type", "hod").agg(
        (
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("*")
        ).alias("seasonal_mean")
    )
    return e.join(F.broadcast(prof), ["event_type", "hod"]).select(
        "event_id",
        "event_type",
        F.col("hod").cast("bigint").alias("hod"),
        "value",
        "seasonal_mean",
        (F.col("value") - F.col("seasonal_mean")).alias("residual"),
    )


# --------------------------------------------------------------------------
# Per-source quantile normalization of a score column
# --------------------------------------------------------------------------


@query(
    "score_quantile_normalize",
    oracle="""
    SELECT doc_id, source, n_chars,
           ROUND(PERCENT_RANK() OVER (PARTITION BY source
                                      ORDER BY n_chars, doc_id), 6) AS pr
    FROM documents
    """,
)
def score_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile (rank) normalization of a per-document score WITHIN each
    source: PERCENT_RANK over (source, score) — the transform that makes
    quality scores comparable ACROSS sources whose raw score scales differ
    (a prerequisite for any global quality threshold on a mixed corpus;
    CCNet normalizes per-language the same way).

    Determinism: PERCENT_RANK over a deterministic total order (score,
    doc_id) is exact rational (rank-1)/(n-1) — the single emitted double
    is rounded.

    Scale: one window partitioned BY THE NORMALIZATION KEY (source) —
    a single shuffle on a bounded-cardinality key; no global ordering.
    Skewed mega-sources sort within their partition only.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    return d.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
    )


# --------------------------------------------------------------------------
# Length-distribution-matching resample
# --------------------------------------------------------------------------

_MATCH_BINS = 10


@query(
    "length_match_resample",
    oracle=f"""
    WITH binned AS (
      SELECT doc_id, source,
             NTILE({_MATCH_BINS}) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM documents),
    src_n AS (SELECT source, COUNT(*) AS ns FROM binned GROUP BY source),
    ranked AS (
      SELECT b.doc_id, b.source, b.decile, s.ns,
             ROW_NUMBER() OVER (
               PARTITION BY b.source, b.decile
               ORDER BY {tx.hash60_sql("CAST(b.doc_id AS VARCHAR)")}, b.doc_id) AS rk
      FROM binned b JOIN src_n s USING (source))
    SELECT doc_id, source, decile
    FROM ranked
    WHERE rk * {_MATCH_BINS} <= ns + {_MATCH_BINS} - 1
    """,
)
def length_match_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-matching resample: cap every source's contribution to
    each corpus-wide length decile at ceil(|source| / {10}) documents,
    chosen in deterministic hash order — flattening each source's length
    profile toward the corpus deciles (the covariate-balancing trick used
    when one feed is all-tweets and another all-books).  The keep rule
    ``rk·B ≤ ns+B-1`` is exact-integer ceil(ns/B) — no float rates, no
    seeded sampling, retry-safe.

    Scale: the decile assignment is a corpus-wide exact NTILE via
    operators/rank.py ``global_ntile`` (uniform n_chars buckets —
    one hash shuffle, no single-partition stage even over the full
    corpus).  Everything else is one aggregate + one window partitioned
    by (source, decile) — the selection key itself, so skew self-heals
    at the rank filter exactly like ``domain_cap_filter``.
    """
    d = load_table(spark, sf_dir, "documents")
    binned = global_ntile(
        with_uniform_key_buckets(
            d.select("doc_id", "source", "n_chars"), "n_chars"
        ),
        _MATCH_BINS,
        [F.col("n_chars").asc(), F.col("doc_id").asc()],
        F.col("_gbk"),
        bucket_col="decile",
    ).select("doc_id", "source", "decile")
    src_n = binned.groupBy("source").agg(F.count("*").alias("ns"))
    w = Window.partitionBy("source", "decile").orderBy(
        tx.hash60(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        binned.join(F.broadcast(src_n), "source")
        .select(
            "doc_id", "source", "decile", "ns",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") * _MATCH_BINS <= F.col("ns") + (_MATCH_BINS - 1))
        .select("doc_id", "source", "decile")
    )


# --------------------------------------------------------------------------
# N-gram novelty rate (corpus redundancy growth curve)
# --------------------------------------------------------------------------


@query(
    "ngram_novelty_rate",
    oracle=f"""
    WITH t AS (SELECT doc_id, LIST_DISTINCT({tx.ngrams_sql(tx.tokens_sql(), 3)}) AS g
               FROM documents),
    sh AS (SELECT doc_id, UNNEST(g) AS s FROM t),
    first_seen AS (SELECT s, MIN(doc_id) AS first_doc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc < sh.doc_id THEN 0 ELSE 1 END)
                AS BIGINT) AS n_novel,
           ROUND(CAST(SUM(CASE WHEN f.first_doc < sh.doc_id THEN 0 ELSE 1 END)
                      AS DOUBLE) / COUNT(*), 6) AS novelty
    FROM sh JOIN first_seen f USING (s)
    GROUP BY sh.doc_id
    """,
)
def ngram_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a document's distinct
    3-gram shingles whose FIRST corpus occurrence (by doc_id order) is this
    document — the redundancy-growth curve data engineers plot to decide
    when additional crawl of a source stops adding information (novelty
    decays toward 0 as a source saturates).

    Scale: one explode to (doc, shingle), a map-side-combining MIN per
    shingle (term-keyed, uniform), and an equi-join back on the shingle —
    the same linear inverted-index shape as the dedup family; no pairwise
    comparisons anywhere.  Streaming twin: keep ``first_seen`` as the
    persisted state store and the novelty of each new batch is
    batch-sized work (the ``incremental_corpus_dedup`` posture).
    """
    d = load_table(spark, sf_dir, "documents")
    # This query avoids the known interpreted-HOF/single-split
    # pitfall (tokens() inlined inside shingles inside explode, on
    # a one-split scan, with the whole subtree evaluated once per
    # consumer — first_seen AND the join left side).  Same fix as
    # boilerplate_ngram_filter: materialize tokens as a column, spread
    # before the shingle lambda, checkpoint the distinct-shingle ARRAY
    # once so both consumers read the exploded view off the barrier.
    # Measured at sf0.1: exec ~20 s -> see OPTIMIZATION_r12.md.
    toked = d.select("doc_id", tx.tokens("text").alias("_toks"))
    part = spread_for_cpu(toked, "doc_id")
    g = materialize(
        part.select(
            "doc_id", F.array_distinct(tx.shingles(F.col("_toks"), 3)).alias("g")
        )
    )
    sh = g.select("doc_id", F.explode("g").alias("s"))
    first_seen = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") < F.col("doc_id"), 0).otherwise(1)
    return (
        sh.join(first_seen, "s")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            F.round(
                F.sum(novel).cast("double") / F.count("*"), 6
            ).alias("novelty"),
        )
    )


# --------------------------------------------------------------------------
# Join-key skew diagnostic
# --------------------------------------------------------------------------

_SKEW_TOPN = 20


@query(
    "key_skew_profile",
    oracle=f"""
    WITH k AS (SELECT l_orderkey, COUNT(*) AS n FROM lineitem GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
                   CAST(COUNT(*) AS BIGINT) AS n_keys FROM k),
    top AS (
      SELECT l_orderkey, n, ROW_NUMBER() OVER (ORDER BY n DESC, l_orderkey)
                 AS rk
      FROM k ORDER BY n DESC, l_orderkey LIMIT {_SKEW_TOPN})
    SELECT t.l_orderkey, CAST(t.n AS BIGINT) AS n, t.rk,
           tot.total, tot.n_keys,
           ROUND(CAST(t.n AS DOUBLE) / tot.total, 6) AS share
    FROM top t, tot
    """,
)
def key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the top-{20} heaviest l_orderkey values
    with their row share of the table, plus total rows and distinct-key
    count — the pre-join audit that decides whether a key needs salting
    (``operators/skew.py``) or AQE skew-join before the shuffle is paid.
    A healthy uniform key shows share ≈ total/n_keys/total; a hot key
    shows up immediately.

    Scale: one map-side-combining count per key, a top-{20}
    TakeOrderedAndProject (never a global sort), and a 1-row totals
    broadcast — the diagnostic costs one linear scan regardless of table
    size, which is the point: it must be cheap enough to run BEFORE every
    expensive join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy("l_orderkey").agg(F.count("*").alias("n"))
    tot = k.agg(
        F.sum("n").cast("bigint").alias("total"),
        F.count("*").cast("bigint").alias("n_keys"),
    )
    top = (
        k.orderBy(F.col("n").desc(), "l_orderkey")
        .limit(_SKEW_TOPN)
        .select(
            "l_orderkey",
            F.col("n").cast("bigint").alias("n"),
            F.row_number()
            .over(Window.orderBy(F.col("n").desc(), "l_orderkey"))
            .alias("rk"),
        )
    )
    return top.crossJoin(F.broadcast(tot)).select(
        "l_orderkey",
        "n",
        "rk",
        "total",
        "n_keys",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
    )


# --------------------------------------------------------------------------
# CUSUM changepoint detection on the hourly event-rate series
# --------------------------------------------------------------------------

_CUSUM_H = 3.0  # alarm threshold in global-sigma units


@query(
    "cusum_changepoints",
    oracle=f"""
    WITH hourly AS (
      SELECT DATE_TRUNC('hour', ts) AS hour, COUNT(*) AS n_events
      FROM events GROUP BY 1),
    stats AS (
      SELECT CAST(SUM(CAST(n_events AS DECIMAL(18,4))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(n_events * n_events AS DECIMAL(28,4))) AS DOUBLE)
                 AS s2,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM hourly),
    params AS (
      SELECT ROUND(s1 / m, 6) AS mu,
             ROUND(SQRT((s2 - s1 * s1 / m) / (m - 1)), 6) AS sigma
      FROM stats),
    cusum AS (
      SELECT h.hour, CAST(h.n_events AS BIGINT) AS n_events,
             CAST(ROUND(SUM(CAST(h.n_events - p.mu AS DECIMAL(28,6)))
                        OVER (ORDER BY h.hour ROWS UNBOUNDED PRECEDING), 4)
                  AS DOUBLE) AS s,
             p.mu, p.sigma
      FROM hourly h, params p)
    SELECT hour, n_events, s AS cusum, mu, sigma,
           ABS(s) > {_CUSUM_H} * sigma AS alarm
    FROM cusum
    """,
)
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the hourly event-rate series: the
    cumulative sum of deviations from the global mean rate, alarmed when
    it drifts beyond {3}·sigma — the classic sequential drift detector
    (Page 1954) that catches slow rate shifts a per-point z-score misses
    (the level-shift complement of ``events_rolling_anomaly``).

    Determinism: hourly counts are exact integers; mu/sigma are rounded at
    scale 6 BEFORE the deviations, each deviation is one identical double
    cast to DECIMAL(28,6), and the running sum is an exact decimal window
    over a deterministic hour order — order-fixed on both engines; the
    alarm compares the ROUNDed cusum against sigma-derived threshold built
    from identical doubles.

    Scale: events collapse to the HOURLY aggregate first (map-side
    combining on the hour key); stats are a 1-row broadcast; the running
    sum windows over the hour-count table (calendar-sized, not
    event-sized).  For multi-year series, partition the window by
    (series, year) with carried offsets — the documented two-stage
    prefix-sum pattern.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count("*").alias("n_events")
    )
    stats = hourly.agg(
        F.sum(F.col("n_events").cast("decimal(18,4)")).cast("double").alias("s1"),
        F.sum((F.col("n_events") * F.col("n_events")).cast("decimal(28,4)"))
        .cast("double")
        .alias("s2"),
        F.count("*").cast("bigint").alias("m"),
    )
    # try_divide: a single-hour series (m=1) zeroes the m-1 denominator —
    # sigma is NULL then, not an abort (n=1 fixture sweep)
    params = stats.select(
        F.round(F.try_divide(F.col("s1"), F.col("m")), 6).alias("mu"),
        F.round(
            F.sqrt(
                F.try_divide(
                    F.col("s2") - F.try_divide(F.col("s1") * F.col("s1"), F.col("m")),
                    F.col("m") - 1,
                )
            ),
            6,
        ).alias("sigma"),
    )
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    # ROUND in the DECIMAL domain, then one exact cast out: decimal→double
    # conversion of a scale-4 value is a single exact-int divide on both
    # engines, whereas rounding after the double cast can straddle a
    # half-tie by one ulp across engines.
    cusum = (
        hourly.crossJoin(F.broadcast(params))
        .select(
            "hour",
            F.col("n_events").cast("bigint").alias("n_events"),
            F.round(
                F.sum(
                    (F.col("n_events") - F.col("mu")).cast("decimal(28,6)")
                ).over(w),
                4,
            )
            .cast("double")
            .alias("s"),
            "mu",
            "sigma",
        )
    )
    return cusum.select(
        "hour",
        "n_events",
        F.col("s").alias("cusum"),
        "mu",
        "sigma",
        (F.abs("s") > F.lit(_CUSUM_H) * F.col("sigma")).alias("alarm"),
    )


# --------------------------------------------------------------------------
# Generic column profiler (df.describe as a first-class relational op)
# --------------------------------------------------------------------------

#: (column, numeric-projection SQL or None) — timestamps profile as epoch-µs.
_PROFILE_COLS = (
    ("o_orderkey", "o_orderkey"),
    ("o_custkey", "o_custkey"),
    ("o_orderstatus", None),
    ("o_totalprice", "o_totalprice"),
    ("o_orderdate", "EPOCH_US(o_orderdate)"),
    ("o_orderpriority", None),
)


@query(
    "table_profile_orders",
    oracle="\nUNION ALL\n".join(
        f"""
    SELECT '{c}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
           {f"CAST(MIN({num}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"}
               AS min_num,
           {f"CAST(MAX({num}) AS DOUBLE)" if num else "CAST(NULL AS DOUBLE)"}
               AS max_num
    FROM orders"""
        for c, num in _PROFILE_COLS
    ),
)
def table_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler over the orders table: per column, row count, null
    count, exact distinct count, and numeric min/max (timestamps as epoch
    microseconds; free-text columns profile counts only) — the
    data-profiling primitive behind catalog statistics, DQ baselines, and
    schema-drift monitors, long-form so it unions across tables.

    Scale: one scan; per-column aggregates are map-side combining and the
    exact COUNT(DISTINCT) per column expands rows |cols|-fold in one
    hash aggregate (Spark's multi-distinct expand) — at 100 TB swap exact
    distinct for HLL (``agg_approx_count_distinct`` anchor) column by
    column; min/max/null-counts stay exact either way.
    """
    o = load_table(spark, sf_dir, "orders")
    parts = []
    for c, num in _PROFILE_COLS:
        # fixtures store TIMESTAMP_NTZ; session TZ is UTC, so the cast to
        # TIMESTAMP reads the same wall-clock instant DuckDB's EPOCH_US sees
        num_col = (
            F.unix_micros(F.col(c).cast("timestamp")) if num and "EPOCH" in num
            else (F.col(c).cast("double") if num else F.lit(None).cast("double"))
        )
        parts.append(
            o.agg(
                F.lit(c).alias("col_name"),
                F.count("*").cast("bigint").alias("n_rows"),
                (F.count("*") - F.count(c)).cast("bigint").alias("n_null"),
                F.countDistinct(c).cast("bigint").alias("n_distinct"),
                F.min(num_col).cast("double").alias("min_num"),
                F.max(num_col).cast("double").alias("max_num"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------------------------------------------
# Exactly-checkable SimHash near-dup pairs (md5 hash family)
# --------------------------------------------------------------------------

_SH_BITS = 16
_SH_HAM = 2  # near-dup threshold; 3 blocks guarantee recall by pigeonhole
# CONTRACT anchor slice (plans/anchors.py, active in every mode).  The pair
# count of a lossless near-dup query is inherently quadratic in duplicate
# density, and a 16-bit signature space saturates on corpus-sized inputs
# (at sf0.1 the TRUE result exceeds the harness's 2M-row comparator bound).
# Bounding the anchor to a fixed id range caps the worst case at
# n(n-1)/2 = 1,999,000 rows <= the bound even on an all-duplicate
# adversarial corpus, while leaving driver-scale results bit-identical
# (sf0.001/sf0.01 have 500 docs, all < 2000).  The corpus-scale SimHash
# path is ``dedup_simhash`` (rows-only, 64-bit space, UNBOUNDED).
_SH_MAX_DOCS = 2000
_SH_SLICE = anchors.AnchorSlice("doc_id", _SH_MAX_DOCS, kind="contract")

_SH_SIG = " + ".join(
    f"CASE WHEN s{b} >= 0 THEN {1 << b} ELSE 0 END" for b in range(_SH_BITS)
)
_SH_SUMS = ",\n             ".join(
    f"SUM(CASE WHEN ({tx.hash60_sql('tok')} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS s{b}"
    for b in range(_SH_BITS)
)


@query(
    "simhash_exact_pairs",
    oracle=f"""
    WITH tok_t AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT({tx.tokens_sql()})) AS tok FROM documents
      WHERE {_SH_SLICE.sql}),
    sums AS (
      SELECT doc_id,
             {_SH_SUMS}
      FROM tok_t GROUP BY doc_id),
    sig_t AS (SELECT doc_id, {_SH_SIG} AS sig FROM sums),
    blocks AS (
      SELECT doc_id, 0 AS blk, sig & 63 AS v FROM sig_t
      UNION ALL SELECT doc_id, 1, (sig >> 6) & 31 FROM sig_t
      UNION ALL SELECT doc_id, 2, (sig >> 11) & 31 FROM sig_t),
    cands AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM blocks l JOIN blocks r ON l.blk = r.blk AND l.v = r.v
      WHERE l.doc_id < r.doc_id)
    SELECT c.a, c.b,
           CAST(BIT_COUNT(XOR(sa.sig, sb.sig)) AS BIGINT) AS hamming
    FROM cands c
    JOIN sig_t sa ON sa.doc_id = c.a
    JOIN sig_t sb ON sb.doc_id = c.b
    WHERE BIT_COUNT(XOR(sa.sig, sb.sig)) <= {_SH_HAM}
    """,
)
def simhash_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs with an ENGINE-PORTABLE hash family:
    {16}-bit signatures from per-token md5 bit votes (weight 1 per distinct
    token), candidate pairs from 3-block banding (pigeonhole: any pair at
    Hamming ≤ {2} shares a block — lossless recall), verified with
    BIT_COUNT(XOR).  This is the exactly-differential-testable twin of the
    xxhash64-based ``dedup_simhash`` (rows-only by hash family): same
    algorithm, oracle-checkable end to end, so the SimHash family gets a
    value-level anchor the way minhash has ``near_dup_pairs_lsh``.  The
    anchor reads an SF-independent ``doc_id < {_SH_MAX_DOCS}`` CONTRACT
    slice (``plans/anchors.py``, active in every mode — an exact all-pairs
    ground truth is quadratic by definition) so its worst-case output stays
    under the harness comparator bound at every scale; see ``_SH_MAX_DOCS``.
    Corpus-scale SimHash semantics live in the unbounded ``dedup_simhash``.

    Scale: signature build is one explode + a {16}-way conditional
    map-side-combining sum per doc (one pass, no joins); candidate
    generation is an EQUI-join on (block, value) — never all-pairs; the
    verify join touches candidates only.  Identical posture to the LSH
    band join, with a 3-block banding guarantee instead of probabilistic
    recall.
    """
    d = _SH_SLICE.apply(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(tx.tokens("text"))).alias("tok")
    )
    h = tx.hash60(F.col("tok").cast("string"))
    sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(_SH_BITS)
        ]
    )
    sig = sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"s{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
                for b in range(_SH_BITS)
            ],
            F.lit(0),
        ).alias("sig"),
    )
    blocks = (
        sig.select("doc_id", F.lit(0).alias("blk"), F.col("sig").bitwiseAND(F.lit(63)).alias("v"))
        .unionByName(
            sig.select(
                "doc_id",
                F.lit(1).alias("blk"),
                F.shiftright("sig", 6).bitwiseAND(F.lit(31)).alias("v"),
            )
        )
        .unionByName(
            sig.select(
                "doc_id",
                F.lit(2).alias("blk"),
                F.shiftright("sig", 11).bitwiseAND(F.lit(31)).alias("v"),
            )
        )
    )
    l = blocks.select(F.col("doc_id").alias("a"), "blk", "v")
    r = blocks.select(F.col("doc_id").alias("b"), "blk", "v")
    cands = (
        l.join(r, ["blk", "v"]).filter(F.col("a") < F.col("b")).select("a", "b").distinct()
    )
    sa = sig.select(F.col("doc_id").alias("a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("b"), F.col("sig").alias("sig_b"))
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cands.join(sa, "a")
        .join(sb, "b")
        .filter(ham <= _SH_HAM)
        .select("a", "b", ham.cast("bigint").alias("hamming"))
    )


# --------------------------------------------------------------------------
# Flesch reading-ease scoring
# --------------------------------------------------------------------------


@query(
    "text_readability_flesch",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             LEN({tx.tokens_sql()}) AS words,
             GREATEST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')), 1) AS sents,
             LEN(REGEXP_EXTRACT_ALL(text, '[aeiouyAEIOUY]+')) AS sylls
      FROM documents)
    SELECT doc_id, CAST(words AS BIGINT) AS words,
           CAST(sents AS BIGINT) AS sents, CAST(sylls AS BIGINT) AS sylls,
           ROUND(206.835 - 1.015 * (CAST(words AS DOUBLE) / sents)
                 - 84.6 * (CAST(sylls AS DOUBLE) / words), 4) AS flesch
    FROM t WHERE words > 0
    """,
)
def text_readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease score per document: 206.835 − 1.015·(words/
    sentences) − 84.6·(syllables/words), with sentences counted as
    terminal-punctuation runs and syllables approximated as vowel groups
    (the standard regex surrogate; documented heuristic, deterministic).
    The readability gate curation teams run next to the Gopher rules —
    kids-content filters, textbook-style selection, "too-hard" triage.

    Determinism: all three counts are exact integers from identical RE2-
    compatible regexes; the score is three IEEE ops on identical doubles,
    rounded.  Scale: shuffle-free map-only projection, whole-stage
    codegen'd — the cheapest possible per-doc op.
    """
    d = load_table(spark, sf_dir, "documents")
    words = F.size(tx.tokens("text"))
    sents = F.greatest(F.regexp_count("text", F.lit(r"[.!?]+")), F.lit(1))
    sylls = F.regexp_count("text", F.lit("[aeiouyAEIOUY]+"))
    return d.filter(words > 0).select(
        "doc_id",
        words.cast("bigint").alias("words"),
        sents.cast("bigint").alias("sents"),
        sylls.cast("bigint").alias("sylls"),
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (words.cast("double") / sents)
            - F.lit(84.6) * (sylls.cast("double") / words),
            4,
        ).alias("flesch"),
    )


# --------------------------------------------------------------------------
# Pearson correlation matrix (exact-decimal moment sums)
# --------------------------------------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


def _corr_sql(a: str, b: str) -> str:
    return f"""
    SELECT '{a}' AS col_a, '{b}' AS col_b,
           ROUND((n * s_{a}_{b} - s_{a} * s_{b})
                 / SQRT((n * s_{a}_{a} - s_{a} * s_{a})
                        * (n * s_{b}_{b} - s_{b} * s_{b})), 6) AS corr
    FROM moments"""


@query(
    "correlation_matrix",
    oracle=(
        "WITH moments AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, "
        + ", ".join(
            f"CAST(SUM(CAST({c} AS DECIMAL(28,6))) AS DOUBLE) AS s_{c}"
            for c in _CORR_COLS
        )
        + ", "
        + ", ".join(
            f"CAST(SUM(CAST({a} * {b} AS DECIMAL(38,8))) AS DOUBLE) AS s_{a}_{b}"
            for i, a in enumerate(_CORR_COLS)
            for b in _CORR_COLS[i:]
        )
        + " FROM lineitem)"
        + "\nUNION ALL".join(
            _corr_sql(a, b)
            for i, a in enumerate(_CORR_COLS)
            for b in _CORR_COLS[i + 1 :]
        )
    ),
)
def correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation matrix over the lineitem numeric measures, via
    the closed-form moment sums (n·Sxy − SxSy)/√((n·Sxx−Sx²)(n·Syy−Sy²)) —
    the feature-redundancy screen every modeling pipeline runs before
    training (and the statistic engines expose as CORR, here made
    cross-engine-exact instead of float-order-dependent).

    Determinism: every moment is an exact DECIMAL sum of per-row IEEE
    products (order-independent); each correlation is identical double
    arithmetic rounded at scale 6 — unlike built-in CORR, whose streaming
    accumulation is partition-order-dependent.

    Scale: ONE map-side-combining aggregate computes all {4 + 10} moments
    in a single scan; the matrix assembly is row construction over a 1-row
    frame.  No shuffle beyond the scalar aggregate.
    """
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [F.count("*").cast("double").alias("n")]
    for c in _CORR_COLS:
        aggs.append(
            F.sum(F.col(c).cast("decimal(28,6)")).cast("double").alias(f"s_{c}")
        )
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i:]:
            aggs.append(
                F.sum((F.col(a) * F.col(b)).cast("decimal(38,8)"))
                .cast("double")
                .alias(f"s_{a}_{b}")
            )
    m = li.agg(*aggs)
    outs = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1 :]:
            num = F.col("n") * F.col(f"s_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
            den = F.sqrt(
                (F.col("n") * F.col(f"s_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}"))
                * (F.col("n") * F.col(f"s_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}"))
            )
            # try_divide: one row (or a constant column) zeroes the
            # variance product — corr undefined => NULL, not an abort
            outs.append(
                m.select(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    F.round(F.try_divide(num, den), 6).alias("corr"),
                )
            )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# --------------------------------------------------------------------------
# Grouped OLS regression (closed form)
# --------------------------------------------------------------------------


@query(
    "ols_regression_by_group",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(38,8))) AS DOUBLE)
                 AS sxx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,8)))
                  AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(38,8)))
                  AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND(sy / n - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx / n, 6)
               AS intercept,
           ROUND(((n * sxy - sx * sy) * (n * sxy - sx * sy))
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM m
    """,
)
def ols_regression_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares fit of extended price against
    quantity (slope, intercept, R²) from closed-form moment sums — the
    grouped-regression primitive engines expose as REGR_SLOPE /
    REGR_INTERCEPT / REGR_R2, here cross-engine-exact via DECIMAL moments
    instead of order-dependent streaming accumulators.

    Scale: one map-side-combining aggregate per group key computes all six
    moments in a single scan; the fit is per-group scalar arithmetic.
    The same shape fits millions of group keys — moments are mergeable, so
    partial aggregation and AQE skew handling apply as to any hash agg.
    """
    li = load_table(spark, sf_dir, "lineitem")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(28,6)")).cast("double").alias("sx"),
        F.sum(F.col("l_extendedprice").cast("decimal(28,6)")).cast("double").alias("sy"),
        F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("decimal(38,8)"))
        .cast("double")
        .alias("sxx"),
        F.sum(
            (F.col("l_extendedprice") * F.col("l_extendedprice")).cast(
                "decimal(38,8)"
            )
        )
        .cast("double")
        .alias("syy"),
        F.sum(
            (F.col("l_quantity") * F.col("l_extendedprice")).cast("decimal(38,8)")
        )
        .cast("double")
        .alias("sxy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    # try_divide: a single-row group has zero x-variance — slope/r2 are
    # undefined (NULL), not an ANSI abort (n=1 fixture sweep)
    slope = F.try_divide(cov, varx)
    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        F.round(slope, 6).alias("slope"),
        F.round(
            F.try_divide(F.col("sy"), F.col("n"))
            - slope * F.try_divide(F.col("sx"), F.col("n")),
            6,
        ).alias("intercept"),
        F.round(F.try_divide(cov * cov, varx * vary), 6).alias("r2"),
    )


# --------------------------------------------------------------------------
# Benford first-digit audit
# --------------------------------------------------------------------------


@query(
    "benford_digit_test",
    oracle="""
    WITH cents AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders WHERE o_totalprice > 0),
    digits AS (
      SELECT CAST(SUBSTRING(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit
      FROM cents),
    obs AS (SELECT digit, COUNT(*) AS n FROM digits GROUP BY digit),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM obs)
    SELECT o.digit, CAST(o.n AS BIGINT) AS n,
           ROUND(CAST(o.n AS DOUBLE) / t.total, 6) AS obs_share,
           ROUND(LOG10(1.0 + 1.0 / o.digit), 6) AS exp_share,
           ROUND(POWER(CAST(o.n AS DOUBLE) / t.total
                       - ROUND(LOG10(1.0 + 1.0 / o.digit), 6), 2)
                 / ROUND(LOG10(1.0 + 1.0 / o.digit), 6), 6) AS chi2_term
    FROM obs o, tot t
    """,
)
def benford_digit_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed vs
    expected log10(1+1/d) share per leading digit plus the per-digit χ²
    contribution — the classic fraud/fabrication screen on financial
    columns (synthetic or tampered values drift from the Benford curve).

    Determinism: the leading digit goes through exact integer cents and
    INTEGER→string (never double formatting); shares divide exact counts;
    the expected share is rounded at scale 6 BEFORE the χ² arithmetic so
    a last-ulp libm LOG10 difference can never surface.

    Scale: one map-only digit projection + a 9-key map-side-combining
    count + a 1-row total broadcast.
    """
    o = load_table(spark, sf_dir, "orders")
    cents = o.filter(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("c")
    )
    digits = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count("*").alias("n"))
    tot = obs.agg(F.sum("n").cast("bigint").alias("total"))
    exp_share = F.round(F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), 6)
    obs_share = F.col("n").cast("double") / F.col("total")
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        F.col("n").cast("bigint").alias("n"),
        F.round(obs_share, 6).alias("obs_share"),
        exp_share.alias("exp_share"),
        F.round(F.pow(obs_share - exp_share, 2) / exp_share, 6).alias(
            "chi2_term"
        ),
    )


# --------------------------------------------------------------------------
# Gini concentration coefficient
# --------------------------------------------------------------------------


@query(
    "gini_concentration",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * CAST(1 - l_discount AS DECIMAL(12,2))) AS r
      FROM lineitem GROUP BY l_suppkey),
    ranked AS (
      SELECT r, ROW_NUMBER() OVER (ORDER BY r, l_suppkey) AS i FROM rev),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r) AS DOUBLE) AS total,
             CAST(SUM(i * r) AS DOUBLE) AS weighted
      FROM ranked)
    SELECT n AS n_suppliers,
           CAST(ROUND(SUM(r), 4) AS DOUBLE) AS total_rev,
           ROUND(2.0 * (SELECT weighted FROM s)
                 / ((SELECT n FROM s) * (SELECT total FROM s))
                 - (CAST((SELECT n FROM s) AS DOUBLE) + 1)
                   / (SELECT n FROM s), 6) AS gini
    FROM rev, s
    GROUP BY n
    """,
)
def gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of supplier revenue concentration:
    G = 2·Σᵢ i·xᵢ / (n·Σ xᵢ) − (n+1)/n over ascending-sorted revenues —
    the one-number inequality metric platform teams track for marketplace
    concentration and corpus teams for source-domination (0 = uniform,
    →1 = winner-take-all; complements `source_reputation`/
    `domain_cap_filter` with a headline number).

    Determinism: revenues and the rank-weighted sum stay in EXACT decimal
    (rank is an exact integer; i·xᵢ is a decimal product), ordering has a
    total tie-break, and the final G is one rounded double expression.

    Scale: the sort/rank runs over the SUPPLIER-sized aggregate, not
    lineitem — and uses the two-stage prefix-rank FOR REAL
    (operators/rank.py ``attach_global_rank`` over uniform revenue
    buckets), so a supplier catalog that grows with the corpus never
    single-partitions.  Output is one row.
    """
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(18,4)")
            * (F.lit(1) - F.col("l_discount")).cast("decimal(12,2)")
        ).alias("r")
    )
    ranked = attach_global_rank(
        with_uniform_key_buckets(
            rev.withColumn("_rd", F.col("r").cast("double")), "_rd"
        ),
        [F.col("r").asc(), F.col("l_suppkey").asc()],
        F.col("_gbk"),
        rank_col="i",
    ).select("r", "i")
    s = ranked.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("r").cast("double").alias("total"),
        F.sum(F.col("i") * F.col("r")).cast("double").alias("weighted"),
        F.round(F.sum("r"), 4).cast("double").alias("total_rev"),
    )
    # n > 0: the oracle's FROM rev, s cross join emits ZERO rows on an
    # empty corpus (Gini of nothing is undefined), while a bare aggregate
    # always emits one — align on the empty case (tests/test_empty_fixture)
    return s.filter(F.col("n") > 0).select(
        F.col("n").alias("n_suppliers"),
        "total_rev",
        F.round(
            F.lit(2.0) * F.col("weighted") / (F.col("n") * F.col("total"))
            - (F.col("n").cast("double") + 1) / F.col("n"),
            6,
        ).alias("gini"),
    )


