"""Training-mix assembly operators: the curriculum/mixing layer
that sits between a curated corpus and a training run.

Ten ops a large-scale LLM-data pipeline runs after curation and before
tokenization — BPE merge-table seeding, per-domain caps, scorer
calibration, curriculum phasing, temperature-scaled mixture weights,
intra-document dedup, shared-prefix duplicate classes, per-source
reputation cards, budgeted mix allocation, and packing-efficiency
audits.  All are native-DataFrame plans (no UDFs), each with
an exact DuckDB oracle twin; cross-engine float determinism follows the
repo convention (fixed-scale DECIMAL sums, ROUND at a fixed scale on
emitted floats).

Reference parity note: the reference pipeline
(/root/reference/src/lms_to_s3_lambda.py, s3_to_rds_lambda.py) has no
corpus layer at all; these extend the engine along SURVEY.md §2's
"LLM-training-data pipeline" axis the way rounds 2-4 did.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.operators.rank import global_ntile
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.sources.tables import load_table

_MERGE_TOPK = 32
_DOMAIN_CAP = 20
_CAL_BINS = 10
_PHASES = 4
_MIX_ALPHA = 0.7


@query(
    "bpe_pair_merges",
    oracle=f"""
    WITH t AS (SELECT {tx.tokens_sql()} AS toks FROM documents),
    pairs AS (
      SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS pair
      FROM t WHERE LEN(toks) >= 2)
    SELECT pair, COUNT(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair LIMIT {_MERGE_TOPK}
    """,
)
def bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies, top-{32}: the first
    merge table a BPE/WordPiece vocabulary induction computes each round
    (the merge loop re-runs this count after every merge; one round is the
    oracle-checkable anchor of that loop).

    Scale: pairing is a zip of two array slices — a map-only projection,
    no join, no explode of the full token stream until AFTER per-doc
    pairing — then one map-side-combining count and a
    TakeOrderedAndProject top-k (never a global sort of all pairs).
    Deterministic tie-break (count desc, pair asc)."""
    d = load_table(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    base = d.select(toks.alias("_toks")).filter(F.size("_toks") >= 2)
    n = F.size("_toks")
    pairs = F.zip_with(
        F.slice("_toks", 1, n - 1),
        F.slice("_toks", 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        base.select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(_MERGE_TOPK)
    )


@query(
    "domain_cap_filter",
    oracle=f"""
    SELECT doc_id, source, rk FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id) AS rk
      FROM documents)
    WHERE rk <= {_DOMAIN_CAP}
    """,
)
def domain_cap_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap: keep at most {20} documents per source,
    ranked by length then doc_id — the anti-domination guard every web
    corpus applies so one crawl host can't swamp the mix (C4/RefinedWeb
    style per-domain limits).

    Scale: one window partitioned BY THE CAP KEY — shuffle on source,
    rank, filter; no global ordering anywhere.  Skewed mega-domains are
    exactly the rows the rank-filter truncates, so the skew self-heals
    after one pass."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _DOMAIN_CAP)
    )


# The fixed-weight logistic quality scorer (shared shape with
# doc_quality_score_logistic — weights are versioned constants).
_CAL_SCORE_SQL = f"""
    SELECT doc_id, n_chars,
           ROUND(1.0 / (1.0 + EXP(-(-1.5 + 0.004 * LEN(toks)
                 + 2.0 * CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks)
                 - 3.0 * CAST(LEN(LIST_FILTER(toks, x -> x IN
                     ('the','a','an','and','of','to','in','is','on')))
                       AS DOUBLE) / LEN(toks)))), 6) AS score
    FROM (SELECT doc_id, n_chars, {tx.tokens_sql()} AS toks FROM documents)
    WHERE LEN(toks) > 0
"""


@query(
    "score_calibration_bins",
    oracle=f"""
    WITH s AS ({_CAL_SCORE_SQL})
    SELECT CAST(LEAST(FLOOR(score * {_CAL_BINS}), {_CAL_BINS - 1}) AS BIGINT)
               AS bin,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(score AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_score,
           ROUND(CAST(SUM(CASE WHEN n_chars > 600 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS frac_pos
    FROM s GROUP BY bin
    """,
)
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the quality scorer: bucket predictions into
    {10} bins and compare each bin's mean score against its observed
    positive rate (kept-by-length proxy label) — the calibration table every
    classifier-based corpus filter publishes before its threshold is trusted
    (a well-calibrated bin has mean_score ≈ frac_pos).

    Scale: scoring is a map-only projection; the report is one {10}-group
    hash aggregate with map-side combine.  Mean-of-scores goes through a
    fixed-scale DECIMAL sum (order-independent, repo convention)."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", "n_chars", tx.tokens("text").alias("_toks")).filter(
        F.size("_toks") > 0
    )
    n_tokens = F.size("_toks")
    ttr = F.size(F.array_distinct("_toks")).cast("double") / n_tokens
    stop_ratio = (
        F.size(F.filter("_toks", lambda t: t.isin(*tx.STOPWORDS_EN))).cast("double")
        / n_tokens
    )
    logit = F.lit(-1.5) + 0.004 * n_tokens + 2.0 * ttr - 3.0 * stop_ratio
    scored = base.select(
        "n_chars",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("score"),
    )
    return (
        scored.groupBy(
            F.least(F.floor(F.col("score") * _CAL_BINS), F.lit(_CAL_BINS - 1))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("score").cast("decimal(18,6)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_score"),
            F.round(
                F.sum(F.when(F.col("n_chars") > 600, 1).otherwise(0)).cast("double")
                / F.count("*"),
                6,
            ).alias("frac_pos"),
        )
    )


@query(
    "curriculum_phases",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             ROUND(CAST(n_chars AS DOUBLE) / (LEN({tx.tokens_sql()}) + 1), 6)
                 AS difficulty
      FROM documents)
    SELECT doc_id, difficulty,
           CAST(NTILE({_PHASES}) OVER (ORDER BY difficulty, doc_id) AS BIGINT)
               AS phase
    FROM t
    """,
)
def curriculum_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering: split the corpus into {4} difficulty phases
    (mean-word-length proxy — longer words ≈ harder text), easiest first —
    the phase column a curriculum-learning scheduler feeds from, and the
    oracle-checkable anchor of any staged data schedule.

    Scale: the NTILE spans the WHOLE corpus, so a naive global window
    would single-partition it.  Instead the exact phase comes from
    operators/rank.py's ``global_ntile`` with ``least(floor(difficulty
    * 2), 63)`` as the coarse bucket — pure and monotone in the order
    key with a CONSTANT 64-value domain (difficulty is mean word length,
    concentrated in [2, 15]; the cap keeps outliers correct, merely
    skewing the last bucket): one ordinary hash shuffle, partitioned
    row_number, and a <=64-row broadcast prefix table — the only
    unpartitioned window left is over those rows (machine-checked by
    tools/audit_plans.py).  The per-(domain, shard) variant is
    ``curriculum_phases_sharded``.
    Determinism: the (difficulty, doc_id) order key is unique."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.round(
            F.col("n_chars").cast("double") / (F.size(tx.tokens("text")) + 1), 6
        ).alias("difficulty"),
    )
    return global_ntile(
        t,
        _PHASES,
        [F.col("difficulty").asc(), F.col("doc_id").asc()],
        F.least(F.floor(F.col("difficulty") * 2), F.lit(63)),
        bucket_col="phase",
    ).select("doc_id", "difficulty", "phase")


@query(
    "curriculum_phases_sharded",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             ROUND(CAST(n_chars AS DOUBLE) / (LEN({tx.tokens_sql()}) + 1), 6)
                 AS difficulty
      FROM documents)
    SELECT doc_id, lang, difficulty,
           CAST(NTILE({_PHASES}) OVER (PARTITION BY lang
                                       ORDER BY difficulty, doc_id) AS BIGINT)
               AS phase
    FROM t
    """,
)
def curriculum_phases_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production form of ``curriculum_phases``: difficulty phases
    assigned WITHIN each shard key (here ``lang`` — in a real mix,
    (domain, shard)), so the window is partitioned and parallelism scales
    with the shard count instead of the coarse-bucket count.  Each shard
    gets its own curriculum, which is also what multi-lingual schedules
    actually want — a hard-for-English phase boundary says nothing about
    Python code.

    Equivalence to the global anchor is pinned by
    tests/test_rank_operators.py::test_sharded_curriculum_matches_global_per_lang:
    running the GLOBAL query on a single-lang slice of the corpus yields
    exactly this query's rows for that lang."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        F.round(
            F.col("n_chars").cast("double") / (F.size(tx.tokens("text")) + 1), 6
        ).alias("difficulty"),
    )
    w = Window.partitionBy("lang").orderBy("difficulty", "doc_id")
    return t.select(
        "doc_id",
        "lang",
        "difficulty",
        F.ntile(_PHASES).over(w).cast("long").alias("phase"),
    )


@query(
    "mixture_temperature_weights",
    oracle=f"""
    WITH l AS (
      SELECT lang, CAST(SUM(LEN({tx.tokens_sql()})) AS BIGINT) AS n_toks
      FROM documents GROUP BY lang),
    s AS (
      SELECT lang, n_toks,
             ROUND(CAST(n_toks AS DOUBLE)
                   / SUM(n_toks) OVER (), 8) AS share
      FROM l),
    p AS (
      SELECT lang, n_toks, share,
             CAST(ROUND(POWER(share, {_MIX_ALPHA}), 12)
                  AS DECIMAL(28,12)) AS pw
      FROM s)
    SELECT lang, n_toks, ROUND(share, 6) AS share,
           ROUND(CAST(pw AS DOUBLE) / CAST(SUM(pw) OVER () AS DOUBLE), 6)
               AS weight
    FROM p
    """,
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled sampling weights per language: w_l ∝ share_l^α
    (α={0.7}), the standard multilingual rebalance (mT5/XLM-R style) that
    upsamples tail languages without letting them dominate.  Emits the
    audit row per language: token count, raw share, final weight.

    Scale: one |langs|-group aggregate over a linear scan, then arithmetic
    on a |langs|-row frame (window-summed — never a driver collect).
    Determinism: pow() outputs rounded to a fixed scale and summed as
    DECIMAL (order-independent), final floats rounded at 6 per repo
    convention."""
    d = load_table(spark, sf_dir, "documents")
    l = d.groupBy("lang").agg(
        F.sum(F.size(tx.tokens("text"))).cast("long").alias("n_toks")
    )
    w_all = Window.partitionBy()
    s = l.select(
        "lang",
        "n_toks",
        F.round(
            F.col("n_toks").cast("double") / F.sum("n_toks").over(w_all), 8
        ).alias("share"),
    )
    p = s.select(
        "lang",
        "n_toks",
        "share",
        F.round(F.pow("share", F.lit(_MIX_ALPHA)), 12)
        .cast("decimal(28,12)")
        .alias("pw"),
    )
    return p.select(
        "lang",
        "n_toks",
        F.round("share", 6).alias("share"),
        F.round(
            F.col("pw").cast("double") / F.sum("pw").over(w_all).cast("double"), 6
        ).alias("weight"),
    )


#: sentence boundary: a period and one space
_SENT_SEP = r"\. "


@query(
    "intra_doc_dedup",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {tx.tokens_sql(sep=_SENT_SEP)} AS sents FROM documents)
    SELECT doc_id,
           CAST(LEN(sents) AS BIGINT) AS n_sents,
           CAST(LEN(LIST_DISTINCT(sents)) AS BIGINT) AS n_uniq,
           ROUND(1.0 - CAST(LEN(LIST_DISTINCT(sents)) AS DOUBLE) / LEN(sents), 6)
               AS dup_ratio
    FROM t WHERE LEN(sents) > 0
    """,
)
def intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition profile: sentence count, unique-sentence
    count, and duplicate ratio per document — the WITHIN-document half of
    dedup (RefinedWeb/Gopher drop or trim docs whose own lines repeat;
    cross-document dedup is the LSH family elsewhere in this repo).  The
    dup_ratio column is the filter key; the counts make the decision
    auditable.

    Scale: entirely map-only — split, distinct, and count are per-row array
    expressions inside whole-stage codegen; no explode, no shuffle, no
    state.  The cheapest possible 100 TB pass."""
    d = load_table(spark, sf_dir, "documents")
    sents = tx.tokens("text", _SENT_SEP)
    t = d.select("doc_id", sents.alias("_s")).filter(F.size("_s") > 0)
    n_sents = F.size("_s").cast("long")
    n_uniq = F.size(F.array_distinct("_s")).cast("long")
    return t.select(
        "doc_id",
        n_sents.alias("n_sents"),
        n_uniq.alias("n_uniq"),
        F.round(F.lit(1.0) - n_uniq.cast("double") / n_sents, 6).alias("dup_ratio"),
    )


_PREFIX_TOKENS = 16
_ALLOC_BUDGET = 50_000
_PACK_BUDGET = 4096


@query(
    "prefix_dup_candidates",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             MD5(ARRAY_TO_STRING(LIST_SLICE({tx.tokens_sql()}, 1, {_PREFIX_TOKENS}), ' '))
                 AS prefix_key
      FROM documents WHERE LEN({tx.tokens_sql()}) >= {_PREFIX_TOKENS})
    SELECT prefix_key,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS keep_doc_id
    FROM t GROUP BY prefix_key HAVING COUNT(*) > 1
    """,
)
def prefix_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix duplicate candidates: documents whose first {16} tokens
    hash identically — the boilerplate/mirror-page prefilter (template
    intros, scraped headers, truncation twins) that exact-fingerprint dedup
    misses because the TAILS differ.  Emits each colliding prefix class
    with its size and the canonical survivor (min doc_id).

    Scale: one map-only projection to a 128-bit key + one hash aggregate —
    the same uniform-shuffle posture as exact dedup; no pairwise compare
    anywhere.  Classes feed a bounded within-class verify (the LSH
    family's job), exactly like band buckets do."""
    d = load_table(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    t = d.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(toks, 1, _PREFIX_TOKENS))).alias(
            "prefix_key"
        ),
    ).filter(F.size(toks) >= _PREFIX_TOKENS)
    return (
        t.groupBy("prefix_key")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


@query(
    "source_reputation",
    oracle=f"""
    WITH t AS (
      SELECT source, {tx.tokens_sql()} AS toks, n_chars FROM documents),
    f AS (
      SELECT source, n_chars,
             LEN(toks) AS n_toks,
             CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks) AS ttr
      FROM t WHERE LEN(toks) > 0)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(ROUND(ttr, 8) AS DECIMAL(18,8))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_ttr,
           ROUND(CAST(SUM(CASE WHEN n_chars BETWEEN 200 AND 1500
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS len_ok_rate
    FROM f GROUP BY source
    """,
)
def source_reputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source reputation card: document/token volume, mean lexical
    diversity, and the fraction of docs inside the healthy length band —
    the signals a crawl pipeline aggregates per domain to set source-level
    sampling rates (and to kill scraper-broken domains wholesale) before
    any per-document filter runs.

    Scale: one |sources|-group hash aggregate over a linear scan, map-side
    combining; ratios of exact ints and a fixed-scale DECIMAL mean per
    repo determinism convention."""
    d = load_table(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    f = d.select(
        "source",
        "n_chars",
        F.size(toks).alias("n_toks"),
        (F.size(F.array_distinct(toks)).cast("double") / F.size(toks)).alias("ttr"),
    ).filter(F.col("n_toks") > 0)
    return f.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
        F.round(
            F.sum(F.round("ttr", 8).cast("decimal(18,8)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_ttr"),
        F.round(
            F.sum(
                F.when(F.col("n_chars").between(200, 1500), 1).otherwise(0)
            ).cast("double")
            / F.count("*"),
            6,
        ).alias("len_ok_rate"),
    )


@query(
    "dataset_mix_allocation",
    oracle=f"""
    WITH l AS (
      SELECT lang, CAST(SUM(LEN({tx.tokens_sql()})) AS BIGINT) AS n_toks
      FROM documents GROUP BY lang),
    s AS (
      SELECT lang, n_toks,
             ROUND(CAST(n_toks AS DOUBLE) / SUM(n_toks) OVER (), 8) AS share
      FROM l),
    p AS (
      SELECT lang, n_toks,
             CAST(ROUND(POWER(share, {_MIX_ALPHA}), 12) AS DECIMAL(28,12))
                 AS pw
      FROM s),
    w AS (
      SELECT lang, n_toks,
             ROUND(CAST(pw AS DOUBLE) / CAST(SUM(pw) OVER () AS DOUBLE), 8)
                 AS weight
      FROM p)
    SELECT lang, n_toks,
           CAST(FLOOR(weight * {_ALLOC_BUDGET}) AS BIGINT) AS alloc_tokens,
           ROUND(CAST(FLOOR(weight * {_ALLOC_BUDGET}) AS DOUBLE)
                 / n_toks, 6) AS epochs
    FROM w
    """,
)
def dataset_mix_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turn the temperature mixture into an executable allocation: given a
    {50k}-token training budget, each language's token grant
    (floor(weight x budget)) and the epoch count that grant implies over
    its available pool — the table that decides whether a tail language
    will be over-epoched (epochs >> 1 = memorization risk) before a run
    is launched.  Composes the verified mixture_temperature_weights
    arithmetic; budget is a versioned constant.

    Scale: identical posture to its parent — one |langs|-group aggregate
    plus |langs|-row window arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    l = d.groupBy("lang").agg(
        F.sum(F.size(tx.tokens("text"))).cast("long").alias("n_toks")
    )
    w_all = Window.partitionBy()
    s = l.select(
        "lang",
        "n_toks",
        F.round(
            F.col("n_toks").cast("double") / F.sum("n_toks").over(w_all), 8
        ).alias("share"),
    )
    p = s.select(
        "lang",
        "n_toks",
        F.round(F.pow("share", F.lit(_MIX_ALPHA)), 12)
        .cast("decimal(28,12)")
        .alias("pw"),
    )
    w = p.select(
        "lang",
        "n_toks",
        F.round(
            F.col("pw").cast("double") / F.sum("pw").over(w_all).cast("double"), 8
        ).alias("weight"),
    )
    alloc = F.floor(F.col("weight") * _ALLOC_BUDGET).cast("long")
    return w.select(
        "lang",
        "n_toks",
        alloc.alias("alloc_tokens"),
        F.round(alloc.cast("double") / F.col("n_toks"), 6).alias("epochs"),
    )


@query(
    "packing_efficiency",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, LEN({tx.tokens_sql()}) AS n_tokens FROM documents),
    runs AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t),
    packs AS (
      SELECT lang,
             CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id,
             n_tokens
      FROM runs)
    SELECT lang, pack_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS used_tokens,
           ROUND(CAST(SUM(n_tokens) AS DOUBLE) / {_PACK_BUDGET}, 6) AS fill_ratio
    FROM packs GROUP BY lang, pack_id
    """,
)
def packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-waste audit over corpus_pack_sequences' assignment: per
    (lang, pack), the document count, tokens used, and fill ratio against
    the {4096}-token budget — the metric that tells a training team how
    much context window the first-fit packer wastes (and whether a
    smarter packer is worth it; fill_ratio can exceed 1.0 exactly where
    first-fit overflows by its at-most-one-document contract).

    Scale: the same per-lang running-sum window as the packer itself, then
    one (lang, pack) hash aggregate — nothing new shuffles."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.size(tx.tokens("text")).alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packs = t.select(
        "lang",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / _PACK_BUDGET)
        .cast("long")
        .alias("pack_id"),
        "n_tokens",
    )
    return packs.groupBy("lang", "pack_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("used_tokens"),
        F.round(F.sum("n_tokens").cast("double") / _PACK_BUDGET, 6).alias(
            "fill_ratio"
        ),
    )
