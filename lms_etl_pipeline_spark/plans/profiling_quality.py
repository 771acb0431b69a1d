"""Corpus-quality, retrieval-calibration, and drift-evaluation plans
(split from plans/profiling.py by the module-size convention, <=1100 LoC
per plan module; registry and semantics unchanged).

Sections: max token run-length QA, tokenizer fertility by language, MIPS
retrieval + pairwise-cosine calibration, exact weighted median, SymSpell
spelling-variant pairs, SemDeDup threshold sweep, forecast backtest
evaluation, MDM golden-record survivorship, two-sample Kolmogorov-Smirnov
drift test, Cramer's V categorical association, and duplicate rate by
source — each with its own scale note and DuckDB oracle.

Determinism / oracle strategy: see plans/profiling.py (the repo convention
in functions/numeric.py applies throughout).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.plans.llm import EMB_DIM
from lms_etl_pipeline_spark.plans.corpus_ml import _BATCH_MOD
from lms_etl_pipeline_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# Max token run-length (degenerate-repetition QA)
# --------------------------------------------------------------------------


@query(
    "max_token_runlength",
    oracle=f"""
    WITH t AS (SELECT doc_id, {tx.tokens_sql()} AS toks FROM documents),
    pos AS (
      SELECT doc_id, UNNEST(g.i) AS i,
             toks[UNNEST(g.i)] AS tok
      FROM t, LATERAL (SELECT RANGE(1, LEN(toks) + 1) AS i) g),
    runs AS (
      SELECT doc_id, i, tok,
             CASE WHEN LAG(tok) OVER (PARTITION BY doc_id ORDER BY i) = tok
                  THEN 0 ELSE 1 END AS brk
      FROM pos),
    segs AS (
      SELECT doc_id, tok,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
                            ROWS UNBOUNDED PRECEDING) AS seg
      FROM runs),
    seg_len AS (
      SELECT doc_id, COUNT(*) AS run_len FROM segs GROUP BY doc_id, seg)
    SELECT t.doc_id, CAST(LEN(t.toks) AS BIGINT) AS n_toks,
           CAST(COALESCE(m.max_run, 0) AS BIGINT) AS max_run,
           COALESCE(m.max_run, 0) >= 8 AS degenerate
    FROM t LEFT JOIN (SELECT doc_id, MAX(run_len) AS max_run
                      FROM seg_len GROUP BY doc_id) m USING (doc_id)
    """,
)
def max_token_runlength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive same-token run per document — the degenerate-
    repetition detector ("the the the the …") that catches both broken
    scrapers and model-generated loop text; flagged at run ≥ 8 (the
    synthetic-data QA gate next to ``doc_repetition_signals``'s n-gram
    fractions, which normalize away exactly this adjacency structure).

    Implementation is a single shuffle-free ``aggregate`` fold over the
    token array (state = (prev, run, best) carried left-to-right), so the
    whole operator is a map-only projection — the oracle computes the
    identical quantity with the LAG/running-sum segmentation idiom,
    pinning that the fold equals the relational formulation.

    Scale: no explode, no window, no shuffle — per-row array fold in the
    JVM; the cheapest shape for a per-doc sequence statistic.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )
    def step(acc, tok):
        run = F.when(tok == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            tok.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )
    max_run = F.aggregate(toks, init, step, lambda acc: acc["best"])
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_toks"),
        max_run.cast("bigint").alias("max_run"),
        (max_run >= 8).alias("degenerate"),
    )


# --------------------------------------------------------------------------
# Tokenizer fertility by language
# --------------------------------------------------------------------------

_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@query(
    "tokenizer_fertility",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             LEN({tx.tokens_sql()}) AS words,
             LEN(REGEXP_EXTRACT_ALL(text, '{_BPE_RE}')) AS bpe_toks,
             n_chars
      FROM documents)
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(words) AS BIGINT) AS n_words,
           CAST(SUM(bpe_toks) AS BIGINT) AS n_bpe_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           ROUND(CAST(SUM(bpe_toks) AS DOUBLE) / SUM(words), 6) AS fertility,
           ROUND(CAST(SUM(n_chars) AS DOUBLE) / SUM(bpe_toks), 6)
               AS chars_per_token
    FROM t GROUP BY lang
    """,
)
def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility card per language: BPE-ish tokens per whitespace
    word and characters per token — the efficiency metric (mT5/XLM-R
    papers) that tells a training team which languages pay a token tax
    under the current tokenizer and need vocab rebalancing (reads straight
    into ``mixture_temperature_weights`` decisions).

    Determinism: all counts exact integers from identical RE2-compatible
    regexes; two rounded divisions.  Scale: shuffle-free per-doc counting
    folded into one map-side-combining aggregate on the bounded lang key.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        F.size(tx.tokens("text")).alias("words"),
        F.size(F.regexp_extract_all("text", F.lit(_BPE_RE), F.lit(0))).alias(
            "bpe_toks"
        ),
        "n_chars",
    )
    return t.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("n_words"),
        F.sum("bpe_toks").cast("bigint").alias("n_bpe_tokens"),
        F.sum("n_chars").cast("bigint").alias("n_chars"),
        F.round(
            F.sum("bpe_toks").cast("double") / F.sum("words"), 6
        ).alias("fertility"),
        F.round(
            F.sum("n_chars").cast("double") / F.sum("bpe_toks"), 6
        ).alias("chars_per_token"),
    )


# --------------------------------------------------------------------------
# Maximum inner-product search (MIPS) and pairwise-cosine calibration
# --------------------------------------------------------------------------

from lms_etl_pipeline_spark.operators import vectors as vec  # noqa: E402

_MIPS_QUERIES = 5
_MIPS_K = 5


@query(
    "knn_dot_product_mips",
    oracle=f"""
    WITH q AS (SELECT * FROM embeddings WHERE vec_id < {_MIPS_QUERIES}),
    pairs AS (
      SELECT q.vec_id AS q_id, e.vec_id AS n_id,
             ROUND({vec.dot_sql('e.embedding', 'q.embedding', EMB_DIM)}, 6)
                 AS dot
      FROM q CROSS JOIN embeddings e
      WHERE e.vec_id != q.vec_id),
    ranked AS (
      SELECT q_id, n_id, dot,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY dot DESC, n_id ASC) AS rk
      FROM pairs)
    SELECT q_id, n_id, rk, dot FROM ranked WHERE rk <= {_MIPS_K}
    """,
)
def knn_dot_product_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum inner-product search (MIPS): exact top-{5} by RAW dot
    product per query vector — the retrieval metric recommendation scorers
    and learned-sparse models use (unlike cosine, magnitude matters, so
    high-norm items rank up; the metric twin of ``knn_cosine_exact`` that
    norm-normalization would erase).

    Determinism: the left-assoc double fold equals the oracle's explicit
    left-assoc sum chain bit-for-bit (the ``operators.vectors`` contract);
    ranking ties break on the id.

    Scale: bounded {5}-row query-set broadcast × one linear corpus scan —
    embarrassingly parallel, no N²; the approximate path at scale is the
    same IVF/LSH bucketing as cosine after the standard MIPS-to-cosine
    augmentation (append sqrt(M²-‖x‖²) as an extra dim), documented here
    as the composition route.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < _MIPS_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    pairs = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("n_id"),
            F.round(vec.dot(F.col("embedding"), F.col("q_emb")), 6).alias("dot"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("dot").desc(), F.col("n_id").asc())
    return pairs.select(
        "q_id", "n_id", F.row_number().over(w).alias("rk"), "dot"
    ).filter(F.col("rk") <= _MIPS_K)


_PAIR_BOUND = 200
_PAIR_THRESH = 0.4


@query(
    "embedding_pairwise_stats",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id < {_PAIR_BOUND}),
    pairs AS (
      SELECT ROUND({vec.cosine_sql("a.embedding", "b.embedding", EMB_DIM)}, 6) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(CAST(cosine AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_cos,
           MIN(cosine) AS min_cos, MAX(cosine) AS max_cos,
           CAST(SUM(CASE WHEN cosine >= {_PAIR_THRESH} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_above_thresh,
           ROUND(CAST(SUM(CASE WHEN cosine >= {_PAIR_THRESH} THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS frac_above_thresh
    FROM pairs
    """,
)
def embedding_pairwise_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-cosine distribution card over a bounded id-range sample:
    mean/min/max cosine and the fraction of pairs above the SemDeDup
    threshold — the calibration read a team takes BEFORE picking a
    semantic-dedup cutoff (if 30% of random pairs exceed your threshold,
    the threshold deletes the corpus).  Same bounded-anchor discipline as
    ``dedup_embedding_cosine``: the quadratic compare is an explicit
    {200}-row sample, never corpus-wide; the production estimator samples
    pairs per IVF cell.

    Determinism: each rounded cosine is DECIMAL-cast before the cross-row
    mean sum; counts exact; min/max compare identical rounded doubles.
    """
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _PAIR_BOUND
    )
    a = e.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    # a zero-norm vector (failed encoder output) makes the cosine
    # undefined — NULL, not an ANSI abort (hostile-text sweep)
    cos = F.round(vec.cosine(F.col("ea"), F.col("eb")), 6)
    pairs = (
        a.crossJoin(b).filter(F.col("a") < F.col("b")).select(cos.alias("cosine"))
    )
    above = F.when(F.col("cosine") >= _PAIR_THRESH, 1).otherwise(0)
    return pairs.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.round(
            F.sum(F.col("cosine").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_cos"),
        F.min("cosine").alias("min_cos"),
        F.max("cosine").alias("max_cos"),
        F.sum(above).cast("bigint").alias("n_above_thresh"),
        F.round(F.sum(above).cast("double") / F.count("*"), 6).alias(
            "frac_above_thresh"
        ),
    )


# --------------------------------------------------------------------------
# Exact weighted median
# --------------------------------------------------------------------------


@query(
    "weighted_median_price",
    oracle="""
    WITH w AS (
      SELECT l_returnflag, l_extendedprice, l_orderkey, l_linenumber,
             CAST(l_quantity AS DECIMAL(18,4)) AS wt,
             SUM(CAST(l_quantity AS DECIMAL(18,4)))
               OVER (PARTITION BY l_returnflag
                     ORDER BY l_extendedprice, l_orderkey, l_linenumber
                     ROWS UNBOUNDED PRECEDING) AS cumw,
             SUM(CAST(l_quantity AS DECIMAL(18,4)))
               OVER (PARTITION BY l_returnflag) AS total_w
      FROM lineitem),
    hit AS (
      SELECT l_returnflag, l_extendedprice, total_w,
             ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                ORDER BY cumw, l_orderkey, l_linenumber) AS rk
      FROM w WHERE cumw * 2 >= total_w)
    SELECT l_returnflag, l_extendedprice AS weighted_median,
           CAST(ROUND(total_w, 4) AS DOUBLE) AS total_weight
    FROM hit WHERE rk = 1
    """,
)
def weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median: per return flag, the price at which half the
    total QUANTITY mass sits at-or-below — the volume-weighted central
    price (a different and usually more honest answer than the row-median
    ``agg_percentiles_exact`` gives, since a 50-unit line should count 50
    times).  The "first row where 2·cum ≥ total" rule is the textbook
    lower weighted median.

    Determinism: weights and running totals stay in exact DECIMAL with a
    total sort order (price, orderkey, linenumber), and the halfway test
    is an exact decimal comparison — no interpolation, no float knife
    edge; the median itself is a raw value passthrough.

    Scale: one window partitioned BY THE GROUP KEY (single shuffle, sort
    within group); the group count bounds output.  For extreme groups the
    two-pass quantile (histogram bins then exact within the hit bin)
    drops in — same discipline as the equi-depth profiler.
    """
    li = load_table(spark, sf_dir, "lineitem")
    wt = F.col("l_quantity").cast("decimal(18,4)")
    order = ["l_extendedprice", "l_orderkey", "l_linenumber"]
    wcum = (
        Window.partitionBy("l_returnflag")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("l_returnflag")
    w = li.select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.sum(wt).over(wcum).alias("cumw"),
        F.sum(wt).over(wall).alias("total_w"),
    )
    hit_w = Window.partitionBy("l_returnflag").orderBy(
        "cumw", "l_orderkey", "l_linenumber"
    )
    return (
        w.filter(F.col("cumw") * 2 >= F.col("total_w"))
        .select(
            "l_returnflag",
            F.col("l_extendedprice").alias("weighted_median"),
            F.round("total_w", 4).cast("double").alias("total_weight"),
            F.row_number().over(hit_w).alias("rk"),
        )
        .filter(F.col("rk") == 1)
        .drop("rk")
    )


# --------------------------------------------------------------------------
# SymSpell spelling-variant pairs (deletion-neighborhood equi-join)
# --------------------------------------------------------------------------

_SYM_MIN_LEN = 4  # skip ultra-short tokens (1-deletes collide trivially)
#: a pair is a correction SUGGESTION only when one side dominates the other
#: in frequency (classic SymSpell practice) — and the gate is also what
#: keeps the OUTPUT bounded: fuzz seed 43's adversarial vocabulary (10k
#: dense `w####` tokens, all frequency ~1) has >2M genuine distance-1
#: pairs, so an ungated pair set is quadratic in the worst case even
#: though candidate GENERATION stays equi-join-shaped.  Requiring a 4x
#: frequency margin collapses uniform-frequency vocab to ~nothing while
#: keeping every real typo (rare misspelling of a frequent word).
_SYM_FREQ_RATIO = 4


@query(
    "spelling_variants_symspell",
    oracle=f"""
    WITH vocab AS (
      SELECT tok, COUNT(*) AS freq
      FROM (SELECT UNNEST({tx.tokens_sql()}) AS tok FROM documents) x
      GROUP BY tok HAVING LENGTH(tok) >= {_SYM_MIN_LEN}),
    dels AS (
      SELECT tok, freq,
             UNNEST(LIST_TRANSFORM(RANGE(1, LENGTH(tok) + 1),
                    i -> SUBSTRING(tok, 1, i - 1)
                         || SUBSTRING(tok, i + 1, LENGTH(tok)))) AS variant
      FROM vocab),
    keys AS (
      SELECT tok, freq, variant AS k FROM dels
      UNION ALL SELECT tok, freq, tok FROM vocab),
    cands AS (
      SELECT LEAST(l.tok, r.tok) AS a, GREATEST(l.tok, r.tok) AS b,
             ANY_VALUE(CASE WHEN l.tok < r.tok THEN l.freq ELSE r.freq END)
               AS freq_a,
             ANY_VALUE(CASE WHEN l.tok < r.tok THEN r.freq ELSE l.freq END)
               AS freq_b
      FROM keys l JOIN keys r ON l.k = r.k AND l.tok <> r.tok
      WHERE l.freq >= {_SYM_FREQ_RATIO}
      GROUP BY 1, 2)
    SELECT a, b, CAST(freq_a AS BIGINT) AS freq_a,
           CAST(freq_b AS BIGINT) AS freq_b
    FROM cands
    WHERE LEVENSHTEIN(a, b) = 1
      AND GREATEST(freq_a, freq_b) >= {_SYM_FREQ_RATIO} * LEAST(freq_a, freq_b)
    """,
)
def spelling_variants_symspell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spelling-variant pairs at edit distance exactly 1, found with the
    SymSpell deletion-neighborhood trick: every vocab token emits its
    1-deletion variants plus itself as join keys, tokens sharing a key
    are candidates, and a Levenshtein check confirms — the vocab-
    normalization / typo-mining pass that runs over a crawl before
    frequency thresholds (a rare token one edit from a frequent one is a
    typo; the freq columns give the correction direction — enforced as a
    4x dominance gate, which is also the output bound:
    see _SYM_FREQ_RATIO and the seed-43 pin in tests/test_fuzz_fixture).

    Scale: candidate generation is an EQUI-join on the deletion key —
    never all-pairs over the vocabulary (the SymSpell insight: distance-1
    pairs must share a deletion key, so recall is lossless); the key fan
    is Σ token-length per DISTINCT token, corpus-size-independent once
    the vocab aggregate collapses.  The deletes index is built over the
    DICTIONARY side only (freq >= ratio, real SymSpell's asymmetry) —
    lossless under the dominance gate, and it bounds the join output by
    |dictionary| x neighborhood even on adversarial vocab where the raw
    distance-1 pair set is quadratic (fuzz seed 43: 10k dense `w####`
    singletons, >2M raw pairs -> 0 suggestions, seconds not minutes).
    Levenshtein runs on candidates only.
    """
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select(F.explode(tx.tokens("text")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .filter(F.length("tok") >= _SYM_MIN_LEN)
    )
    i = F.explode(F.sequence(F.lit(1), F.length("tok")))
    dels = vocab.select(
        "tok",
        "freq",
        i.alias("i"),
    ).select(
        "tok",
        "freq",
        F.concat(
            F.expr("substring(tok, 1, i - 1)"),
            F.expr("substring(tok, i + 1, length(tok))"),
        ).alias("k"),
    )
    keys = dels.unionByName(
        vocab.select("tok", "freq", F.col("tok").alias("k"))
    )
    # the deletes INDEX is built over the DICTIONARY side only (freq >=
    # ratio) — real SymSpell's shape, and the asymmetry is what bounds the
    # join on adversarial uniform-frequency vocab: the dominance gate
    # below needs max(freq) >= ratio * min(freq) with min >= 1, so a pair
    # with NO side at freq >= ratio can never survive — pre-filtering the
    # index side is lossless
    l = keys.filter(F.col("freq") >= _SYM_FREQ_RATIO).select(
        F.col("tok").alias("lt"), F.col("freq").alias("lf"), "k"
    )
    r = keys.select(F.col("tok").alias("rt"), F.col("freq").alias("rf"), "k")
    a_first = F.col("lt") < F.col("rt")
    cands = (
        l.join(r, "k")
        .filter(F.col("lt") != F.col("rt"))
        .select(
            F.least("lt", "rt").alias("a"),
            F.greatest("lt", "rt").alias("b"),
            F.when(a_first, F.col("lf")).otherwise(F.col("rf")).alias("fa"),
            F.when(a_first, F.col("rf")).otherwise(F.col("lf")).alias("fb"),
        )
        .groupBy("a", "b")
        .agg(
            F.any_value("fa").alias("freq_a"),
            F.any_value("fb").alias("freq_b"),
        )
    )
    return (
        cands.filter(F.levenshtein("a", "b") == 1)
        .filter(
            F.greatest("freq_a", "freq_b")
            >= _SYM_FREQ_RATIO * F.least("freq_a", "freq_b")
        )
        .select(
            "a",
            "b",
            F.col("freq_a").cast("bigint").alias("freq_a"),
            F.col("freq_b").cast("bigint").alias("freq_b"),
        )
    )


# --------------------------------------------------------------------------
# SemDeDup threshold sweep (yield curve)
# --------------------------------------------------------------------------

_SWEEP_THRESHOLDS = (0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)


@query(
    "semdedup_threshold_sweep",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding FROM embeddings
               WHERE vec_id < {_PAIR_BOUND}),
    pairs AS (
      SELECT ROUND({vec.cosine_sql("a.embedding", "b.embedding", EMB_DIM)}, 6) AS cosine
      FROM e a JOIN e b ON a.vec_id < b.vec_id),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs),
    thr AS (SELECT UNNEST(ARRAY[{", ".join(f"CAST({t} AS DOUBLE)" for t in _SWEEP_THRESHOLDS)}])
                AS threshold)
    SELECT t.threshold,
           CAST(SUM(CASE WHEN p.cosine >= t.threshold THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pairs_above,
           ROUND(CAST(SUM(CASE WHEN p.cosine >= t.threshold THEN 1 ELSE 0 END)
                      AS DOUBLE) / (SELECT n FROM tot), 6) AS frac_above
    FROM pairs p, thr t
    GROUP BY t.threshold
    """,
)
def semdedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic-dedup yield curve: for each candidate cosine threshold,
    the count and fraction of sampled pairs that would be flagged — the
    sweep a curation team reads BEFORE fixing the SemDeDup cutoff
    (completes ``embedding_pairwise_stats``' single-threshold card into
    the full tradeoff curve; pick the knee, not a folk constant).

    Determinism: the rounded cosines are identical doubles on both
    engines, threshold comparisons are exact literal compares, counts
    exact.

    Scale: the pair sample is the same bounded {200}-row id-range anchor
    (production sweeps sample within IVF cells); the sweep itself is a
    constant {7}-way explode of the pair table + one map-side-combining
    count per threshold — reading 7 thresholds costs one pass, not 7.
    """
    e = load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _PAIR_BOUND
    )
    a = e.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = e.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    # a zero-norm vector (failed encoder output) makes the cosine
    # undefined — NULL, not an ANSI abort (hostile-text sweep)
    cos = F.round(vec.cosine(F.col("ea"), F.col("eb")), 6)
    pairs = (
        a.crossJoin(b).filter(F.col("a") < F.col("b")).select(cos.alias("cosine"))
    )
    tot = pairs.agg(F.count("*").cast("bigint").alias("n"))
    thr = F.explode(
        F.array(*[F.lit(t) for t in _SWEEP_THRESHOLDS])
    ).alias("threshold")
    return (
        pairs.select("cosine", thr)
        .groupBy("threshold")
        .agg(
            F.sum(F.when(F.col("cosine") >= F.col("threshold"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_pairs_above")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "threshold",
            "n_pairs_above",
            F.round(
                F.col("n_pairs_above").cast("double") / F.col("n"), 6
            ).alias("frac_above"),
        )
    )


# --------------------------------------------------------------------------
# Forecast backtest evaluation (seasonal-naive model)
# --------------------------------------------------------------------------


@query(
    "forecast_backtest_eval",
    oracle="""
    WITH e AS (
      SELECT event_type, value, EXTRACT(HOUR FROM ts) AS hod FROM events),
    prof AS (
      SELECT event_type, hod,
             ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 6) AS pred
      FROM e GROUP BY event_type, hod),
    scored AS (
      SELECT e.event_type, e.value, p.pred,
             ROUND(ABS(e.value - p.pred), 6) AS abs_err,
             ROUND(e.value - p.pred, 6) AS err
      FROM e JOIN prof p USING (event_type, hod))
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(abs_err AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mae,
           ROUND(CAST(SUM(CAST(err AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) + 0.0 AS bias,
           ROUND(CAST(SUM(CAST(abs_err AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(SUM(CAST(ABS(value) AS DECIMAL(18,6))) AS DOUBLE), 6)
               AS wape
    FROM scored GROUP BY event_type
    """,
)
def forecast_backtest_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtest: score the seasonal-naive model (per-(type, hour)
    mean — ``timeseries_seasonal_profile``'s predictor) against the actual
    values and report per-type MAE, signed bias, and WAPE (weighted
    absolute percentage error — the scale-free accuracy number planners
    quote; plain MAPE explodes on near-zero actuals, WAPE doesn't).
    Completes the forecasting loop: model → residuals → accuracy gate.

    Determinism: the prediction is rounded BEFORE residuals (identical
    doubles both engines); every cross-row error sum is DECIMAL-cast;
    final metrics are rounded divisions of identical operands.  KNOWN
    LATENT CLASS (fuzz seed 11, fixed in timeseries_seasonal_profile):
    ROUND(quotient, 6) diverges between engines when the quotient sits
    within an ulp of a decimal tie; here every rounded quantity then
    flows into per-type AGGREGATES (mae/bias/wape over thousands of
    rows), so a single 1e-6 pred divergence is diluted ~n-fold before
    the final 6-dp round — no seed or fixture has tripped it.  If one
    ever does, apply the seasonal-profile treatment: drop the pred
    round (the quotient is already engine-identical) and quantize the
    error sums in exact integer units instead.

    Scale: the profile is a bounded-key aggregate broadcast back onto one
    event scan; the metric rollup is a second map-side-combining
    aggregate on event_type — two scans, zero wide shuffles.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select("event_type", "value", F.hour("ts").alias("hod"))
    prof = e.groupBy("event_type", "hod").agg(
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("pred")
    )
    scored = e.join(F.broadcast(prof), ["event_type", "hod"]).select(
        "event_type",
        "value",
        F.round(F.abs(F.col("value") - F.col("pred")), 6).alias("abs_err"),
        F.round(F.col("value") - F.col("pred"), 6).alias("err"),
    )
    dsum = lambda c: F.sum(F.col(c).cast("decimal(18,6)")).cast("double")  # noqa: E731
    return scored.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.round(dsum("abs_err") / F.count("*"), 6).alias("mae"),
        # + 0.0 collapses IEEE -0.0 to +0.0 (engines disagree on which
        # side of zero a rounded tiny bias lands)
        (F.round(dsum("err") / F.count("*"), 6) + F.lit(0.0)).alias("bias"),
        F.round(
            dsum("abs_err")
            / F.sum(F.abs("value").cast("decimal(18,6)")).cast("double"),
            6,
        ).alias("wape"),
    )


# --------------------------------------------------------------------------
# MDM golden-record survivorship
# --------------------------------------------------------------------------


@query(
    "mdm_golden_record",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source, n_chars, {tx.fingerprint_sql(tx.tokens_sql())} AS f FROM documents),
    ranked AS (
      SELECT doc_id, source, n_chars, f,
             ROW_NUMBER() OVER (PARTITION BY f
                                ORDER BY n_chars DESC, doc_id) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY f) AS BIGINT) AS n_members,
             CAST(MAX(n_chars) OVER (PARTITION BY f) AS BIGINT) AS max_chars,
             CAST(MIN(doc_id) OVER (PARTITION BY f) AS BIGINT) AS first_id
      FROM fp)
    SELECT f AS fingerprint, doc_id AS survivor_id, source AS survivor_source,
           n_members, max_chars, first_id
    FROM ranked WHERE rk = 1 AND n_members > 1
    """,
)
def mdm_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (MDM): within each exact-duplicate
    cluster, elect the survivor by an explicit POLICY — longest content
    first, then lowest id — and carry merged attributes (member count,
    best length, earliest id) onto the golden row.  This is the
    master-data step AFTER matching: ``dedup_fingerprint`` answers "which
    rows are the same entity"; survivorship answers "which values win"
    (the reference's upsert keeps whichever row arrived last —
    last-write-wins by accident; this makes the policy explicit).

    Determinism: policy keys are exact integers with a total tie-break;
    no floats.

    Scale: one window partitioned by the cluster fingerprint (uniform
    128-bit key) computes the election and every merged attribute in a
    single pass — no self-join of members, no collect.
    """
    d = load_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id", "source", "n_chars", tx.fingerprint("text").alias("f")
    )
    wp = Window.partitionBy("f")
    wr = wp.orderBy(F.col("n_chars").desc(), "doc_id")
    ranked = fp.select(
        "doc_id",
        "source",
        "f",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(wp).cast("bigint").alias("n_members"),
        F.max("n_chars").over(wp).cast("bigint").alias("max_chars"),
        F.min("doc_id").over(wp).cast("bigint").alias("first_id"),
    )
    return ranked.filter((F.col("rk") == 1) & (F.col("n_members") > 1)).select(
        F.col("f").alias("fingerprint"),
        F.col("doc_id").alias("survivor_id"),
        F.col("source").alias("survivor_source"),
        "n_members",
        "max_chars",
        "first_id",
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test
# --------------------------------------------------------------------------


@query(
    "ks_test_drift",
    oracle=f"""
    WITH t AS (
      SELECT n_chars AS v, doc_id % 10 = {_BATCH_MOD} AS in_delta
      FROM documents),
    counts AS (
      SELECT v,
             CAST(SUM(CASE WHEN in_delta THEN 0 ELSE 1 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN in_delta THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM t GROUP BY v),
    tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
                   CAST(SUM(cb) AS BIGINT) AS nb FROM counts),
    cdf AS (
      SELECT v,
             SUM(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
             SUM(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
      FROM counts),
    d AS (
      SELECT MAX(ABS(ROUND(CAST(cum_a AS DOUBLE) / (SELECT na FROM tot)
                           - CAST(cum_b AS DOUBLE) / (SELECT nb FROM tot), 9)))
                 AS d_stat
      FROM cdf)
    SELECT (SELECT na FROM tot) AS n_index, (SELECT nb FROM tot) AS n_delta,
           ROUND(d_stat, 6) AS d_stat,
           ROUND(1.358 * SQRT(CAST((SELECT na FROM tot) + (SELECT nb FROM tot)
                                   AS DOUBLE)
                              / ((SELECT na FROM tot)
                                 * CAST((SELECT nb FROM tot) AS DOUBLE))), 6)
               AS crit_05,
           ROUND(d_stat, 6)
             > ROUND(1.358 * SQRT(CAST((SELECT na FROM tot)
                                       + (SELECT nb FROM tot) AS DOUBLE)
                                  / ((SELECT na FROM tot)
                                     * CAST((SELECT nb FROM tot) AS DOUBLE))), 6)
               AS drifted
    FROM d
    """,
)
def ks_test_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test on the delta batch vs the index
    corpus over document length: D = max |CDF_index − CDF_delta| plus the
    α=0.05 critical value 1.358·√((n+m)/(n·m)) and the drift verdict —
    the NONPARAMETRIC drift gate beside ``psi_drift_report`` (PSI needs
    binning choices; KS reads the full empirical CDFs and is the
    statistic monitoring suites quote).

    Determinism: per-value counts and cumulative sums are exact integers
    over a deterministic value order; each CDF gap is rounded at scale 9
    before the MAX (identical doubles both engines), and the verdict
    compares scale-6 roundings of identical expressions.

    Scale: one conditional count per distinct value (map-side combining),
    a cumulative window over the VALUE DOMAIN (not the corpus), and a
    1-row total broadcast.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        F.col("n_chars").alias("v"),
        (F.col("doc_id") % 10 == _BATCH_MOD).alias("in_delta"),
    )
    counts = t.groupBy("v").agg(
        F.sum(F.when(F.col("in_delta"), 0).otherwise(1))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("in_delta"), 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    tot = counts.agg(
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cdf = counts.select(
        "v",
        F.sum("ca").over(w).alias("cum_a"),
        F.sum("cb").over(w).alias("cum_b"),
    )
    # try_divide: a one-sided sample (all rows in one batch arm) zeroes a
    # CDF denominator — the gap is NULL then, not an abort (n=1 sweep)
    gap = F.abs(
        F.round(
            F.try_divide(F.col("cum_a").cast("double"), F.col("na"))
            - F.try_divide(F.col("cum_b").cast("double"), F.col("nb")),
            9,
        )
    )
    dstat = (
        cdf.crossJoin(F.broadcast(tot)).agg(F.max(gap).alias("d_stat"))
    )
    crit = F.round(
        F.lit(1.358)
        * F.sqrt(
            F.try_divide(
                (F.col("na") + F.col("nb")).cast("double"),
                F.col("na") * F.col("nb").cast("double"),
            )
        ),
        6,
    )
    return dstat.crossJoin(F.broadcast(tot)).select(
        F.col("na").alias("n_index"),
        F.col("nb").alias("n_delta"),
        F.round("d_stat", 6).alias("d_stat"),
        crit.alias("crit_05"),
        (F.round("d_stat", 6) > crit).alias("drifted"),
    )


# --------------------------------------------------------------------------
# Cramér's V categorical association
# --------------------------------------------------------------------------


@query(
    "cramers_v_association",
    oracle="""
    WITH obs AS (
      SELECT event_type, EXTRACT(DOW FROM ts) AS dow,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY event_type, dow),
    rt AS (SELECT event_type, SUM(o) AS r FROM obs GROUP BY event_type),
    ct AS (SELECT dow, SUM(o) AS c FROM obs GROUP BY dow),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nr,
                 CAST(COUNT(DISTINCT dow) AS BIGINT) AS nc FROM obs),
    chi AS (
      SELECT CAST(SUM(CAST(
               POWER(obs.o - CAST(rt.r AS DOUBLE) * ct.c / (SELECT n FROM n), 2)
               / (CAST(rt.r AS DOUBLE) * ct.c / (SELECT n FROM n))
             AS DECIMAL(28,10))) AS DOUBLE) AS chi2
      FROM obs JOIN rt USING (event_type) JOIN ct USING (dow))
    SELECT (SELECT n FROM n) AS n,
           ROUND(chi2, 4) AS chi2,
           CAST(((SELECT nr FROM n) - 1) * ((SELECT nc FROM n) - 1) AS BIGINT)
               AS dof,
           ROUND(SQRT(chi2 / ((SELECT n FROM n)
                 * (LEAST((SELECT nr FROM n), (SELECT nc FROM n)) - 1))), 6)
               AS cramers_v
    FROM chi
    """,
)
def cramers_v_association(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V association between event type and day-of-week: the χ²
    statistic over the contingency table normalized to [0, 1] — the
    CATEGORICAL counterpart of ``correlation_matrix`` (is behavior mix a
    function of weekday?  V ≈ 0 on these uniform fixtures — the null
    read a sanity check should give).

    Determinism: observed and marginal counts are exact integers; each
    cell's χ² term is one IEEE double from identical integers,
    DECIMAL(28,10)-cast before the cross-cell sum (order-free); χ² and V
    are rounded once.

    Scale: one |types×7|-bounded contingency aggregate, marginal
    broadcasts, and a cell-count-sized χ² sum — events scanned once.
    """
    e = load_table(spark, sf_dir, "events")
    obs = e.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count("*").cast("bigint").alias("o"))
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("dow").agg(F.sum("o").alias("c"))
    n = obs.agg(
        F.sum("o").cast("bigint").alias("n"),
        F.countDistinct("event_type").cast("bigint").alias("nr"),
        F.countDistinct("dow").cast("bigint").alias("nc"),
    )
    ex = F.col("r").cast("double") * F.col("c") / F.col("n")
    chi = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                (F.pow(F.col("o") - ex, 2) / ex).cast("decimal(28,10)")
            )
            .cast("double")
            .alias("chi2"),
            F.any_value("n").alias("n"),
            F.any_value("nr").alias("nr"),
            F.any_value("nc").alias("nc"),
        )
    )
    # coalesce nr/nc to 0 for dof: over an EMPTY table any_value is NULL
    # but the oracle's COUNT(DISTINCT ...) is 0, giving dof (0-1)(0-1)=1 —
    # align the degenerate case (tests/test_empty_fixture.py)
    nr0 = F.coalesce(F.col("nr"), F.lit(0).cast("bigint"))
    nc0 = F.coalesce(F.col("nc"), F.lit(0).cast("bigint"))
    return chi.select(
        "n",
        F.round("chi2", 4).alias("chi2"),
        ((nr0 - 1) * (nc0 - 1)).cast("bigint").alias("dof"),
        # try_divide: a 1x1 contingency table (single event type AND
        # single weekday) zeroes min(nr,nc)-1 — V undefined => NULL,
        # not an abort (n=1 fixture sweep)
        F.round(
            F.sqrt(
                F.try_divide(
                    F.col("chi2"), F.col("n") * (F.least("nr", "nc") - 1)
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# Duplicate rate by source
# --------------------------------------------------------------------------


@query(
    "dup_rate_by_source",
    oracle=f"""
    WITH fp AS (SELECT doc_id, source, {tx.fingerprint_sql(tx.tokens_sql())} AS f FROM documents),
    csize AS (SELECT f, COUNT(*) AS sz FROM fp GROUP BY f)
    SELECT fp.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN c.sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_in_dup_cluster,
           ROUND(CAST(SUM(CASE WHEN c.sz > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_rate
    FROM fp JOIN csize c USING (f)
    GROUP BY fp.source
    """,
)
def dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate rate per source: the fraction of each feed's documents
    that belong to a multi-member exact-duplicate cluster — the
    per-supplier quality signal that turns the corpus-wide dedup ledger
    into an actionable feed scorecard (pairs with `source_overlap_matrix`
    for WHO mirrors WHOM and `source_reputation` for the composite card).

    Scale: fingerprint once (map-only), one cluster-size aggregate on the
    uniform 128-bit key, an equi-join back on that key, and a source-keyed
    conditional count — no pairwise work anywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    fp = d.select("doc_id", "source", tx.fingerprint("text").alias("f"))
    csize = fp.groupBy("f").agg(F.count("*").alias("sz"))
    return (
        fp.join(csize, "f")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("sz") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_in_dup_cluster"),
            F.round(
                F.sum(F.when(F.col("sz") > 1, 1).otherwise(0)).cast("double")
                / F.count("*"),
                6,
            ).alias("dup_rate"),
        )
    )
