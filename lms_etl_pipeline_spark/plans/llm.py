"""LLM-training-data pipeline queries: dedup (exact / MinHash-LSH / SimHash),
similarity search (exact cosine top-k + hyperplane-LSH), text analysis
(token stats, quality scoring, language-ID, TF-IDF, n-grams), and multimodal
column handling over the ``documents`` / ``embeddings`` fixtures.

Oracle strategy: everything deterministic is differentially tested against
DuckDB — including MinHash (the md5-based universal-hash family is
engine-portable, so the oracle computes *identical* signatures) and the
connected-components clustering (recursive-CTE transitive closure).  Only
the intrinsically approximate paths are rows-only — SimHash (xxhash64),
hyperplane-LSH / IVF recall, HLL sketches, seeded sampling —
each anchored by an exact oracle-checked twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import dedup as dd
from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.session import default_parallelism, spread_for_cpu
from lms_etl_pipeline_spark.sources.tables import load_table

EMB_DIM = 64

# DuckDB fragment: whitespace tokens with empties removed (mirrors tx.tokens).
_TOKS = r"LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(text, '\s+'), t -> t != '')"
# DuckDB fragment: distinct word-3-gram shingle set (mirrors tx.shingles, n=3).
_SHINGLES = (
    "LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, GREATEST(LEN({t}) - 1, 1)), "
    "i -> ARRAY_TO_STRING(LIST_SLICE({t}, i, i + 2), ' ')))"
).format(t=_TOKS)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           LEN(toks) AS n_tokens,
           LEN(LIST_DISTINCT(toks)) AS n_distinct,
           CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks) AS ttr,
           CAST(LIST_SUM(LIST_TRANSFORM(toks, x -> LENGTH(x))) AS DOUBLE) / LEN(toks)
               AS mean_token_len,
           CAST(LEN(LIST_FILTER(toks, x -> x IN
               ('the','a','an','and','of','to','in','is','on'))) AS DOUBLE) / LEN(toks)
               AS stop_ratio
    FROM t
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (length, diversity, stopword ratio) —
    one narrow projection, no shuffle, linear at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    return tx.quality_features(d, "text").select(
        "doc_id", "n_tokens", "n_distinct", "ttr", "mean_token_len", "stop_ratio"
    )


@query(
    "doc_quality_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)
    SELECT doc_id, lang,
           LEN(toks) AS n_tokens,
           CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks) AS ttr
    FROM t
    WHERE LEN(toks) BETWEEN 20 AND 1000
      AND CAST(LEN(LIST_FILTER(toks, x -> x IN
            ('the','a','an','and','of','to','in','is','on'))) AS DOUBLE) / LEN(toks) <= 0.5
      AND CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks) > 0.05
    """,
)
def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus filtering: keep documents passing the quality gates — the
    bread-and-butter pretraining-data cleaning step."""
    d = load_table(spark, sf_dir, "documents")
    q = tx.quality_features(d, "text")
    return q.filter(
        F.col("n_tokens").between(20, 1000)
        & (F.col("stop_ratio") <= 0.5)
        & (F.col("ttr") > 0.05)
    ).select("doc_id", "lang", "n_tokens", "ttr")


@query(
    "curated_corpus_partitioned_write",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {_TOKS} AS toks FROM documents)
    SELECT doc_id, lang, LEN(toks) AS n_tokens
    FROM t
    WHERE LEN(toks) BETWEEN 20 AND 1000
      AND lang IN ('en', 'es')
    """,
)
def curated_corpus_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curated-corpus delivery: quality-gate, write parquet partitioned by
    ``lang``, read back with a partition-pruned scan — the layout a 100 TB
    corpus ships in (per-language consumers touch only their directories;
    `tests/test_parquet_partitioning.py` pins PartitionFilters + measured
    scan-bytes).  The differential check proves the partitioned hop is
    lossless: lang comes back from directory names, data columns from the
    files, and the pruned read returns exactly the oracle's rows.
    """
    from lms_etl_pipeline_spark.sources.parquet_io import read_partitioned, write_partitioned

    d = load_table(spark, sf_dir, "documents")
    gated = d.select(
        "doc_id", "lang", F.size(tx.tokens("text")).alias("n_tokens")
    ).filter(F.col("n_tokens").between(20, 1000))
    path = "/root/repo/.scratch/curated_by_lang"
    write_partitioned(gated, path, ["lang"])
    # Explicit schema on the read-back: when the gate matched ZERO rows the
    # layout holds no files and schema inference would raise
    # UNABLE_TO_INFER_SCHEMA — an empty delivery must round-trip as an
    # empty frame, not a crash (tests/test_empty_fixture.py).
    back = read_partitioned(spark, path, schema=gated.schema)
    return back.filter(F.col("lang").isin("en", "es")).select(
        "doc_id", "lang", F.col("n_tokens").cast("long").alias("n_tokens")
    )


@query(
    "text_language_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    hits AS (
      SELECT doc_id,
             LEN(LIST_FILTER(toks, x -> x IN ('the','a','an','and','of','to','is'))) AS en_hits,
             LEN(LIST_FILTER(toks, x -> x IN ('el','la','de','que','y','los'))) AS es_hits
      FROM t)
    SELECT doc_id, en_hits, es_hits,
           CASE WHEN en_hits > es_hits THEN 'en'
                WHEN es_hits > en_hits THEN 'es'
                WHEN en_hits > 0 THEN 'en'
                ELSE 'und' END AS pred_lang
    FROM hits
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic (embedded wordlists, no downloads).
    A real system swaps the lists for per-language n-gram profiles; the
    dataflow — one narrow projection — is identical."""
    d = load_table(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    en = F.size(F.filter(toks, lambda t: t.isin("the", "a", "an", "and", "of", "to", "is")))
    es = F.size(F.filter(toks, lambda t: t.isin("el", "la", "de", "que", "y", "los")))
    return d.select("doc_id", en.alias("en_hits"), es.alias("es_hits")).withColumn(
        "pred_lang",
        F.when(F.col("en_hits") > F.col("es_hits"), "en")
        .when(F.col("es_hits") > F.col("en_hits"), "es")
        .when(F.col("en_hits") > 0, "en")
        .otherwise("und"),
    )


@query(
    "token_count_bpe",
    oracle=r"""
    SELECT doc_id,
           LEN(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
           LEN(LIST_DISTINCT(REGEXP_EXTRACT_ALL(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))
               AS n_bpe_distinct,
           LENGTH(text) AS n_chars_exact
    FROM documents
    """,
)
def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer counts (letter runs / digit runs / punctuation)
    via one regexp_extract_all — the cheap token-budget estimator."""
    d = load_table(spark, sf_dir, "documents")
    pat = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
    toks = F.regexp_extract_all("text", F.lit(pat), 0)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_bpe_distinct"),
        F.length("text").alias("n_chars_exact"),
    )


@query(
    "tfidf_cosine_pairs",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, UNNEST({_TOKS}) AS term FROM documents WHERE doc_id < 150
    ),
    tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents WHERE doc_id < 150),
    w AS (
      SELECT tf.doc_id, tf.term,
             tf.tf * (LN((nd.n_docs + 1.0) / (dfreq.df + 1.0)) + 1) AS wt
      FROM tf JOIN dfreq USING (term) CROSS JOIN nd
    ),
    norms AS (SELECT doc_id, SQRT(SUM(wt * wt)) AS nrm FROM w GROUP BY 1),
    dots AS (
      SELECT a.doc_id AS a, b.doc_id AS b, SUM(a.wt * b.wt) AS dot
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d.a, d.b, ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots d JOIN norms na ON na.doc_id = d.a JOIN norms nb ON nb.doc_id = d.b
    WHERE d.dot / (na.nrm * nb.nrm) >= 0.35
    """,
)
def tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity pairs (classic IR near-dup): docs
    joined ONLY where they share a term — the sparse-vector trick that
    replaces a dense all-pairs cross join with a term-keyed equi-join whose
    cost is sum over terms of df² (bounded by stopword removal / df caps
    at scale).  Bounded id range keeps the oracle's self-join small.

    Float note: per-pair dot sums a handful of weight products in SQL-join
    order on both engines; scores round to 6 decimals for the hash."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    w = tx.tf_idf(d, "doc_id", "text").select(
        "doc_id", "term", F.col("tf_idf").alias("wt")
    )
    norms = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nrm"))
    a = w.select(F.col("doc_id").alias("a"), "term", F.col("wt").alias("wa"))
    b = w.select(F.col("doc_id").alias("b"), "term", F.col("wt").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("doc_id").alias("b"), F.col("nrm").alias("nb"))
    cos = F.col("dot") / (F.col("na") * F.col("nb"))
    return (
        dots.join(na, "a")
        .join(nb, "b")
        .filter(cos >= 0.35)
        .select("a", "b", F.round(cos, 6).alias("cosine"))
    )


@query(
    "tf_idf_top_terms",
    oracle=f"""
    WITH terms AS (
      SELECT doc_id, UNNEST({_TOKS}) AS term FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, COUNT(DISTINCT doc_id) AS df FROM terms GROUP BY 1
    ), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             ROUND(tf.tf * (LN((nd.n_docs + 1) / (dfreq.df + 1)) + 1), 6) AS tf_idf,
             ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                ORDER BY tf.tf DESC, dfreq.df ASC, tf.term ASC) AS rk
      FROM tf JOIN dfreq USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tf, df, tf_idf FROM scored WHERE rk <= 3
    """,
)
def tf_idf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.  Ranking keys on the integer (tf,
    df) pair so ordering never depends on float rounding; the float score is
    rounded for cross-engine hashing."""
    d = load_table(spark, sf_dir, "documents")
    scored = tx.tf_idf(d, "doc_id", "text")
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", F.round("tf_idf", 6).alias("tf_idf"))
    )


@query(
    "stopword_removal_bigrams",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             LIST_FILTER({_TOKS}, x -> x NOT IN
               ('the','a','an','and','of','to','in','is','on')) AS toks
      FROM documents
    ), grams AS (
      SELECT UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(toks), 1)),
                    i -> ARRAY_TO_STRING(LIST_SLICE(toks, i, i + 1), ' '))) AS bigram
      FROM t WHERE LEN(toks) >= 2
    )
    SELECT bigram, COUNT(*) AS n
    FROM grams GROUP BY 1
    ORDER BY n DESC, bigram ASC
    LIMIT 20
    """,
)
def stopword_removal_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StopWordsRemover + NGram(2) + count, as pure column expressions:
    the top-20 content bigrams of the corpus."""
    d = load_table(spark, sf_dir, "documents")
    # Tokenize into a materialized column first: shingles() must read an
    # attribute, not an inlined subtree (element_at re-evaluates subtrees
    # per position in interpreted higher-order eval).
    toked = d.select(
        F.filter(tx.tokens("text"), lambda t: ~t.isin(*tx.STOPWORDS_EN)).alias("_toks")
    ).filter(F.size("_toks") >= 2)
    return (
        toked.select(F.explode(tx.shingles(F.col("_toks"), n=2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


_POS_SQL = "('good','great','excellent','love','best','happy','nice','well')"
_NEG_SQL = "('bad','terrible','awful','hate','worst','sad','poor','wrong')"


@query(
    "text_sentiment_lexicon",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents)
    SELECT doc_id,
           LEN(LIST_FILTER(toks, x -> x IN {_POS_SQL})) AS pos_hits,
           LEN(LIST_FILTER(toks, x -> x IN {_NEG_SQL})) AS neg_hits,
           CAST(LEN(LIST_FILTER(toks, x -> x IN {_POS_SQL}))
                - LEN(LIST_FILTER(toks, x -> x IN {_NEG_SQL})) AS DOUBLE)
             / NULLIF(LEN(toks), 0) AS sentiment
    FROM t
    """,
)
def text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon sentiment scoring (SURVEY §2.12 text row): embedded pos/neg
    wordlists, one narrow projection, no shuffle."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", tx.tokens("text").alias("_toks"))
    pos = F.size(F.filter(F.col("_toks"), lambda t: t.isin(*tx.SENTIMENT_POS)))
    neg = F.size(F.filter(F.col("_toks"), lambda t: t.isin(*tx.SENTIMENT_NEG)))
    return toked.select(
        "doc_id",
        pos.alias("pos_hits"),
        neg.alias("neg_hits"),
        tx.sentiment_score(F.col("_toks")).alias("sentiment"),
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact_text",
    oracle="""
    SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies, MD5(text) AS text_md5
    FROM documents GROUP BY text
    """,
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on full content; keep the lowest id as
    canonical.  One shuffle on a uniform 128-bit key — flat at 100 TB."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("text").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count("*").alias("n_copies"),
        F.md5(F.first("text")).alias("text_md5"),
    ).drop("text")


@query(
    "dedup_fingerprint",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id,
             MD5(COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT({_TOKS})), ' '), '')) AS fingerprint
      FROM documents
    )
    SELECT fingerprint, MIN(doc_id) AS canonical_id, COUNT(*) AS n_docs
    FROM fp GROUP BY fingerprint
    """,
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form dedup: md5 of the sorted distinct token set — catches
    word-order / duplication variants that exact hashing misses."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", tx.fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_docs"))
    )


# DuckDB twins of operators.dedup.minhash_signature: one md5-derived base
# hash per shingle (reduced below MH_P), then k affine transforms mod MH_P.
_BASE_HASHES = (
    "LIST_TRANSFORM(sh, s -> TRY_CAST(CONCAT('0x', SUBSTRING(MD5(s), 1, 15)) AS BIGINT)"
    f" % {dd.MH_P})"
)


def _minhash_slots_sql(k: int) -> str:
    return ",\n             ".join(
        f"LIST_MIN(LIST_TRANSFORM(hs, h -> ({dd.MH_A[i]} * h + {dd.MH_B[i]}) % {dd.MH_P})) AS h{i}"
        for i in range(k)
    )


@query(
    "minhash_signatures",
    oracle=f"""
    WITH sh_t AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    hs_t AS (SELECT doc_id, {_BASE_HASHES} AS hs FROM sh_t WHERE LEN(sh) > 0)
    SELECT doc_id,
             {_minhash_slots_sql(8)}
    FROM hs_t
    """,
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8-slot MinHash signatures over 3-gram shingle sets.  The salted-md5
    hash family is engine-portable, so these exact signatures are
    differentially verified against DuckDB."""
    d = load_table(spark, sf_dir, "documents")
    return dd.with_minhash(d, "doc_id", "text", k=8)


@query(
    "near_dup_pairs_lsh",
    oracle=f"""
    WITH sh_t AS (SELECT doc_id, {_SHINGLES} AS sh FROM documents),
    hs_t AS (SELECT doc_id, sh, {_BASE_HASHES} AS hs FROM sh_t WHERE LEN(sh) > 0),
    sigs AS (
      SELECT doc_id,
             {_minhash_slots_sql(8)}
      FROM hs_t
    ),
    bands AS (
      SELECT doc_id, 0 AS band,
             MD5(CAST(h0 AS VARCHAR) || '|' || CAST(h1 AS VARCHAR)) AS band_hash FROM sigs
      UNION ALL SELECT doc_id, 1, MD5(CAST(h2 AS VARCHAR) || '|' || CAST(h3 AS VARCHAR)) FROM sigs
      UNION ALL SELECT doc_id, 2, MD5(CAST(h4 AS VARCHAR) || '|' || CAST(h5 AS VARCHAR)) FROM sigs
      UNION ALL SELECT doc_id, 3, MD5(CAST(h6 AS VARCHAR) || '|' || CAST(h7 AS VARCHAR)) FROM sigs
    ),
    cands AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM bands l JOIN bands r ON l.band = r.band AND l.band_hash = r.band_hash
      WHERE l.doc_id < r.doc_id
    )
    SELECT c.a, c.b,
           CAST(LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s))) AS DOUBLE)
             / (LEN(sa.sh) + LEN(sb.sh) - LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s))))
             AS jaccard
    FROM cands c
    JOIN sh_t sa ON sa.doc_id = c.a
    JOIN sh_t sb ON sb.doc_id = c.b
    WHERE CAST(LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s))) AS DOUBLE)
             / (LEN(sa.sh) + LEN(sb.sh) - LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s))))
             >= 0.5
    """,
)
def near_dup_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (4 bands x 2 rows) verified by exact
    shingle Jaccard >= 0.5.  Candidate generation is an equi-join on the
    band hash — cost is |candidates|, never N²."""
    d = load_table(spark, sf_dir, "documents")
    return dd.near_dup_pairs(d, "doc_id", "text", k=8, bands=4, threshold=0.5)


@query(
    "doc_repetition_signals",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    bg AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(toks)),
                    i -> ARRAY_TO_STRING(LIST_SLICE(toks, i, i + 1), ' '))) AS bigram
      FROM t WHERE LEN(toks) >= 2
    ),
    cnt AS (SELECT doc_id, bigram, COUNT(*) AS c FROM bg GROUP BY doc_id, bigram)
    SELECT doc_id,
           CAST(MAX(c) AS DOUBLE) / SUM(c) AS top_bigram_frac,
           CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / SUM(c)
               AS dup_bigram_frac
    FROM cnt GROUP BY doc_id
    """,
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (Rae et al. 2021,
    arXiv:2112.11446 §A1.1): the fraction of all bigrams taken by the single
    most frequent bigram, and the fraction covered by any repeated bigram —
    the standard filters for template/boilerplate text that length and
    stopword ratios miss.

    Relational plan, not a per-row array search: ONE explode to long form,
    count per (doc, bigram), then a per-doc max/sum — two partial-aggregated
    shuffles on uniformly distributed keys, linear at corpus scale.  Ratios
    are exact-integer divides (bit-identical across engines).
    """
    d = load_table(spark, sf_dir, "documents")
    # Materialize tokens + repartition before the shingle lambda (interpreted
    # higher-order eval re-inlines subtrees; single input split serializes
    # the CPU work — see operators.dedup plan-shape notes).
    toked = d.select("doc_id", tx.tokens("text").alias("_toks"))
    part = spread_for_cpu(toked, "doc_id")
    bg = part.select("doc_id", F.explode(tx.shingles(F.col("_toks"), 2)).alias("bigram"))
    cnt = bg.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    return cnt.groupBy("doc_id").agg(
        (F.max("c").cast("double") / F.sum("c")).alias("top_bigram_frac"),
        (
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast("double")
            / F.sum("c")
        ).alias("dup_bigram_frac"),
    )


# Engine-portable regex subset (Java regex == RE2 here: ASCII classes, no
# backrefs/lookaround) so Spark and the DuckDB oracle redact identically.
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_URL_RE = r"https?://[^\s]+"


@query(
    "text_redact_pii",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or see https://example.com/u/'
                  || CAST(doc_id AS VARCHAR) AS raw_text
      FROM documents
    )
    SELECT doc_id,
           REGEXP_REPLACE(REGEXP_REPLACE(raw_text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                          '{_URL_RE}', '<URL>', 'g') AS redacted,
           LEN(REGEXP_EXTRACT_ALL(raw_text, '{_EMAIL_RE}')) AS n_emails,
           LEN(REGEXP_EXTRACT_ALL(raw_text, '{_URL_RE}')) AS n_urls
    FROM raw
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — redact emails/URLs and count what was removed, the
    standard pretraining-corpus hygiene pass.

    The synthetic fixture corpus contains no PII, so the query plants a
    deterministic email+URL per document (derived from ``doc_id``, built
    identically in the oracle) — the differential check then proves the
    redaction itself, not a no-op pass-through.  Pure codegen'd regex
    column expressions: no UDF, no shuffle, linear scan at any scale.
    """
    d = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or see https://example.com/u/"),
        F.col("doc_id").cast("string"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"), _URL_RE, "<URL>"
    )
    return d.select(
        "doc_id",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all(raw, F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(_URL_RE), F.lit(0))).alias("n_urls"),
    )


@query(
    "contrastive_triplets",
    oracle=f"""
    WITH sh_t AS (
      SELECT doc_id, LIST_SORT({_SHINGLES}) AS sh FROM documents
    ),
    nz AS (SELECT doc_id, sh, LEN(sh) AS n FROM sh_t WHERE LEN(sh) > 0),
    pref AS (
      SELECT doc_id,
             UNNEST(LIST_SLICE(sh, 1, n - CAST(CEIL(0.5 * n) AS BIGINT) + 1)) AS g
      FROM nz
    ),
    cands AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM pref l JOIN pref r ON l.g = r.g AND l.doc_id < r.doc_id
    ),
    pos AS (
      SELECT c.a AS anchor, c.b AS positive
      FROM cands c
      JOIN nz sa ON sa.doc_id = c.a
      JOIN nz sb ON sb.doc_id = c.b
      WHERE CAST(LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s))) AS DOUBLE)
               / (sa.n + sb.n - LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s))))
               >= 0.5
    ),
    bound AS (SELECT MAX(doc_id) + 1 AS nd FROM documents),
    step0 AS (
      SELECT anchor, positive, nd, (anchor * 7919 + 31) % nd AS r0
      FROM pos CROSS JOIN bound
    ),
    step1 AS (
      SELECT anchor, positive, nd,
             CASE WHEN r0 IN (anchor, positive) THEN (r0 + 1) % nd ELSE r0 END AS r1
      FROM step0
    )
    SELECT anchor, positive,
           CASE WHEN r1 IN (anchor, positive) THEN (r1 + 1) % nd ELSE r1 END AS negative
    FROM step1
    """,
)
def contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive training triplets (anchor, positive, negative): positives
    are verified near-duplicates (the lossless prefix-filtered Jaccard
    join); negatives are drawn by a deterministic affine hash of the anchor
    id — retry-safe and reproducible, unlike ``rand()`` sampling, and biased
    toward *random* (easy) negatives exactly like standard in-batch
    negatives.  The collision guard keeps negative ∉ {{anchor, positive}}.

    Scale: positives cost what `ngram_jaccard_pairs` costs; negatives are a
    projection plus one 1-row broadcast (corpus-size bound).
    """
    pos = dd.jaccard_pairs_prefix(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.5,
        num_partitions=default_parallelism(spark),
    ).select(F.col("a").alias("anchor"), F.col("b").alias("positive"))
    nd = load_table(spark, sf_dir, "documents").agg(
        (F.max("doc_id") + 1).alias("nd")
    )
    def bump(r):
        hit = (r == F.col("anchor")) | (r == F.col("positive"))
        return F.when(hit, (r + 1) % F.col("nd")).otherwise(r)

    raw = (F.col("anchor") * 7919 + 31) % F.col("nd")
    neg = bump(bump(raw))  # two passes: the +1 step can itself land on the pair
    return pos.crossJoin(F.broadcast(nd)).select(
        "anchor", "positive", neg.alias("negative")
    )


@query(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH sh_t AS (
      SELECT doc_id, LIST_SORT({_SHINGLES}) AS sh FROM documents
    ),
    nz AS (SELECT doc_id, sh, LEN(sh) AS n FROM sh_t WHERE LEN(sh) > 0),
    pref AS (
      SELECT doc_id,
             UNNEST(LIST_SLICE(sh, 1, n - CAST(CEIL(0.5 * n) AS BIGINT) + 1)) AS g
      FROM nz
    ),
    cands AS (
      SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
      FROM pref l JOIN pref r ON l.g = r.g AND l.doc_id < r.doc_id
    )
    SELECT c.a, c.b,
           CAST(LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s))) AS DOUBLE)
             / (sa.n + sb.n - LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s))))
             AS jaccard
    FROM cands c
    JOIN nz sa ON sa.doc_id = c.a
    JOIN nz sb ON sb.doc_id = c.b
    WHERE CAST(LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s))) AS DOUBLE)
             / (sa.n + sb.n - LEN(LIST_FILTER(sa.sh, s -> LIST_CONTAINS(sb.sh, s))))
             >= 0.5
    """,
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram-Jaccard near-duplicate pairs via prefix filtering
    (PPJoin-style): two 3-gram shingle *sets* with Jaccard >= t must share
    at least one element in the first ``n - ceil(t*n) + 1`` elements of any
    consistent total order — so candidate generation is an equi-join on the
    exploded *prefix* only (lossless, unlike LSH, and far cheaper than the
    full inverted index).  Verification recomputes exact Jaccard on the
    candidate pairs alone.

    Scale path: the prefix join shuffles |prefix| ≈ (1-t)·|shingles| rows
    per doc on the shingle key — never N².  Ordering is lexicographic here
    (the fixtures' shingle frequencies are flat — measured no candidate
    win from df-ordering, see the operator docstring); Zipfian corpora
    should pass ``order='df'`` for the PPJoin rarest-first prefix.
    """
    d = load_table(spark, sf_dir, "documents")
    return dd.jaccard_pairs_prefix(
        d, "doc_id", "text", n=3, threshold=0.5,
        num_partitions=default_parallelism(spark),
    )


@query(
    "doc_outlier_filter_iqr",
    oracle="""
    WITH q AS (
      SELECT lang,
             FLOOR(QUANTILE_CONT(n_chars, 0.25)) AS q1,
             FLOOR(QUANTILE_CONT(n_chars, 0.75)) AS q3
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang, d.n_chars
    FROM documents d JOIN q ON d.lang = q.lang
    WHERE d.n_chars >= q.q1 - 2 * (q.q3 - q.q1)
      AND d.n_chars <= q.q3 + 2 * (q.q3 - q.q1)
    """,
)
def doc_outlier_filter_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language IQR outlier gate on document length — the robust
    (quantile-based) sibling of the z-score filter, standard for trimming
    truncated/concatenated documents before training.

    Thresholds are FLOOR'd to integers in both engines so an integer
    length can never sit within float-ulp of the cut line (knife-edge-free
    differential comparison).  Plan: one exact-percentile aggregate per
    language (tiny) broadcast back onto the corpus scan — two passes total,
    no sort of the full table.
    """
    d = load_table(spark, sf_dir, "documents")
    q = d.groupBy("lang").agg(
        F.floor(F.expr("percentile(n_chars, 0.25)")).alias("q1"),
        F.floor(F.expr("percentile(n_chars, 0.75)")).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return (
        d.join(F.broadcast(q), "lang")
        .filter(
            (F.col("n_chars") >= F.col("q1") - 2 * iqr)
            & (F.col("n_chars") <= F.col("q3") + 2 * iqr)
        )
        .select("doc_id", "lang", "n_chars")
    )


@query(
    "doc_zscore_normalize",
    oracle="""
    WITH m AS (
      SELECT lang,
             COUNT(*) AS n,
             CAST(SUM(CAST(n_chars AS DECIMAL(18,4))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(n_chars AS DECIMAL(18,4)) * CAST(n_chars AS DECIMAL(18,4)))
                  AS DOUBLE) AS s2
      FROM documents GROUP BY lang
    )
    SELECT d.doc_id, d.lang,
           ROUND((d.n_chars - s1 / n) / SQRT((s2 - s1 * s1 / n) / (n - 1)), 6)
               AS len_z
    FROM documents d JOIN m ON d.lang = m.lang
    WHERE m.n > 1
    """,
)
def doc_zscore_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group feature normalization: z-score of document length within
    its language — the broadcast-the-moments pattern (group stats are tiny;
    the corpus streams once).  Moments are exact decimal sums
    (order-free, the `agg_stats_exact` discipline) so mean/std — and hence
    every z — are bit-stable; one ROUND(6) on the final z absorbs the
    division/sqrt ulp.
    """
    d = load_table(spark, sf_dir, "documents")
    m = d.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum(F.col("n_chars").cast("decimal(18,4)")).cast("double").alias("s1"),
        F.sum(
            F.col("n_chars").cast("decimal(18,4)") * F.col("n_chars").cast("decimal(18,4)")
        )
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    std = F.sqrt((F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (F.col("n") - 1))
    return (
        d.join(F.broadcast(m), "lang")
        .filter(F.col("n") > 1)
        .select(
            "doc_id",
            "lang",
            F.round((F.col("n_chars") - mean) / std, 6).alias("len_z"),
        )
    )


@query(
    "doc_quality_score_logistic",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    feats AS (
      SELECT doc_id,
             LEN(toks) AS n_tokens,
             CAST(LEN(LIST_DISTINCT(toks)) AS DOUBLE) / LEN(toks) AS ttr,
             CAST(LEN(LIST_FILTER(toks, x -> x IN
                 ('the','a','an','and','of','to','in','is','on'))) AS DOUBLE) / LEN(toks)
                 AS stop_ratio
      FROM t WHERE LEN(toks) > 0
    )
    SELECT doc_id,
           ROUND(1.0 / (1.0 + EXP(-(-1.5 + 0.004 * n_tokens + 2.0 * ttr
                                    - 3.0 * stop_ratio))), 6) AS quality_score
    FROM feats
    """,
)
def doc_quality_score_logistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch model inference as a projection: a fixed-weight logistic scorer
    over the deterministic quality features — the shape of every
    classifier-based corpus filter (fastText-style quality models, toxicity
    gates) once the model is exported to columnar math.  No UDF, no model
    server round-trips: scoring 100 TB is one codegen'd scan.  Weights are
    versioned constants; ROUND(6) absorbs libm exp() ulp differences
    between engines.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    base = d.select("doc_id", toks.alias("_toks")).filter(F.size("_toks") > 0)
    n_tokens = F.size("_toks")
    ttr = F.size(F.array_distinct("_toks")).cast("double") / n_tokens
    stop_ratio = (
        F.size(F.filter("_toks", lambda t: t.isin(*tx.STOPWORDS_EN))).cast("double")
        / n_tokens
    )
    logit = F.lit(-1.5) + 0.004 * n_tokens + 2.0 * ttr - 3.0 * stop_ratio
    return base.select(
        "doc_id",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias("quality_score"),
    )


@query(
    "doc_chunk_sliding",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOKS} AS toks FROM documents),
    nz AS (SELECT doc_id, toks, LEN(toks) AS n FROM t WHERE LEN(toks) > 0),
    idx AS (
      SELECT doc_id, toks, n,
             UNNEST(RANGE(0, GREATEST((n - 64 + 47) // 48, 0) + 1)) AS chunk_idx
      FROM nz
    )
    SELECT doc_id,
           CAST(chunk_idx AS INTEGER) AS chunk_idx,
           ARRAY_TO_STRING(LIST_SLICE(toks, chunk_idx * 48 + 1,
                                      LEAST(chunk_idx * 48 + 64, n)), ' ') AS chunk_text,
           CAST(LEAST(chunk_idx * 48 + 64, n) - chunk_idx * 48 AS INTEGER) AS n_tokens
    FROM idx
    """,
)
def doc_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (64-token windows, stride 48 — 16
    tokens of overlap): the retrieval/RAG preprocessing step that turns a
    corpus into embeddable passages.  Chunk count per doc is
    ``ceil(max(n-64, 0) / 48) + 1`` so the tail is always covered and a
    short doc yields exactly one chunk.

    One generate (posexplode of the chunk-index range) over a materialized
    token array — no Python, no shuffle; the chunk rows are what feeds an
    embedding UDF downstream (`multimodal` shows that plumbing).
    """
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", tx.tokens("text").alias("_toks")).filter(
        F.size("_toks") > 0
    )
    n = F.size("_toks")
    n_chunks = F.greatest(F.floor((n - 64 + 47) / 48), F.lit(0)) + 1
    idx = toked.select(
        "doc_id",
        "_toks",
        n.alias("_n"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    start = F.col("chunk_idx") * 48
    length = F.least(start + 64, F.col("_n")) - start
    return idx.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.concat_ws(" ", F.slice("_toks", start + 1, length)).alias("chunk_text"),
        length.cast("int").alias("n_tokens"),
    )


@query(
    "corpus_pack_sequences",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, LEN({_TOKS}) AS n_tokens FROM documents),
    runs AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM t
    )
    SELECT doc_id, lang, n_tokens,
           CAST((cum - n_tokens) // 4096 AS BIGINT) AS pack_id
    FROM runs
    """,
)
def corpus_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing: assign documents to fixed-token-budget packs
    (4096 here) for LLM training — the streaming first-fit approximation:
    docs in stable (lang, doc_id) order, pack = floor(preceding-tokens /
    budget).  One window (running sum) per language partition; no shuffle
    beyond the partitionBy, deterministic because the order key is unique.

    A pack can overflow the budget by at most one document (first-fit
    semantics — the downstream tokenizer truncates or splits); exact
    bin-packing is NP-hard and needs no more fidelity than this at corpus
    scale.
    """
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "lang", F.size(tx.tokens("text")).alias("n_tokens"))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    return t.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / 4096).alias("pack_id"),
    )


@query(
    "dataset_split_assign",
    oracle="""
    WITH h AS (
      SELECT doc_id, lang,
             TRY_CAST(CONCAT('0x', SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 15))
                      AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM h
    """,
)
def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment (80/10/10) by hashing the
    stable document id — the scale-correct split: no ``rand()`` (task
    retries would reassign rows), no global sort, reproducible across runs,
    engines, and partitionings, and any late-arriving document lands in a
    stable split.  The md5-prefix hash is the engine-portable family used
    by MinHash (`operators.dedup.base_hash`), so the oracle computes the
    identical buckets.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
        .cast("bigint")
        % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return d.select("doc_id", "lang", split.alias("split"))


@query(
    "fuzzy_match_names",
    oracle="""
    WITH clean AS (SELECT DISTINCT p_name AS name FROM part),
    dirty AS (
      SELECT SUBSTRING(name, 1, LENGTH(name) - 1) AS dirty_name,
             SPLIT_PART(name, ' ', 1) AS blk
      FROM clean
    ),
    master AS (SELECT name, SPLIT_PART(name, ' ', 1) AS blk FROM clean)
    SELECT d.dirty_name, m.name AS matched_name,
           CAST(LEVENSHTEIN(d.dirty_name, m.name) AS INTEGER) AS dist
    FROM dirty d JOIN master m ON d.blk = m.blk
    WHERE LEVENSHTEIN(d.dirty_name, m.name) BETWEEN 1 AND 2
    """,
)
def fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching (entity resolution): a dirty feed matched
    against a master list by edit distance, with equi-join *blocking* so the
    comparison count is |block pairs|, never |dirty|x|master|.  Blocking is
    on the first token here; real deployments block on q-grams/phonetic
    keys — same plan shape, and recall is set by the blocking key (the
    standard ER trade, stated rather than hidden).

    The fixture names are synthetic with no natural near-misses, so the
    dirty feed is derived deterministically (last character dropped) in
    both engines — the differential check then proves the blocked
    edit-distance join itself, matching each corrupted name back to its
    source at distance 1-2.
    """
    p = load_table(spark, sf_dir, "part")
    clean = p.select(F.col("p_name").alias("name")).distinct()
    blk = F.split(F.col("name"), " ").getItem(0)
    dirty = clean.select(
        F.expr("substring(name, 1, length(name) - 1)").alias("dirty_name"),
        blk.alias("blk"),
    )
    master = clean.select("name", blk.alias("blk"))
    dist = F.levenshtein("dirty_name", "name")
    return (
        dirty.join(master, "blk")
        .filter(dist.between(1, 2))
        .select("dirty_name", F.col("name").alias("matched_name"), dist.cast("int").alias("dist"))
    )


