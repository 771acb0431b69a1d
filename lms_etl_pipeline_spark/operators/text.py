"""Text-analysis operators for large-scale document pipelines.

Tokenization, shingling, n-grams, TF-IDF, fingerprinting, language ID, and
quality scoring — all as native column expressions / relational plans (no
Python in the hot path). Determinism is a design goal: every score is a pure
integer/single-IEEE-op function of the data so results are reproducible
across partitionings and engines (the DuckDB oracle relies on this).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Tiny embedded stopword list used for language-agnostic quality scoring
#: and the English-likelihood heuristic. Deliberately small and versioned
#: with the code: scoring must not depend on runtime downloads.
STOPWORDS_EN: tuple[str, ...] = ("the", "a", "an", "and", "of", "to", "in", "is", "on")

#: Embedded sentiment lexicon (versioned constants — no runtime downloads).
#: A real system swaps in VADER/AFINN-style lists; the dataflow is identical.
SENTIMENT_POS: tuple[str, ...] = ("good", "great", "excellent", "love", "best", "happy", "nice", "well")
SENTIMENT_NEG: tuple[str, ...] = ("bad", "terrible", "awful", "hate", "worst", "sad", "poor", "wrong")


def sentiment_score(toks: Column) -> Column:
    """Lexicon sentiment in [-1, 1]: (pos hits - neg hits) / tokens.

    ``toks`` should be a materialized token-array column; NULL on empty
    docs (try_divide, never an ANSI abort).
    """
    pos = F.size(F.filter(toks, lambda t: t.isin(*SENTIMENT_POS)))
    neg = F.size(F.filter(toks, lambda t: t.isin(*SENTIMENT_NEG)))
    return F.try_divide(pos - neg, F.size(toks))


def tokens(text: Column | str, sep: str = r"\s+") -> Column:
    """Whitespace tokens with empties removed (codegen'd array expression).

    Splits on the ``\\s+`` regex so tabs/newlines separate tokens too.
    ASCII-whitespace semantics (Java regex ``\\s`` == RE2 ``\\s`` — Spark
    and the DuckDB oracle agree): unicode spaces like NEL (U+0085) or NBSP
    are NOT separators and stay inside tokens, unlike Python ``str.split``.
    """
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, sep), lambda t: t != F.lit(""))


def tokens_sql(expr: str = "text", sep: str = r"\s+") -> str:
    """DuckDB twin of ``tokens``: RE2 split on ``sep``, empties removed."""
    return f"LIST_FILTER(REGEXP_SPLIT_TO_ARRAY({expr}, '{sep}'), t -> t != '')"


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a token array (1-based ``element_at``).

    Documents shorter than ``n`` tokens yield an empty array (guarded:
    ``sequence`` would otherwise produce a descending range).
    """
    build = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, build).otherwise(F.array().cast("array<string>"))


def ngrams_sql(toks: str, n: int) -> str:
    """DuckDB twin of ``shingles``: the ordered word-n-gram list of the
    token list ``toks`` (empty below ``n`` tokens).  Wrap it in
    ``LIST_DISTINCT`` for the shingle set."""
    return (
        f"LIST_TRANSFORM(RANGE(1, GREATEST(LEN({toks}) - {n - 2}, 1)), "
        f"i -> ARRAY_TO_STRING(LIST_SLICE({toks}, i, i + {n - 1}), ' '))"
    )


def explode_terms(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term) pairs — the shuffle-friendly long form for TF/DF counts."""
    return df.select(id_col, F.explode(tokens(text_col)).alias("term"))


def tf_idf(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact TF-IDF: tf(term, doc) * (ln((N+1)/(df+1)) + 1).

    A purely relational plan: ONE explode -> tf aggregation -> df derived
    FROM the tf aggregate (``df = count of (doc,term) rows per term`` —
    each doc contributes its distinct terms exactly once there, so no
    second corpus scan and no count_distinct expansion).  The term-keyed
    shuffle join stays distributed; only the 1-row corpus count broadcasts.
    Scales linearly in corpus size. Deterministic: counts are integers, the
    final score is two IEEE ops.

    The doc frame repartitions on the id BEFORE tokenize+explode — the same
    posture as ``operators.dedup`` (its docstring, point 2): tokenization is
    the CPU of this plan, and a compacted/few-split input layout would
    serialize it on a handful of cores.  One narrow (id, text) shuffle buys
    full-cluster parallelism for the heavy stage; the downstream (id, term)
    aggregation was going to shuffle anyway.
    """
    from lms_etl_pipeline_spark.session import default_parallelism

    part = df.select(id_col, text_col).repartition(
        default_parallelism(df.sparkSession), F.col(id_col)
    )
    terms = explode_terms(part, id_col, text_col)
    tf = terms.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.count("*").alias("n_docs"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tf_idf",
            F.col("tf") * (F.log((F.col("n_docs") + 1) / (F.col("df") + 1)) + 1),
        )
        .drop("n_docs")
    )


def fingerprint(text: Column | str) -> Column:
    """Canonical-form document fingerprint (md5 of sorted distinct tokens).

    The classic "fingerprint clustering" key: whitespace/word-order/dup
    insensitive, collision-safe at corpus scale (128-bit).
    """
    return fingerprint_of(tokens(text))


def fingerprint_of(toks: Column) -> Column:
    """``fingerprint`` from a pre-tokenized array column — lets a pipeline
    that already materialized tokens (quality gates) fingerprint without a
    second corpus-wide regex split."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(toks))))


def fingerprint_sql(toks: str) -> str:
    """DuckDB twin of ``fingerprint_of``.  COALESCE: DuckDB's
    ARRAY_TO_STRING([]) is NULL where Spark's concat_ws gives '', and a
    zero-token doc must hash to MD5('') on both engines."""
    return f"MD5(COALESCE(ARRAY_TO_STRING(LIST_SORT(LIST_DISTINCT({toks})), ' '), ''))"


def hash60(s: Column) -> Column:
    """Engine-portable 60-bit integer hash of a string column: the first
    15 hex digits of its md5, as a BIGINT.  It costs more than xxhash64,
    but DuckDB computes the identical value (``hash60_sql``)."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")


def hash60_sql(expr: str) -> str:
    """DuckDB twin of ``hash60`` over the VARCHAR expression ``expr``."""
    return f"TRY_CAST(CONCAT('0x', SUBSTRING(MD5({expr}), 1, 15)) AS BIGINT)"


def kgram_hashes(toks: Column, k: int = 3) -> Column:
    """Engine-portable 60-bit integer hash per k-gram: md5 prefix as int.

    ``toks`` must be a materialized column attribute (see dedup module
    docstring on interpreted higher-order re-evaluation).  Each k-gram
    goes through ``hash60``, so the DuckDB oracle computes identical
    values with ``hash60_sql``.
    """
    return F.transform(shingles(toks, n=k), hash60)


def winnow_hashes(hs: Column, w: int = 4) -> Column:
    """Distinct window-of-``w`` minima over a MATERIALIZED bigint-array
    column of k-gram hashes.  ``hs`` must be a column attribute: an inlined
    hash subtree would be re-evaluated once per window position by
    ``slice`` in interpreted higher-order eval (measured 10x+ slowdown).

    Documents with fewer than w hashes contribute min(all hashes) (the
    standard short-document fallback); empty docs yield [].
    """
    n = F.size(hs)
    windows = F.transform(
        F.sequence(F.lit(1), n - (w - 1)),
        lambda i: F.array_min(F.slice(hs, i, w)),
    )
    return (
        F.when(n >= w, F.array_distinct(windows))
        .when(n > 0, F.array(F.array_min(hs)))
        .otherwise(F.array().cast("array<bigint>"))
    )


def winnowing_fingerprints(toks: Column, k: int = 3, w: int = 4) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    scheme): hash every k-gram, slide a w-hash window, keep each window's
    minimum, return the distinct minima.

    Guarantees: any shared run of >= w+k-1 tokens between two documents
    yields at least one shared fingerprint — the rolling-hash dedup
    primitive that catches *partial* overlap (plagiarism, boilerplate,
    quoted chunks) where whole-document hashing can't.  Candidate pairing
    is then an equi-join on the exploded fingerprint key — same LSH-shaped
    scale path as MinHash.

    Convenience single-expression form for small frames/tests; hot paths
    should materialize ``kgram_hashes`` as a column first and call
    ``winnow_hashes`` (see ``plans.llm.dedup_winnowing``).
    """
    return winnow_hashes(kgram_hashes(toks, k), w)


def stopword_ratio(text: Column | str, stopwords: tuple[str, ...] = STOPWORDS_EN) -> Column:
    """Fraction of tokens that are stopwords — the workhorse of fast
    language-ID / quality heuristics (one array expression, no shuffle).

    NULL (not an ANSI DIVIDE_BY_ZERO abort) on empty/whitespace-only docs.
    """
    toks = tokens(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.try_divide(hits, F.size(toks))


def quality_features(
    df: DataFrame, text_col: str = "text", keep_tokens: bool = False
) -> DataFrame:
    """Append deterministic quality-score features used for corpus filtering:

    - n_tokens, n_distinct: length + lexical diversity
    - ttr: type-token ratio (distinct/total)
    - mean_token_len: average word length
    - stop_ratio: stopword fraction

    ``keep_tokens=True`` retains the materialized ``_toks`` array so a
    downstream stage (fingerprint, minhash) can reuse it instead of paying
    the corpus regex split again — the tokenize-once discipline.
    """
    # Build the token array once; every feature derives from the same column
    # (ANSI-safe: try_divide -> NULL on empty docs instead of a job abort).
    toks = tokens(text_col)
    return (
        df.withColumn("_toks", toks)
        .withColumn("n_tokens", F.size("_toks"))
        .withColumn("n_distinct", F.size(F.array_distinct("_toks")))
        .withColumn("ttr", F.try_divide(F.col("n_distinct").cast("double"), F.col("n_tokens")))
        .withColumn(
            "mean_token_len",
            F.try_divide(
                F.aggregate("_toks", F.lit(0), lambda acc, t: acc + F.length(t)).cast("double"),
                F.col("n_tokens"),
            ),
        )
        .withColumn(
            "stop_ratio",
            F.try_divide(
                F.size(F.filter(F.col("_toks"), lambda t: t.isin(*STOPWORDS_EN))),
                F.col("n_tokens"),
            ),
        )
        .drop(*([] if keep_tokens else ["_toks"]))
    )
