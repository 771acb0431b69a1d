"""Corpus-curation queries a production LLM-training pipeline runs between
raw crawl and tokenizer: benchmark decontamination, cross-document
boilerplate detection, corpus-trained char-LM quality scoring,
temperature-balanced domain mixing, leakage-safe cluster splits,
vocabulary tokenization, and span-corruption sample construction.

Scope note: the reference pipeline (``/root/reference/README.md`` — an LMS
ETL with no corpus stage) has no counterpart for these; they extend the
engine along the training-data axis the build mandates, over the
``documents`` fixture.

Determinism / oracle strategy: every op is exactly differential-testable.
Counts and document frequencies are integers; selection uses the
engine-portable md5-prefix hash (``operators.text.hash60``);
the only floating point is single IEEE ops on exact integer inputs
(division, sqrt — bit-identical across engines) except the char-LM
log-prob sum, which is rounded at 1e-4 per the repo convention
(``functions/numeric.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import bpe
from lms_etl_pipeline_spark.operators import dedup as dd
from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.operators.graph import components_sql, connected_components
from lms_etl_pipeline_spark.plans import anchors
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.session import (
    default_parallelism,
    materialize,
    spread_for_cpu,
)
from lms_etl_pipeline_spark.sources.tables import load_table

#: Every doc_id ≡ 0 (mod 29) plays the held-out benchmark set.
_EVAL_MOD = 29


@query(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, LIST_DISTINCT({tx.ngrams_sql(tx.tokens_sql(), 5)}) AS g
               FROM documents),
    ev AS (SELECT DISTINCT UNNEST(g) AS gram FROM t WHERE doc_id % {_EVAL_MOD} = 0),
    tr AS (SELECT doc_id, lang, g FROM t WHERE doc_id % {_EVAL_MOD} != 0),
    hit AS (SELECT DISTINCT doc_id
            FROM (SELECT doc_id, UNNEST(g) AS gram FROM tr) x JOIN ev USING (gram))
    SELECT doc_id, lang FROM tr WHERE doc_id NOT IN (SELECT doc_id FROM hit)
    """,
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/Pile style): drop every training
    document sharing ANY word-5-gram with the held-out eval set.

    Plan shape for 100 TB: the eval set is small by construction (benchmarks
    are KBs, corpora are TBs), so its distinct 5-grams BROADCAST; the train
    side streams through one explode + broadcast semi-join — no shuffle of
    the corpus, cost linear in corpus token count.  The contaminated-id set
    is tiny and drives a broadcast anti-join.
    """
    d = load_table(spark, sf_dir, "documents")
    # Materialize tokens + repartition BEFORE the shingle lambda:
    # interpreted higher-order eval re-inlines the tokens() subtree per
    # element, and the single-file fixture is one input split (measured
    # 46 s -> ~2 s at sf0.1; same fix as doc_repetition_signals).
    toked = d.select("doc_id", "lang", tx.tokens("text").alias("_toks"))
    part = spread_for_cpu(toked, "doc_id")
    # Materialize the shingled projection ONCE (eager localCheckpoint —
    # the corpus_curation_pipeline pattern): three consumers read it (eval
    # grams, train explode, final anti-join); left lazy, each would
    # recompute tokenize+shingle over the corpus (measured 3x).
    g = materialize(
        part.select("doc_id", "lang", tx.shingles(F.col("_toks"), 5).alias("g"))
    )
    ev_grams = (
        g.filter(F.col("doc_id") % _EVAL_MOD == 0)
        .select(F.explode("g").alias("gram"))
        .distinct()
    )
    train = g.filter(F.col("doc_id") % _EVAL_MOD != 0)
    hits = (
        train.select("doc_id", F.explode("g").alias("gram"))
        .join(F.broadcast(ev_grams), "gram", "leftsemi")
        .select("doc_id")
        .distinct()
    )
    return train.join(F.broadcast(hits), "doc_id", "left_anti").select(
        "doc_id", "lang"
    )


#: a 3-gram is "boilerplate" when it appears in >= this many distinct docs
_BP_DF = 5
#: documents whose boilerplate share exceeds this are flagged for removal
_BP_MAX_RATIO = 0.10


@query(
    "boilerplate_ngram_filter",
    oracle=f"""
    WITH t AS (SELECT doc_id, LIST_DISTINCT({tx.ngrams_sql(tx.tokens_sql(), 3)}) AS g
               FROM documents),
    p AS (SELECT doc_id, UNNEST(g) AS gram FROM t),
    d AS (SELECT gram, COUNT(*) AS df FROM p GROUP BY gram)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df >= {_BP_DF} THEN 1 ELSE 0 END) AS BIGINT) AS bp_grams,
           CAST(SUM(CASE WHEN df >= {_BP_DF} THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
               AS bp_ratio,
           CAST(SUM(CASE WHEN df >= {_BP_DF} THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
               <= {_BP_MAX_RATIO} AS keep
    FROM p JOIN d USING (gram)
    GROUP BY doc_id
    """,
)
def boilerplate_ngram_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate detection (the C4 repeated-line rule,
    at 3-gram granularity since the fixture docs are single-line): a gram
    occurring in >= 5 distinct documents is corpus boilerplate
    (headers, footers, license blurbs); documents whose distinct-gram share
    of boilerplate exceeds 10% are flagged ``keep = false``.

    Plan: ONE explode of distinct per-doc grams -> gram-keyed df count ->
    gram-keyed shuffle join back -> per-doc integer aggregate.  Same
    linear, term-keyed shape as ``tf_idf`` (operators/text.py) — no
    all-pairs stage, survives a 100x corpus.  bp_ratio is one exact integer
    division (bit-identical cross-engine, no rounding needed).
    """
    d = load_table(spark, sf_dir, "documents")
    # tokens materialized + repartitioned before the shingle lambda (the
    # interpreted-HOF / single-split pitfall — see decontaminate above).
    toked = d.select("doc_id", tx.tokens("text").alias("_toks"))
    part = spread_for_cpu(toked, "doc_id")
    # Checkpoint the ARRAY, before the explode: Generate over an inlined
    # higher-order subtree re-evaluates it in interpreted eval (measured
    # 17 s vs 1 s for the same shingle work at sf0.1); exploding a
    # materialized column attribute is free.  Both the df count and the
    # join-back then consume the cheap exploded view.
    g = materialize(
        part.select(
            "doc_id", F.array_distinct(tx.shingles(F.col("_toks"), 3)).alias("g")
        )
    )
    pairs = g.select("doc_id", F.explode("g").alias("gram"))
    dfreq = pairs.groupBy("gram").agg(F.count("*").alias("df"))
    bp = F.sum(F.when(F.col("df") >= _BP_DF, 1).otherwise(0)).cast("bigint")
    ratio = bp.cast("double") / F.count("*")
    return (
        pairs.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            bp.alias("bp_grams"),
            ratio.alias("bp_ratio"),
            (ratio <= _BP_MAX_RATIO).alias("keep"),
        )
    )


@query(
    "charlm_perplexity_filter",
    oracle="""
    WITH tri AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LENGTH(text) - 1, 1)),
                                   i -> SUBSTRING(text, i, 3))) AS tri
      FROM documents WHERE LENGTH(text) >= 3
    ),
    tf AS (SELECT doc_id, tri, COUNT(*) AS tf FROM tri GROUP BY 1, 2),
    c3 AS (SELECT tri, SUM(tf) AS c3 FROM tf GROUP BY tri),
    c2 AS (SELECT SUBSTRING(tri, 1, 2) AS pre, SUM(c3) AS c2 FROM c3 GROUP BY 1)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(tf) AS BIGINT) AS n_tri,
           ROUND(SUM(tf * (LN(c3) - LN(c2))) / SUM(tf), 4) AS avg_logprob
    FROM tf JOIN c3 USING (tri) JOIN c2 ON SUBSTRING(tri, 1, 2) = pre
    GROUP BY doc_id
    """,
)
def charlm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring with a language model trained on the
    corpus itself (the CCNet/KenLM pattern, at char-trigram order so it
    needs no external model): P(c3 | c1 c2) = count(trigram)/count(prefix),
    doc score = mean log-prob per trigram — low scores mark statistically
    unusual documents (mojibake, spam, wrong-language).

    Plan: ONE explode of the corpus into (doc, trigram) -> per-doc-term tf
    -> the MODEL is two tiny aggregates DERIVED FROM tf (no second corpus
    scan, same derivation trick as ``tf_idf``); scoring joins tf to the
    trigram-keyed model — all shuffles are on trigram keys with vocabulary-
    bounded cardinality (~|charset|^3), so model size is constant in corpus
    size and broadcastable at 100 TB.  Log-prob sum is rounded at 1e-4
    (float accumulation order, repo convention).
    """
    d = load_table(spark, sf_dir, "documents").filter(F.length("text") >= 3)
    tri_arr = F.transform(
        F.sequence(F.lit(1), F.length("text") - 2),
        lambda i: F.col("text").substr(i, F.lit(3)),
    )
    # Explode inline: the explode-after-transform re-eval pitfall (see
    # boilerplate_ngram_filter) only pays off to fix when the generator is
    # expensive — substr-per-position is cheap enough that an exchange to
    # materialize the array costs MORE (measured 2.2-3.3 s inline vs
    # 3.8-4.8 s behind a repartition at sf0.1).
    tri = d.select("doc_id", F.explode(tri_arr).alias("tri"))
    # materialize tf — the model legs (c3 -> c2) and the scoring
    # join each re-ran the corpus explode + count otherwise (guide §2.4).
    tf = materialize(tri.groupBy("doc_id", "tri").agg(F.count("*").alias("tf")))
    c3 = tf.groupBy("tri").agg(F.sum("tf").alias("c3"))
    c2 = c3.groupBy(F.substring("tri", 1, 2).alias("pre")).agg(
        F.sum("c3").alias("c2")
    )
    return (
        tf.join(c3, "tri")
        .withColumn("pre", F.substring("tri", 1, 2))
        .join(c2, "pre")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_types"),
            F.sum("tf").alias("n_tri"),
            F.round(
                F.try_divide(
                    F.sum(F.col("tf") * (F.log("c3") - F.log("c2"))), F.sum("tf")
                ),
                4,
            ).alias("avg_logprob"),
        )
    )


@query(
    "domain_mixture_sampling",
    oracle=f"""
    WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
    m AS (SELECT MIN(n) AS n_min FROM c),
    t AS (SELECT lang,
                 CAST(FLOOR(10000 * SQRT(CAST(n_min AS DOUBLE) / n)) AS BIGINT) AS thr
          FROM c, m)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN t USING (lang)
    WHERE {tx.hash60_sql("CAST(d.doc_id AS VARCHAR)")} % 10000 < t.thr
    """,
)
def domain_mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-balanced domain mixing (alpha = 0.5): per-domain keep
    rate (n_min / n_domain)^0.5 keeps ALL of the smallest domain and
    downsamples large ones toward balance — the training-mix rebalancing
    step (DoReMi / multilingual temperature sampling shape).

    Scale-correct sampling: selection is ``hash(doc_id) % 10000 < thr`` on
    the stable id — reproducible across runs/engines/partitionings and
    task retries (no ``rand()``), any late document lands in a stable
    decision.  Exactly differential-testable: counts are integers and the
    keep rate is division+sqrt+floor — three IEEE-exact ops, bit-identical
    in DuckDB (unlike ``sample_fraction``, which is seeded rows-only).
    The 5-row per-domain threshold table broadcasts.
    """
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count("*").alias("n"))
    m = c.agg(F.min("n").alias("n_min"))
    thr = (
        c.crossJoin(F.broadcast(m))
        .select(
            "lang",
            F.floor(
                F.lit(10000) * F.sqrt(F.col("n_min").cast("double") / F.col("n"))
            )
            .cast("bigint")
            .alias("thr"),
        )
    )
    return (
        d.join(F.broadcast(thr), "lang")
        .filter(tx.hash60(F.col("doc_id").cast("string")) % 10000 < F.col("thr"))
        .select("doc_id", "lang")
    )


# -- leakage-safe splits + tokenizer apply ----------------------------------


@query(
    "split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE sh_t AS (SELECT doc_id, LIST_DISTINCT({tx.ngrams_sql(tx.tokens_sql(), 3)}) AS sh
                            FROM documents),
    {dd.minhash_sql("sh_t")},
    {dd.lsh_candidates_sql()},
    pairs AS ({dd.jaccard_verified_sql("cands", "sh_t")}),
    {components_sql()},
    rep AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS cluster_rep
      FROM documents d LEFT JOIN comps c ON c.node = d.doc_id
    )
    SELECT doc_id, cluster_rep,
           CASE WHEN {tx.hash60_sql("CAST(cluster_rep AS VARCHAR)")} % 100 < 80 THEN 'train'
                WHEN {tx.hash60_sql("CAST(cluster_rep AS VARCHAR)")} % 100 < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM rep
    """,
)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: split by NEAR-DUP CLUSTER,
    not by document — ``dataset_split_assign`` hashed on doc_id would put
    two near-identical documents on opposite sides of the train/test wall
    (the classic eval-contamination bug); hashing the cluster representative
    keeps every near-dup family on one side by construction.

    Composition of two verified operators: the MinHash-LSH similarity graph
    + min-label connected components (``dedup_clusters``) defines the
    clusters; the md5-prefix bucket (``dataset_split_assign``) assigns the
    split to the cluster representative.  Singletons (docs in no pair) are
    their own representative.  Scale: the component labels are |paired
    docs| rows — tiny vs the corpus — so the final join broadcasts; the
    expensive stage is the same banded LSH that is already linear."""
    d = load_table(spark, sf_dir, "documents")
    pairs = dd.near_dup_pairs(d, "doc_id", "text")
    comp = connected_components(pairs.select("a", "b"))
    rep = F.coalesce(F.col("component"), F.col("doc_id"))
    bucket = tx.hash60(rep.cast("string")) % 100
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.join(F.broadcast(comp), d.doc_id == comp.node, "left")
        .select(
            "doc_id",
            rep.alias("cluster_rep"),
            split.alias("split"),
        )
    )


#: corpus vocabulary cutoff: terms ranked past this map to <unk> (id 0)
_VOCAB_K = 24


@query(
    "tokenize_to_vocab_ids",
    oracle=f"""
    WITH toks_t AS (SELECT doc_id, {{toks}} AS toks FROM documents),
    counts AS (
      SELECT t AS term, COUNT(*) AS c
      FROM (SELECT UNNEST(toks) AS t FROM toks_t) GROUP BY 1
    ),
    vocab AS (
      SELECT term, ROW_NUMBER() OVER (ORDER BY c DESC, term ASC) AS vid
      FROM counts QUALIFY vid <= {_VOCAB_K}
    ),
    pos AS (
      SELECT doc_id, GENERATE_SUBSCRIPTS(toks, 1) AS ord, UNNEST(toks) AS term
      FROM toks_t
    ),
    mapped AS (
      SELECT doc_id, ord, COALESCE(vid, 0) AS vid
      FROM pos LEFT JOIN vocab USING (term)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN vid = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unk,
           STRING_AGG(CAST(vid AS VARCHAR), ' ' ORDER BY ord) AS token_ids
    FROM mapped GROUP BY doc_id
    """.format(toks=tx.tokens_sql()),
)
def tokenize_to_vocab_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLICATION at corpus scale: build a frequency-ranked
    vocabulary from the corpus itself (rank by count desc, term asc —
    deterministic), then map every document to its id sequence with
    out-of-vocabulary terms as ``<unk>`` (id 0) — the text -> token-id
    step every pretraining pipeline runs before packing.

    Plan: term counts are one explode + term-keyed agg; the vocabulary is
    VOCABULARY-bounded (the global row_number sort ranks |distinct terms|
    rows, not corpus rows) and broadcasts to a map-side lookup join on the
    position-exploded corpus; order is restored per document by sorting
    the collected (pos, id) structs.  The id sequence is serialized as a
    space-joined string — same semantics, driver-comparator-hashable
    (array columns crash its canonicalizer)."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", tx.tokens("text").alias("toks"))
    counts = (
        toked.select(F.explode("toks").alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("c"))
    )
    from pyspark.sql import Window

    wv = Window.orderBy(F.col("c").desc(), F.col("term").asc())
    vocab = (
        counts.select("term", F.row_number().over(wv).alias("vid"))
        .filter(F.col("vid") <= _VOCAB_K)
    )
    pos = toked.select("doc_id", F.posexplode("toks").alias("pos", "term"))
    mapped = pos.join(F.broadcast(vocab), "term", "left").withColumn(
        "vid", F.coalesce("vid", F.lit(0))
    )
    ordered_ids = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "vid"))),
        lambda x: x.vid.cast("string"),
    )
    return mapped.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum((F.col("vid") == 0).cast("int")).cast("bigint").alias("n_unk"),
        F.concat_ws(" ", ordered_ids).alias("token_ids"),
    )


#: span-corruption hyperparameters (T5 denoising shape)
_SPAN_LEN = 4
_SPAN_MIN_TOKENS = 16


@query(
    "span_corruption_samples",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {tx.tokens_sql()} AS toks FROM documents
    ),
    eligible AS (
      SELECT doc_id, toks, LEN(toks) AS n
      FROM t WHERE LEN(toks) >= {_SPAN_MIN_TOKENS}
    ),
    spans AS (
      SELECT doc_id, toks, n,
             CAST({tx.hash60_sql("CAST(doc_id AS VARCHAR)")} % (n - {_SPAN_LEN}) + 1 AS BIGINT)
                 AS span_start
      FROM eligible
    )
    SELECT doc_id, span_start,
           -- one ARRAY_TO_STRING over the concatenated list: DuckDB's
           -- ARRAY_TO_STRING([]) is NULL, which would poison a || chain
           -- when the span sits at an edge
           ARRAY_TO_STRING(
             LIST_SLICE(toks, 1, span_start - 1)
               || ['<extra_id_0>']
               || LIST_SLICE(toks, span_start + {_SPAN_LEN}, n), ' ')
             AS input_text,
           ARRAY_TO_STRING(
             ['<extra_id_0>']
               || LIST_SLICE(toks, span_start, span_start + {_SPAN_LEN} - 1), ' ')
             AS target_text
    FROM spans
    """,
)
def span_corruption_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denoising training-sample construction (T5 span corruption, one
    span): mask a deterministic {_SPAN_LEN}-token span and emit the
    (input-with-sentinel, sentinel-target) pair every seq2seq pretraining
    pipeline builds from raw documents.

    The span position is ``hash(doc_id) % (n - span_len) + 1`` — the same
    stable-id md5 recipe as the splits: reproducible across runs, engines,
    partitionings, and task retries (``rand()`` would re-mask differently
    on retry, silently changing the training set).  Everything is integer
    arithmetic + array slicing — exact differential oracle, no UDF, one
    narrow projection, no shuffle: linear at any corpus size."""
    d = load_table(spark, sf_dir, "documents")
    toked = d.select("doc_id", tx.tokens("text").alias("toks")).withColumn(
        "n", F.size("toks")
    )
    eligible = toked.filter(F.col("n") >= _SPAN_MIN_TOKENS)
    span_start = (tx.hash60(F.col("doc_id").cast("string")) % (F.col("n") - _SPAN_LEN) + 1).cast(
        "bigint"
    )
    spans = eligible.withColumn("span_start", span_start)
    prefix = F.slice("toks", 1, F.col("span_start") - 1)
    suffix = F.slice(
        "toks",
        F.col("span_start") + _SPAN_LEN,
        F.greatest(F.col("n") - F.col("span_start") - _SPAN_LEN + 1, F.lit(0)),
    )
    masked = F.slice("toks", F.col("span_start"), F.lit(_SPAN_LEN))
    sentinel = F.array(F.lit("<extra_id_0>"))
    return spans.select(
        "doc_id",
        "span_start",
        F.concat_ws(" ", F.concat(prefix, sentinel, suffix)).alias("input_text"),
        F.concat_ws(" ", F.concat(sentinel, masked)).alias("target_text"),
    )


#: stable per-group sample size
_STABLE_K = 5


@query(
    "sample_stable_per_group",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, lang,
             {tx.hash60_sql("CAST(doc_id AS VARCHAR)")} AS hkey
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hkey ASC, doc_id ASC)
                 AS rank
      FROM h
    )
    SELECT doc_id, lang, rank FROM r WHERE rank <= {_STABLE_K}
    """,
)
def sample_stable_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable "random" K-per-group sample: order each group by the
    md5-prefix hash of the stable id and take the first K — the
    eval-subset construction every pipeline needs ("5 spot-check docs per
    language, the SAME 5 every run").  Unlike ``sample_stratified_by_
    priority`` (seeded, rows-only checkable), this is exactly reproducible
    across runs, engines, partitionings, and retries, and is therefore the
    variant you can differential-test and cache downstream.  One window
    shuffle on the group key; rank<=K prunes to K rows per group."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy(
        tx.hash60(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= _STABLE_K)
    )


@query(
    "quality_ranker_auc",
    oracle=f"""
    WITH labeled AS (
      SELECT doc_id, LEN({tx.tokens_sql()}) AS score,
             (LEN({tx.tokens_sql()}) BETWEEN 20 AND 1000
              AND CAST(LEN(LIST_FILTER({tx.tokens_sql()}, x -> x IN
                    ('the','a','an','and','of','to','in','is','on'))) AS DOUBLE)
                  / LEN({tx.tokens_sql()}) <= 0.5
              AND CAST(LEN(LIST_DISTINCT({tx.tokens_sql()})) AS DOUBLE)
                  / LEN({tx.tokens_sql()}) > 0.05)
                 AS label
      FROM documents
    ),
    g AS (
      SELECT score,
             CAST(SUM(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS np,
             CAST(SUM(CASE WHEN label THEN 0 ELSE 1 END) AS BIGINT) AS nn
      FROM labeled GROUP BY score
    ),
    c AS (
      SELECT score, np, nn,
             CAST(COALESCE(SUM(nn) OVER (ORDER BY score ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
                 AS nn_below
      FROM g
    )
    SELECT CAST(SUM(np) AS BIGINT) AS n_pos,
           CAST(SUM(nn) AS BIGINT) AS n_neg,
           SUM(np * (nn_below + nn / 2.0)) / (SUM(np) * SUM(nn)) AS auc
    FROM c
    """,
)
def quality_ranker_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scorer evaluation at corpus scale: exact ROC-AUC of a ranker
    (token count) against the quality-gate labels (``doc_quality_filter``'s
    predicate), via the Mann-Whitney identity — AUC = P(random positive
    outranks random negative, ties at half credit).

    The classifier-eval step every filtering pipeline runs before trusting
    a scorer.  NOT computed by sorting individual rows: scores collapse to
    per-score-value (np, nn) counts first, so the window pass runs over
    |distinct scores| rows (bounded), not the corpus.  All terms are
    integers or exact half-integers (nn/2.0), so the sum is exact in IEEE
    double regardless of accumulation order — bit-identical across engines
    and partitionings, no rounding needed."""
    d = load_table(spark, sf_dir, "documents")
    q = tx.quality_features(d, "text")
    labeled = q.select(
        F.col("n_tokens").alias("score"),
        (
            F.col("n_tokens").between(20, 1000)
            & (F.col("stop_ratio") <= 0.5)
            & (F.col("ttr") > 0.05)
        ).alias("label"),
    )
    g = labeled.groupBy("score").agg(
        F.sum(F.when(F.col("label"), 1).otherwise(0)).cast("bigint").alias("np"),
        F.sum(F.when(F.col("label"), 0).otherwise(1)).cast("bigint").alias("nn"),
    )
    # Exclusive prefix of negatives over the distinct-score order, via the
    # bucketed decomposition (operators/rank.py) — the distinct-score
    # relation can itself grow with the corpus, so no single-partition
    # window even here.
    from lms_etl_pipeline_spark.operators.rank import (
        global_running_agg,
        with_uniform_key_buckets,
    )

    c = global_running_agg(
        with_uniform_key_buckets(g, "score"),
        "nn",
        [F.col("score").asc()],
        F.col("_gbk"),
        out_col="_below",
        agg="sum",
        inclusive=False,
    ).select(
        "np",
        "nn",
        F.coalesce(F.col("_below"), F.lit(0)).cast("bigint").alias("nn_below"),
    )
    return c.agg(
        F.sum("np").alias("n_pos"),
        F.sum("nn").alias("n_neg"),
        # try_divide: a single-class corpus (no positives or no
        # negatives) zeroes the pair count — AUC undefined => NULL,
        # not an ANSI abort (n=1 fixture sweep)
        F.try_divide(
            F.sum(F.col("np") * (F.col("nn_below") + F.col("nn") / 2.0)),
            F.sum("np") * F.sum("nn"),
        ).alias("auc"),
    )


# CONTRACT anchor slice (plans/anchors.py, active in every mode): an exact
# Jaccard ground truth is quadratic by definition, and on the adversarial
# ~sf1 fixture the oracle's list-containment joins on the 978x-amplified
# pair set spill DuckDB temp past the box's disk.  A recall measurement on
# a fixed 5000-doc slice grades the (k=8, bands=4) choice exactly as well.
# Corpus-scale near-dup semantics live in the unbounded near_dup_pairs_lsh.
_RECALL_SLICE = anchors.AnchorSlice("doc_id", 5000, kind="contract")


@query(
    "lsh_recall_eval",
    oracle=f"""
    WITH sh_srt AS (
      SELECT doc_id, LIST_SORT(LIST_DISTINCT({tx.ngrams_sql(tx.tokens_sql(), 3)})) AS sh
      FROM documents
      WHERE {_RECALL_SLICE.sql}
    ),
    {dd.prefix_candidates_sql("sh_srt", "pcands")},
    truth AS ({dd.jaccard_verified_sql("pcands", "nz")}),
    {dd.minhash_sql("sh_srt")},
    {dd.lsh_candidates_sql(name="lcands")},
    lsh AS ({dd.jaccard_verified_sql("lcands", "nz")})
    SELECT (SELECT COUNT(*) FROM truth) AS n_true,
           (SELECT COUNT(*) FROM truth t JOIN lsh l ON t.a = l.a AND t.b = l.b)
               AS n_found,
           CAST((SELECT COUNT(*) FROM truth t JOIN lsh l ON t.a = l.a AND t.b = l.b)
                AS DOUBLE)
             / (SELECT COUNT(*) FROM truth) AS recall
    """,
)
def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall measurement for the approximate dedup path: compare the
    MinHash-LSH near-dup pairs (``near_dup_pairs_lsh``, probabilistic
    candidate generation) against the EXACT prefix-filtered Jaccard pairs
    (``ngram_jaccard_pairs``, lossless) at the same threshold — the tuning
    measurement that tells you whether (k=8, bands=4) is enough before
    trusting LSH on the full corpus.

    Composition of two verified operators, each linear (prefix equi-join /
    banded equi-join — never N^2); the joined comparison is |pairs| rows.
    Both pair sets are deterministic, so recall is an exact integer ratio
    — differential-tested like everything else, which is the point: the
    approximate path's QUALITY is itself an exactly-checkable number.

    The eval reads an SF-independent ``doc_id < 5000`` CONTRACT slice
    (``plans/anchors.py``, active in every mode) — the WHOLE corpus at
    every driver fixture scale (sf0.1 has exactly 5000 docs), so
    driver-scale results are unchanged; past that it bounds the ORACLE's
    exact-ground-truth cost, whose list-containment joins on the
    978x-amplified adversarial pair set otherwise spill DuckDB temp past
    the box's disk.  A recall measurement on a fixed 5000-doc slice grades
    the (k=8, bands=4) choice just as well as the full corpus would; the
    corpus-scale approximate path (near_dup_pairs_lsh) is unbounded."""
    d = _RECALL_SLICE.apply(load_table(spark, sf_dir, "documents"))
    truth = dd.jaccard_pairs_prefix(
        d, "doc_id", "text", n=3,
        num_partitions=default_parallelism(spark),
    ).select("a", "b")
    lsh = dd.near_dup_pairs(d, "doc_id", "text").select("a", "b")
    found = truth.join(lsh, ["a", "b"], "leftsemi")
    n_true = truth.agg(F.count("*").alias("n_true"))
    n_found = found.agg(F.count("*").alias("n_found"))
    return (
        n_true.crossJoin(F.broadcast(n_found))
        .select(
            "n_true",
            "n_found",
            # try_divide: an empty corpus (or one with zero true pairs)
            # yields n_true=0 — recall is NULL then, not an ANSI abort
            F.try_divide(F.col("n_found").cast("double"), F.col("n_true")).alias(
                "recall"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Gopher quality rules
# ---------------------------------------------------------------------------

_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MIN_MWL = 3.0
_GOPHER_MAX_MWL = 10.0
_GOPHER_MIN_ALPHA_FRAC = 0.8
_GOPHER_MIN_STOPS = 2
_GOPHER_STOPS_SQL = "('the','a','an','and','of','to','in','is','on')"


@query(
    "gopher_quality_rules",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, {tx.tokens_sql()} AS toks FROM documents),
    m AS (
      SELECT doc_id, lang,
             LEN(toks) AS n_words,
             ROUND(CAST(SUM_LF AS DOUBLE) / LEN(toks), 6) AS mean_word_len,
             CAST(LEN(LIST_FILTER(toks, w -> REGEXP_MATCHES(w, '[a-zA-Z]')))
                  AS DOUBLE) / LEN(toks) AS alpha_frac,
             LEN(LIST_FILTER(toks, w -> w IN {_GOPHER_STOPS_SQL})) AS n_stops
      FROM (SELECT doc_id, lang, toks,
                   LIST_SUM(LIST_TRANSFORM(toks, w -> LEN(w))) AS SUM_LF
            FROM t WHERE LEN(toks) > 0))
    SELECT doc_id, lang, n_words, mean_word_len, n_stops,
           (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS}) AS ok_words,
           (mean_word_len BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL}) AS ok_mwl,
           (alpha_frac >= {_GOPHER_MIN_ALPHA_FRAC}) AS ok_alpha,
           (n_stops >= {_GOPHER_MIN_STOPS}) AS ok_stops,
           ((n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
            AND (mean_word_len BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL})
            AND alpha_frac >= {_GOPHER_MIN_ALPHA_FRAC}
            AND n_stops >= {_GOPHER_MIN_STOPS}) AS kept
    FROM m
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher corpus-filter rule set (Rae et al. 2021, Table A1 subset
    expressible over the fixture text): word-count bounds, mean-word-length
    band, minimum alphabetic-word fraction, minimum stop-word count — each
    rule emitted as its own flag plus the conjunctive keep decision, the
    shape auditing pipelines need (per-rule rejection rates, not just a
    survivor list).

    Scale: one corpus scan, all rules as native array expressions over one
    materialized token array — no joins, no shuffle (a pure projection);
    mean word length is an integer-sum ratio rounded once, exact across
    engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = tx.tokens("text")
    t = d.select("doc_id", "lang", toks.alias("toks")).filter(F.size("toks") > 0)
    n_words = F.size("toks")
    sum_len = F.aggregate(
        F.transform("toks", lambda w: F.length(w)), F.lit(0), lambda acc, x: acc + x
    )
    mean_wl = F.round(sum_len.cast("double") / n_words, 6)
    alpha_frac = (
        F.size(F.filter("toks", lambda w: w.rlike("[a-zA-Z]"))).cast("double")
        / n_words
    )
    from lms_etl_pipeline_spark.operators.text import STOPWORDS_EN

    n_stops = F.size(F.filter("toks", lambda w: w.isin(*STOPWORDS_EN)))
    m = t.select(
        "doc_id",
        "lang",
        n_words.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        alpha_frac.alias("alpha_frac"),
        n_stops.alias("n_stops"),
    )
    ok_words = F.col("n_words").between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
    ok_mwl = F.col("mean_word_len").between(_GOPHER_MIN_MWL, _GOPHER_MAX_MWL)
    ok_alpha = F.col("alpha_frac") >= _GOPHER_MIN_ALPHA_FRAC
    ok_stops = F.col("n_stops") >= _GOPHER_MIN_STOPS
    return m.select(
        "doc_id",
        "lang",
        "n_words",
        "mean_word_len",
        "n_stops",
        ok_words.alias("ok_words"),
        ok_mwl.alias("ok_mwl"),
        ok_alpha.alias("ok_alpha"),
        ok_stops.alias("ok_stops"),
        (ok_words & ok_mwl & ok_alpha & ok_stops).alias("kept"),
    )


# -- BPE tokenizer training (merge-rule learning) ----------------------------

_BPE_ITERS = 3
_BPE_ORACLE = bpe.train_merges_sql(tx.tokens_sql(), _BPE_ITERS)


@query("bpe_train_merges", oracle=_BPE_ORACLE)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING: learn the first three merge rules over the
    corpus (count adjacent code-point pairs on the word-frequency
    dictionary, merge the most frequent pair everywhere, repeat), emitting
    each rule with its pair count and the post-merge corpus token count —
    the tokenizer-construction step every pretraining pipeline runs before
    ``tokenize_to_vocab_ids``-style application.

    Scale: the corpus-sized work is ONE tokenize + word count; the
    vocabulary-bounded dictionary then collapses once to the driver and
    the merges run there (``plans.tokenizer.train_merges``, the same
    hybrid path as ``bpe_train_merges_deep``).  An over-budget dictionary
    takes the distributed loop, which applies the textbook left-to-right
    greedy merge SET-WISE (operators/bpe.py).  Ties break (count DESC,
    left ASC, right ASC) — documented divergence from insertion-order tie
    handling, chosen for cross-engine/cross-run reproducibility."""
    # imported here: a module-level import would register tokenizer's
    # queries ahead of curation's and reorder the catalog
    from lms_etl_pipeline_spark.plans.tokenizer import train_merges

    return train_merges(
        spark, load_table(spark, sf_dir, "documents"), _BPE_ITERS
    )
