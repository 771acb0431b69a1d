"""Graph-traversal, retrieval-eval, and dedup-calibration plans (split
from the sequence plans).

Bounded BFS over the customer→supplier order graph, common-neighbor node
similarity, MRR/NDCG ranking metrics, shingle-containment pairs,
first-in-window dedup, and B-cubed blocking quality.  The
similarity-CALIBRATION measurements (Matryoshka truncation, centroid
drift, LSH s-curve, MinHash estimator error) moved to
plans/similarity_calibration.py (1,100-LoC module convention;
registry unchanged).

Scale shapes: every hop/probe is an equi-join (frontier x edges, band x
band); all-pairs shapes exist only as bounded id-range calibration
anchors whose row bounds are DECLARED and machine-checked by
tools/audit_plans.py.  Numeric discipline as in plans/timeseries.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from lms_etl_pipeline_spark.operators import dedup as dd
from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.operators import vectors as vec
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.plans.llm import EMB_DIM
from lms_etl_pipeline_spark.sources.tables import load_table

# --------------------------------------------------------------------------
# k-hop reachability over the order graph
# --------------------------------------------------------------------------


@query(
    "khop_reachability",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    src AS (SELECT DISTINCT cust FROM edges WHERE cust < 25),
    hop1 AS (
      SELECT s.cust, e.supp FROM src s JOIN edges e ON e.cust = s.cust),
    hop2 AS (
      SELECT DISTINCT h.cust, e2.cust AS cocust
      FROM hop1 h JOIN edges e2 ON e2.supp = h.supp
      WHERE e2.cust <> h.cust),
    hop3 AS (
      SELECT DISTINCT h2.cust, e3.supp
      FROM hop2 h2 JOIN edges e3 ON e3.cust = h2.cocust),
    a1 AS (SELECT cust, COUNT(*) AS n1 FROM hop1 GROUP BY 1),
    a2 AS (SELECT cust, COUNT(*) AS n2 FROM hop2 GROUP BY 1),
    a3 AS (SELECT cust, COUNT(*) AS n3 FROM hop3 GROUP BY 1)
    SELECT s.cust AS src_custkey,
           CAST(COALESCE(a1.n1, 0) AS BIGINT) AS n_direct_suppliers,
           CAST(COALESCE(a2.n2, 0) AS BIGINT) AS n_cocustomers_2hop,
           CAST(COALESCE(a3.n3, 0) AS BIGINT) AS n_suppliers_3hop
    FROM src s
    LEFT JOIN a1 ON a1.cust = s.cust
    LEFT JOIN a2 ON a2.cust = s.cust
    LEFT JOIN a3 ON a3.cust = s.cust
    """,
)
def khop_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded breadth-first expansion over the bipartite customer→supplier
    order graph (the same edge set as ``pagerank_graph``): per source
    customer, the count of directly-used suppliers, of 2-hop co-customers
    (share a supplier), and of suppliers in the 3-hop closure — the
    neighborhood-size features fraud/recommendation graph pipelines attach
    to every node.

    Each hop is an EQUI-join of the current frontier against the edge
    list, with DISTINCT collapsing the frontier between hops so fan-out
    never compounds — the standard distributed BFS layout.  All outputs
    are exact integers.

    Scale: edges partition by join key per hop; frontiers stay bounded by
    |nodes|, not paths, because of the per-hop DISTINCT.  The source set
    here is a fixed key-range slice; an open-ended variant iterates
    frontier joins under localCheckpoint like ``operators/graph.py``.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    src = edges.filter(F.col("cust") < 25).select("cust").distinct()
    hop1 = src.join(edges, "cust")  # (cust, supp)
    h1 = hop1.groupBy("cust").agg(
        F.count("*").cast("bigint").alias("n_direct_suppliers")
    )
    e2 = edges.select(F.col("cust").alias("cocust"), "supp")
    hop2 = (
        hop1.join(e2, "supp")
        .filter(F.col("cocust") != F.col("cust"))
        .select("cust", "cocust")
        .distinct()
    )
    h2 = hop2.groupBy("cust").agg(
        F.count("*").cast("bigint").alias("n_cocustomers_2hop")
    )
    e3 = edges.select(F.col("cust").alias("cocust"), F.col("supp").alias("supp3"))
    hop3 = hop2.join(e3, "cocust").select("cust", "supp3").distinct()
    h3 = hop3.groupBy("cust").agg(
        F.count("*").cast("bigint").alias("n_suppliers_3hop")
    )
    return (
        src.select(F.col("cust").alias("src_custkey"))
        .join(h1, F.col("src_custkey") == h1.cust, "left")
        .drop("cust")
        .join(h2, F.col("src_custkey") == h2.cust, "left")
        .drop("cust")
        .join(h3, F.col("src_custkey") == h3.cust, "left")
        .drop("cust")
        .select(
            "src_custkey",
            F.coalesce("n_direct_suppliers", F.lit(0)).alias("n_direct_suppliers"),
            F.coalesce("n_cocustomers_2hop", F.lit(0)).alias("n_cocustomers_2hop"),
            F.coalesce("n_suppliers_3hop", F.lit(0)).alias("n_suppliers_3hop"),
        )
    )

# --------------------------------------------------------------------------
# Retrieval ranking metrics: MRR + NDCG@10
# --------------------------------------------------------------------------

_NDCG_K = 10
_N_RETRIEVAL_Q = 10
#: Discount weights 1/log2(rank+1), rank 1..10, and their prefix sums —
#: injected as IDENTICAL Python double literals into both engines so no
#: cross-libm log2 enters the differential surface.
_DCG_W = [1.0 / __import__("math").log2(r + 1) for r in range(1, _NDCG_K + 1)]
_DCG_W_R = [round(w, 9) for w in _DCG_W]
_IDCG_PREFIX = [round(sum(_DCG_W_R[: i + 1]), 9) for i in range(_NDCG_K)]


def _retrieval_oracle() -> str:
    w_case = " ".join(
        f"WHEN {r} THEN {_DCG_W_R[r - 1]!r}" for r in range(1, _NDCG_K + 1)
    )
    idcg_case = " ".join(
        f"WHEN {i + 1} THEN {_IDCG_PREFIX[i]!r}" for i in range(_NDCG_K)
    )
    topk = vec.cosine_topk_sql(
        "SELECT vec_id, embedding, label AS q_label FROM q",
        "SELECT vec_id, embedding, label AS n_label FROM embeddings",
        _NDCG_K,
        EMB_DIM,
    )
    return f"""
    WITH q AS (SELECT vec_id, embedding, label FROM embeddings
               WHERE vec_id < {_N_RETRIEVAL_Q}),
    top AS (
      SELECT q_id, n_id, (n_label = q_label) AS rel, rk FROM ({topk})),
    lc AS (SELECT label, COUNT(*) AS cnt FROM embeddings GROUP BY 1),
    nrel AS (
      SELECT q.vec_id AS q_id,
             LEAST(CAST(lc.cnt - 1 AS BIGINT), {_NDCG_K}) AS r_total
      FROM q JOIN lc ON lc.label = q.label),
    per_q AS (
      SELECT q_id,
             CAST(COALESCE(MIN(rk) FILTER (WHERE rel), 0) AS BIGINT)
               AS first_rel_rank,
             SUM(CASE WHEN rel THEN
                   CAST(CASE rk {w_case} END AS DECIMAL(18,9))
                 ELSE CAST(0 AS DECIMAL(18,9)) END) AS dcg
      FROM top GROUP BY q_id)
    SELECT p.q_id, p.first_rel_rank,
           ROUND(CASE WHEN p.first_rel_rank = 0 THEN CAST(0 AS DOUBLE)
                      ELSE CAST(1 AS DOUBLE) / p.first_rel_rank END, 6) AS rr,
           ROUND(CAST(p.dcg AS DOUBLE)
                 / CAST((CASE n.r_total {idcg_case} ELSE NULL END) AS DOUBLE),
                 6) AS ndcg10
    FROM per_q p JOIN nrel n ON n.q_id = p.q_id
    """


@query("retrieval_mrr_ndcg", oracle=_retrieval_oracle())
def retrieval_mrr_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal rank and NDCG@10 per query for exact cosine retrieval
    with label-match relevance — the two metrics every embedding-retrieval
    stack reports (MRR for "where is the first hit", NDCG for graded list
    quality), closing the eval suite next to ``ann_recall_eval`` (recall)
    and ``quality_ranker_auc`` (classification).

    Determinism: ranks come from the bit-stable cosine (same left-assoc
    fold both engines) with vec_id tiebreak; DCG discount weights are the
    SAME Python double literals injected into both engines, per-term
    rounded then DECIMAL-summed (order-independent); IDCG is a prefix-sum
    lookup on the capped relevant count.  One final rounded division.

    Scale: the {_N_RETRIEVAL_Q}-query set broadcasts and the corpus
    streams through once (linear scan, ``vec.cosine_pairs``); the
    per-query relevant-count is the same broadcast against a hash
    aggregate.  Metrics aggregate over top-k rows only.
    """
    e = load_table(spark, sf_dir, "embeddings")
    qs = e.filter(F.col("vec_id") < _N_RETRIEVAL_Q)
    pairs = vec.cosine_pairs(qs, e).select(
        "q_id", "n_id", (F.col("n_label") == F.col("q_label")).alias("rel"), "cosine"
    )
    top = vec.top_k(pairs, _NDCG_K)
    # CASE rank -> literal weight, identical literal set as the oracle.
    weight = F.when(
        F.col("rk") == 1, F.lit(_DCG_W_R[0]).cast("decimal(18,9)")
    )
    for r in range(2, _NDCG_K + 1):
        weight = weight.when(
            F.col("rk") == r, F.lit(_DCG_W_R[r - 1]).cast("decimal(18,9)")
        )
    per_q = top.groupBy("q_id").agg(
        F.coalesce(
            F.min(F.when(F.col("rel"), F.col("rk"))), F.lit(0)
        ).cast("bigint").alias("first_rel_rank"),
        F.sum(
            F.when(F.col("rel"), weight).otherwise(
                F.lit(0).cast("decimal(18,9)")
            )
        ).alias("dcg"),
    )
    lc = e.groupBy(F.col("label")).agg(F.count("*").alias("cnt"))
    nrel = (
        qs.select(F.col("vec_id").alias("q_id"), F.col("label").alias("q_label"))
        .join(F.broadcast(lc), F.col("q_label") == F.col("label"))
        .select(
            "q_id",
            F.least(F.col("cnt") - 1, F.lit(_NDCG_K))
            .cast("bigint")
            .alias("r_total"),
        )
    )
    idcg = None
    for i in range(_NDCG_K):
        if idcg is None:
            idcg = F.when(F.col("r_total") == i + 1, F.lit(_IDCG_PREFIX[i]))
        else:
            idcg = idcg.when(F.col("r_total") == i + 1, F.lit(_IDCG_PREFIX[i]))
    rr = F.when(F.col("first_rel_rank") == 0, F.lit(0.0)).otherwise(
        F.lit(1.0) / F.col("first_rel_rank")
    )
    return per_q.join(nrel, "q_id").select(
        "q_id",
        "first_rel_rank",
        F.round(rr, 6).alias("rr"),
        F.round(F.col("dcg").cast("double") / idcg, 6).alias("ndcg10"),
    )

# --------------------------------------------------------------------------
# Common-neighbor (Jaccard) node similarity
# --------------------------------------------------------------------------

_CN_MIN_SHARED = 20


@query(
    "supplier_common_neighbors",
    oracle=f"""
    WITH edges AS (
      SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
    deg AS (SELECT supp, COUNT(*) AS d FROM edges GROUP BY 1),
    shared AS (
      SELECT a.supp AS s1, b.supp AS s2, COUNT(*) AS n_shared
      FROM edges a JOIN edges b ON a.cust = b.cust AND a.supp < b.supp
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_CN_MIN_SHARED})
    SELECT s.s1, s.s2, CAST(s.n_shared AS BIGINT) AS n_shared,
           ROUND(CAST(s.n_shared AS DOUBLE)
                 / (d1.d + d2.d - s.n_shared), 6) AS jaccard
    FROM shared s
    JOIN deg d1 ON d1.supp = s.s1
    JOIN deg d2 ON d2.supp = s.s2
    """,
)
def supplier_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbor Jaccard similarity between suppliers over the
    shared-customer graph — the link-prediction / entity-similarity
    primitive ("suppliers with overlapping demand") behind substitution
    analysis and graph-based recommendations, and the node-level analogue
    of ``item_cooccurrence_cf``.

    Candidate pairs are generated per customer (equi-join on cust with
    s1 < s2 orientation), so the work is sum(per-customer degree
    choose 2) — never |suppliers|² against the raw graph; the min-shared
    floor then bounds the output.  Jaccard = shared / (d1 + d2 - shared)
    from exact integer counts, rounded once.

    Scale: a power-law hot customer would quadratically inflate its
    contribution; the documented mitigation is the basket cap used by
    ``item_cooccurrence_cf`` (drop or sample mega-degree nodes before
    pairing), standard in production co-occurrence mining.
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("cust"), F.col("l_suppkey").alias("supp"))
        .distinct()
    )
    deg = edges.groupBy("supp").agg(F.count("*").alias("d"))
    a = edges.select("cust", F.col("supp").alias("s1"))
    b = edges.select("cust", F.col("supp").alias("s2"))
    shared = (
        a.join(b, "cust")
        .filter(F.col("s1") < F.col("s2"))
        .groupBy("s1", "s2")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _CN_MIN_SHARED)
    )
    d1 = deg.select(F.col("supp").alias("s1"), F.col("d").alias("d1"))
    d2 = deg.select(F.col("supp").alias("s2"), F.col("d").alias("d2"))
    return (
        shared.join(d1, "s1")
        .join(d2, "s2")
        .select(
            "s1",
            "s2",
            F.col("n_shared").cast("bigint").alias("n_shared"),
            F.round(
                F.col("n_shared").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("n_shared")),
                6,
            ).alias("jaccard"),
        )
    )

# --------------------------------------------------------------------------
# First-in-window dedup (batch twin of dropDuplicatesWithinWatermark)
# --------------------------------------------------------------------------


@query(
    "dedup_first_in_window",
    oracle="""
    WITH b AS (
      SELECT event_id, user_id, event_type, ts,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type,
                            CAST(FLOOR(epoch_us(ts) / 600000000) AS BIGINT)
               ORDER BY ts ASC, event_id ASC) AS rn
      FROM events)
    SELECT event_id, user_id, event_type, ts FROM b WHERE rn = 1
    """,
)
def dedup_first_in_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep only the FIRST event per (user, type) within each 10-minute
    tumbling window — the batch-checkable twin of streaming
    ``dropDuplicatesWithinWatermark`` (runtime-tested in
    `tests/test_streaming.py`): retries/at-least-once delivery collapse to
    one effect per key per window.

    Window identity is exact integer µs arithmetic (epoch div 600e6), the
    survivor is the (ts, event_id) minimum — total order, engine-stable.

    Scale: ONE window shuffle keyed by (user, type, window) — high
    cardinality, no hot key; in streaming the same key set is the state
    store key and the watermark bounds its size.
    """
    e = load_table(spark, sf_dir, "events")
    win = F.floor(F.unix_micros(F.col("ts")) / 600_000_000).cast("bigint")
    w = Window.partitionBy("user_id", "event_type", win).orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        e.select(
            "event_id", "user_id", "event_type", "ts",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )

# --------------------------------------------------------------------------
# Shingle containment pairs (asymmetric near-dup: subset detection)
# --------------------------------------------------------------------------

_CONT_ID_CAP = 400
_CONT_THRESHOLD = 0.5


@query(
    "ngram_containment_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {tx.tokens_sql()} AS toks
      FROM documents WHERE doc_id < {_CONT_ID_CAP}),
    sh AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT({tx.ngrams_sql("toks", 3)})) AS s
      FROM t),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT i.id_a, i.id_b,
           CAST(i.n_inter AS BIGINT) AS n_shared,
           ROUND(GREATEST(CAST(i.n_inter AS DOUBLE) / sa.n,
                          CAST(i.n_inter AS DOUBLE) / sb.n), 6)
             AS max_containment
    FROM inter i
    JOIN sz sa ON sa.doc_id = i.id_a
    JOIN sz sb ON sb.doc_id = i.id_b
    WHERE GREATEST(CAST(i.n_inter AS DOUBLE) / sa.n,
                   CAST(i.n_inter AS DOUBLE) / sb.n) >= {_CONT_THRESHOLD}
    """,
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT (|A∩B| / min-side size as the max of
    the two directions) over word-3-gram sets — the subset-duplicate
    detector symmetric Jaccard is blind to: a document quoted whole inside
    a longer page has low Jaccard but containment ≈ 1.  This is the
    signal behind quote/boilerplate-wrap dedup in crawl pipelines
    (complements ``ngram_jaccard_pairs`` / ``dup_ngram_spans``).

    Intersections come from the inverted shingle equi-join on a bounded
    id slice (the calibration-anchor discipline of
    ``embedding_pairwise_stats``); set sizes join back by doc.  Counts
    exact; one rounded ratio.

    Scale: the production path prunes candidates with the PPJoin prefix
    or LSH first (both implemented) — containment is then scored on
    candidate pairs only; the shingle join here shuffles on the shingle
    key, never docs².
    """
    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _CONT_ID_CAP
    )
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(tx.shingles(tx.tokens("text"), n=3))).alias(
            "s"
        ),
    )
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "s")
    b = sh.select(F.col("doc_id").alias("id_b"), "s")
    inter = (
        a.join(b, "s")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    cont = F.greatest(
        F.col("n_inter").cast("double") / F.col("na"),
        F.col("n_inter").cast("double") / F.col("nb"),
    )
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(cont >= _CONT_THRESHOLD)
        .select(
            "id_a",
            "id_b",
            F.col("n_inter").cast("bigint").alias("n_shared"),
            F.round(cont, 6).alias("max_containment"),
        )
    )

# --------------------------------------------------------------------------
# B-cubed blocking-quality evaluation
# --------------------------------------------------------------------------


@query(
    "b3_blocking_eval",
    oracle=f"""
    WITH lab AS (
      SELECT doc_id,
             SUBSTRING(text, 1, 64) AS pred,
             {tx.fingerprint_sql(tx.tokens_sql())} AS gold
      FROM documents),
    np AS (SELECT pred, COUNT(*) AS n_p FROM lab GROUP BY 1),
    ng AS (SELECT gold, COUNT(*) AS n_g FROM lab GROUP BY 1),
    npg AS (SELECT pred, gold, COUNT(*) AS n_pg FROM lab GROUP BY 1, 2),
    per_doc AS (
      SELECT l.doc_id,
             (CAST(c.n_pg AS HUGEINT) * 1000000) // p.n_p AS p_micro,
             (CAST(c.n_pg AS HUGEINT) * 1000000) // g.n_g AS r_micro
      FROM lab l
      JOIN np p ON p.pred = l.pred
      JOIN ng g ON g.gold = l.gold
      JOIN npg c ON c.pred = l.pred AND c.gold = l.gold),
    sums AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(p_micro) // COUNT(*) AS BIGINT) AS pm,
             CAST(SUM(r_micro) // COUNT(*) AS BIGINT) AS rm
      FROM per_doc)
    SELECT CAST(n AS BIGINT) AS n_docs,
           CAST(pm AS DOUBLE) / 1000000.0 AS b3_precision,
           CAST(rm AS DOUBLE) / 1000000.0 AS b3_recall,
           2.0 * (CAST(pm AS DOUBLE) / 1000000.0)
               * (CAST(rm AS DOUBLE) / 1000000.0)
             / (CAST(pm AS DOUBLE) / 1000000.0
                + CAST(rm AS DOUBLE) / 1000000.0) AS b3_f1
    FROM sums
    """,
)
def b3_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-cubed precision/recall/F1 (Bagga & Baldwin 1998) of a cheap
    blocking scheme — 64-char-prefix groups — against the gold exact-dup
    clustering (sorted-token-set fingerprint): per doc, precision is the
    fraction of its PREDICTED cluster that shares its GOLD cluster,
    recall the converse, averaged over docs.  This is THE standard
    entity-resolution / dedup-clustering quality readout (B³ punishes
    both over-merging and over-splitting, unlike pairwise F1 which
    over-weights big clusters) — it closes the loop on the blocking
    stages (`prefix_dup_candidates`) by SCORING them.

    Numerics: all cluster sizes and intersections are exact integers;
    per-doc ratios are floored integer divisions to micro precision, the
    averages floored again — NO round call anywhere, so no .5-repr
    divergence can exist; F1 is one pure double expression of identical
    integers.

    Scale: three hash aggregates (pred, gold, pred x gold) + equi-joins
    back on the labels — never doc x doc; the label tables are
    cluster-count-sized.
    """
    d = load_table(spark, sf_dir, "documents")
    lab = d.select(
        "doc_id",
        F.substring("text", 1, 64).alias("pred"),
        F.md5(
            F.concat_ws(
                " ", F.array_sort(F.array_distinct(tx.tokens("text")))
            )
        ).alias("gold"),
    )
    np_ = lab.groupBy("pred").agg(F.count("*").alias("n_p"))
    ng = lab.groupBy("gold").agg(F.count("*").alias("n_g"))
    npg = lab.groupBy("pred", "gold").agg(F.count("*").alias("n_pg"))
    per_doc = (
        lab.join(np_, "pred")
        .join(ng, "gold")
        .join(npg, ["pred", "gold"])
        .select(
            F.expr(
                "CAST((CAST(n_pg AS DECIMAL(38,0)) * 1000000) div n_p AS BIGINT)"
            ).alias("p_micro"),
            F.expr(
                "CAST((CAST(n_pg AS DECIMAL(38,0)) * 1000000) div n_g AS BIGINT)"
            ).alias("r_micro"),
        )
    )
    sums = per_doc.agg(
        F.count("*").alias("n"),
        F.sum("p_micro").alias("sp"),
        F.sum("r_micro").alias("sr"),
    ).select(
        "n",
        F.expr("CAST(sp div n AS BIGINT)").alias("pm"),
        F.expr("CAST(sr div n AS BIGINT)").alias("rm"),
    )
    p = F.col("pm").cast("double") / 1_000_000.0
    r = F.col("rm").cast("double") / 1_000_000.0
    return sums.select(
        F.col("n").cast("bigint").alias("n_docs"),
        p.alias("b3_precision"),
        r.alias("b3_recall"),
        (F.lit(2.0) * p * r / (p + r)).alias("b3_f1"),
    )

