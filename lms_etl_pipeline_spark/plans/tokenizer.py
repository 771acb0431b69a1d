"""BPE tokenizer training and encoding — the hybrid merge path.

BPE merge learning is sequential BY NATURE (merge k+1's counts depend on
merge k's rewrite), and each distributed iteration pays three window
passes + two materialize barriers over the exploded symbol volume, so a
distributed loop can never reach a real vocabulary size (production BPE
learns 10^4-10^5 merges).  Every query here (``bpe_train_merges`` in
plans/curation.py at K=3, ``bpe_train_merges_deep`` at K=64,
``bpe_encode_corpus``) takes the hybrid path every real tokenizer trainer
uses at scale:

1. the CORPUS-sized work stays distributed: one tokenize + word count
   collapses the corpus to the vocabulary-bounded (word, freq) dictionary;
2. when that dictionary fits ``session.LOCAL_COLLECT_BUDGET_ROWS``, it
   collapses ONCE to the driver through ``session.collect_bounded`` (one
   action, which is also the budget check) and the K merges run in a
   driver loop with the exact same tie rule and greedy-merge semantics
   (differentially pinned against the distributed operators in
   tests/test_bpe.py);
3. an over-budget dictionary takes the fully distributed iteration, one
   lineage-cut barrier per merge, starting from the dictionary frame the
   collect already materialized — correctness never depends on the
   dictionary fitting.

Scope note: the reference pipeline (``/root/reference/README.md``) has no
tokenizer stage; this extends the engine along the training-data axis the
build mandates, over the ``documents`` fixture.

Oracle strategy: DuckDB replays the SAME K iterations via a generated CTE
chain.  The dictionary CTEs are ``AS MATERIALIZED`` — DuckDB inlines
multiply-referenced CTEs, and each iteration references its dictionary
twice, so the un-hinted chain re-expands 2^K subtrees (measured: "too many
open files" at K=64); materialization keeps the replay linear (~3 s at
sf0.01).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lms_etl_pipeline_spark import session
from lms_etl_pipeline_spark.operators import bpe
from lms_etl_pipeline_spark.operators import text as tx
from lms_etl_pipeline_spark.plans.catalog import query
from lms_etl_pipeline_spark.plans.llm import _TOKS
from lms_etl_pipeline_spark.session import materialize, release
from lms_etl_pipeline_spark.sources.tables import load_table

#: merge budget for the deep-training query (driver-local arm: ~ms each;
#: distributed fallback arm: one barrier each)
_DEEP_MERGES = 64

_OUT_SCHEMA = (
    "iteration int, merge_left string, merge_right string, "
    "pair_count bigint, corpus_tokens_after bigint"
)


def _iter_sql(k: int) -> str:
    """One BPE merge iteration as DuckDB CTEs (same formulas as
    plans/curation.py's K=3 oracle, plus MATERIALIZED hints — see module
    docstring)."""
    return f"""
    pairs{k} AS (
      SELECT freq, syms, UNNEST(RANGE(1, LEN(syms))) AS i FROM d{k}
    ),
    best{k} AS MATERIALIZED (
      SELECT syms[i] AS l, syms[i + 1] AS r,
             CAST(SUM(freq) AS BIGINT) AS pair_count
      FROM pairs{k} GROUP BY 1, 2
      ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1
    ),
    pos{k} AS (
      SELECT d.word, d.freq, b.l, b.r, d.syms,
             UNNEST(RANGE(1, LEN(d.syms) + 1)) AS j
      FROM d{k} d CROSS JOIN best{k} b
    ),
    occ{k} AS (
      SELECT word, freq, l, r, j, syms[j] AS sym,
             COALESCE(syms[j] = l AND LEAD(syms[j]) OVER
                 (PARTITION BY word ORDER BY j) = r, FALSE) AS occ
      FROM pos{k}
    ),
    st{k} AS (
      SELECT *, occ AND NOT COALESCE(LAG(occ) OVER
                 (PARTITION BY word ORDER BY j), FALSE) AS is_start
      FROM occ{k}
    ),
    run{k} AS (
      SELECT *, MAX(CASE WHEN is_start THEN j END)
                 OVER (PARTITION BY word ORDER BY j
                       ROWS UNBOUNDED PRECEDING) AS run_start
      FROM st{k}
    ),
    kept{k} AS (
      SELECT *, occ AND (j - run_start) % 2 = 0 AS kept
      FROM run{k}
    ),
    cons{k} AS (
      SELECT *, COALESCE(LAG(kept) OVER (PARTITION BY word ORDER BY j),
                         FALSE) AS consumed
      FROM kept{k}
    ),
    d{k + 1} AS MATERIALIZED (
      SELECT word, freq,
             LIST(CASE WHEN kept THEN l || r ELSE sym END ORDER BY j) AS syms
      FROM cons{k} WHERE NOT consumed
      GROUP BY word, freq
    ),
    after{k} AS (
      SELECT CAST(SUM(freq * LEN(syms)) AS BIGINT) AS corpus_tokens_after
      FROM d{k + 1}
    )"""


_DEEP_ORACLE = (
    f"""
    WITH d1 AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
             REGEXP_EXTRACT_ALL(word, '(?s).') AS syms
      FROM (SELECT UNNEST({_TOKS}) AS word FROM documents)
      GROUP BY word
    ),"""
    + ",".join(_iter_sql(k) for k in range(1, _DEEP_MERGES + 1))
    + "".join(
        f"""
    {"SELECT" if k == 1 else "UNION ALL SELECT"} {k} AS iteration,
           b.l AS merge_left, b.r AS merge_right, b.pair_count,
           a.corpus_tokens_after
    FROM best{k} b CROSS JOIN after{k} a"""
        for k in range(1, _DEEP_MERGES + 1)
    )
)


def _train_distributed(dk: DataFrame, n_merges: int) -> DataFrame | None:
    """Fully distributed merge loop (the over-budget fallback): identical
    semantics to the driver-local learner, one lineage-cut barrier per
    merge; stops early when no adjacent pair remains."""
    out = None
    for it in range(1, n_merges + 1):
        b = materialize(bpe.best_pair(dk))
        if b.isEmpty():
            break
        dk = materialize(bpe.apply_merge(dk, b), cut_lineage=True)
        after = dk.agg(
            F.sum(F.col("freq") * F.size("syms"))
            .cast("bigint")
            .alias("corpus_tokens_after")
        )
        row = b.crossJoin(F.broadcast(after)).select(
            F.lit(it).alias("iteration"),
            F.col("left").alias("merge_left"),
            F.col("right").alias("merge_right"),
            "pair_count",
            "corpus_tokens_after",
        )
        out = row if out is None else out.unionByName(row)
    return out


def train_merges(spark: SparkSession, docs: DataFrame, n_merges: int) -> DataFrame:
    """Learn ``n_merges`` BPE merges over ``docs``' text on the hybrid path
    (module docstring): one row per learned merge with its pair count and
    post-merge corpus token count, in ``_OUT_SCHEMA``; fewer rows when the
    dictionary runs out of adjacent pairs."""
    dk = bpe.word_dictionary(docs, tx.tokens("text"))
    rows, dk = session.collect_bounded(dk)
    if rows is not None:
        merges = bpe.learn_merges_local(
            [(r["freq"], r["syms"]) for r in rows], n_merges
        )
        return spark.createDataFrame(merges, _OUT_SCHEMA)
    # every merge materializes its own frame, so the dictionary
    # collect_bounded materialized is released once the loop is done
    out = _train_distributed(dk, n_merges)
    release(dk)
    if out is None:  # empty corpus: no pairs to merge anywhere
        return spark.createDataFrame([], _OUT_SCHEMA)
    return out


@query("bpe_train_merges_deep", oracle=_DEEP_ORACLE)
def bpe_train_merges_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training at a realistic merge budget (K=64): the
    corpus-sized tokenize+count stays distributed; the vocabulary-bounded
    dictionary then collapses once to the driver (``train_merges``), where
    the merge loop — sequential by nature — runs at driver-CPU speed
    instead of paying a distributed barrier per merge.  Over-budget
    dictionaries take the fully distributed fallback; both arms share tie
    rule and greedy-merge semantics (differential pin: tests/test_bpe.py).
    Output: one row per learned merge with its pair count and post-merge
    corpus token count.
    """
    return train_merges(
        spark, load_table(spark, sf_dir, "documents"), _DEEP_MERGES
    )


# ---------------------------------------------------------------------------
# Corpus ENCODING with the learned merges (train -> apply parity)
# ---------------------------------------------------------------------------

#: merge budget for the encode query (kept small so the oracle's CTE
#: replay stays cheap; the encode dataflow is identical at any K)
_ENC_MERGES = 8


def _enc_iter_sql(k: int) -> str:
    """One merge iteration for the ENCODE oracle.  Same formulas as
    ``_iter_sql`` with two differences: no ``after{k}`` (encoding doesn't
    report per-iteration counts), and the next dictionary FALLS BACK to
    the current one when no pair remains (``best{k}`` empty) — training
    just stops emitting rows there, but encoding must keep the dictionary
    alive or a degenerate corpus (all single-symbol words) would encode
    to nothing."""
    return f"""
    pairs{k} AS (
      SELECT freq, syms, UNNEST(RANGE(1, LEN(syms))) AS i FROM d{k}
    ),
    best{k} AS MATERIALIZED (
      SELECT syms[i] AS l, syms[i + 1] AS r,
             CAST(SUM(freq) AS BIGINT) AS pair_count
      FROM pairs{k} GROUP BY 1, 2
      ORDER BY pair_count DESC, l ASC, r ASC LIMIT 1
    ),
    pos{k} AS (
      SELECT d.word, d.freq, b.l, b.r, d.syms,
             UNNEST(RANGE(1, LEN(d.syms) + 1)) AS j
      FROM d{k} d CROSS JOIN best{k} b
    ),
    occ{k} AS (
      SELECT word, freq, l, r, j, syms[j] AS sym,
             COALESCE(syms[j] = l AND LEAD(syms[j]) OVER
                 (PARTITION BY word ORDER BY j) = r, FALSE) AS occ
      FROM pos{k}
    ),
    st{k} AS (
      SELECT *, occ AND NOT COALESCE(LAG(occ) OVER
                 (PARTITION BY word ORDER BY j), FALSE) AS is_start
      FROM occ{k}
    ),
    run{k} AS (
      SELECT *, MAX(CASE WHEN is_start THEN j END)
                 OVER (PARTITION BY word ORDER BY j
                       ROWS UNBOUNDED PRECEDING) AS run_start
      FROM st{k}
    ),
    kept{k} AS (
      SELECT *, occ AND (j - run_start) % 2 = 0 AS kept
      FROM run{k}
    ),
    cons{k} AS (
      SELECT *, COALESCE(LAG(kept) OVER (PARTITION BY word ORDER BY j),
                         FALSE) AS consumed
      FROM kept{k}
    ),
    d{k + 1} AS MATERIALIZED (
      SELECT word, freq,
             LIST(CASE WHEN kept THEN l || r ELSE sym END ORDER BY j) AS syms
      FROM cons{k} WHERE NOT consumed
      GROUP BY word, freq
      UNION ALL
      SELECT word, freq, syms FROM d{k}
      WHERE NOT EXISTS (SELECT 1 FROM best{k})
    )"""


_ENC_ORACLE = (
    f"""
    WITH d1 AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
             REGEXP_EXTRACT_ALL(word, '(?s).') AS syms
      FROM (SELECT UNNEST({_TOKS}) AS word FROM documents)
      GROUP BY word
    ),"""
    + ",".join(_enc_iter_sql(k) for k in range(1, _ENC_MERGES + 1))
    + f""",
    toks AS (
      SELECT doc_id, UNNEST(tk) AS word,
             UNNEST(RANGE(1, LEN(tk) + 1)) AS pos
      FROM (SELECT doc_id, {_TOKS} AS tk FROM documents)
    ),
    j AS (SELECT t.doc_id, t.pos, e.syms
          FROM toks t JOIN d{_ENC_MERGES + 1} e USING (word))
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_toks,
           CAST(SUM(LEN(syms)) AS BIGINT) AS n_syms,
           MD5(ARRAY_TO_STRING(FLATTEN(LIST(syms ORDER BY pos)), ' '))
             AS syms_md5
    FROM j GROUP BY doc_id
    """
)


@query("bpe_encode_corpus", oracle=_ENC_ORACLE)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ENCODE the corpus with the merges the trainer learns — the apply
    half of the tokenizer (train -> encode parity, the same pairing as
    classifier train -> predict).  Output per document: token count,
    post-merge symbol count, and an md5 fingerprint of the full symbol
    sequence in token order (pins the exact encoding without emitting
    megabytes of text).

    Scale: encoding a word depends only on the word, so the K-merge loop
    runs on the VOCABULARY-BOUNDED dictionary (driver-local under the
    same machine-checked budget as deep training; fully distributed
    fallback above it) and the corpus-sized work is one tokenize plus one
    word-keyed equi-join of the exploded token stream against the encoded
    dictionary — at 100 TB that join's build side is the vocabulary, not
    the corpus.  Per-doc reassembly aggregates map-side on doc_id.
    """
    d = load_table(spark, sf_dir, "documents")
    dk = bpe.word_dictionary(d, tx.tokens("text"))
    rows, dk = session.collect_bounded(dk)
    if rows is not None:
        enc = bpe.encode_dictionary_local(
            [(r["word"], r["freq"], r["syms"]) for r in rows], _ENC_MERGES
        )
        ed = spark.createDataFrame(enc, "word string, syms array<string>")
    else:
        cur = dk
        for _ in range(_ENC_MERGES):
            b = materialize(bpe.best_pair(cur))
            if b.isEmpty():
                break
            cur = materialize(bpe.apply_merge(cur, b), cut_lineage=True)
        ed = cur.select("word", "syms")
        release(dk)
    toks = d.select(
        "doc_id", F.posexplode(tx.tokens("text")).alias("pos", "word")
    )
    return (
        toks.join(ed, "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_toks"),
            F.sum(F.size("syms")).cast("bigint").alias("n_syms"),
            F.md5(
                F.array_join(
                    F.flatten(
                        F.transform(
                            F.array_sort(F.collect_list(F.struct("pos", "syms"))),
                            lambda s: s.syms,
                        )
                    ),
                    " ",
                )
            ).alias("syms_md5"),
        )
    )
