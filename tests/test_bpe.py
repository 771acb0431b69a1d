"""operators/bpe.py: BPE merge-rule learning, differentially tested
against a pure-Python TEXTBOOK implementation (the sequential
left-to-right greedy loop) — the set-wise window formulation must
reproduce it exactly, including same-symbol runs where the greedy
subtlety lives.
"""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from lms_etl_pipeline_spark import session
from lms_etl_pipeline_spark.operators import bpe


def ref_apply_merge(syms: list[str], a: str, b: str) -> list[str]:
    """Textbook sequential left-to-right greedy merge."""
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def ref_train(words: dict[str, int], iters: int):
    """Textbook trainer: (rules, dicts) with the repo's tie-break."""
    d = {w: (list(w), f) for w, f in words.items()}
    rules = []
    for _ in range(iters):
        counts: Counter = Counter()
        for syms, f in d.values():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] += f
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        rules.append((a, b, n))
        d = {w: (ref_apply_merge(s, a, b), f) for w, (s, f) in d.items()}
    return rules, d


@pytest.mark.parametrize(
    ("word", "pair", "want"),
    [
        ("aaaa", ("a", "a"), ["aa", "aa"]),       # even run: all pairs merge
        ("aaa", ("a", "a"), ["aa", "a"]),         # odd run: trailing singleton
        ("aaaaa", ("a", "a"), ["aa", "aa", "a"]),
        ("abab", ("a", "b"), ["ab", "ab"]),       # a != b: never overlapping
        ("xaby", ("a", "b"), ["x", "ab", "y"]),
        ("ab", ("b", "a"), ["a", "b"]),           # no occurrence
        ("a", ("a", "a"), ["a"]),                 # single symbol: no pairs
    ],
)
def test_apply_merge_greedy_semantics(spark, word, pair, want):
    d = spark.createDataFrame([(word, 1)], "word string, freq long").withColumn(
        "syms", F.expr("regexp_extract_all(word, '(?s).', 0)")
    )
    best = spark.createDataFrame(
        [(pair[0], pair[1], 1)], "left string, right string, pair_count long"
    )
    got = bpe.apply_merge(d, best).collect()[0]["syms"]
    assert got == want == ref_apply_merge(list(word), *pair)


def test_train_matches_textbook_reference(spark):
    """Three iterations over a deliberately nasty corpus (same-symbol runs,
    ties, multi-char merges feeding later iterations) must equal the
    sequential textbook trainer rule-for-rule and dictionary-for-dictionary."""
    texts = [
        "aaaa aaa banana bandana",
        "aaaa banana banana abab",
        "mississippi bookkeeper aaa",
    ]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")
    words: Counter = Counter(w for t in texts for w in t.split())

    from lms_etl_pipeline_spark.operators import text as tx

    dk = bpe.word_dictionary(docs, tx.tokens("text"))
    got_rules = []
    for _ in range(3):
        b = bpe.best_pair(dk)
        row = b.collect()[0]
        got_rules.append((row["left"], row["right"], row["pair_count"]))
        dk = bpe.apply_merge(dk, b)
    want_rules, want_dict = ref_train(dict(words), 3)
    assert got_rules == want_rules
    got_dict = {r["word"]: (r["syms"], r["freq"]) for r in dk.collect()}
    assert got_dict == {w: (s, f) for w, (s, f) in want_dict.items()}


def test_query_shape_and_monotone_counts(spark):
    """The registered query emits one row per learnable merge with
    non-increasing pair counts and strictly decreasing corpus tokens."""
    import __spark_entry__ as em
    from tests.conftest import SF_SMOKE

    rows = (
        em.queries()["bpe_train_merges"](spark, SF_SMOKE)
        .orderBy("iteration")
        .collect()
    )
    assert [r["iteration"] for r in rows] == [1, 2, 3]
    counts = [r["pair_count"] for r in rows]
    assert counts == sorted(counts, reverse=True)
    toks = [r["corpus_tokens_after"] for r in rows]
    assert all(a > b for a, b in zip(toks, toks[1:]))
    # each merge removes exactly pair_count symbol slots from the corpus:
    # tokens_after[k] = tokens_after[k-1] - pair_count[k]
    for prev, cur in zip(rows, rows[1:]):
        assert cur["corpus_tokens_after"] == (
            prev["corpus_tokens_after"] - cur["pair_count"]
        )


@pytest.mark.slow  # >14 s: gated from the default run
def test_local_learner_matches_textbook_and_distributed(spark):
    """The driver-local learner (hybrid deep path) must equal BOTH the
    textbook trainer and the distributed operator loop rule-for-rule —
    including pair counts and post-merge corpus token totals."""
    texts = [
        "aaaa aaa banana bandana",
        "aaaa banana banana abab",
        "mississippi bookkeeper aaa",
    ]
    docs = spark.createDataFrame([(t,) for t in texts], "text string")

    from lms_etl_pipeline_spark.operators import text as tx

    dk = bpe.word_dictionary(docs, tx.tokens("text"))
    rows = dk.select("freq", "syms").collect()
    got = bpe.learn_merges_local([(r["freq"], r["syms"]) for r in rows], 6)

    want_rules, _ = ref_train(
        dict(Counter(w for t in texts for w in t.split())), 6
    )
    assert [(l, r, c) for _, l, r, c, _ in got] == want_rules

    # distributed loop, same 6 merges — totals must agree too
    dk2 = bpe.word_dictionary(docs, tx.tokens("text"))
    for it, left, right, count, total in got:
        b = bpe.best_pair(dk2)
        row = b.collect()[0]
        assert (row["left"], row["right"], row["pair_count"]) == (
            left,
            right,
            count,
        )
        dk2 = bpe.apply_merge(dk2, b)
        got_total = dk2.agg(
            F.sum(F.col("freq") * F.size("syms")).cast("bigint").alias("t")
        ).collect()[0]["t"]
        assert got_total == total


def test_deep_query_hybrid_arms_agree(spark, monkeypatch):
    """bpe_train_merges_deep: the driver-local arm (dictionary within
    budget) and the distributed fallback arm (budget forced to 0) must
    produce identical rows at the same merge budget."""
    from lms_etl_pipeline_spark.plans import tokenizer
    from tests.conftest import SF_SMOKE

    monkeypatch.setattr(tokenizer, "_DEEP_MERGES", 8)
    local = sorted(
        map(tuple, tokenizer.bpe_train_merges_deep(spark, SF_SMOKE).collect())
    )
    assert len(local) == 8
    monkeypatch.setattr(session, "LOCAL_COLLECT_BUDGET_ROWS", 0)
    dist = sorted(
        map(tuple, tokenizer.bpe_train_merges_deep(spark, SF_SMOKE).collect())
    )
    assert local == dist


def test_deep_query_budget_knife_edge(spark, monkeypatch):
    """The hybrid gate at exactly |dictionary| ± 1 — budget == dict rows
    takes the driver-local arm, budget == dict rows - 1 takes the
    distributed fallback, and both arms must agree on the SAME fixture
    (the knife edge where one extra word flips the physical strategy)."""
    from lms_etl_pipeline_spark.operators import text as tx
    from lms_etl_pipeline_spark.plans import tokenizer
    from lms_etl_pipeline_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    monkeypatch.setattr(tokenizer, "_DEEP_MERGES", 4)
    d = load_table(spark, SF_SMOKE, "documents")
    n_dict = bpe.word_dictionary(d, tx.tokens("text")).count()
    assert n_dict > 1
    fallbacks = []
    distributed = tokenizer._train_distributed
    monkeypatch.setattr(
        tokenizer,
        "_train_distributed",
        lambda *a: fallbacks.append(1) or distributed(*a),
    )

    monkeypatch.setattr(session, "LOCAL_COLLECT_BUDGET_ROWS", n_dict)  # at budget
    at = sorted(map(tuple, tokenizer.bpe_train_merges_deep(spark, SF_SMOKE).collect()))
    assert not fallbacks, "a dictionary at the budget must stay on the driver"
    monkeypatch.setattr(session, "LOCAL_COLLECT_BUDGET_ROWS", n_dict - 1)  # 1 over
    over = sorted(map(tuple, tokenizer.bpe_train_merges_deep(spark, SF_SMOKE).collect()))
    assert fallbacks == [1], "a dictionary over the budget must fall back"
    assert at == over
    assert len(at) == 4


def test_encode_query_hybrid_arms_agree(spark, monkeypatch):
    """bpe_encode_corpus: the driver-local encoder and the distributed
    merge-loop fallback must produce the identical per-doc encoding
    fingerprints (the same arm-equivalence pin as deep training)."""
    from lms_etl_pipeline_spark.plans import tokenizer
    from tests.conftest import SF_SMOKE

    local = sorted(
        map(tuple, tokenizer.bpe_encode_corpus(spark, SF_SMOKE).collect())
    )
    assert local
    monkeypatch.setattr(session, "LOCAL_COLLECT_BUDGET_ROWS", 0)
    dist = sorted(
        map(tuple, tokenizer.bpe_encode_corpus(spark, SF_SMOKE).collect())
    )
    assert local == dist


def test_encode_reconciles_with_trained_merges(spark):
    """Encoding with K merges must (a) cover every tokenized doc, (b)
    never grow a doc (n_syms <= chars), and (c) compress relative to the
    raw symbol stream by EXACTLY the trainer's corpus_tokens_after at the
    same budget — encode and train share one merge semantics."""
    from lms_etl_pipeline_spark.operators import text as tx
    from lms_etl_pipeline_spark.plans import tokenizer
    from lms_etl_pipeline_spark.sources.tables import load_table
    from tests.conftest import SF_SMOKE

    out = {r.doc_id: r for r in tokenizer.bpe_encode_corpus(spark, SF_SMOKE).collect()}
    d = load_table(spark, SF_SMOKE, "documents")
    toked = {
        r.doc_id: r.n
        for r in d.select("doc_id", F.size(tx.tokens("text")).alias("n")).collect()
        if r.n > 0
    }
    assert out.keys() == toked.keys()
    for doc_id, r in out.items():
        assert r.n_toks == toked[doc_id]
        assert r.n_syms >= r.n_toks  # a token is >= 1 symbol
        assert len(r.syms_md5) == 32
    # total symbols after K merges == the trainer's last
    # corpus_tokens_after at the same K (shared greedy semantics)
    rows = sorted(
        map(tuple, tokenizer.bpe_train_merges_deep(spark, SF_SMOKE).collect())
    )
    k_enc = tokenizer._ENC_MERGES
    after_k = [t for t in rows if t[0] == k_enc]
    assert after_k, "trainer emitted fewer merges than the encode budget"
    assert sum(r.n_syms for r in out.values()) == after_k[0][4]
