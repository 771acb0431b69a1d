"""Property-based tests (hypothesis): operator invariants that hold for ALL
inputs, not just fixtures.

Example counts are kept small — every example is a Spark job — but each
property covers an input class unit tests can't enumerate (arbitrary
unicode, adversarial whitespace, permutations, partitionings).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lms_etl_pipeline_spark import etl
from lms_etl_pipeline_spark.functions.numeric import dec
from lms_etl_pipeline_spark.operators import text as tx

SET = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

texts = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=80
)


@SET
@given(texts)
def test_tokens_never_empty_strings_and_count_matches(spark, s):
    import re

    row = spark.createDataFrame([Row(t=s)]).select(
        tx.tokens("t").alias("toks"), tx.token_count("t").alias("n")
    ).collect()[0]
    assert "" not in row.toks
    assert row.n == len(row.toks)
    # ASCII-whitespace contract: Java regex \s == RE2 \s (so Spark and the
    # DuckDB oracle agree); NOT Python str.split, which also splits on
    # unicode spaces like NEL \x85 (hypothesis found that divergence)
    expected = [t for t in re.split(r"[ \t\n\x0b\f\r]+", s) if t]
    assert row.toks == expected


@SET
@given(st.lists(st.text(alphabet="abc", min_size=1, max_size=3), max_size=8), st.integers(2, 4))
def test_shingle_count_invariant(spark, toks, n):
    df = spark.createDataFrame([Row(toks=toks)], "toks ARRAY<STRING>")
    sh = df.select(tx.shingles(F.col("toks"), n=n).alias("sh")).collect()[0].sh
    assert len(sh) == max(0, len(toks) - n + 1)


@SET
@given(st.lists(st.text(alphabet="abcd ", min_size=0, max_size=30), min_size=1, max_size=6))
def test_fingerprint_invariant_under_shuffle_and_dup(spark, words):
    base = " ".join(words)
    shuffled = " ".join(sorted(words, reverse=True)) + " " + (words[0] if words else "")
    df = spark.createDataFrame([Row(a=base, b=shuffled)])
    row = df.select(
        tx.fingerprint("a").alias("fa"), tx.fingerprint("b").alias("fb")
    ).collect()[0]
    # same token SET => same fingerprint (order/multiplicity-insensitive)
    if set(base.split()) == set(shuffled.split()):
        assert row.fa == row.fb


@SET
@given(
    st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False).map(lambda x: round(x, 2)),
        min_size=1,
        max_size=40,
    ),
    st.integers(1, 8),
)
@pytest.mark.slow  # >14 s: gated from the default run
def test_dec_sum_partition_invariant(spark, values, parts):
    """The engine's decimal-sum convention is bit-identical under ANY
    partitioning — the property plain double sums lack."""
    df = spark.createDataFrame([(v,) for v in values], "v DOUBLE")
    a = df.coalesce(1).agg(F.sum(dec("v")).cast("double").alias("s")).collect()[0].s
    b = df.repartition(parts).agg(F.sum(dec("v")).cast("double").alias("s")).collect()[0].s
    assert a == b


@SET
@given(st.text(max_size=30))
def test_align_to_schema_never_throws_on_bad_casts(spark, s):
    df = spark.createDataFrame([Row(x=s)])
    target = T.StructType(
        [
            T.StructField("x", T.LongType()),
        ]
    )
    out = etl.align_to_schema(df, target).collect()[0]
    # either parsed or NULL — never an ANSI abort
    assert out.x is None or isinstance(out.x, int)

@SET
@given(
    st.lists(
        st.lists(st.sampled_from("abcdefg"), min_size=0, max_size=12).map(" ".join),
        min_size=2,
        max_size=8,
    ),
    st.sampled_from([0.3, 0.5, 0.8]),
)
def test_jaccard_prefix_filter_is_lossless(spark, docs, t):
    """The prefix-filtered set-similarity join must find EXACTLY the pairs a
    quadratic scan finds, for any corpus and threshold (the prefix-filter
    theorem) — including single-char-vocab corpora where every shingle set
    collides."""
    from lms_etl_pipeline_spark.operators import dedup as dd

    n = 2
    sets = {}
    for i, text in enumerate(docs):
        toks = text.split()
        sh = {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}
        if sh:
            sets[i] = sh
    expected = set()
    ids = sorted(sets)
    for x, a in enumerate(ids):
        for b in ids[x + 1 :]:
            inter = len(sets[a] & sets[b])
            if inter / (len(sets[a]) + len(sets[b]) - inter) >= t:
                expected.add((a, b))

    df = spark.createDataFrame([Row(id=i, txt=d) for i, d in enumerate(docs)])
    got = {
        (r.a, r.b)
        for r in dd.jaccard_pairs_prefix(df, "id", "txt", n=n, threshold=t).collect()
    }
    assert got == expected


@given(
    labels=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 4)), min_size=1, max_size=25
    )
)
@pytest.mark.slow  # >14 s: gated from the default run
@SET
def test_b3_pipeline_matches_reference(spark, labels):
    """The SQL B-cubed pipeline (three aggregates + joins, fixed-point
    div) equals the textbook per-element B³ definition for ANY labeling
    pair — including degenerate all-same / all-distinct clusterings."""
    rows = [(i, f"p{p}", f"g{g}") for i, (p, g) in enumerate(labels)]
    lab = spark.createDataFrame(rows, "doc_id long, pred string, gold string")
    np_ = lab.groupBy("pred").agg(F.count("*").alias("n_p"))
    ng = lab.groupBy("gold").agg(F.count("*").alias("n_g"))
    npg = lab.groupBy("pred", "gold").agg(F.count("*").alias("n_pg"))
    per_doc = (
        lab.join(np_, "pred").join(ng, "gold").join(npg, ["pred", "gold"])
        .selectExpr(
            "CAST((CAST(n_pg AS DECIMAL(38,0)) * 1000000) div n_p AS BIGINT) AS p_micro",
            "CAST((CAST(n_pg AS DECIMAL(38,0)) * 1000000) div n_g AS BIGINT) AS r_micro",
        )
        .collect()
    )
    # reference: per element i, P_i = |C(i) ∩ G(i)| / |C(i)|
    from collections import Counter

    cp = Counter(p for p, _ in labels)
    cg = Counter(g for _, g in labels)
    cpg = Counter(labels)
    ref_p = sorted((cpg[(p, g)] * 1_000_000) // cp[p] for p, g in labels)
    ref_r = sorted((cpg[(p, g)] * 1_000_000) // cg[g] for p, g in labels)
    assert sorted(r.p_micro for r in per_doc) == ref_p
    assert sorted(r.r_micro for r in per_doc) == ref_r


@given(
    lots=st.lists(
        st.tuples(st.integers(1, 20), st.booleans()), min_size=1, max_size=12
    )
)
@pytest.mark.slow  # >14 s: gated from the default run
@SET
def test_fifo_clamp_formula_matches_simulation(spark, lots):
    """The windowed clamp formula consumed_i = clamp(R - cum_prev, 0, qty)
    equals an explicit FIFO simulation for ANY receipt/return mix."""
    rows = [
        (1, i, float(q), "R" if is_ret else "N")
        for i, (q, is_ret) in enumerate(lots)
    ]
    df = spark.createDataFrame(
        rows, "part long, seq int, qty double, flag string"
    )
    from pyspark.sql import Window as W

    ret = df.filter(F.col("flag") == "R").groupBy("part").agg(
        F.sum("qty").alias("r")
    )
    w = W.partitionBy("part").orderBy("seq").rowsBetween(W.unboundedPreceding, -1)
    rec = df.filter(F.col("flag") != "R").select(
        "part", "seq", "qty",
        F.coalesce(F.sum("qty").over(w), F.lit(0.0)).alias("cum"),
    )
    out = {
        r.seq: r.c
        for r in rec.join(ret, "part").select(
            "seq",
            F.least(F.greatest(F.col("r") - F.col("cum"), F.lit(0.0)), F.col("qty")).alias("c"),
        ).collect()
    }
    # explicit simulation
    remaining = float(sum(q for q, ret_ in lots if ret_))
    sim = {}
    for i, (q, is_ret) in enumerate(lots):
        if is_ret:
            continue
        take = min(remaining, q)
        sim[i] = take
        remaining -= take
    # rows past the depletion frontier (consumed 0) and parts with no
    # returns are absent from the query output by design — default to 0
    for seq, expected in sim.items():
        assert abs(out.get(seq, 0.0) - expected) < 1e-9
    for seq in out:
        assert seq in sim


@given(days=st.sets(st.integers(0, 40), min_size=1, max_size=25))
@SET
def test_streak_islands_match_reference(spark, days):
    """Constant-difference islands equal a direct consecutive-run scan for
    ANY active-day set."""
    import datetime as dtx

    base = dtx.date(2024, 1, 1)
    rows = [(1, base + dtx.timedelta(days=d)) for d in days]
    df = spark.createDataFrame(rows, "user_id long, day date")
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("day")
    islands = (
        df.select("user_id", "day", F.date_sub("day", F.row_number().over(w)).alias("g"))
        .groupBy("user_id", "g")
        .count()
    )
    lens = sorted(r["count"] for r in islands.collect())
    # reference: split the sorted day set into consecutive runs
    ref, run = [], 1
    s = sorted(days)
    for a, b in zip(s, s[1:]):
        if b == a + 1:
            run += 1
        else:
            ref.append(run)
            run = 1
    ref.append(run)
    assert lens == sorted(ref)
