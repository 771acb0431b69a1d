"""BPE tokenizer TRAINING primitives — merge-rule learning at corpus scale.

Byte-pair-encoding training (Sennrich et al. 2016; the GPT/Llama tokenizer
family) iterates: count adjacent symbol pairs over the word-frequency
dictionary, pick the most frequent pair, merge it everywhere, repeat.  The
catalog already APPLIES a learned vocabulary (``tokenize_to_vocab_ids``);
these operators LEARN the merges — the step every pretraining pipeline runs
before tokenizing a corpus.

Scale posture: everything runs on the WORD-FREQUENCY DICTIONARY (one row
per distinct word + its corpus count), which is vocabulary-bounded, not
corpus-bounded — the corpus-sized work is one tokenize + word count, after
which each merge iteration is a linear pass over the dictionary's symbol
volume (explode + three word-partitioned windows + rebuild; no global
window, no cross join beyond the 1-row best-pair broadcast).

Determinism: pair counts are exact integers; the winning pair breaks ties
by (count DESC, left ASC, right ASC) — a documented divergence from
insertion-order tie handling in some reference implementations, chosen
because it is reproducible across engines, runs, and partitionings.

GREEDY MERGE, SET-WISE.  Reference BPE applies a merge left-to-right,
non-overlapping, within each word.  Occurrences of a pair (a, b) with
a != b can never be adjacent (an occurrence at i and i+1 would force
a = b), so every occurrence merges.  For a == b, occurrences inside a run
of k consecutive a's sit at offsets 0..k-2, and left-to-right greedy takes
exactly the EVEN offsets.  Both cases reduce to one window formula: keep
an occurrence iff its distance from the start of its occurrence-run is
even — which turns the inherently sequential textbook loop into three
declarative word-partitioned window functions.  (``aaaa`` + merge (a,a)
-> ``aa aa``; ``aaa`` -> ``aa a``; pinned in tests/test_bpe.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def word_dictionary(docs: DataFrame, tokens_col) -> DataFrame:
    """(word, freq, syms) — the word-frequency dictionary with each word
    split into its code-point symbols.  ``tokens_col`` is the tokenized
    text array (whitespace tokens, empties dropped)."""
    return (
        docs.select(F.explode(tokens_col).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        # '(?s).' (dotall) matches exactly ONE code point — ANY code
        # point — in BOTH Java regex (Spark) and RE2 (DuckDB).  Plain '.'
        # diverges on the hostile fixture: Java excludes every line
        # terminator (\u2028, \u2029, \u0085) while RE2 excludes only
        # \n, and Java-\s tokenization keeps those inside words — found
        # as an off-by-6 corpus_tokens_after on sf_hostile_text.
        .withColumn("syms", F.expr("regexp_extract_all(word, '(?s).', 0)"))
    )


def best_pair(dict_df: DataFrame) -> DataFrame:
    """1-row frame (left, right, pair_count): the most frequent adjacent
    symbol pair over the dictionary, ties broken lexicographically.
    TakeOrderedAndProject(1) — no global sort materializes."""
    pairs = dict_df.select(
        "freq",
        F.explode(
            # Spark [] indexing is 0-based; slice() start is 1-based.
            # slice(syms, 1, n-1) pairs each symbol with its successor;
            # single-symbol words yield the empty slice (no pairs).
            F.expr(
                "transform(slice(syms, 1, size(syms) - 1), (s, i) ->"
                " struct(s AS l, syms[i + 1] AS r))"
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("left").asc(), F.col("right").asc())
        .limit(1)
    )


def apply_merge(dict_df: DataFrame, best: DataFrame) -> DataFrame:
    """Dictionary with the (broadcast 1-row) best pair merged greedily
    left-to-right in every word — the set-wise formulation from the module
    docstring.  Columns preserved: word, freq, syms (rewritten)."""
    tagged = dict_df.crossJoin(F.broadcast(best))
    pos = tagged.select(
        "word",
        "freq",
        "left",
        "right",
        F.posexplode("syms").alias("j", "sym"),
    )
    w = Window.partitionBy("word").orderBy("j")
    # occurrence = this symbol starts the pair (lead() is NULL at the last
    # position -> coalesce to false)
    pos = pos.withColumn(
        "occ",
        F.coalesce(
            (F.col("sym") == F.col("left"))
            & (F.lead("sym").over(w) == F.col("right")),
            F.lit(False),
        ),
    )
    # occurrence-run detection on the SAME (word, j) partitioning as every
    # other window in this pass (so Catalyst plans ONE exchange + one sort
    # for the whole merge, instead of re-shuffling for a (word, occ) or
    # (word, run) keyed window): a run STARTS where occ holds but didn't
    # at j-1; the current run's start is the running max of start
    # positions (starts increase with j); greedy keeps even offsets.
    w_cum = w.rowsBetween(Window.unboundedPreceding, 0)
    pos = pos.withColumn(
        "_is_start",
        F.col("occ") & ~F.coalesce(F.lag("occ").over(w), F.lit(False)),
    )
    run_start = F.max(F.when(F.col("_is_start"), F.col("j"))).over(w_cum)
    pos = pos.withColumn(
        "kept",
        F.col("occ") & (((F.col("j") - run_start) % 2) == 0),
    )
    # a position is consumed when its predecessor merged it away
    pos = pos.withColumn(
        "consumed", F.coalesce(F.lag("kept").over(w), F.lit(False))
    )
    return (
        pos.filter(~F.col("consumed"))
        .select(
            "word",
            "freq",
            "j",
            F.when(F.col("kept"), F.concat(F.col("left"), F.col("right")))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
        .groupBy("word", "freq")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "sym"))),
                lambda s: s.sym,
            ).alias("syms")
        )
    )


def merges_sql(tokens_sql: str, n_merges: int) -> str:
    """DuckDB oracle twin of the merge loop: a ``WITH`` clause over the
    ``documents`` table (no trailing comma) defining, for k = 1..n_merges,
    the dictionary ``d{k}``, its winning pair ``best{k}`` (columns l, r,
    pair_count), and the post-merge token count ``after{k}``
    (corpus_tokens_after); the final dictionary is ``d{n_merges + 1}``.
    ``tokens_sql`` is the DuckDB expression tokenizing ``text``.

    Same formulas as :func:`best_pair` and :func:`apply_merge`, set-wise
    greedy merge included.  When no pair remains (``best{k}`` empty) the
    next dictionary is the current one, so an encode over a single-symbol
    dictionary keeps its words; training emits no row for an empty
    ``best{k}``, and every later ``best`` stays empty.

    The dictionary and best-pair CTEs are ``AS MATERIALIZED``: DuckDB
    inlines multiply-referenced CTEs, and each iteration references its
    dictionary twice, so an un-hinted chain re-expands 2^K subtrees
    ("too many open files" at K=64); materialized, the replay is linear.
    """
    chain = [
        f"""
    WITH d1 AS MATERIALIZED (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
             REGEXP_EXTRACT_ALL(word, '(?s).') AS syms
      FROM (SELECT UNNEST({tokens_sql}) AS word FROM documents)
      GROUP BY word
    )"""
    ]
    for k in range(1, n_merges + 1):
        chain.append(f"""
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
    ),
    after{k} AS (
      SELECT CAST(SUM(freq * LEN(syms)) AS BIGINT) AS corpus_tokens_after
      FROM d{k + 1}
    )""")
    return ",".join(chain)


def train_merges_sql(tokens_sql: str, n_merges: int) -> str:
    """DuckDB oracle of merge TRAINING: one row per learned merge
    (iteration, merge_left, merge_right, pair_count, corpus_tokens_after)
    over :func:`merges_sql`'s chain."""
    return merges_sql(tokens_sql, n_merges) + "\n    UNION ALL".join(
        f"""
    SELECT {k} AS iteration, b.l AS merge_left, b.r AS merge_right,
           b.pair_count, a.corpus_tokens_after
    FROM best{k} b CROSS JOIN after{k} a"""
        for k in range(1, n_merges + 1)
    )


def _greedy_merges(words: list[tuple[list[str], int]], n_merges: int):
    """The driver-local merge loop shared by :func:`learn_merges_local` and
    :func:`encode_dictionary_local`.  ``words``: (syms, freq) per distinct
    word.  Yields ``(left, right, pair_count, words)`` after each merge,
    ``words`` rewritten in the same order; stops early when no adjacent
    pair remains.

    - pair counts sum ``freq`` over EVERY adjacent position, overlapping
      runs included (``aaa`` counts (a,a) twice) — matching
      :func:`best_pair`'s posexplode;
    - winner ties break (count DESC, left ASC, right ASC); Python string
      comparison is code-point order, which equals the UTF-8 binary order
      Spark and DuckDB compare by;
    - the merge applies greedily left-to-right, non-overlapping —
      :func:`apply_merge`'s set-wise even-offset formula is proven
      equivalent (tests/test_bpe.py).
    """
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq
        if not counts:
            return
        (left, right), pair_count = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = left + right
        new_words: list[tuple[list[str], int]] = []
        for syms, freq in words:
            i, acc = 0, []
            n = len(syms)
            while i < n:
                if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                    acc.append(merged)
                    i += 2
                else:
                    acc.append(syms[i])
                    i += 1
            new_words.append((acc, freq))
        words = new_words
        yield left, right, pair_count, words


def learn_merges_local(
    dict_rows: list[tuple[int, list[str]]], n_merges: int
) -> list[tuple[int, str, str, int, int]]:
    """Textbook greedy BPE merge learning over a COLLECTED word-frequency
    dictionary — the driver-local arm of the hybrid training path.

    Why a driver loop is the right scale call here: each distributed merge
    iteration pays three window passes + two materialize barriers over the
    exploded symbol volume (~0.5 s of fixed cost at sf0.1) and is
    sequential BY NATURE (merge k+1's counts depend on merge k's rewrite) —
    no amount of cluster hardware parallelizes across iterations.  The
    dictionary, however, is VOCABULARY-bounded, not corpus-bounded: once
    the corpus-sized tokenize+count has collapsed 100 TB of text to
    (word, freq) rows, a 10^4-10^5-merge training loop over it is
    megabytes of driver CPU work, exactly like collecting k centroids.
    The collect is gated by ``session.LOCAL_COLLECT_BUDGET_ROWS`` at the
    call site (``session.collect_bounded``).

    Semantics are IDENTICAL to the distributed operators (see
    :func:`_greedy_merges`; pinned by differential tests + the shared
    DuckDB oracle).

    ``dict_rows``: (freq, syms) per distinct word.  Returns one row per
    learned merge: (iteration, left, right, pair_count,
    corpus_tokens_after); stops early when no adjacent pair remains.
    """
    words = [(list(syms), int(freq)) for freq, syms in dict_rows]
    return [
        (it, left, right, pair_count, sum(f * len(s) for s, f in cur))
        for it, (left, right, pair_count, cur) in enumerate(
            _greedy_merges(words, n_merges), 1
        )
    ]


def encode_dictionary_local(
    rows: list[tuple[str, int, list[str]]], n_merges: int
) -> list[tuple[str, list[str]]]:
    """(word -> final symbol sequence) after ``n_merges`` greedy BPE merges
    — the driver-local arm of corpus ENCODING (``bpe_encode_corpus``).

    The same loop as :func:`learn_merges_local` (:func:`_greedy_merges`),
    keeping word identity so the encoded dictionary can be joined back to
    the corpus.  Differentially pinned against the distributed
    ``best_pair``/``apply_merge`` loop in tests/test_bpe.py.

    ``rows``: (word, freq, syms) per distinct word.  Stops early when no
    adjacent pair remains (single-symbol dictionary).
    """
    words = [(list(s), int(f)) for _, f, s in rows]
    for *_, words in _greedy_merges(words, n_merges):
        pass
    return [(w, syms) for (w, _, _), (syms, _) in zip(rows, words)]
