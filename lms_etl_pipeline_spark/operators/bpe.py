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

    Semantics are IDENTICAL to the distributed operators (pinned by
    differential tests + the shared DuckDB oracle):

    - pair counts sum ``freq`` over EVERY adjacent position, overlapping
      runs included (``aaa`` counts (a,a) twice) — matching
      :func:`best_pair`'s posexplode;
    - winner ties break (count DESC, left ASC, right ASC); Python string
      comparison is code-point order, which equals the UTF-8 binary order
      Spark and DuckDB compare by;
    - the merge applies greedily left-to-right, non-overlapping —
      :func:`apply_merge`'s set-wise even-offset formula is proven
      equivalent (tests/test_bpe.py).

    ``dict_rows``: (freq, syms) per distinct word.  Returns one row per
    learned merge: (iteration, left, right, pair_count,
    corpus_tokens_after); stops early when no adjacent pair remains.
    """
    words: list[tuple[list[str], int]] = [
        (list(syms), int(freq)) for freq, syms in dict_rows
    ]
    out: list[tuple[int, str, str, int, int]] = []
    for it in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, freq in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + freq
        if not counts:
            break
        (left, right), pair_count = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = left + right
        total = 0
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
            total += freq * len(acc)
        words = new_words
        out.append((it, left, right, pair_count, total))
    return out


def encode_dictionary_local(
    rows: list[tuple[str, int, list[str]]], n_merges: int
) -> list[tuple[str, list[str]]]:
    """(word -> final symbol sequence) after ``n_merges`` greedy BPE merges
    — the driver-local arm of corpus ENCODING (``bpe_encode_corpus``).

    Merge learning and application are the SAME loops as
    :func:`learn_merges_local` (freq-weighted overlapping pair counts,
    (count DESC, left ASC, right ASC) tie rule, left-to-right greedy
    rewrite); this variant keeps word identity so the encoded dictionary
    can be joined back to the corpus.  Differentially pinned against the
    distributed ``best_pair``/``apply_merge`` loop in tests/test_bpe.py.

    ``rows``: (word, freq, syms) per distinct word.  Stops early when no
    adjacent pair remains (single-symbol dictionary).
    """
    words: list[tuple[str, int, list[str]]] = [
        (w, int(f), list(s)) for w, f, s in rows
    ]
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for _, f, syms in words:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (left, right), _ = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = left + right
        new_words: list[tuple[str, int, list[str]]] = []
        for w, f, syms in words:
            i, acc = 0, []
            n = len(syms)
            while i < n:
                if i + 1 < n and syms[i] == left and syms[i + 1] == right:
                    acc.append(merged)
                    i += 2
                else:
                    acc.append(syms[i])
                    i += 1
            new_words.append((w, f, acc))
        words = new_words
    return [(w, syms) for w, _, syms in words]
