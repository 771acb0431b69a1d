"""Behavioral invariants for plans/training_mix.py.

Value-level cross-engine equality is covered by tools/check_oracle.py;
these pin the semantic contracts a hash comparison can't express.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from tests.conftest import SF_SMOKE

QUERIES = entrymod.queries()


def test_domain_cap_is_respected(spark):
    df = QUERIES["domain_cap_filter"](spark, SF_SMOKE)
    per = df.groupBy("source").count().agg(F.max("count")).collect()[0][0]
    assert per <= 20
    assert df.agg(F.max("rk")).collect()[0][0] <= 20


def test_mixture_weights_normalize_and_compress(spark):
    rows = QUERIES["mixture_temperature_weights"](spark, SF_SMOKE).collect()
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    # temperature < 1 compresses the range: max/min weight ratio must be
    # strictly below the raw share ratio
    shares = sorted(r.share for r in rows)
    weights = sorted(r.weight for r in rows)
    assert weights[-1] / weights[0] < shares[-1] / shares[0]


def test_curriculum_phases_are_ordered_quartiles(spark):
    df = QUERIES["curriculum_phases"](spark, SF_SMOKE)
    stats = (
        df.groupBy("phase")
        .agg(F.min("difficulty").alias("lo"), F.max("difficulty").alias("hi"))
        .orderBy("phase")
        .collect()
    )
    assert [r.phase for r in stats] == [1, 2, 3, 4]
    for a, b in zip(stats, stats[1:]):
        assert a.hi <= b.lo  # phases partition the difficulty axis in order


def test_intra_doc_dedup_bounds(spark):
    df = QUERIES["intra_doc_dedup"](spark, SF_SMOKE)
    bad = df.filter(
        (F.col("n_uniq") > F.col("n_sents"))
        | (F.col("dup_ratio") < 0)
        | (F.col("dup_ratio") > 1)
    ).count()
    assert bad == 0


def test_bpe_pair_merges_topk_shape(spark):
    rows = QUERIES["bpe_pair_merges"](spark, SF_SMOKE).collect()
    assert len(rows) == 32
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)
    assert all(len(r.pair.split(" ")) == 2 for r in rows)


def test_prefix_dup_classes_are_real_collisions(spark):
    df = QUERIES["prefix_dup_candidates"](spark, SF_SMOKE)
    rows = df.collect()
    assert all(r.n_docs >= 2 for r in rows)
    # the canonical survivor must be a member-minimum, hence unique per class
    assert len({r.prefix_key for r in rows}) == len(rows)


def test_source_reputation_rates_bounded(spark):
    rows = QUERIES["source_reputation"](spark, SF_SMOKE).collect()
    assert rows, "documents fixture has sources"
    for r in rows:
        assert 0.0 <= r.len_ok_rate <= 1.0
        assert 0.0 < r.mean_ttr <= 1.0
        assert r.n_tokens >= r.n_docs  # every counted doc has >= 1 token


def test_dataset_mix_allocation_respects_budget(spark):
    rows = QUERIES["dataset_mix_allocation"](spark, SF_SMOKE).collect()
    # floor() per language can only under-spend the budget, never over
    assert sum(r.alloc_tokens for r in rows) <= 50_000
    for r in rows:
        assert abs(r.epochs - r.alloc_tokens / r.n_toks) < 1e-6


def test_packing_efficiency_matches_packer(spark):
    eff = QUERIES["packing_efficiency"](spark, SF_SMOKE)
    packs = QUERIES["corpus_pack_sequences"](spark, SF_SMOKE)
    got = {
        (r.lang, r.pack_id): r.n_docs
        for r in eff.collect()
    }
    want = {
        (r.lang, r.pack_id): c
        for (r, c) in (
            (row, row.n) for row in packs.groupBy("lang", "pack_id").count()
            .withColumnRenamed("count", "n").collect()
        )
    }
    assert got == want  # the audit aggregates exactly the packer's output
