"""Contract tests: the driver-facing registry in ``__spark_entry__``.

- every oracle key has a query, every query builds a valid lazy plan;
- Spark plan columns == DuckDB oracle columns (the driver's comparator
  hashes by sorted column name — a mismatch is an automatic red row);
- every oracle-backed query matches DuckDB at sf0.001, through the same
  ``tools/check_oracle.check`` seam the command-line sweep uses;
- ``entry()`` runs and returns rows at sf0.001.
"""

from __future__ import annotations

import json
import os

import pytest

import __spark_entry__ as entrymod
from lms_etl_pipeline_spark.plans.catalog import SMOKE_ANCHORS
from tests.conftest import SF_SMOKE
from tools.check_oracle import (
    ROWS_ONLY_ANCHORS,
    check,
    duck_views,
    hugeint_columns,
    native_class_divergences,
    spark_decimal_columns,
)

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


def test_registry_nonempty_and_oracle_keys_subset():
    assert len(QUERIES) >= 50
    assert set(ORACLES) <= set(QUERIES)
    # the overwhelming majority must be oracle-checkable
    assert len(ORACLES) >= 0.8 * len(QUERIES)


def test_first_50_follow_the_rotation_policy():
    """The first 50 ``queries()`` entries: the two smoke anchors lead,
    then oracle-backed queries round-robin over their plan modules, so
    every module with an oracle-backed query has one in the window."""
    first50 = list(QUERIES)[:50]
    assert first50[:2] == list(SMOKE_ANCHORS)
    assert all(n in ORACLES for n in first50)
    modules = {QUERIES[n].__module__ for n in ORACLES}
    assert modules <= {QUERIES[n].__module__ for n in first50}


#: the head of ``queries()``; see ``test_catalog_head_is_pinned``
PINNED_HEAD = (
    "flagship_regional_revenue", "events_session_window", "q1_pricing_summary",
    "q3_shipping_priority", "unpivot_measures", "scalar_string_funcs",
    "window_row_number_rank", "events_tumbling_window", "text_token_stats",
    "dedup_winnowing", "etl_flatten_json_props", "multimodal_image_decode",
    "decontaminate_ngram_overlap", "bpe_train_merges_deep", "quality_classifier_train",
    "corpus_shuffle_deterministic", "ann_recall_eval", "bpe_pair_merges",
    "bloom_filter_probe", "source_overlap_matrix", "max_token_runlength",
    "item_cooccurrence_cf", "hierarchy_rollup_tree", "fk_integrity_audit",
    "ewma_smoothing", "khop_reachability", "matryoshka_truncation_eval",
    "llr_collocations", "activity_streaks", "quantile_exact_selection",
    "dsir_hashed_ngram_model", "pq_codebook_train", "mmr_diverse_selection",
    "agg_distinct_counts", "q10_returned_items", "subquery_correlated",
    "scalar_date_funcs", "window_topk_per_group", "events_sliding_window",
    "doc_quality_filter", "dedup_clusters", "etl_rename_bulk",
    "multimodal_frame_sample", "boilerplate_ngram_filter", "bpe_encode_corpus",
    "quality_classifier_predict", "bm25_retrieval_topk", "corpus_datasheet",
    "domain_cap_filter", "dup_ngram_spans",
)


def test_catalog_head_is_pinned():
    """The round-robin takes plan modules in registration order, which is
    import order: a plan module that imports another registers that
    module's queries first and reorders the first-50 window without any
    other trace.  A reorder must be deliberate: update ``PINNED_HEAD``
    with it."""
    assert tuple(QUERIES)[: len(PINNED_HEAD)] == PINNED_HEAD


@pytest.fixture(scope="module")
def duck():
    with duck_views(SF_SMOKE) as con:
        yield con


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    """The whole-catalog differential gate: every oracle-backed query
    matches its DuckDB twin at sf0.001 (``tools/check_oracle.check``)."""
    problems = check(spark, duck, name, SF_SMOKE)
    assert problems == [], problems


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_builds_and_columns_match_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF_SMOKE)  # lazy: plan analysis only
    assert df.columns, name
    if name in ORACLES:
        cur = duck.execute(f"SELECT * FROM ({ORACLES[name]}) LIMIT 0")
        duck_cols = [d[0] for d in cur.description]
        assert sorted(df.columns) == sorted(duck_cols), name


def test_hugeint_gate_fires_on_deliberate_offender(duck):
    """A hashing hazard: DuckDB widens SUM(integer) to HUGEINT
    (int128), which the driver's hasher mismatches against Spark BIGINT even
    at equal values.  The gate must detect the class structurally."""
    rel = duck.sql("SELECT SUM(i) AS s FROM range(10) t(i)")
    assert hugeint_columns(rel) == ["s"]
    rel_ok = duck.sql("SELECT CAST(SUM(i) AS BIGINT) AS s FROM range(10) t(i)")
    assert hugeint_columns(rel_ok) == []


def test_decimal_gate_fires_on_deliberate_offender(duck, spark):
    """A hashing hazard: a DECIMAL(38,x) output column fetches as
    decimal.Decimal, which a native-type hasher mismatches
    against Spark's int even at equal values.  Both the DuckDB-side and
    Spark-side gates must detect it."""
    rel = duck.sql("SELECT CAST(42 AS DECIMAL(38,0)) AS d, 1 AS ok")
    assert hugeint_columns(rel) == ["d"]
    sdf = spark.sql("SELECT CAST(42 AS DECIMAL(38,0)) AS d, 1 AS ok")
    assert spark_decimal_columns(sdf) == ["d"]
    sdf_ok = spark.sql("SELECT CAST(42 AS BIGINT) AS d, 1 AS ok")
    assert spark_decimal_columns(sdf_ok) == []


def test_native_class_gate_fires_on_planted_divergence():
    """The comparator must flag any output column whose native Python
    cell class differs between the Spark and DuckDB fetch paths — int vs
    Decimal, date vs datetime — while folding the benign bytearray/bytes
    pair."""
    import datetime

    idx = {"a": 0, "b": 1}
    s_rows = [(1, datetime.date(2020, 1, 1))]
    d_rows = [(1, datetime.datetime(2020, 1, 1))]
    out = native_class_divergences(s_rows, idx, d_rows, idx, ["a", "b"])
    assert len(out) == 1 and "'b'" in out[0]

    from decimal import Decimal

    out = native_class_divergences([(Decimal(5),)], {"c": 0}, [(5,)], {"c": 0}, ["c"])
    assert len(out) == 1 and "Decimal" in out[0]

    out = native_class_divergences(
        [(bytearray(b"x"),)], {"c": 0}, [(b"x",)], {"c": 0}, ["c"]
    )
    assert out == []
    # all-null columns are skipped (nothing to compare)
    out = native_class_divergences([(None,)], {"c": 0}, [(None,)], {"c": 0}, ["c"])
    assert out == []


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_spark_plan_emits_no_decimal(spark, name):
    """No registered Spark plan may emit a decimal-typed OUTPUT column —
    binding only, no execution (internal decimal widening is fine; the rule
    is about what reaches the driver's native-type hasher)."""
    df = QUERIES[name](spark, SF_SMOKE)
    assert spark_decimal_columns(df) == [], (
        f"{name}: cast decimal outputs to bigint/double or split into "
        "BIGINT limbs"
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_emits_no_hugeint(duck, name):
    """No registered oracle may emit HUGEINT — binding only, no execution."""
    rel = duck.sql(ORACLES[name])
    assert hugeint_columns(rel) == [], (
        f"{name}: CAST the integer aggregate(s) to BIGINT"
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert "revenue" in df.columns


def test_rows_only_anchor_map_matches_catalog():
    """tools/check_oracle.py's ROWS_ONLY_ANCHORS must exactly cover the
    catalog's rows-only set, with every anchor oracle-backed — so the
    approx-path coverage claim stays machine-derived as queries move."""
    rows_only = {n for n in QUERIES if n not in ORACLES}
    assert set(ROWS_ONLY_ANCHORS) == rows_only
    for name, anchors in ROWS_ONLY_ANCHORS.items():
        assert anchors, name
        for a in anchors:
            assert a in ORACLES, f"{name}: anchor {a} is not oracle-backed"


def test_time_rep_counts_the_jobs_it_times(spark):
    """bench.time_rep, the one timing seam of bench.py and the timing
    tools: a real query launches at least one job, and the in-job time
    is positive and inside the rep's wall time."""
    import bench

    fn = QUERIES["flagship_regional_revenue"]
    wall_s, job_s, n_jobs = bench.time_rep(spark, fn, SF_SMOKE)
    assert n_jobs >= 1
    assert 0 < job_s <= wall_s


def test_bench_prints_one_contract_line(spark, monkeypatch, capsys):
    """bench.main prints exactly one JSON line with the six contract keys,
    short enough for a bounded stdout capture, puts the full record
    (plan hashes included) on stderr, and writes no file into the
    checkout."""
    import bench

    root = os.path.dirname(os.path.abspath(bench.__file__))
    monkeypatch.setattr(bench, "HEADLINE", ("q1_pricing_summary",))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMOKE)
    monkeypatch.setenv("BENCH_REPS", "1")
    before = set(os.listdir(root))
    assert bench.main() == 0
    out, err = capsys.readouterr()
    assert set(os.listdir(root)) == before
    lines = out.splitlines()
    assert len(lines) == 1 and len(lines[0]) < 1900
    doc = json.loads(lines[0])
    assert set(doc) == {
        "metric", "value", "unit", "queries", "sf", "exec_total_sec",
    }
    assert list(doc["queries"]) == ["q1_pricing_summary"]
    assert doc["sf"] == 0.001
    record = json.loads(
        next(ln for ln in err.splitlines() if ln.startswith('{"metric"'))
    )
    assert set(record["plan_hashes"]) == {"q1_pricing_summary"}


def test_time_query_takes_reps_after_the_query(spark, monkeypatch, capsys):
    """tools/time_query.py parses ``<query> --reps N``: N is the rep
    count, not a second query name."""
    from tools import time_query

    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMOKE)
    assert time_query.main(["q1_pricing_summary", "--reps", "2"]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert [ln.split(":")[0] for ln in lines] == [
        "q1_pricing_summary rep0",
        "q1_pricing_summary rep1",
    ]


def test_time_query_sweeps_past_a_failing_query(spark, monkeypatch, capsys):
    """With no query names tools/time_query.py sweeps the catalog: a query
    that raises is reported, the sweep goes on to the next one, and the run
    ends with the slowest-queries summary and exit status 1."""
    from tools import time_query

    def raises(spark, sf_dir):
        raise RuntimeError("builder failed")

    monkeypatch.setattr(
        entrymod,
        "queries",
        lambda: {"a_raises": raises, "b_ok": lambda spark, sf_dir: spark.range(3)},
    )
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF_SMOKE)
    assert time_query.main([]) == 1
    lines = capsys.readouterr().out.splitlines()
    assert lines[0] == "a_raises: ERROR"
    assert lines[1].startswith("b_ok rep0: wall=")
    summary = lines[lines.index("== slowest 30 (best wall) ==") + 1 :]
    assert [ln.split()[-1] for ln in summary if ln.strip()][0] == "b_ok"
    assert lines[-1].endswith("over 1 queries, 1 failed ['a_raises']")
