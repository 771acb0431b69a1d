"""The benchmark's own tests, on a catalog at scale 0.001 and a small LMS
feed.  Run from the repository root:

    python -m pytest perfbench/tests -q

The catalog scale differs from the pinned one, so every query output here
is settled by the DuckDB oracle, which also exercises that path.
"""

from __future__ import annotations

import json
import os
import sqlite3

import pytest

from perfbench import lms_feed, workloads
from perfbench.run import ROOT, prepare
from perfbench.spans import Recorder, instrumented
from perfbench.spark_probe import Job, covered

SMALL_CATALOG = {"scale": 0.001, "seed": 42}
SMALL_ETL = {"snapshot_rows": 500, "delta_files": 2, "delta_rows": 50}
MEASURED = ("q1_pricing_summary", "quantile_exact_selection")
CENSUS = ("tf_idf_top_terms",)


@pytest.fixture
def small(monkeypatch, tmp_path):
    prepare(str(tmp_path / "env"))
    monkeypatch.setattr(workloads, "CATALOG", SMALL_CATALOG)
    monkeypatch.setattr(workloads, "ETL_SIZE", SMALL_ETL)
    monkeypatch.setattr(workloads, "ITERATIVE_MEASURED", MEASURED)
    monkeypatch.setattr(workloads, "ITERATIVE_BUILDERS", MEASURED[1:])
    monkeypatch.setattr(workloads, "LAZY_QUERIES", MEASURED[:1] + CENSUS)
    return tmp_path


def _run(tmp_path, workload: str, seed: int, name: str) -> tuple[dict, dict]:
    return workloads.run(workload, seed, 0, True, str(tmp_path / name), 0.0)


def test_benchmark_json_lists_the_metrics_the_code_prints():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(workloads.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == list(workloads.PER_LAYER)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_self_time_subtracts_children_once():
    rec = Recorder()
    rec.op = 1
    with rec.span("bench", "op"):
        with rec.span("plans", "build"):
            with rec.span("sources", "load"):
                pass
    spans = {s.layer: s for s in rec.spans}
    self_s = rec.self_time({1})
    total = spans["bench"].end - spans["bench"].start
    assert sum(self_s.values()) == pytest.approx(total)
    assert self_s["sources"] == pytest.approx(spans["sources"].end - spans["sources"].start)


def test_covered_merges_overlapping_jobs():
    jobs = [Job(0, 1.0, 3.0, []), Job(1, 2.0, 4.0, []), Job(2, 6.0, 9.0, [])]
    assert covered(jobs, 0.0, 8.0) == pytest.approx(5.0)


def test_instrumented_restores_engine_functions():
    from lms_etl_pipeline_spark import pipeline
    from lms_etl_pipeline_spark.sources import csv_io

    before = pipeline.write_csv
    with instrumented(Recorder(), {"sources": [csv_io.write_csv]}):
        assert pipeline.write_csv is not before
    assert pipeline.write_csv is before is csv_io.write_csv


def test_check_table_reports_an_altered_row(tmp_path):
    db = str(tmp_path / "t.db")
    lms_feed.create_table(db)
    row = (1, "ext-1", "Ann", "Ng", "ann.ng1@example.edu", "D01",
           "2020-01-02 03:04:05", None, None, 1, {"cohort": "A"})
    con = sqlite3.connect(db)
    con.execute(f"INSERT INTO {lms_feed.TABLE} VALUES (?,?,?,?,?,?,?,?,?,?,?)",
                row[:-1] + ('{"cohort":"A"}',))
    con.commit()
    con.close()
    assert lms_feed.check_table(db, {1: row}) == []
    assert lms_feed.check_table(db, {1: row[:2] + ("Bob",) + row[3:]})


def test_query_pass_parts_sum_to_wall(small):
    """Builder time, job time and driver gaps of the action add up to the
    pass wall time, and Spark's job times fall inside the operation windows
    the benchmark's own clock measured."""
    b = workloads.Bench(seed=1, trace=True, work=str(small / "parts"))
    w = workloads.QueryWorkload(MEASURED, ())
    try:
        b.start_session()
        w.setup(b)
        w.run_pass(b, traced=False)
        b.probe.new_jobs()
        targets, keep = w.targets()
        with instrumented(b.recorder, targets, keep):
            p = w.run_pass(b, traced=True)
    finally:
        w.close()
        b.stop()
    assert not any(op.failed for op in p.ops)
    build = sum(op.build for op in p.ops)
    action_jobs = sum(covered(op.jobs, op.action_start, op.end) for op in p.ops)
    action_gaps = sum(op.wall - op.build - covered(op.jobs, op.action_start, op.end) for op in p.ops)
    assert build + action_jobs + action_gaps == pytest.approx(p.wall, rel=0.05)
    for op in p.ops:
        assert op.jobs, op.name
        for job in op.jobs:
            assert op.start - 0.01 <= job.submit <= job.end <= op.end + 0.01, (op.name, job)
        assert sum(j.end <= op.action_start + 0.01 for j in op.jobs) >= op.build_jobs


def test_counts_repeat_exactly_across_runs(small):
    runs = [_run(small, "iterative_builders", 5, f"q{i}") for i in range(2)]
    etl = [_run(small, "etl_upsert", 5, f"e{i}") for i in range(2)]
    for result, _ in runs + etl:
        assert result["correct"] and result["failed"] == 0

    def exact(result):
        m = result["metrics"]
        return {k: v["value"] for k, v in m.items()
                if k.startswith(("jobs.", "scheduler.", "etl.null_coerced", "sinks.upsert_rows"))
                and v["unit"] == "count"}

    assert exact(runs[0][0]) == exact(runs[1][0])
    assert exact(etl[0][0]) == exact(etl[1][0])
    assert runs[0][0]["metrics"]["jobs.tf_idf_top_terms"]["value"] > 0  # census
    assert etl[0][0]["metrics"]["etl.null_coerced"]["value"] > 0
    assert etl[0][0]["metrics"]["sinks.upsert_rows"]["value"] == (
        SMALL_ETL["snapshot_rows"] + SMALL_ETL["delta_files"] * SMALL_ETL["delta_rows"]
    )


def test_altered_result_counts_as_failed(small, monkeypatch):
    from lms_etl_pipeline_spark import plans

    real = plans.all_queries

    def altered():
        qs = dict(real())
        q1 = qs["q1_pricing_summary"]
        qs["q1_pricing_summary"] = lambda spark, d: q1(spark, d).limit(1)
        return qs

    monkeypatch.setattr(plans, "all_queries", altered)
    result, _ = workloads.run("iterative_builders", 3, 0, False, str(small / "alt"), 0.0)
    assert not result["correct"]
    assert result["failed"] == 1 and result["attempted"] == len(MEASURED)
