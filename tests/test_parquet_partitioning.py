"""Partitioned parquet: directory pruning must reach the plan."""

from __future__ import annotations

from pyspark.sql import functions as F

from lms_etl_pipeline_spark.sources import parquet_io
from lms_etl_pipeline_spark.sources.tables import load_table
from tests.conftest import SF_SMOKE


def test_partition_pruning_in_plan(spark, tmp_path):
    e = load_table(spark, SF_SMOKE, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_part")
    parquet_io.write_partitioned(e, path, ["event_type"])

    back = parquet_io.read_partitioned(spark, path)
    filtered = back.filter(F.col("event_type") == "click")
    plan = filtered._jdf.queryExecution().sparkPlan().toString()
    # pruning is a PartitionFilters entry, i.e. directories skipped at
    # planning time — not a row filter after the read
    assert "PartitionFilters: [isnotnull(event_type" in plan.replace("#", " #").replace(
        "event_type ", "event_type"
    ) or "PartitionFilters: [" in plan and "event_type" in plan.split("PartitionFilters:")[1].split("]")[0]
    # and the data still round-trips
    want = e.filter(F.col("event_type") == "click").count()
    assert filtered.count() == want


def test_max_records_per_file(spark, tmp_path):
    import glob

    df = spark.createDataFrame([(i, i % 2) for i in range(100)], "v INT, p INT").coalesce(1)
    path = str(tmp_path / "capped")
    parquet_io.write_partitioned(df, path, ["p"], max_records_per_file=10)
    files = glob.glob(f"{path}/p=*/part-*.parquet")
    assert len(files) >= 10  # 100 rows / 10 per file across 2 partitions


def test_cli_list_and_run(capsys):
    from lms_etl_pipeline_spark.__main__ import main

    assert main(["list"]) == 0
    out = capsys.readouterr().out
    assert "q1_pricing_summary" in out and "[oracle]" in out

    assert main(["run", "flagship_regional_revenue", "--sf-dir", SF_SMOKE]) == 0
    out = capsys.readouterr().out
    assert "EUROPE" in out

    assert main(["run", "nope"]) == 2

def _scan_metrics(df):
    """Execute ``df`` and return (numFiles, filesSize) from its parquet scan
    node — the post-pruning selection the executor actually reads.

    ``collect()`` (not ``count()``): count builds a NEW query execution, so
    the metrics on THIS DataFrame's plan would stay zero."""
    df.collect()
    leaves = df._jdf.queryExecution().executedPlan().collectLeaves()
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if "FileSourceScan" in node.getClass().getSimpleName() or "Scan parquet" in node.nodeName():
            m = node.metrics()
            return m.apply("numFiles").value(), m.apply("filesSize").value()
    raise AssertionError("no parquet scan leaf found")


import pytest


@pytest.mark.parametrize(
    "sf_dir", [SF_SMOKE, "/root/testdata/sf0.1"], ids=["sf0.001", "sf0.1"]
)
def test_partition_pruning_reduces_bytes_read(spark, tmp_path, sf_dir):
    """Measured (not just plan-text) pruning evidence: the scan of one
    partition value reads strictly fewer files AND bytes than the full scan.
    Runs at sf0.1 too (the driver's bench scale), so the byte-level
    assertion holds on a multi-megabyte multi-file layout, not only the
    smoke fixture."""
    e = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "events_by_type")
    parquet_io.write_partitioned(e, path, ["event_type"])

    back = parquet_io.read_partitioned(spark, path)
    all_files, all_bytes = _scan_metrics(back)
    one_files, one_bytes = _scan_metrics(back.filter(F.col("event_type") == "click"))
    assert one_files < all_files
    assert one_bytes < all_bytes
    assert one_bytes > 0


def test_compact_small_files_merges_and_preserves_rows(spark, tmp_path):
    from lms_etl_pipeline_spark.sources.parquet_io import compact_small_files

    path = str(tmp_path / "frag")
    # simulate a micro-batch-accreted layout: 40 tiny files
    for batch in range(8):
        spark.range(batch * 100, (batch + 1) * 100).selectExpr(
            "id", "id % 7 AS k", "CAST(id AS DOUBLE) AS v"
        ).repartition(5).write.mode("append").parquet(path)
    import glob

    before = len(glob.glob(path + "/*.parquet"))
    assert before >= 20
    rows_before = sorted(r.id for r in spark.read.parquet(path).collect())

    n_after = compact_small_files(spark, path, target_file_bytes=64 * 1024 * 1024, sort_cols=["id"])
    after = len(glob.glob(path + "/*.parquet"))
    assert after < before and after == n_after
    rows_after = sorted(r.id for r in spark.read.parquet(path).collect())
    assert rows_after == rows_before


def test_compact_refuses_partitioned_root(spark, tmp_path):
    import pytest

    from lms_etl_pipeline_spark.sources.parquet_io import compact_small_files, write_partitioned

    path = str(tmp_path / "part_root")
    write_partitioned(
        spark.range(10).selectExpr("id", "id % 2 AS k"), path, ["k"]
    )
    with pytest.raises(ValueError, match="hive-partitioned"):
        compact_small_files(spark, path)


@pytest.mark.parametrize(
    "name",
    [
        "curated_corpus_partitioned_write",
        "csv_roundtrip_nation",
        "orc_roundtrip_orders",
        "jsonl_roundtrip_documents",
    ],
)
def test_roundtrip_sink_uses_a_fresh_directory_per_build(spark, monkeypatch, name):
    """Each build of a write-then-read-back sink writes and reads back its
    own directory outside the checkout, so two builds (or two concurrent
    runs) never scan each other's files; each build registers the removal
    of its directory at exit, so repeated runs leave no trees."""
    import atexit
    import shutil
    from pathlib import Path

    from lms_etl_pipeline_spark.plans.catalog import all_oracles, all_queries
    from tools.check_oracle import duck_views

    repo = Path(__file__).resolve().parents[1]
    at_exit = []
    monkeypatch.setattr(atexit, "register", lambda fn, *a: at_exit.append((fn, a)))
    con = duck_views(SF_SMOKE)
    try:
        want = len(con.execute(all_oracles()[name]).fetchall())
    finally:
        con.close()
    build = all_queries()[name]
    first = build(spark, SF_SMOKE)
    second = build(spark, SF_SMOKE)
    files = [set(df.inputFiles()) for df in (first, second)]
    assert files[0] and files[1] and not files[0] & files[1]
    for f in files[0] | files[1]:
        assert not Path(f.removeprefix("file:")).resolve().is_relative_to(repo), f
    assert first.count() == second.count() == want
    cleanups = [(fn, a) for fn, a in at_exit if fn is shutil.rmtree]
    roots = {str(a[0]) for _, a in cleanups}
    assert len(roots) == 2 and all(Path(r).exists() for r in roots)
    for fn, a in cleanups:
        fn(*a)
    assert not any(Path(r).exists() for r in roots)
