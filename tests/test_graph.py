"""Connected components: shapes, convergence, failure mode."""

from __future__ import annotations

import pytest

from lms_etl_pipeline_spark.operators.graph import components_sql, connected_components


def _comps(spark, pairs, **kw):
    df = spark.createDataFrame(pairs, "a BIGINT, b BIGINT")
    out = connected_components(df, **kw)
    groups: dict[int, set[int]] = {}
    for r in out.collect():
        groups.setdefault(r.component, set()).add(r.node)
    return {frozenset(v) for v in groups.values()}, out


def test_two_chains_and_isolated_pair(spark):
    # 1-2-3 chain, 4-5 pair, 6-7-8 via hub 6
    comps, out = _comps(spark, [(1, 2), (2, 3), (4, 5), (6, 7), (6, 8)])
    assert comps == {frozenset({1, 2, 3}), frozenset({4, 5}), frozenset({6, 7, 8})}
    # component label is the min node of the group
    labels = {r.node: r.component for r in out.collect()}
    assert labels[3] == 1 and labels[8] == 6


def test_long_chain_needs_multiple_iterations(spark):
    n = 12  # diameter 11: exercises the iteration loop, not just one pass
    comps, _ = _comps(spark, [(i, i + 1) for i in range(1, n)])
    assert comps == {frozenset(range(1, n + 1))}


def test_non_convergence_raises(spark):
    df = spark.createDataFrame([(i, i + 1) for i in range(1, 12)], "a BIGINT, b BIGINT")
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(df, max_iter=2)


def test_empty_edges(spark):
    df = spark.createDataFrame([], "a BIGINT, b BIGINT")
    assert connected_components(df).count() == 0


def test_duplicate_selfloop_and_reversed_edges(spark):
    # Iteration 0 is a plain groupBy over the symmetric view
    # (least(u, min v)) — pin that edge multiplicity, self-loops, and
    # edges listed in either direction neither duplicate nodes in the
    # output nor change the min-label fixpoint.
    comps, out = _comps(spark, [(9, 2), (2, 9), (4, 9), (4, 4), (9, 2)])
    assert comps == {frozenset({2, 4, 9})}
    rows = out.collect()
    assert len(rows) == 3  # exactly one row per node
    assert {r.component for r in rows} == {2}


@pytest.mark.parametrize(
    "pairs",
    [
        [(i, i + 1) for i in range(1, 12)],  # diameter-11 chain
        [(9, 2), (2, 9), (4, 9), (4, 4), (9, 2)],  # duplicate, self-loop, reversed
    ],
    ids=["chain", "dup_selfloop_reversed"],
)
def test_components_sql_matches_operator(spark, pairs):
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE pairs (a BIGINT, b BIGINT)")
    con.executemany("INSERT INTO pairs VALUES (?, ?)", pairs)
    duck = con.execute(
        f"WITH RECURSIVE {components_sql()} SELECT node, component FROM comps"
    ).fetchall()
    _, out = _comps(spark, pairs)
    assert sorted(duck) == sorted((r.node, r.component) for r in out.collect())
