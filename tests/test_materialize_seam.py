"""Deployment-mode seam for multi-consumer materialization.

A hard-coded ``localCheckpoint(eager=True)`` is correct and fast on
local[32], but local checkpoints are NON-REPLICATED — on a real cluster,
losing one executor kills the job instead of recomputing lineage.
``session.materialize`` picks the strategy by deployment: local masters keep the fast local checkpoint; cluster masters get
lineage-preserving ``persist(MEMORY_AND_DISK)``.  Cluster mode can't be
spun up in tests, so the persist-path tests pin ``session._session_mode``
to the branch a cluster master takes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lms_etl_pipeline_spark import session
from lms_etl_pipeline_spark.session import (
    _materialize_mode,
    _session_mode,
    default_parallelism,
    materialize,
    release,
)


@pytest.mark.parametrize(
    ("master", "expect"),
    [
        ("local[32]", "local-checkpoint"),
        ("local[*]", "local-checkpoint"),
        ("local", "local-checkpoint"),
        # every real deployment master takes the persist path
        ("yarn", "persist"),
        ("k8s://https://host:443", "persist"),
        ("spark://controller:7077", "persist"),
    ],
)
def test_mode_keyed_off_master(master, expect):
    assert _materialize_mode(master) == expect


def test_local_session_takes_checkpoint_path(spark):
    out = materialize(spark.range(10).select(F.col("id")))
    # a local checkpoint truncates lineage: the logical plan is a scan of
    # the checkpointed RDD, not the original Range
    assert "Range" not in out._jdf.queryExecution().analyzed().toString()
    assert out.count() == 10


def _pin_persist(monkeypatch):
    monkeypatch.setattr(session, "_session_mode", lambda spark: "persist")


def test_persist_path_pinned_via_override(spark, monkeypatch):
    """The branch a cluster master takes: persisted MEMORY_AND_DISK,
    lineage preserved, cache populated eagerly."""
    from pyspark.storagelevel import StorageLevel

    _pin_persist(monkeypatch)
    out = materialize(spark.range(10).select(F.col("id")))
    try:
        assert out.storageLevel == StorageLevel.MEMORY_AND_DISK
        # lineage preserved: the original scan is still in the plan
        assert "Range" in out._jdf.queryExecution().analyzed().toString()
        assert out.count() == 10
    finally:
        out.unpersist()


def test_unknown_master_defaults_to_persist():
    """A session that hides ``spark.master`` (Spark Connect)
    typically FRONTS a real cluster — the safe default is the
    lineage-preserving persist path, not a silent local[*] guess."""
    assert _materialize_mode(None) == "persist"


class _RaisingConf:
    """Conf facade that only knows the keys it was given — Connect-shaped."""

    def __init__(self, vals):
        self._vals = vals

    def get(self, key):
        if key in self._vals:
            return self._vals[key]
        raise RuntimeError(f"CONFIG_NOT_AVAILABLE: {key}")


class _FakeSession:
    def __init__(self, vals):
        self.conf = _RaisingConf(vals)

    @property
    def sparkContext(self):  # Connect sessions raise on this accessor
        raise NotImplementedError("sparkContext is not supported on Connect")


def test_session_mode_connect_fallbacks():
    """Directly exercises the except-paths a Spark Connect session takes
    (grpc isn't installed in this sandbox, so a live Connect server can't
    run here — these stubs reproduce exactly what the client raises)."""
    with pytest.warns(UserWarning, match="persist"):
        assert _session_mode(_FakeSession({})) == "persist"
    # classic session shape: master readable
    assert _session_mode(_FakeSession({"spark.master": "local[4]"})) == "local-checkpoint"
    assert _session_mode(_FakeSession({"spark.master": "yarn"})) == "persist"


def test_default_parallelism_connect_fallbacks():
    assert (
        default_parallelism(_FakeSession({"spark.sql.shuffle.partitions": "48"}))
        == 48
    )
    assert default_parallelism(_FakeSession({}), fallback=7) == 7


def test_release_unpersists_only_in_persist_mode(spark, monkeypatch):
    from pyspark.storagelevel import StorageLevel

    # persist mode: release() frees the cache (lineage survives, so the
    # frame stays usable — it just recomputes)
    with monkeypatch.context() as m:
        _pin_persist(m)
        out = materialize(spark.range(10).select(F.col("id")))
        assert out.storageLevel == StorageLevel.MEMORY_AND_DISK
        release(out)
        assert out.storageLevel == StorageLevel.NONE
        assert out.count() == 10
    # local-checkpoint mode: release() must be a NO-OP — the checkpoint
    # blocks are the only copy behind a truncated lineage
    out = materialize(spark.range(10).select(F.col("id")))
    level_before = out.storageLevel
    release(out)
    assert out.storageLevel == level_before
    assert out.count() == 10


@pytest.mark.slow  # >14 s: gated from the default run
def test_iterative_loops_bound_live_caches_in_persist_mode(spark, tmp_path, monkeypatch):
    """Iterative loops must unpersist superseded
    frames — a 20-iteration run must NOT hold 20 full-dataset caches.
    A checkpoint dir is set (standard practice for iterative Spark on a
    cluster): loop barriers whose body references the previous frame twice
    take the reliable-checkpoint path, bounding plan growth (without it,
    persist-mode kmeans at max_iter=10 OOMs the driver on 2^k plan
    nesting — measured)."""
    from lms_etl_pipeline_spark.operators.graph import connected_components
    from lms_etl_pipeline_spark.operators.ml import kmeans_fit

    jsc = spark.sparkContext._jsc
    _pin_persist(monkeypatch)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    base = jsc.getPersistentRDDs().size()
    # a depth-8 chain forces several label-propagation iterations
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 9)], "a long, b long"
    )
    cc = connected_components(edges)
    assert cc.count() == 9
    # live caches: the symmetrized edges + the final label frame only
    assert jsc.getPersistentRDDs().size() - base <= 2

    base = jsc.getPersistentRDDs().size()
    pts = spark.createDataFrame(
        [(i, [float(i % 7), float((i * 3) % 5)]) for i in range(40)],
        "id long, vec array<double>",
    )
    stats: dict = {}
    assign, cent = kmeans_fit(pts, k=3, max_iter=10, stats=stats)
    assert assign.count() == 40
    assert stats["iterations"] >= 2
    # live caches: pts + final assignment + final centroids
    assert jsc.getPersistentRDDs().size() - base <= 3


def test_persist_path_runs_an_iterative_consumer(spark, monkeypatch):
    """connected_components (3 materialize sites, iterative) must converge
    identically under the persist strategy — the cluster-mode behavior."""
    from lms_etl_pipeline_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)], "a long, b long"
    )
    want = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}
    _pin_persist(monkeypatch)
    got = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert got == want
