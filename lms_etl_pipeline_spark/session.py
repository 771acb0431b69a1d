"""SparkSession factory.

One place to encode the engine's execution posture so every entry point
(tests, bench, driver contract) runs with the same scale-aware defaults:

- UTC session timezone (the reference normalizes every timestamp to UTC,
  ``/root/reference/src/s3_to_rds_lambda.py:116-130``).
- AQE on: runtime partition coalescing, skew-join splitting, and dynamic
  join-strategy switching — the knobs that keep a fixed logical plan healthy
  when the data is 1000x bigger than the test fixture.
- Arrow on for any pandas interchange (vectorized batches, never per-row).
- Shuffle partitions sized by env (local runs want ~cores; a real cluster
  overrides via spark-submit conf, and AQE coalesces the rest).

It also holds the driver-row seams: :func:`collect_bounded` takes a frame
to the driver under a row budget, and :func:`local_frame` is the one way
driver rows become a frame.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

# Defaults chosen for the local[32] harness; on a real cluster every one of
# these is expected to be overridden by spark-submit/cluster conf, and AQE
# adapts partition counts at runtime regardless.
_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python Data Source filter pushdown (sources.rest_datasource).
    "spark.sql.python.filterPushdown.enabled": "true",
    # 10 MB default is conservative; dimension tables (region/nation/supplier
    # scale) stay broadcast-able well past sf100.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # Read fewer, larger parquet splits locally; cluster overrides.
    "spark.sql.files.maxPartitionBytes": "128m",
    # Silence the 0-partition edge and keep plans stable across runs.
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    # The events fixture carries TIMESTAMP(NANOS) parquet columns, which
    # Spark rejects by default; read them as raw nanos longs and convert
    # (sources.tables normalizes to microsecond timestamps).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


def default_parallelism(spark: SparkSession, fallback: int = 32) -> int:
    """Cluster parallelism for explicit repartitions, resilient to session
    flavors: classic sessions expose ``sparkContext``; Spark Connect
    sessions don't — fall back to the shuffle-partition conf."""
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:  # noqa: BLE001 - Connect sessions raise PySparkNotImplementedError
        try:
            return int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:  # noqa: BLE001
            return fallback


def spread_for_cpu(df, key):
    """Scale-adaptive CPU spreading (guide §2: partitioning must derive
    from input size, not a constant tuned for one deployment).

    A small parquet corpus scans as ONE split, which would serialize a
    CPU-heavy downstream stage (tokenize, shingle, hash) on a single
    core — the repo's established fix is an explicit key-hashed
    repartition.  But that repartition is corpus-sized payload shuffle
    that a 100 TB scan (thousands of splits) does NOT need.  This helper
    repartitions only when the frame's current parallelism is below the
    cluster's; at scale it is a no-op, so the heavy bytes never move.

    Only for frames feeding a SINGLE consumer chain or a materialize
    barrier — multi-consumer plans that rely on the exchange for
    ReusedExchange sharing (operators.dedup.tokenized_partitioned) must
    keep their unconditional repartition.
    """
    n = default_parallelism(df.sparkSession)
    try:
        cur = df.rdd.getNumPartitions()
    except Exception:  # noqa: BLE001 - Connect sessions hide the RDD
        cur = 0
    if cur >= n:
        return df
    return df.repartition(n, key)


def _materialize_mode(master: str | None) -> str:
    """Pick the multi-consumer materialization strategy for a deployment.

    ``local-checkpoint`` truncates lineage and is the fastest barrier on a
    single machine, but local checkpoints are NON-REPLICATED: on a real
    cluster, losing one executor kills the job instead of recomputing the
    lost partitions (an availability hazard at 100 TB, not a correctness
    one).  ``persist`` (MEMORY_AND_DISK) keeps the lineage, so a lost
    executor's partitions recompute — the right default off-local — at the
    cost of plan-tree growth in iterative loops (bounded: every loop in
    this engine is diameter- or iteration-bounded).

    ``master=None`` (the session flavor hides ``spark.master`` — e.g. a
    Spark Connect client, which typically FRONTS a real cluster) defaults
    to ``persist``: the safe, lineage-preserving strategy.  Guessing
    "local" there would silently re-introduce the availability hazard on
    exactly the deployments the persist path exists to protect.
    """
    if master is None:
        return "persist"
    return "local-checkpoint" if master.startswith("local") else "persist"


def _session_mode(spark) -> str:
    """Resolve the effective materialization mode for a live session."""
    try:
        master = spark.conf.get("spark.master")
    except Exception:  # noqa: BLE001 - Connect sessions hide spark.master
        master = None
    if master is None:
        import warnings

        warnings.warn(
            "spark.master is not readable from this session; defaulting to "
            "the lineage-preserving 'persist' materialization",
            stacklevel=3,
        )
    return _materialize_mode(master)


def materialize(df, *, eager: bool = True, cut_lineage: bool = False):
    """Deployment-mode seam for multi-consumer / iterative reuse barriers:
    every plan that materializes a frame for several consumers (curation's
    tokenized corpus, graph label iterations, k-means assignment loops)
    calls this instead of hard-coding ``localCheckpoint`` — local masters
    keep the fast local checkpoint, cluster masters get lineage-preserving
    ``persist(MEMORY_AND_DISK)`` (populated via a count() when ``eager``).

    The persist path's cost is MEASURED (SCALING.md, "the persist() path
    TIMED"): +14–33% over localCheckpoint at ~sf3 on the two heaviest
    consumers, shrinking to parity/+19% at ~sf10 — i.e. the cluster
    default's overhead is bounded and smallest at exactly the scale where
    the non-spillable localCheckpoint barrier OOMs an 8 GB heap.  Note persist() also registers the frame with the SQL
    CacheManager (plan-matched reuse across identical subplans in one
    session) — a feature on a warm cluster, but benchmarks must
    clearCache() between cold-run reps.

    ``cut_lineage=True`` is REQUIRED at every materialize site inside an
    iterative loop whose body references the previous iteration's frame
    more than once, and is set at the iterative sites whose frames feed
    the next round (connected components' own-row union and neighbour
    join, MMR's per-round state): persist preserves lineage, so iteration
    k's logical plan would nest TWO copies of iteration k-1's — 2^k plan
    growth that OOMs the driver around depth 10 (measured: a 10-iteration
    loop of that shape under persist blew an 8 GB heap building the plan
    string alone).  In
    persist mode it takes a **reliable checkpoint** (replicated by the
    cluster DFS, lineage truncated — the standard iterative-Spark barrier,
    cf. GraphX/MLlib periodic checkpointing) when a checkpoint dir is set,
    else falls back to persist with a warning.  Local-checkpoint mode
    already truncates lineage, so the flag is a no-op there."""
    spark = df.sparkSession
    if _session_mode(spark) == "persist":
        if cut_lineage:
            try:
                has_dir = spark.sparkContext.getCheckpointDir() is not None
            except Exception:  # noqa: BLE001 - Connect hides sparkContext
                has_dir = False
            if has_dir:
                return df.checkpoint(eager=eager)
            import warnings

            warnings.warn(
                "iterative materialize in persist mode without a checkpoint "
                "dir: logical plans nest across iterations (exponentially if "
                "the loop body references the previous frame twice). Call "
                "sc.setCheckpointDir(...) for cluster-grade lineage cuts.",
                stacklevel=2,
            )
        from pyspark.storagelevel import StorageLevel

        out = df.persist(StorageLevel.MEMORY_AND_DISK)
        if eager:
            out.count()
        return out
    return df.localCheckpoint(eager=eager)


def release(df) -> None:
    """Free a frame previously returned by :func:`materialize` once a NEWER
    materialized frame supersedes it (iterative loops: connected
    components, k-means, PageRank, BPE merge passes).

    Only acts in **persist** mode: there, every iteration would otherwise
    pin a fresh full-dataset MEMORY_AND_DISK cache, so a 20-iteration run
    holds up to 20 copies — evicting useful blocks and filling disk at
    exactly the cluster scale the persist path targets.  Unpersisting is
    safe there because persist PRESERVES lineage (a late consumer
    recomputes).  In local-checkpoint mode this is a no-op: the checkpoint
    blocks are the ONLY copy of the data behind a truncated lineage, so
    dropping them would break any later consumer, and a single-machine run
    has no per-iteration replication cost to save.

    Call only after the superseding frame is materialized (eager count
    done) AND any probe reading both frames (convergence counts) has run.

    Frames that took the reliable-checkpoint path (``cut_lineage=True``
    with a checkpoint dir) carry no persist level — unpersist() is then a
    harmless no-op; their checkpoint FILES are reclaimed by the cluster's
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` once unreferenced.
    """
    if _session_mode(df.sparkSession) == "persist":
        df.unpersist()


#: Driver-side row budget for :func:`collect_bounded`: the largest frame a
#: sequential trainer collects to loop on the driver.  8M rows of a few
#: small columns is a few hundred MB, inside a normal driver heap; callers
#: fall back to a distributed loop above it.
LOCAL_COLLECT_BUDGET_ROWS = 8_000_000


def scratch_dir(prefix: str) -> str:
    """A fresh directory outside the checkout for one build of a sink that
    writes and then reads back.  The read-back is lazy, so a shared path
    would let a second build (or a concurrent run) overwrite the files an
    earlier frame scans; lazy is also why the directory lives until the
    process exits, not the call."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, True)
    return path


def collect_bounded(df):
    """Collect ``df`` to the driver if it has at most
    ``LOCAL_COLLECT_BUDGET_ROWS`` rows.  Returns ``(rows, None)`` in
    budget and ``(None, frame)`` over it.

    This is the seam for sequential trainers (GD, BPE merges) that collapse
    a corpus once to a smaller statistic and then loop on the driver
    instead of paying one Spark job per iteration.  One action either way:
    the collect reads at most one row past the budget, and that row is the
    over-budget signal, so no separate ``count()`` pass runs.

    ``df`` goes through a lazy :func:`materialize` first, so the pass that
    computes it for the collect also keeps it.  Over budget, ``frame`` is
    that materialized ``df``: the caller's distributed fallback reads it
    without re-running the pass that produced it, and must :func:`release`
    it when done.  In budget it is released here.  What an over-budget
    frame wastes is the rows shipped before the signal: up to the budget,
    the same transfer an in-budget frame at the budget pays.  In persist
    mode the collect launches one more job than in local-checkpoint mode:
    adaptive execution builds the cache as a stage of its own."""
    frame = materialize(df, eager=False)
    rows = frame.limit(LOCAL_COLLECT_BUDGET_ROWS + 1).collect()
    if len(rows) > LOCAL_COLLECT_BUDGET_ROWS:
        return None, frame
    release(frame)
    return rows, None


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) -> DataFrame:
    """A one-partition frame of the driver-held ``rows``, typed by
    ``schema`` (a ``StructType`` or a DDL string): the way back from
    :func:`collect_bounded`.

    A row is a tuple, a ``Row`` or a dict read by field name, where a
    missing key reads as NULL; a struct value is a dict.  Every row is
    type-checked first: the Arrow conversion alone would truncate 1.5 in a
    BIGINT column to 1, where ``createDataFrame`` over Python rows raises.
    The frame is built from one Arrow table in the JVM; Python rows would
    plan a scan over a pickled RDD, one Python-worker task per
    default-parallelism slice.  The coalesce also keeps the optimizer from
    folding the caller's projections into the local relation, which it
    would evaluate row by row, interpreted, on the driver; a caller's
    filter still moves below it and is folded in while planning."""
    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    verify = T._make_type_verifier(schema)
    names = schema.fieldNames()
    cols: list[list] = [[] for _ in names]
    for row in rows:
        verify(row)
        values = [row.get(n) for n in names] if isinstance(row, dict) else row
        for col, v in zip(cols, values):
            col.append(v)
    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema).coalesce(1)


def get_spark(app_name: str = "lms-etl-pipeline-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``overrides`` are raw Spark conf key/values layered on top of the engine
    defaults. Master comes from the environment (``SPARK_GRAFT_CPUS``,
    default ``local[*]``) unless a cluster already set one.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    master = f"local[{cpus}]" if cpus else os.environ.get("SPARK_MASTER", "local[*]")

    builder = SparkSession.builder.appName(app_name)
    if not os.environ.get("SPARK_CONNECT_MODE_ENABLED"):
        builder = builder.master(master)
    for key, value in {**_DEFAULT_CONF, **overrides}.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
