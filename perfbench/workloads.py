"""The benchmark's workloads and the closed loop that measures them.

One client runs one operation at a time on ``local[<cores>]``.  Set-up
starts the session, generates the inputs and runs one untimed warm pass;
then a fixed number of whole passes is measured.  A pass is the workload's
operation list: eager/iterative builders, each built and then evaluated
through the hash sink, in a seed-shuffled order; or one ETL cycle of
extract, load and stream drain.

A traced run alternates untraced and traced passes.  Traced passes wrap the
engine's public functions in spans and read Spark's status store and
Catalyst trackers between operations; the untraced passes give the
tracing overhead.  Output checks run between operations, off the clock.
"""

from __future__ import annotations

import functools
import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field

from perfbench import catalog_data, lms_feed
from perfbench.outputs import Checker, Oracle, hash_sink, load_pins
from perfbench.spans import Recorder, instrumented
from perfbench.spark_probe import (
    PHASES, Job, SparkProbe, StageTotals, catalyst_ms, covered, tree_cpu_s, vm_hwm_mb,
)

LAZY_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "flagship_regional_revenue",
    "join_left_outer_counts",
    "window_topk_per_group",
    "events_session_window",
    "join_asof_next_purchase",
    "token_budget_selection",
    "tf_idf_top_terms",
    "near_dup_pairs_lsh",
    "knn_cosine_exact",
    "minhash_signatures",
    "dedup_embedding_cosine",
    "multimodal_image_decode",
    "multimodal_y4m_frames_real",
)
ITERATIVE_BUILDERS = (
    "quality_classifier_train",
    "bpe_train_merges",
    "corpus_curation_pipeline",
    "dsir_importance_selection",
    "quantile_exact_selection",
    "pagerank_graph",
    "hits_hubs_authorities",
)
#: the builder a pass times: the one that launches the most jobs before its
#: final action.  All seven take about 20 s a pass after a 43 s cold pass on
#: a 4-core box, and the JVM keeps warming up for several passes after that.
#: One builder leaves room for seven passes a run at ``--seconds 20``, so the
#: median is taken well into the warm-up.  Traced runs build and check every
#: other query of both lists once, so ``jobs.<query>`` covers all 22
ITERATIVE_MEASURED = ("quality_classifier_train",)
#: the catalog the builders scan; ``pins.json`` is keyed by it
CATALOG = {"scale": 0.01, "seed": 42}
#: rows per ETL cycle: one REST snapshot, then delta files of delta_rows each
ETL_SIZE = {"snapshot_rows": 10_000, "delta_files": 4, "delta_rows": 500}
#: warm pass time on a 4-core box (median of the measured passes); a run
#: measures round(seconds / this) whole passes, so both sides of a
#: comparison measure the same work whatever its speed
NOMINAL_PASS_S = {"iterative_builders": 3.0, "etl_upsert": 5.0}

END_TO_END = (
    ("setup_s", "s"),
    ("pass_cpu_s", "s"),
    ("op_cpu_p50_s", "s"),
    ("peak_rss_mb", "MB"),
)
SELF_LAYERS = ("plans", "sources", "etl", "sinks", "streaming", "pipeline", "action")
PER_LAYER = (
    ("session.start_s", "s"),
    ("session.warm_s", "s"),
    ("plans.build_frac", "ratio"),
    ("plans.build_jobs", "count"),
    *((f"jobs.{q}", "count") for q in LAZY_QUERIES + ITERATIVE_BUILDERS),
    *((f"catalyst.{p}_ms", "ms") for p in PHASES),
    ("scheduler.jobs", "count"),
    ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"),
    ("scheduler.job_s", "s"),
    ("scheduler.driver_gap_s", "s"),
    ("executor.run_s", "s"),
    ("executor.cpu_s", "s"),
    ("executor.wait_s", "s"),
    ("executor.gc_s", "s"),
    ("executor.input_mb", "MB"),
    ("executor.shuffle_read_mb", "MB"),
    ("executor.shuffle_write_mb", "MB"),
    *((f"{layer}.self_frac", "ratio") for layer in SELF_LAYERS),
    ("sources.rest_rows_per_s", "rows/s"),
    ("sources.csv_bytes", "bytes"),
    ("etl.null_coerced", "count"),
    ("sinks.upsert_rows", "count"),
    ("sinks.upsert_rows_per_s", "rows/s"),
    ("sinks.transactions", "count"),
    ("sinks.ledger_skips", "count"),
    ("streaming.batches", "count"),
    ("streaming.input_rows", "count"),
    ("streaming.rows_per_s", "rows/s"),
    ("streaming.add_batch_frac", "ratio"),
    ("pipeline.extract_rows_per_s", "rows/s"),
    ("pipeline.load_rows_per_s", "rows/s"),
    ("pipeline.stream_rows_per_s", "rows/s"),
    ("trace.overhead_frac", "ratio"),
)
MB = 1024 * 1024


@dataclass
class Op:
    name: str
    id: int = 0
    wall: float = 0.0
    cpu: float = 0.0  # CPU seconds of the whole process tree
    build: float = 0.0
    start: float = 0.0  # epoch seconds, to line up with job times
    action_start: float = 0.0
    end: float = 0.0
    failed: bool = False
    jobs: list[Job] = field(default_factory=list)
    build_jobs: int = 0


@dataclass
class Pass:
    wall: float
    ops: list[Op]
    traced: bool
    counts: dict[str, float] = field(default_factory=dict)


class Bench:
    """Session, probe and recorder shared by a workload's passes."""

    def __init__(self, seed: int, trace: bool, work: str):
        self.seed = seed
        self.trace = trace
        self.work = work
        self.recorder = Recorder()
        self.spark = None
        self.probe: SparkProbe | None = None
        self.session_start_s = 0.0
        self._op_id = 0

    def start_session(self) -> None:
        from lms_etl_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            **{
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData"
                ),
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_start_s = time.perf_counter() - t0
        if self.trace:
            self.probe = SparkProbe(self.spark)

    def next_op(self, op: Op) -> None:
        self._op_id += 1
        self.recorder.op = op.id = self._op_id

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        return vm_hwm_mb() + vm_hwm_mb(SparkContext._gateway.proc.pid)

    def stop(self) -> None:
        from pyspark import SparkContext

        if self.spark is None:
            return
        proc = SparkContext._gateway.proc
        self.spark.stop()
        SparkContext._gateway.shutdown()
        # the JVM exits when its stdin closes; its Python workers follow it
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
        self.spark = None


def _run(op: Op, fn) -> object:
    try:
        return fn()
    except Exception:  # noqa: BLE001 - a failed operation is counted, the loop goes on
        traceback.print_exc(file=sys.stderr)
        op.failed = True
        return None


class QueryWorkload:
    """Build and evaluate each measured query once per pass; the census
    queries run once, after the passes, in traced runs only."""

    def __init__(self, names: tuple[str, ...], census: tuple[str, ...]):
        self.names = names
        self.census_names = tuple(q for q in census if q not in names)
        self.jobs: dict[str, tuple[int, int]] = {}
        self.checker: Checker | None = None

    def setup(self, b: Bench) -> None:
        from lms_etl_pipeline_spark import plans

        self.data_dir = os.path.join(b.work, "catalog")
        catalog_data.write_catalog(self.data_dir, **CATALOG)
        queries = plans.all_queries()
        self.fns = {n: queries[n] for n in self.names + self.census_names}
        oracles = plans.all_oracles()
        self.checker = Checker(
            load_pins(CATALOG), lambda: Oracle(self.data_dir, oracles, catalog_data.TABLES)
        )
        self.rng = random.Random(b.seed)

    def targets(self) -> tuple[dict, dict]:
        from lms_etl_pipeline_spark.sources import tables

        return {"sources": [tables.load_table]}, {}

    def run_pass(self, b: Bench, traced: bool) -> Pass:
        order = list(self.names)
        self.rng.shuffle(order)
        stages = StageTotals()
        catalyst: dict[str, float] = defaultdict(float)
        ops, outside = [], 0.0
        t_pass = time.perf_counter()
        for name in order:
            # CPU is read off the pass clock, like the checks
            t_out = time.perf_counter()
            cpu0 = tree_cpu_s()
            outside += time.perf_counter() - t_out
            op, out = self._op(b, name, traced)
            t_out = time.perf_counter()
            op.cpu = tree_cpu_s() - cpu0
            ops.append(op)
            if traced:
                self._read_spark(b, op, out.get("sink"), stages, catalyst)
            self._check(b, op, out, traced)
            outside += time.perf_counter() - t_out
        wall = time.perf_counter() - t_pass - outside
        counts = _stage_counts(stages) | {f"catalyst.{k}_ms": v for k, v in catalyst.items()}
        return Pass(wall, ops, traced, counts)

    def census(self, b: Bench) -> list[Op]:
        """Run each census query once, traced, for its job count and output
        check."""
        ops = []
        for name in self.census_names:
            op, out = self._op(b, name, traced=True)
            self._read_spark(b, op, out.get("sink"), StageTotals(), defaultdict(float))
            self._check(b, op, out, traced=True)
            ops.append(op)
        return ops

    def _read_spark(self, b: Bench, op: Op, sink, stages: StageTotals, catalyst: dict) -> None:
        op.jobs += b.probe.new_jobs()
        if sink is None:
            return
        b.probe.add_stages(stages, op.jobs)
        for k, v in catalyst_ms(sink).items():
            catalyst[k] += v
        self.jobs[op.name] = (op.build_jobs, len(op.jobs) - op.build_jobs)

    def _check(self, b: Bench, op: Op, out: dict, traced: bool) -> None:
        """Compare the fingerprint with its pin; the oracle settles a
        mismatch, and in a traced pass the jobs it runs are dropped so they
        are not counted as the operation's."""
        if op.failed:
            return
        problem = self.checker.check(
            op.name, out["fp"], lambda: self.fns[op.name](b.spark, self.data_dir)
        )
        if traced:
            b.probe.new_jobs()
        if problem:
            print(f"wrong output: {problem}", file=sys.stderr)
            op.failed = True

    def _op(self, b: Bench, name: str, traced: bool) -> tuple[Op, dict]:
        """Build and evaluate one query; returns the operation and its
        ``sink`` frame and fingerprint ``fp``."""
        fn, spark, rec = self.fns[name], b.spark, b.recorder
        op = Op(name)
        holder: dict = {}

        def build():
            holder["df"] = fn(spark, self.data_dir)

        def action():
            holder["sink"] = hash_sink(holder["df"])
            holder["fp"] = holder["sink"].collect()[0]["h"]

        probe_s = 0.0
        op.start = time.time()
        t0 = time.perf_counter()
        if traced:
            b.next_op(op)
            with rec.span("bench", name):
                with rec.span("plans", name):
                    _run(op, build)
                t_build = time.perf_counter()
                tp = time.perf_counter()
                op.jobs = b.probe.new_jobs()
                op.build_jobs = len(op.jobs)
                probe_s = time.perf_counter() - tp
                op.action_start = time.time()
                if not op.failed:
                    with rec.span("action", name):
                        _run(op, action)
        else:
            _run(op, build)
            t_build = time.perf_counter()
            op.action_start = time.time()
            if not op.failed:
                _run(op, action)
        op.wall = time.perf_counter() - t0 - probe_s
        op.end = time.time()
        op.build = t_build - t0
        return op, holder

    def close(self) -> None:
        if self.checker is not None:
            self.checker.close()


class EtlWorkload:
    """One cycle: REST extract to a CSV snapshot, keyed load into sqlite,
    then a streaming drain of the cycle's delta files into the same table."""

    server: lms_feed.FeedServer | None = None

    def setup(self, b: Bench) -> None:
        from lms_etl_pipeline_spark.sinks import jdbc_upsert

        root = os.path.join(b.work, "etl")
        self.landing = os.path.join(root, "landing")
        self.checkpoint = os.path.join(root, "checkpoint")
        self.csv_path = os.path.join(root, "snapshot")
        self.db = os.path.join(root, "lms.db")
        os.makedirs(self.landing)
        lms_feed.create_table(self.db)
        self.feed = lms_feed.LmsFeed(b.seed, **ETL_SIZE)
        self.server = lms_feed.FeedServer()
        self.connect = functools.partial(lms_feed.connect, self.db)
        self.sink = jdbc_upsert.ledgered_batch_sink(self.connect, lms_feed.TABLE, [lms_feed.KEY])
        self.cycle = 0
        self.upserted: list = []

    def targets(self) -> tuple[dict, dict]:
        from lms_etl_pipeline_spark import etl, pipeline, streaming
        from lms_etl_pipeline_spark.sinks import jdbc_upsert
        from lms_etl_pipeline_spark.sources import csv_io
        from lms_etl_pipeline_spark.sources.rest import RestSource

        return (
            {
                "pipeline": [pipeline.run_extract, pipeline.run_load],
                "sources": [(RestSource, "read_table"), csv_io.read_csv, csv_io.write_csv],
                "etl": [
                    etl.flatten_struct, etl.rename_columns, etl.pack_custom_fields,
                    etl.align_to_schema, etl.parse_datetime_columns,
                ],
                "sinks": [jdbc_upsert.upsert_via_foreach_partition],
                "streaming": [streaming.file_stream, streaming.run_available_now],
            },
            {jdbc_upsert.upsert_via_foreach_partition: self.upserted},
        )

    def run_pass(self, b: Bench, traced: bool) -> Pass:
        from lms_etl_pipeline_spark import etl, pipeline, streaming
        from lms_etl_pipeline_spark.sources.rest import RestSource

        feed = self.feed
        body, truth = feed.snapshot()
        self.server.body = body
        delta_rows = feed.write_deltas(self.landing, self.cycle)
        self.cycle += 1
        spark, rec = b.spark, b.recorder
        batches: list[int] = []

        def sink(df, batch_id):
            if traced:
                batches.append(batch_id)
                with rec.span("sinks", "ledgered_batch_sink"):
                    return self.sink(df, batch_id)
            return self.sink(df, batch_id)

        steps = {
            "extract": lambda: pipeline.run_extract(
                spark, RestSource(self.server.url), lms_feed.API_SCHEMA, self.csv_path,
                rename_map=dict(etl.LMS_RENAME_MAP),
            ),
            "load": lambda: pipeline.run_load(
                spark, self.csv_path, lms_feed.CSV_SCHEMA, lms_feed.TARGET_SCHEMA, self.connect,
                lms_feed.TABLE, [lms_feed.KEY], datetime_cols=lms_feed.DATE_COLUMNS,
            ),
            "stream": lambda: streaming.run_available_now(
                streaming.file_stream(
                    spark, self.landing, lms_feed.DELTA_SCHEMA, max_files_per_trigger=1
                ),
                sink, self.checkpoint, query_name="perfbench_deltas",
            ),
        }
        ops, outside, query = [], 0.0, None
        ledger_before = self._ledger_rows() if traced else 0
        counts: dict[str, float] = {}
        t_pass = time.perf_counter()
        for name, step in steps.items():
            op = Op(name)
            t_out = time.perf_counter()
            cpu0 = tree_cpu_s()
            outside += time.perf_counter() - t_out
            op.start = time.time()
            t0 = time.perf_counter()
            if traced:
                b.next_op(op)
                with rec.span("bench", name):
                    out = _run(op, step)
            else:
                out = _run(op, step)
            op.wall = time.perf_counter() - t0
            op.end = time.time()
            t_out = time.perf_counter()
            op.cpu = tree_cpu_s() - cpu0
            ops.append(op)
            if name == "stream":
                query = out
            if traced:
                op.jobs = b.probe.new_jobs()
                if name == "extract":
                    counts["sources.csv_bytes"] = _dir_bytes(self.csv_path)
                if name == "load":
                    counts["etl.null_coerced"] = self._null_dates(truth["keys"])
                    if counts["etl.null_coerced"] != truth["null_coerced"]:
                        print(
                            f"wrong output: {counts['etl.null_coerced']} dates coerced to NULL, "
                            f"expected {truth['null_coerced']}",
                            file=sys.stderr,
                        )
                        op.failed = True
            outside += time.perf_counter() - t_out
        wall = time.perf_counter() - t_pass - outside

        problems = lms_feed.check_table(self.db, feed.expected)
        if problems:
            print("wrong output: " + "; ".join(problems), file=sys.stderr)
            ops[-1].failed = True
        if traced:
            counts |= self._traced_counts(b, ops, query, truth, batches, ledger_before)
        counts["rows"] = truth["rows"]
        counts["delta_rows"] = delta_rows
        return Pass(wall, ops, traced, counts)

    def _traced_counts(self, b, ops, query, truth, batches, ledger_before) -> dict:
        stages, upsert_stages = StageTotals(), StageTotals()
        jobs = [j for op in ops for j in op.jobs]
        b.probe.add_stages(stages, jobs)
        op_ids = {op.id for op in ops}
        upserts = [
            s for s in b.recorder.spans
            if s.name == "upsert_via_foreach_partition" and s.op in op_ids
        ]
        sink_jobs = [
            j for j in jobs
            if any(s.start - 0.001 <= j.submit and j.end <= s.end + 0.001 for s in upserts)
        ]
        b.probe.add_stages(upsert_stages, sink_jobs)
        catalyst: dict[str, float] = defaultdict(float)
        for df in self.upserted:
            for k, v in catalyst_ms(df).items():
                catalyst[f"catalyst.{k}_ms"] += v
        self.upserted.clear()
        progress = [p for p in (query.recentProgress if query else []) if p.numInputRows > 0]
        trigger_ms = sum(p.durationMs.get("triggerExecution", 0) for p in progress)
        add_batch_ms = sum(p.durationMs.get("addBatch", 0) for p in progress)
        stream_rows = sum(p.numInputRows for p in progress)
        rest_s = sum(
            s.end - s.start for s in b.recorder.spans
            if s.name == "RestSource.read_table" and s.op in op_ids
        )
        upsert_s = sum(s.end - s.start for s in upserts)
        return _stage_counts(stages) | dict(catalyst) | {
            "sources.rest_rows_per_s": truth["rows"] / rest_s if rest_s else 0.0,
            "sinks.upsert_rows": upsert_stages.input_records,
            "sinks.upsert_rows_per_s": upsert_stages.input_records / upsert_s if upsert_s else 0.0,
            "sinks.transactions": upsert_stages.tasks,
            "sinks.ledger_skips": len(batches) - (self._ledger_rows() - ledger_before),
            "streaming.batches": len(progress),
            "streaming.input_rows": stream_rows,
            "streaming.rows_per_s": stream_rows / (trigger_ms / 1e3) if trigger_ms else 0.0,
            "streaming.add_batch_frac": add_batch_ms / trigger_ms if trigger_ms else 0.0,
        }

    def _ledger_rows(self) -> int:
        import sqlite3

        con = self.connect()
        try:
            return con.execute('SELECT count(*) FROM "__batch_ledger"').fetchone()[0]
        except sqlite3.OperationalError:  # no batch has run yet
            return 0
        finally:
            con.close()

    def _null_dates(self, snapshot_keys: list[int]) -> int:
        """NULL date cells among the snapshot's keys: every snapshot date is
        non-NULL in the feed, so each one is a value the load coerced."""
        keys = set(snapshot_keys)
        con = self.connect()
        try:
            rows = con.execute(
                f"SELECT {lms_feed.KEY}, {', '.join(lms_feed.DATE_COLUMNS)} FROM {lms_feed.TABLE}"
            ).fetchall()
        finally:
            con.close()
        return sum(v is None for r in rows if r[0] in keys for v in r[1:])

    def close(self) -> None:
        if self.server is not None:
            self.server.close()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
        if not f.startswith((".", "_"))
    )


def _stage_counts(t: StageTotals) -> dict[str, float]:
    return {
        "scheduler.stages": t.stages,
        "scheduler.tasks": t.tasks,
        "executor.run_s": t.run_s,
        "executor.cpu_s": t.cpu_s,
        "executor.wait_s": t.run_s - t.cpu_s,
        "executor.gc_s": t.gc_s,
        "executor.input_mb": t.input_bytes / MB,
        "executor.shuffle_read_mb": t.shuffle_read_bytes / MB,
        "executor.shuffle_write_mb": t.shuffle_write_bytes / MB,
    }


WORKLOADS = {
    "iterative_builders": lambda: QueryWorkload(
        ITERATIVE_MEASURED, ITERATIVE_BUILDERS + LAZY_QUERIES
    ),
    "etl_upsert": EtlWorkload,
}


def run(
    workload: str, seed: int, seconds: float, trace: bool, work: str, t_process: float
) -> tuple[dict, dict]:
    """Set up, measure and tear down one workload.  Returns the result
    object and a detail record (pass walls, per-query job counts)."""
    b = Bench(seed, trace, work)
    w = WORKLOADS[workload]()
    passes: list[Pass] = []
    try:
        b.start_session()
        w.setup(b)
        t_warm = time.perf_counter()
        warm = w.run_pass(b, traced=False)
        warm_s = time.perf_counter() - t_warm
        setup_s = time.time() - t_process
        n_passes = max(2 if trace else 1, round(seconds / NOMINAL_PASS_S[workload]))
        for i in range(n_passes):
            traced = trace and i % 2 == 1
            if traced:
                b.probe.new_jobs()  # drop the untraced passes' jobs
                targets, keep = w.targets()
                with instrumented(b.recorder, targets, keep):
                    passes.append(w.run_pass(b, traced=True))
            else:
                passes.append(w.run_pass(b, traced=False))
        rss = b.peak_rss_mb()
        census = []
        if trace and isinstance(w, QueryWorkload):
            b.probe.new_jobs()
            census = w.census(b)
    finally:
        w.close()
        b.stop()
    ops = [op for p in passes for op in p.ops] + census
    result = {
        "correct": not any(op.failed for op in ops + warm.ops),
        "attempted": len(ops),
        "failed": sum(op.failed for op in ops),
    }
    # an ETL operation, as its owner sees it, is a whole cycle
    if isinstance(w, EtlWorkload):
        op_walls = [p.wall for p in passes]
        op_cpus = [sum(op.cpu for op in p.ops) for p in passes]
    else:
        measured = [op for p in passes for op in p.ops]
        op_walls, op_cpus = [op.wall for op in measured], [op.cpu for op in measured]
    wall = {"pass_s": pass_median(passes), "op_p50_s": statistics.median(op_walls)}
    if not trace:
        metrics = {
            "setup_s": setup_s,
            "pass_cpu_s": pass_median(passes, "cpu"),
            "op_cpu_p50_s": statistics.median(op_cpus),
            "peak_rss_mb": rss,
        }
        units = dict(END_TO_END)
    else:
        metrics = layer_metrics(b, w, passes, warm_s)
        metrics["session.start_s"] = b.session_start_s
        units = dict(PER_LAYER)
        b.recorder.write(os.path.join(os.path.dirname(work), f"spans-{workload}-{seed}.jsonl"))
    result["metrics"] = {k: {"value": metrics[k], "unit": units[k]} for k in units}
    detail = {
        "workload": workload,
        "seed": seed,
        "passes": len(passes),
        "ops": len(ops),
        "op_p50_samples": len(op_walls),
        **wall,
        "pass_walls_s": [p.wall for p in passes],
        "warm_ops_s": {op.name: op.wall for op in warm.ops},
        "ops_s": [{op.name: op.wall for op in p.ops} for p in passes],
        "oracle_checks": getattr(getattr(w, "checker", None), "oracle_checks", 0),
        "jobs_build_action": getattr(w, "jobs", {}),
    }
    return result, detail


def pass_median(passes: list[Pass], clock: str = "wall") -> float:
    """Wall (or CPU) time of one pass, summed over its operations from each
    operation's median across passes, so one disturbed pass does not move
    it."""
    times: dict[str, list[float]] = defaultdict(list)
    for p in passes:
        for op in p.ops:
            times[op.name].append(getattr(op, clock))
    return sum(statistics.median(v) for v in times.values())


def layer_metrics(b: Bench, w, passes: list[Pass], warm_s: float) -> dict[str, float]:
    traced = [p for p in passes if p.traced]
    plain = [p for p in passes if not p.traced]
    n = len(traced)
    sums: dict[str, float] = defaultdict(float)
    for p in traced:
        for k, v in p.counts.items():
            sums[k] += v
    m = {k: v / n for k, v in sums.items()}
    traced_ops = [op for p in traced for op in p.ops]
    op_wall = sum(op.wall for op in traced_ops)
    jobs_by_op = [(op, op.jobs) for op in traced_ops]
    job_s = sum(covered(jobs, op.start, op.end) for op, jobs in jobs_by_op)
    m["scheduler.jobs"] = sum(len(j) for _, j in jobs_by_op) / n
    m["scheduler.job_s"] = job_s / n
    m["scheduler.driver_gap_s"] = (op_wall - job_s) / n
    m["plans.build_jobs"] = sum(op.build_jobs for op in traced_ops) / n
    m["plans.build_frac"] = (
        sum(op.build for op in traced_ops) / op_wall if isinstance(w, QueryWorkload) else 0.0
    )
    self_s = b.recorder.self_time({op.id for op in traced_ops})
    for layer in SELF_LAYERS:
        m[f"{layer}.self_frac"] = self_s.get(layer, 0.0) / op_wall
    for q in LAZY_QUERIES + ITERATIVE_BUILDERS:
        m[f"jobs.{q}"] = sum(getattr(w, "jobs", {}).get(q, (0, 0)))
    if isinstance(w, EtlWorkload):
        # step rates come from the untraced passes, so spans do not slow them
        step_s: dict[str, float] = defaultdict(float)
        for op in (op for p in plain for op in p.ops):
            step_s[op.name] += op.wall
        rows = sum(p.counts["rows"] for p in plain)
        m["pipeline.extract_rows_per_s"] = rows / step_s["extract"]
        m["pipeline.load_rows_per_s"] = rows / step_s["load"]
        m["pipeline.stream_rows_per_s"] = sum(p.counts["delta_rows"] for p in plain) / step_s["stream"]
    m["session.warm_s"] = warm_s
    m["trace.overhead_frac"] = pass_median(traced) / pass_median(plain) - 1
    return {k: m.get(k, 0.0) for k, _ in PER_LAYER}
