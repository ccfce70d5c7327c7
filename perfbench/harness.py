"""One benchmark run: inputs, Spark session, set-up, timed loop, checks.

``Bench`` drives the engine only through its public API
(``OlapEngine.sql``, ``build_cube``, ``refresh_cube`` and the
``pipeline.*`` functions) and collects every result into this process, as a
client would. See ``perfbench/run.py`` for the command line.
"""

from __future__ import annotations

import dataclasses
import os
import statistics
import subprocess
import sys
import time
from collections import Counter

from perfbench import checks, datagen, workloads
from perfbench.trace import SparkCounters, Tracer, install_engine_spans

#: TPC-H scale factor of the generated tables, and the document and
#: embedding corpus sizes
SF = 0.01
N_DOCS = 1_000
N_VECS = 1_000
#: blocks a traced run executes: a fixed prefix of the block list
TRACE_BLOCKS = {"dashboard": 3, "ingest": 1}
#: blocks every untimed run completes, however long they take, so that
#: each run holds enough operations for its quantiles
MIN_BLOCKS = {"dashboard": 4, "ingest": 1}
#: dashboard blocks generated, more than any run gets through
LIST_BLOCKS = 400
#: the ingest workload's IVF index and its top-k batches
IVF_LISTS, IVF_PROBE, IVF_K = 16, 4, 5
IVF_MIN_RECALL = 0.5
#: host-speed calibration: a fixed one-partition Spark SQL aggregation
#: (parse, analyze, plan, two small stages, collect) timed before every op
#: of an untraced loop. CALIBRATION_REF_MS is its median on a quiet 4-vCPU
#: host; every end-to-end time is scaled by the ratio of the two medians.
CALIBRATION_SQL = (
    "select k, count(*) as n, sum(v) as s from "
    "(select id % 7 as k, id as v from range(0, 20000, 1, 1)) group by k"
)
CALIBRATION_REF_MS = 60.0
CURATE_FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}

END_TO_END_UNITS = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "ops_per_s": "1/s",
    "stored_bytes_ratio": "ratio",
    "peak_rss_mb": "MB",
}

#: (name, unit) of every per-layer metric, in report order
PER_LAYER = [
    ("session.register_views_ms", "ms"),
    ("catalyst.analyze_ms", "ms"),
    ("query.digest_ms", "ms"),
    ("query.digest_hit_ratio", "ratio"),
    ("query.router.plan_ms", "ms"),
    ("query.router.plan_calls", "count"),
    ("query.router.route_ratio", "ratio"),
    ("query.router.scan_build_ms", "ms"),
    ("query.engine.memo_hit_ratio", "ratio"),
    ("query.engine.route_kind.exact", "ratio"),
    ("query.engine.route_kind.reagg", "ratio"),
    ("query.engine.route_kind.multi", "ratio"),
    ("query.engine.route_kind.pushdown", "ratio"),
    ("query.engine.route_kind.undigestible", "ratio"),
    ("cube.layout_df_calls", "count"),
    ("query.plan_jobs", "count"),
    ("spark.exec_ms", "ms"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"),
    ("spark.input_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.no_job_ms", "ms"),
    ("py4j.calls", "count"),
    ("cube.build.tpch_cube_s", "s"),
    ("cube.build.tpch_cube_seg_s", "s"),
    ("cube.build.events_cube_s", "s"),
    ("cube.build.events_day_cube_s", "s"),
    ("cube.build.layouts", "count"),
    ("cube.build.jobs", "count"),
    ("cube.build.tasks", "count"),
    ("cube.build.output_bytes", "bytes"),
    ("cube.build.py4j_calls", "count"),
    ("cube.refresh.p50_s", "s"),
    ("cube.refresh.build_increment_s", "s"),
    ("cube.dictionary.extend_s", "s"),
    ("cube.merge.auto_merge_s", "s"),
    ("cube.merge.retention_s", "s"),
    ("cube.refresh.jobs", "count"),
    ("cube.refresh.output_bytes", "bytes"),
    ("cube.segments", "count"),
    ("pipeline.text.gate_s", "s"),
    ("pipeline.decontam.decontaminate_s", "s"),
    ("pipeline.dedup.filter_s", "s"),
    ("pipeline.sampling.split_s", "s"),
    ("pipeline.similarity.ivf_topk_s", "s"),
    ("pipeline.similarity.ivf_build_s", "s"),
    ("trace.overhead_p50_ms", "ms"),
]

#: engine.metrics keys that tell the route kind of one sql() call
_ROUTE_KEYS = ("routed_multi_context", "exact_hits", "routed", "pushdown", "undigestible")


def _cubes():
    """The cubes the workloads build. The TPC-H cubes are narrower
    lattices than the corpus's (a handful of layouts, yearly segments) so
    that set-up fits a run; they keep every routing shape the dashboard
    pool needs: exact hits, re-aggregation, snowflake dims, stored TopN,
    segment pruning and a derived dimension. The ingest cube has the
    shape of ``EVENTS_CUBE_SEG``."""
    from kylin_on_parquet_v2_spark.datasets import (
        EVENTS_CUBE,
        EVENTS_CUBE_SEG,
        TPCH_CUBE,
        TPCH_CUBE_SEG,
    )

    keep = ("_count", "count_qty", "count_price", "sum_qty", "sum_base_price",
            "min_price", "max_price", "topn_suppkey_qty")
    dims = ("l_returnflag", "l_linestatus", "o_orderpriority", "r_name", "n_name")
    tpch = dataclasses.replace(
        TPCH_CUBE,
        dimensions=dims,
        measures=tuple(m for m in TPCH_CUBE.measures if m.name in keep),
        aggregation_groups=(),
        shard_by=None,
        # {returnflag, linestatus}, {orderpriority, returnflag} and
        # {region, nation}; base and apex are always built
        cuboid_ids=(0b00011, 0b00101, 0b11000),
    )
    seg = dataclasses.replace(
        TPCH_CUBE_SEG,
        measures=tuple(m for m in TPCH_CUBE_SEG.measures if m.function.expression != "TOP_N"),
        segment_granularity="year",
        cuboid_ids=(),
    )
    day = dataclasses.replace(
        EVENTS_CUBE_SEG, name="events_day_cube", model_name="events_day_star"
    )
    return tpch, seg, EVENTS_CUBE, day


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def stolen_ms() -> float:
    """Milliseconds the hypervisor has taken from each of this machine's
    CPUs so far (the ``steal`` column of /proc/stat over the CPU count);
    0 where the kernel does not report it."""
    try:
        with open("/proc/stat") as f:
            jiffies = int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0.0
    return jiffies * 1000 / os.sysconf("SC_CLK_TCK") / os.cpu_count()


def _quantile(values: list[float], q: int) -> float:
    """The q-th percentile (q in 1..99), interpolated between samples."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Bench:
    def __init__(self, workload: str, seed: int, work_dir: str):
        self.workload, self.seed, self.work = workload, seed, work_dir
        self.src = os.path.join(work_dir, "src")
        self.tracer = Tracer()
        self.spark = None
        self.engine = None
        self.index = None
        self.report: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        t0 = time.perf_counter()
        datagen.generate(self.src, seed, SF, N_DOCS, N_VECS)
        self.report["phase.datagen_s"] = time.perf_counter() - t0

    # -- Spark -----------------------------------------------------------

    def _start_spark(self):
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # keep every file Spark, the JVM and Python workers write inside
        # the work dir; close() puts the previous values back
        import tempfile

        env = {"TMPDIR": tmp, "SPARK_LOCAL_DIRS": tmp, "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData"}
        self._saved_env = {k: os.environ.get(k) for k in env}
        self._saved_tempdir = tempfile.tempdir
        os.environ.update(env)
        tempfile.tempdir = tmp
        from pyspark import SparkContext
        from pyspark.sql import SparkSession

        cpus = len(os.sched_getaffinity(0))
        self.spark = (
            SparkSession.builder.appName(f"perfbench-{self.workload}")
            .master(f"local[{cpus}]")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
            .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
            .config("spark.sql.files.maxPartitionBytes", "128m")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.legacy.parquet.nanosAsLong", "true")
            .config("spark.driver.memory", "2g")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.local.dir", tmp)
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "warehouse"))
            .config(
                "spark.driver.extraJavaOptions",
                f"-XX:-UsePerfData -XX:TieredStopAtLevel=1 -XX:+UseSerialGC -Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={self.work}/derby",
            )
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._gateway = SparkContext._gateway
        self.counters = SparkCounters(self.spark)

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.tracer.restore()
        self.spark.stop()
        gw = self._gateway
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.spark = None
        import tempfile

        tempfile.tempdir = self._saved_tempdir
        for k, v in self._saved_env.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v

    # -- set-up ------------------------------------------------------------

    def _build(self, desc) -> None:
        t0 = time.perf_counter()
        self.engine.build_cube(desc)
        self.layer[f"cube.build.{desc.name}_s"] = time.perf_counter() - t0

    def _widen_ingest_source(self, day: int) -> None:
        """The ingest source holds the events of the first ``day`` days."""
        from pyspark.sql import functions as F

        self.spark.table("events").filter(
            F.col("ts") < F.lit(f"2024-01-{day + 1:02d} 00:00:00").cast("timestamp")
        ).createOrReplaceTempView(workloads.INGEST_SOURCE)

    def setup(self) -> None:
        """Register the sources and build what the workload serves from:
        three cubes for dashboard; the day cube over the first days and
        the IVF index for ingest."""
        from kylin_on_parquet_v2_spark.datasets import (
            EVENTS_MODEL,
            TPCH_MODEL,
            TPCH_MODEL_SEG,
        )
        from kylin_on_parquet_v2_spark.metadata import DataModel
        from kylin_on_parquet_v2_spark.query.engine import OlapEngine

        self.store = os.path.join(self.work, "store")
        self.engine = OlapEngine(self.spark, storage_dir=os.path.join(self.store, "cubes"))
        self.engine.register_sources(self.src)
        tpch, seg, events, day = _cubes()
        if self.workload == "dashboard":
            for m in (TPCH_MODEL, TPCH_MODEL_SEG, EVENTS_MODEL):
                self.engine.add_model(m)
            # independent builds over one session, overlapped the way the
            # corpus builds its standard cubes
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=3) as pool:
                list(pool.map(self._build, (tpch, seg, events)))
            return
        from kylin_on_parquet_v2_spark.pipeline import similarity

        self._widen_ingest_source(workloads.INGEST_BASE_DAYS)
        self.engine.add_model(DataModel(
            name=day.model_name, fact_table=workloads.INGEST_SOURCE, partition_column="ts",
        ))
        self._build(day)
        self.index = similarity.IVFIndex(
            self.spark, os.path.join(self.store, "ivf"), n_lists=IVF_LISTS)
        self.index.build(self.spark.table("embeddings"))

    def _timed_setup(self, trace: bool) -> None:
        if trace:
            self.tracer.on, self.tracer.op_id = True, "setup"
            j0 = self.counters.next_job()
        t0 = time.perf_counter()
        self.setup()
        self.setup_s = time.perf_counter() - t0
        if trace:
            self.tracer.on = False
            sc = self.counters.read(j0, self.counters.next_job(), 0, 0)
            self.layer["cube.build.jobs"] = sc["spark.jobs"]
            self.layer["cube.build.tasks"] = sc["spark.tasks"]
            self.layer["cube.build.py4j_calls"] = self.tracer.counts.pop("py4j.calls", 0)
            self.tracer.counts.pop("cube.layout_df_calls", None)
            self.layer["session.register_views_ms"] = 1000 * self.tracer.span_seconds(
                "session.register_views", {"setup"})
            self.layer["pipeline.similarity.ivf_build_s"] = self.tracer.span_seconds(
                "pipeline.similarity.ivf_build", {"setup"})
        self.layer["cube.build.layouts"] = sum(
            len(c.layouts) for c in self.engine.cubes.values())
        self.layer["cube.build.output_bytes"] = _dir_bytes(os.path.join(self.store, "cubes"))

    # -- operations ---------------------------------------------------------

    def blocks(self) -> list[list]:
        if self.workload == "dashboard":
            return workloads.dashboard_ops(self.seed, LIST_BLOCKS)
        return workloads.ingest_ops(self.seed, N_DOCS, N_VECS)

    def _curate(self, lo: int):
        from pyspark.sql import functions as F

        from kylin_on_parquet_v2_spark.pipeline import decontam, dedup, sampling, text

        docs = self.spark.table("documents").filter(
            F.col("doc_id").between(lo, lo + workloads.CURATE_SLICE_DOCS - 1)
        )
        eval_docs = docs.filter(F.col("doc_id") % 29 == 0)
        gated = text.quality_quantile_gate(docs, metric_col="n_chars", group_col="lang", q=0.25)
        clean = decontam.decontaminate(gated, eval_docs, n=5, max_ratio=0.0)
        kept = dedup.dedup_filter(clean)
        out = sampling.split_corpus(kept, CURATE_FRACTIONS)
        return out.groupBy("split", "source").agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars")
        )

    def _ivf(self, lo: int):
        from pyspark.sql import functions as F

        queries = self.spark.table("embeddings").filter(
            F.col("vec_id").between(lo, lo + workloads.IVF_BATCH - 1)
        )
        return self.index.topk(queries, k=IVF_K, n_probe=IVF_PROBE)

    def run_op(self, op, plan_done=None):
        """Execute one operation; return (columns, rows), or for a refresh
        the segments it built. ``plan_done`` runs between planning and the
        result action."""
        if op.kind == "refresh":
            self._widen_ingest_source(op.arg)
            return self.engine.refresh_cube("events_day_cube")
        if op.kind == "sql":
            df = self.engine.sql(op.text)
        elif op.kind == "curate":
            df = self._curate(op.arg)
        else:
            df = self._ivf(op.arg)
        if plan_done is not None:
            plan_done()
        return df.columns, df.collect()

    def _duckdb(self):
        """A DuckDB connection with a view over every source Parquet file:
        the checks' reference engine."""
        import duckdb

        con = duckdb.connect()
        con.execute("set TimeZone = 'UTC'")
        for name in sorted(os.listdir(self.src)):
            if name.endswith(".parquet"):
                con.execute(f"create view {name[:-8]} as select * from '{self.src}/{name}'")
        return con

    def warmup(self) -> None:
        """Untimed: JIT, codegen and Python workers, through queries of
        every template whose texts no timed query uses."""
        self.spark.sql(CALIBRATION_SQL).collect()
        for t in workloads.warmup_texts(self.workload, self.seed):
            self.engine.sql(t).collect()
        if self.workload == "dashboard":
            return
        self._curate(N_DOCS - workloads.CURATE_SLICE_DOCS).collect()
        self._ivf(N_VECS - workloads.IVF_BATCH).collect()

    # -- the measured loop ---------------------------------------------------

    def run(self, seconds: int, trace: bool) -> dict:
        phase = time.perf_counter()

        def mark(name):
            nonlocal phase
            now = time.perf_counter()
            self.report[f"phase.{name}_s"] = now - phase
            phase = now

        self._start_spark()
        mark("spark_start")
        if trace:
            install_engine_spans(self.tracer)
        self._timed_setup(trace)
        mark("setup")
        self.warmup()
        blocks = self.blocks()
        mark("warmup")
        if trace:
            done = self._loop(blocks[: TRACE_BLOCKS[self.workload]], None, trace=True)
        else:
            done = self._loop(blocks, seconds, trace=False)
        mark("loop")
        self._done = done
        failed = self._check(done)
        mark("check")
        attempted = len(done)
        # latency is the SQL queries' (all dashboard ops; ingest's reads);
        # ingest's refreshes, curation and IVF batches count in ops_per_s
        lat = [d["ms"] for d in done if d["op"].kind == "sql"]
        self.report["failed_ratio"] = failed / max(attempted, 1)
        self.report["ops_timed"] = len(lat)
        self.report["blocks"] = self.n_blocks
        self.report["host_stolen_share"] = self.loop_stolen_s / self.loop_s
        refresh = [d["ms"] / 1000 for d in done if d["op"].kind == "refresh"]
        if refresh:
            self.report["refresh_p50_s"] = statistics.median(refresh)
        if trace:
            metrics = self._layer_metrics(done)
        else:
            # times as if on the reference host: the calibration ran no
            # engine code, so a change to the engine still moves them
            scale = CALIBRATION_REF_MS / statistics.median(self.calibration_ms)
            self.report["host_speed_scale"] = scale
            self.report["raw.setup_s"] = self.setup_s
            self.report["raw.latency_p50_ms"] = _quantile(lat, 50)
            self.report["raw.latency_p90_ms"] = _quantile(lat, 90)
            self.report["raw.ops_per_s"] = attempted / self.loop_s
            e2e = {
                "setup_s": self.setup_s * scale,
                "latency_p50_ms": _quantile(lat, 50) * scale,
                "latency_p90_ms": _quantile(lat, 90) * scale,
                "ops_per_s": attempted / self.loop_s / scale,
                "stored_bytes_ratio": self._stored_ratio(),
                "peak_rss_mb": self._peak_rss_mb(),
            }
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
            "report": self.report,
        }

    def _loop(self, blocks: list[list], seconds: int | None, trace: bool) -> list[dict]:
        """Run whole blocks: at least MIN_BLOCKS, then more until
        ``seconds`` have passed (or exactly the given blocks, when
        ``seconds`` is None). A traced loop traces every other SQL query
        and every refresh, curation and IVF batch; the untraced queries
        measure the tracing overhead. An untraced loop times CALIBRATION_SQL before every op,
        outside the loop's own time."""
        done = []
        self.n_blocks = 0
        self.calibration_ms: list[float] = []
        n_sql = 0
        steal0 = stolen_ms()
        t_start = time.perf_counter()
        for block in blocks:
            if (seconds is not None and self.n_blocks >= MIN_BLOCKS[self.workload]
                    and time.perf_counter() - t_start - sum(self.calibration_ms) / 1000
                    >= seconds):
                break
            for op in block:
                if not trace:
                    t0 = time.perf_counter()
                    self.spark.sql(CALIBRATION_SQL).collect()
                    self.calibration_ms.append((time.perf_counter() - t0) * 1000)
                traced = trace and (op.kind != "sql" or n_sql % 2 == 0)
                n_sql += op.kind == "sql"
                rec = self._one(op, traced)
                rec["traced"] = traced
                done.append(rec)
            self.n_blocks += 1
        self.loop_s = time.perf_counter() - t_start - sum(self.calibration_ms) / 1000
        self.loop_stolen_s = (stolen_ms() - steal0) / 1000
        return done

    def _one(self, op, trace: bool) -> dict:
        rec = {"op": op, "error": None, "result": None}
        before = Counter(self.engine.metrics) if op.kind == "sql" else None
        marks = {}
        if trace:
            tr = self.tracer
            j0 = self.counters.next_job()
            t0_ms = time.time() * 1000

            def plan_done():
                tr.on = False
                marks["plan_jobs"] = self.counters.next_job() - j0
                marks["t_plan"] = time.perf_counter()
                tr.on = True

            tr.op_id, tr.on = id(rec), True
        t0 = time.perf_counter()
        try:
            rec["result"] = self.run_op(op, plan_done if trace else None)
        except Exception as exc:  # a failed operation is counted, not fatal
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        t1 = time.perf_counter()
        rec["ms"] = (t1 - t0) * 1000
        if trace:
            tr.on = False
            rec["trace_id"] = id(rec)
            rec["exec_ms"] = (t1 - marks.get("t_plan", t1)) * 1000
            rec["spark"] = self.counters.read(
                j0, self.counters.next_job(), t0_ms, time.time() * 1000)
            rec["plan_jobs"] = marks.get("plan_jobs", 0)
            rec["py4j"] = tr.counts.pop("py4j.calls", 0)
            rec["layout_df"] = tr.counts.pop("cube.layout_df_calls", 0)
        if before is not None:
            delta = Counter(self.engine.metrics)
            delta.subtract(before)
            rec["kind"] = next((k for k in _ROUTE_KEYS if delta[k] > 0), "pushdown")
            rec["memo_hit"] = delta["route_memo_hits"] > 0
        if op.kind == "refresh":
            rec["segments"] = len(self.engine.cubes["events_day_cube"].segments(self.spark))
            rec["store_bytes"] = _dir_bytes(os.path.join(self.store, "cubes"))
        return rec

    # -- checks --------------------------------------------------------------

    def _check(self, done: list[dict]) -> int:
        """Count failed ops: an exception or a result that differs from the
        reference answer. Runs after the timed loop."""
        con = self._duckdb()
        if self.workload == "dashboard":
            refs: dict = {}
            for rec in done:
                text = rec["op"].text
                if rec["error"] is None:
                    if text not in refs:
                        refs[text] = checks.duckdb_result(con, text)
                    rec["ok"] = checks.same_result(checks.canonical(*rec["result"]), refs[text])
        else:
            self._check_ingest(done, con)
        con.close()
        bad = [r for r in done if not r.get("ok", False)]
        if bad:
            print(f"perfbench: {len(bad)} failed ops, first: {bad[0]['op'].template} "
                  f"{bad[0]['error']}", file=sys.stderr)
        return len(bad)

    def _check_ingest(self, done: list[dict], con) -> None:
        """Each refresh cubed exactly its new day; each read equals DuckDB's
        answer over the source Parquet as widened at its step; curation
        stats equal the corpus's DuckDB oracle for the same slice; IVF
        batches keep recall@k at or above IVF_MIN_RECALL."""
        import numpy as np
        import pyarrow.parquet as pq

        from kylin_on_parquet_v2_spark.corpus.pipeline import ORACLES

        col = pq.read_table(f"{self.src}/embeddings.parquet").column("embedding")
        vecs = np.array(col.to_pylist(), dtype=np.float64)
        expected: dict = {}
        day = workloads.INGEST_BASE_DAYS
        for rec in done:
            op = rec["op"]
            if op.kind == "refresh":
                day = op.arg
            if rec["error"] is not None:
                continue
            if op.kind == "refresh":
                rec["ok"] = rec["result"] == [f"2024-01-{day:02d}"]
            elif op.kind == "sql":
                con.execute(
                    f"create or replace view {workloads.INGEST_SOURCE} as select * from "
                    f"'{self.src}/events.parquet' "
                    f"where ts < timestamp '2024-01-{day + 1:02d} 00:00:00'"
                )
                rec["ok"] = checks.same_result(
                    checks.canonical(*rec["result"]), checks.duckdb_result(con, op.text))
            elif op.kind == "curate":
                if op.arg not in expected:
                    hi = op.arg + workloads.CURATE_SLICE_DOCS - 1
                    con.execute(
                        "create or replace view documents as select * from "
                        f"'{self.src}/documents.parquet' where doc_id between {op.arg} and {hi}"
                    )
                    expected[op.arg] = checks.duckdb_result(con, ORACLES["pipeline_end_to_end"])
                rec["ok"] = checks.same_result(checks.canonical(*rec["result"]), expected[op.arg])
            else:
                truth = checks.cosine_topk(vecs, range(op.arg, op.arg + workloads.IVF_BATCH), IVF_K)
                cols, rows = rec["result"]
                qi, ci = cols.index("query_id"), cols.index("cand_id")
                rec["recall"] = len({(r[qi], r[ci]) for r in rows} & truth) / len(truth)
                rec["ok"] = rec["recall"] >= IVF_MIN_RECALL
        recalls = [r["recall"] for r in done if "recall" in r]
        if recalls:
            self.report["ivf_recall_at_k.min"] = min(recalls)

    # -- metrics ---------------------------------------------------------------

    def _stored_ratio(self) -> float:
        """Cube bytes on disk per source Parquet byte the cubes cover."""
        size = lambda t: os.path.getsize(os.path.join(self.src, f"{t}.parquet"))  # noqa: E731
        if self.workload == "dashboard":
            tables = ("lineitem", "orders", "part", "supplier", "customer",
                      "nation", "region", "events")
            return self.layer["cube.build.output_bytes"] / sum(size(t) for t in tables)
        # ingest: the median over refreshes, each against the share of the
        # events file its source covered
        import numpy as np
        import pyarrow.parquet as pq

        ts = pq.read_table(f"{self.src}/events.parquet", columns=["ts"]).column("ts")
        days = (np.array(ts.to_numpy(), dtype="datetime64[D]")
                - np.datetime64("2024-01-01", "D")).astype(int)
        points = [(workloads.INGEST_BASE_DAYS, self.layer["cube.build.output_bytes"])]
        points += [(d["op"].arg, d["store_bytes"]) for d in self._done
                   if d["op"].kind == "refresh" and d["error"] is None]
        return statistics.median(
            b / (size("events") * float(np.mean(days < n))) for n, b in points)

    def _peak_rss_mb(self) -> float:
        """Peak resident memory of this process and its descendants (the
        JVM and its Python workers)."""
        pids = [os.getpid()] + _descendants(os.getpid())
        return sum(_vm_hwm_kb(p) for p in pids) / 1024

    def _layer_metrics(self, done: list[dict]) -> dict:
        """Per-layer metrics from the traced ops: query-path metrics per
        traced SQL op, Spark and py4j counts per traced op, pipeline spans
        per traced op of their kind, refresh metrics per refresh."""
        tr = self.tracer
        ops = [d for d in done if d["traced"] and d["op"].kind != "refresh"]
        untraced = [d for d in done if not d["traced"] and d["op"].kind != "refresh"]
        by_kind = {k: [d for d in done if d["traced"] and d["op"].kind == k]
                   for k in ("sql", "curate", "ivf", "refresh")}
        ids = {k: {d["trace_id"] for d in v} for k, v in by_kind.items()}
        layer = {name: 0.0 for name, _ in PER_LAYER}
        layer.update(self.layer)

        def per_op(span: str, kind: str, scale: float = 1.0) -> float:
            n = len(by_kind[kind])
            return scale * tr.span_seconds(span, ids[kind]) / n if n else 0.0

        layer["catalyst.analyze_ms"] = per_op("catalyst.analyze", "sql", 1000)
        layer["query.digest_ms"] = (per_op("query.digest", "sql", 1000)
                                    + per_op("query.digest.multi", "sql", 1000))
        layer["query.router.plan_ms"] = per_op("query.router.plan", "sql", 1000)
        layer["query.router.scan_build_ms"] = per_op("query.router.scan_build", "sql", 1000)
        calls = tr.counts
        if calls["query.digest.calls"]:
            layer["query.digest_hit_ratio"] = (
                calls["query.digest.hits"] / calls["query.digest.calls"])
        if calls["query.router.plan.calls"]:
            layer["query.router.route_ratio"] = (
                calls["query.router.plan.hits"] / calls["query.router.plan.calls"])
        sql = by_kind["sql"]
        if sql:
            layer["query.router.plan_calls"] = calls["query.router.plan.calls"] / len(sql)
            layer["cube.layout_df_calls"] = sum(d["layout_df"] for d in sql) / len(sql)
            layer["query.engine.memo_hit_ratio"] = sum(d["memo_hit"] for d in sql) / len(sql)
            kinds = Counter(d["kind"] for d in sql)
            for key, name in (("exact_hits", "exact"), ("routed", "reagg"),
                              ("routed_multi_context", "multi"), ("pushdown", "pushdown"),
                              ("undigestible", "undigestible")):
                layer[f"query.engine.route_kind.{name}"] = kinds[key] / len(sql)
        for d in ops:
            for k, v in d["spark"].items():
                layer[k] += v / len(ops)
            layer["spark.exec_ms"] += d["exec_ms"] / len(ops)
            layer["query.plan_jobs"] += d["plan_jobs"] / len(ops)
            layer["py4j.calls"] += d["py4j"] / len(ops)
        for span in ("pipeline.text.gate", "pipeline.decontam.decontaminate",
                     "pipeline.dedup.filter", "pipeline.sampling.split"):
            layer[f"{span}_s"] = per_op(span, "curate")
        layer["pipeline.similarity.ivf_topk_s"] = per_op("pipeline.similarity.ivf_topk", "ivf")
        refresh = by_kind["refresh"]
        if refresh:
            layer["cube.refresh.p50_s"] = statistics.median(d["ms"] / 1000 for d in refresh)
            for span in ("cube.refresh.build_increment", "cube.dictionary.extend",
                         "cube.merge.auto_merge", "cube.merge.retention"):
                layer[f"{span}_s"] = per_op(span, "refresh")
            layer["cube.refresh.jobs"] = (
                sum(d["spark"]["spark.jobs"] for d in refresh) / len(refresh))
            layer["cube.refresh.output_bytes"] = (
                refresh[-1]["store_bytes"] - self.layer["cube.build.output_bytes"]
            ) / len(refresh)
            layer["cube.segments"] = refresh[-1]["segments"]
        # overhead: per template, traced minus untraced median latency
        # (SQL queries alternate between traced and untraced, and a
        # template recurs at both parities); the median over templates
        diffs = []
        for name in {d["op"].template for d in ops}:
            t = [d["ms"] for d in ops if d["op"].template == name]
            u = [d["ms"] for d in untraced if d["op"].template == name]
            if u:
                diffs.append(statistics.median(t) - statistics.median(u))
        if diffs:
            layer["trace.overhead_p50_ms"] = statistics.median(diffs)
        units = dict(PER_LAYER)
        return {k: {"value": float(layer[k]), "unit": units[k]} for k in units}
