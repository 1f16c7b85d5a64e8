#!/usr/bin/env python3
"""End-to-end benchmark of the engine, with per-layer counts.

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Run from the repository root. One invocation is one process with one
JVM on ``local[4]``. It generates its inputs from ``--seed``, sets the
session up, warms up, times at least two whole passes over the
workload's ops (more while ``--seconds`` have not passed), checks every
op's output, and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (and writes
the spans under ``.perfbench_out/``). A line before it, ``{"context":
...}``, carries what explains a noisy run (steal, load, JIT and GC
time) and, with ``--trace 1``, the end-to-end metrics of the traced run.
The exit code is 0 only when every op succeeded with the expected
output. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import stats  # noqa: E402

#: Relational ops: TPC-H shapes, the as-of join, rollup, top-k per group,
#: distinct aggregates and the reference's ETL transform. They include
#: every relational op that ROADMAP.md names as an optimization target.
QUERIES = [
    "q1_pricing_summary", "q3_shipping_priority", "q5_region_revenue",
    "q7_nation_volume", "q16_supplier_part_stats", "q18_large_volume_customer",
    "join_asof", "agg_rollup", "topk_per_group", "agg_distinct", "etl_flagship",
]
ANALYTICS_PY = [
    "dedup_minhash_lsh", "sim_ivf_ann", "sim_bruteforce_topk",
    "text_tfidf_topterms", "multimodal_features", "udf_grouped_zscore",
    "udf_pandas_scalar", "bpe_train_merges", "kmeans_train", "graph_kcore",
    "corpus_curation_pipeline",
]
#: The ops a registry workload runs. ``queries`` also runs one pandas
#: UDF, so the Python/Arrow worker layer is measured in every benchmark
#: run; ``analytics_py`` runs the whole Python-heavy set.
OPS = {
    "queries": QUERIES + ["udf_pandas_scalar"],
    "analytics_py": ANALYTICS_PY,
}
#: Size of the generated tables both registry workloads read: lineitem
#: has 6M × sf rows (18k), and there are 500 documents and embeddings.
TABLES = dict(sf=0.003, n_docs=500, n_vecs=500)
#: ingest: history rows in the upsert target at the start of each pass,
#: and the landed files drained in each pass (one micro-batch per file).
INGEST = dict(n_history=10_000, n_files=12, rows_per_file=500)
#: Files drained after the history by the untimed warm-up; what they
#: upsert is part of the target every pass starts from.
INGEST_WARMUP_FILES = 1
WORKLOADS = ("queries", "ingest", "analytics_py")
MIN_PASSES = 2
#: CPU-speed sample that times are scaled to: about the mean
#: ``layers.SpeedSampler`` sample on this box when its CPUs run fast.
SPEED_REF_S = 0.0016

E2E = ("setup_s", "op_p50_s", "op_tail_s", "rows_per_s", "work_cpu_s")
UNITS = {"setup_s": "s", "op_p50_s": "s", "op_tail_s": "s",
         "rows_per_s": "1/s", "work_cpu_s": "s"}
SPARK_LAYERS = {
    "spark.jobs": ("jobs", 1, "count"),
    "spark.stages": ("stages", 1, "count"),
    "spark.tasks": ("numTasks", 1, "count"),
    "spark.task_cpu_s": ("executorCpuTime", 1e-9, "s"),
    "spark.task_run_s": ("executorRunTime", 1e-3, "s"),
    "spark.gc_s": ("jvmGcTime", 1e-3, "s"),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1, "bytes"),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1, "bytes"),
    "spark.spill_bytes": ("diskBytesSpilled", 1, "bytes"),
    "spark.input_records": ("inputRecords", 1, "count"),
}


# ----------------------------------------------------------------- tracing


class Tracer:
    """Spans around each layer call the benchmark makes. Kept in memory
    and written out once the run ends; a disabled tracer records
    nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, pass_no: int | None = None):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "op": op, "pass": pass_no}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: its duration minus that of its
        direct children."""
        def duration(s):
            return s["duration_s"] if s["start"] is None else s["end"] - s["start"]

        out: dict[str, float] = {}
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += duration(s)
        for i, s in enumerate(self.spans):
            out[s["name"]] = out.get(s["name"], 0.0) + duration(s) - child[i]
        return {k: round(v, 6) for k, v in sorted(out.items())}


# --------------------------------------------------------------- isolation


def isolate(run_dir: str) -> dict[str, str]:
    """Point every scratch location of the run into ``run_dir``: operators
    stage fixtures under ``tempfile.gettempdir()`` keyed only by the
    input fingerprint, so a shared temp dir would let two runs reuse
    each other's fixtures. Puts the repository on ``PYTHONPATH`` for the
    Python workers. Returns the Spark confs that do the same in the JVM."""
    tmp, local = os.path.join(run_dir, "tmp"), os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    os.chdir(run_dir)
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir} -XX:-UsePerfData",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session, then the JVM and the Python workers under it,
    and wait for each to end."""
    from layers import proc_children
    from pyspark import SparkContext

    kids, todo, workers = proc_children(), [jvm_pid], []
    while todo:
        pid = todo.pop()
        workers.extend(kids.get(pid, []))
        todo.extend(kids.get(pid, []))
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 10
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


# -------------------------------------------------------------- workloads


class Run:
    """State shared by the workloads of one invocation."""

    def __init__(self, args, run_dir: str, spark, jvm, tracer: Tracer):
        self.args, self.run_dir, self.spark, self.jvm = args, run_dir, spark, jvm
        self.tracer = tracer
        self.rng = random.Random(args.seed)
        self.samples: list[tuple[str, int, float]] = []  # (op, pass, wall)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []  # per-pass totals
        self.op_layers: list[dict] = []  # per-op layer timings
        self.t_first_op: float | None = None
        self.t_timed_end: float | None = None
        self.at_first_op = (0.0, 0.0)  # JIT ms, GC ms
        #: (busy, stolen) CPU seconds of the box at the run's start, the
        #: first timed op and the end of the timed passes
        self.cpu_marks: dict[str, tuple[float, float]] = {}
        self.extra: dict = {}

    def start_timing(self) -> None:
        """Mark the end of set-up: the first timed op starts now."""
        from layers import cpu_busy_steal

        self.t_first_op = time.time()
        self.cpu_marks["first_op"] = cpu_busy_steal()
        self.at_first_op = self.jvm.jit_gc_ms()

    def end_timing(self) -> None:
        """Mark the end of the timed passes."""
        from layers import cpu_busy_steal

        self.t_timed_end = time.time()
        self.cpu_marks["timed_end"] = cpu_busy_steal()

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.errors.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def check_output(self, pins: stats.Pins, name: str, group: str, got) -> bool:
        """Compare an op's (rows, checksum) with its pin; a mismatch
        fails the op."""
        if pins.check(name, got):
            return True
        self.fail(f"{group}: output {pins.mismatches[-1]}")
        return False

    @property
    def correct(self) -> bool:
        return self.failed == 0 and self.attempted > 0

    def measuring(self, t0: float, n_done: int) -> bool:
        """Whether to start another pass: passes are whole, and there are
        at least ``MIN_PASSES`` so that every op is timed more than once."""
        return n_done < MIN_PASSES or time.perf_counter() - t0 < self.args.seconds


def run_registry(run: Run, names: list[str]) -> None:
    """queries / analytics_py: passes over registered ops, each op one
    ``Query.fn`` call plus the hash sink, in a seeded order per pass."""
    from aws_etl_pipeline_spark.cache import clear_persisted
    from aws_etl_pipeline_spark.registry import all_queries
    from pyspark.sql import functions as F

    from layers import python_workers_cpu_s

    spark, jvm, tr = run.spark, run.jvm, run.tracer
    sc = spark.sparkContext
    sf_dir = os.path.join(run.run_dir, "data")
    with tr.span("inputs"):
        datagen.tables(sf_dir, run.args.seed, **TABLES)
    registry = all_queries()
    pins = stats.Pins()

    def one_op(name: str, pass_no: int, timed: bool) -> None:
        group = f"{name}#{pass_no}"
        sc.setJobGroup(group, group)
        cpu0 = jvm.thread_cpu_s()
        if timed and run.t_first_op is None:
            run.start_timing()
        if timed:
            run.attempted += 1
        try:
            with tr.span("op", name, pass_no):
                t0 = time.perf_counter()
                with tr.span("fn", name, pass_no):
                    df = registry[name].fn(spark, sf_dir)
                t1 = time.perf_counter()
                if tr.enabled:
                    with tr.span("optimize", name, pass_no):
                        df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                with tr.span("sink", name, pass_no):
                    row = df.agg(F.count(F.lit(1)),
                                 F.sum(F.xxhash64(*df.columns))).collect()[0]
                t3 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - any op failure is counted
            traceback.print_exc()
            if timed:
                run.fail(f"{group}: {type(e).__name__}: {e}"[:500])
            else:
                run.errors.append(f"warm-up {group}: {type(e).__name__}")
            clear_persisted()
            return
        cpu = jvm.thread_cpu_s() - cpu0
        persisted = clear_persisted()
        got = (int(row[0]), int(row[1] or 0))
        if not timed:
            pins.check(name, got)
            return
        if not run.check_output(pins, name, group, got):
            return
        run.samples.append((name, pass_no, t3 - t0))
        run.op_layers.append({"op": name, "pass": pass_no, "group": group,
                              "build": t1 - t0, "optimize": t2 - t1,
                              "sink": t3 - t2, "driver_cpu": cpu,
                              "persisted": persisted})

    with tr.span("warmup"):
        for name in run.rng.sample(names, len(names)):
            one_op(name, -1, timed=False)
    # an op that failed in warm-up still runs in every pass; its first
    # timed output becomes its pin
    t_measure, pass_no = time.perf_counter(), 0
    while run.measuring(t_measure, pass_no):
        py0 = python_workers_cpu_s(jvm.pid)
        first = len(run.op_layers)
        with tr.span("pass", None, pass_no):
            for name in run.rng.sample(names, len(names)):
                one_op(name, pass_no, timed=True)
        py = python_workers_cpu_s(jvm.pid) - py0
        ops = run.op_layers[first:]
        jvm.drain_listener_bus()
        groups = {o["group"]: [] for o in ops}
        n_jobs = 0
        for g in groups:
            ids = sc.statusTracker().getJobIdsForGroup(g)
            n_jobs += len(ids)
            groups[g] = jvm.stage_records(ids)
        rolled = stats.rollup_stages(groups)
        tot = {f: sum(r[f] for r in rolled.values())
               for f in stats.STAGE_FIELDS + ("stages",)}
        tot["jobs"] = n_jobs
        wall = sum(o["build"] + o["optimize"] + o["sink"] for o in ops)
        driver = sum(o["driver_cpu"] for o in ops)
        run.passes.append({
            "wall": wall, "rows": tot["inputRecords"], "spark": tot,
            "python_cpu": py, "driver_cpu": driver,
            "persisted": sum(o["persisted"] for o in ops),
            "work_cpu": tot["executorCpuTime"] / 1e9 + driver + py,
        })
        pass_no += 1
    run.end_timing()
    sc.setJobGroup("perfbench", "perfbench")
    with tr.span("oracle"):
        check_oracles(run, registry, names, sf_dir, pins)
    run.extra["pins"] = {k: list(v) for k, v in sorted(pins.pins.items())}


def check_oracles(run: Run, registry, names: list[str], sf_dir: str,
                  pins: stats.Pins) -> None:
    """After the timed passes, run each op once more, collect its output
    and compare it with the op's DuckDB oracle over the same tables, the
    way ``tools/check.py`` does. Its row count must also equal the pin.
    A wrong op fails each of its timed attempts: the pins only show that
    the passes agree, not that they are right. The ops run four at a
    time, since nothing here is timed."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb
    from aws_etl_pipeline_spark.cache import clear_persisted
    from aws_etl_pipeline_spark.schemas import TABLE_NAMES
    from tools.check import compare

    def collect(name: str):
        try:
            df = registry[name].fn(run.spark, sf_dir)
            return df.columns, [tuple(r) for r in df.collect()], None
        except Exception as e:  # noqa: BLE001 - a failed check fails the op
            traceback.print_exc()
            return None, None, f"{type(e).__name__}: {e}"

    with ThreadPoolExecutor(4) as pool:
        outputs = dict(zip(names, pool.map(collect, names)))
    clear_persisted()
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(sf_dir, t)}.parquet')")
    for name, (cols, rows, error) in sorted(outputs.items()):
        problems = [error] if error else []
        if not error and name in pins.pins and len(rows) != pins.pins[name][0]:
            problems.append(f"rows {len(rows)}, pinned {pins.pins[name][0]}")
        if not error and registry[name].oracle is not None:
            try:
                cur = con.execute(registry[name].oracle)
                problems += compare(rows, cols, cur.fetchall(),
                                    [d[0] for d in cur.description])
            except Exception as e:  # noqa: BLE001
                problems.append(f"oracle {type(e).__name__}: {e}")
        if problems:
            timed = [s for s in run.samples if s[0] == name]
            run.samples = [s for s in run.samples if s[0] != name]
            run.fail(f"{name}: oracle check: {'; '.join(problems)}"[:500], len(timed))
    con.close()


class ThreadCpuSampler:
    """Samples the CPU time of the driver JVM's non-task threads while a
    drain runs, so threads that end with the drain (the stream-execution
    thread) still count, less whatever such a thread spends after the
    last sample. It samples from a Python thread, and leaves that
    thread's own pinned JVM thread out of the sums. Each sample is four
    py4j calls, so it samples only every ``period_s``."""

    def __init__(self, jvm, period_s: float = 0.25):
        self.jvm, self.period = jvm, period_s
        self.first: dict[int, float] = {}
        self.last: dict[int, float] = {}
        self.error: Exception | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        try:
            own = {self.jvm.current_thread_id()}
            while True:
                for tid, cpu in self.jvm.driver_threads_cpu_s(own).items():
                    self.first.setdefault(tid, cpu)
                    self.last[tid] = cpu
                if self._stop.wait(self.period):
                    return
        except Exception as e:  # noqa: BLE001 - reported by the caller
            self.error = e

    def __enter__(self):
        self.first.update(self.jvm.driver_threads_cpu_s())
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def cpu_s(self) -> float:
        return sum(self.last[t] - self.first.get(t, 0.0) for t in self.last)


def run_ingest(run: Run) -> None:
    """ingest: drain the landed CSV files through
    ``run_pipeline_available_now`` into the parquet upsert target and a
    fresh JSON directory, one micro-batch per file. The warm-up drains
    the seeded history and a few more files into an empty target, which
    becomes the target every pass starts from."""
    from aws_etl_pipeline_spark.streaming.ingest import (
        _drain,
        run_pipeline_available_now,
    )
    from pyspark.sql import functions as F

    from layers import python_workers_cpu_s

    spark, jvm, tr, d = run.spark, run.jvm, run.tracer, run.run_dir
    land, base = os.path.join(d, "landing"), os.path.join(d, "target_base")
    warm_land, target = os.path.join(d, "landing_warmup"), os.path.join(d, "target")
    with tr.span("inputs"):
        inputs = datagen.ingest_inputs(
            run.args.seed, INGEST["n_history"],
            INGEST_WARMUP_FILES + INGEST["n_files"], INGEST["rows_per_file"])
        warm_files = [inputs.history] + inputs.files[:INGEST_WARMUP_FILES]
        files = inputs.files[INGEST_WARMUP_FILES:]
        csv_bytes = 0
        for folder, batch_files in ((warm_land, warm_files), (land, files)):
            os.makedirs(folder)
            for i, rows in enumerate(batch_files):
                path = os.path.join(folder, f"transactions-{i:03d}.csv")
                size = datagen.write_csv(path, rows)
                csv_bytes += size if folder == land else 0
                os.utime(path, (1_000_000_000 + 10 * i,) * 2)  # drain order
        want_target = stats.ingest_expectation(inputs.history, inputs.files)[0]
        want_json = stats.ingest_expectation([], files)[1]
        for fname, ids in (("want_target", want_target), ("want_json", want_json)):
            with open(os.path.join(d, fname), "w") as fh:
                fh.write("\n".join(ids) + "\n")

    def fingerprint(df):
        r = df.agg(F.count(F.lit(1)), F.sum(F.xxhash64("transaction_id"))).collect()[0]
        return int(r[0]), int(r[1] or 0)

    want = {k: fingerprint(spark.read.text(os.path.join(d, k))
                           .withColumnRenamed("value", "transaction_id"))
            for k in ("want_target", "want_json")}
    rows_landed = sum(len(f) for f in files)
    n_files = len(files)

    def one_pass(pass_no: int, timed: bool, source: str = land) -> None:
        shutil.rmtree(target, ignore_errors=True)
        if timed and os.path.isdir(base):
            shutil.copytree(base, target)
        json_out = os.path.join(d, "json", f"p{pass_no + 1}")
        spark.conf.set("spark.sql.streaming.checkpointLocation",
                       os.path.join(d, "checkpoints", f"p{pass_no + 1}"))
        if timed:
            run.attempted += n_files
            if run.t_first_op is None:
                run.start_timing()
        job0 = jvm.next_job_id()
        py0 = python_workers_cpu_s(jvm.pid)
        q = None
        try:
            with ThreadCpuSampler(jvm) as sampler, tr.span("drain", None, pass_no):
                t0 = time.perf_counter()
                q = run_pipeline_available_now(
                    spark, source, json_out=json_out, upsert_path=target)
                _drain(q)
                wall = time.perf_counter() - t0
            progress = q.recentProgress
        except Exception as e:  # noqa: BLE001 - a failed drain is counted
            traceback.print_exc()
            if q is not None:
                q.stop()
            if timed:
                run.fail(f"drain {pass_no}: {type(e).__name__}: {e}"[:500], n_files)
            return
        py = python_workers_cpu_s(jvm.pid) - py0
        job1 = jvm.next_job_id()
        if not timed:
            os.rename(target, base)
            return
        got_target = fingerprint(spark.read.parquet(target))
        got_json = fingerprint(spark.read.schema("transaction_id string").json(json_out))
        bad = [f"{k}: want {want[k]}, got {g}" for k, g in
               (("want_target", got_target), ("want_json", got_json)) if g != want[k]]
        if bad or len(progress) != n_files:
            run.fail(f"drain {pass_no}: batches {len(progress)}/{n_files}; "
                     + "; ".join(bad), n_files)
            return
        jvm.drain_listener_bus()
        ids = range(job0, job1)
        drain_span = len(tr.spans) - 1 if tr.enabled else None
        tot = stats.rollup_stages({"drain": jvm.stage_records(ids)})["drain"]
        tot["jobs"] = len(ids)
        for p in progress:
            dur = p["durationMs"]
            trig, add = dur["triggerExecution"] / 1e3, dur.get("addBatch", 0) / 1e3
            run.samples.append((f"batch{p['batchId']}", pass_no, trig))
            run.op_layers.append({"add_batch": add, "overhead": trig - add})
            if tr.enabled:  # the batch as reported by the stream itself
                tr.spans.append({"name": "batch", "start": None, "end": None,
                                 "parent": drain_span, "op": f"batch{p['batchId']}",
                                 "pass": pass_no, "duration_s": trig,
                                 "timestamp": p["timestamp"]})
        driver = sampler.cpu_s()
        if sampler.error is not None:
            run.errors.append(f"drain {pass_no}: CPU sampler: {sampler.error!r}"[:500])
        run.passes.append({
            "wall": wall, "rows": rows_landed, "spark": tot, "python_cpu": py,
            "driver_cpu": driver, "persisted": 0,
            "work_cpu": tot["executorCpuTime"] / 1e9 + driver + py,
            "batches": len(progress),
            "rows_in": sum(p["numInputRows"] for p in progress),
            "target_rows": got_target[0],
            "bytes_written": tot["outputBytes"],
        })

    with tr.span("warmup"):
        one_pass(-1, timed=False, source=warm_land)
    t_measure, pass_no = time.perf_counter(), 0
    while run.measuring(t_measure, pass_no):
        one_pass(pass_no, timed=True)
        pass_no += 1
    run.end_timing()
    run.extra.update(rows_landed=rows_landed, csv_bytes=csv_bytes)


# ---------------------------------------------------------------- metrics


def end_to_end(run: Run, setup_s: float, speed: list[tuple[float, float]]):
    """(metrics, raw, slowness): the end-to-end metrics in seconds of a
    box that runs at the reference speed with nothing stolen, the same
    as measured, and the box's slowness in set-up and in the timed
    passes. Slowness has two factors. ``steal`` is the time the CPUs
    wanted to run over the time they ran, the rest being stolen by the
    hypervisor for its other guests. ``cycles`` is the mean CPU time of
    the CPU-speed loop taken in that stretch over ``SPEED_REF_S``: how
    slowly the CPUs ran while they ran. Wall times are divided by both
    and the rate multiplied by both; ``work_cpu_s`` is divided by
    ``cycles`` only, since CPU clocks already leave out stolen time. So
    a stretch when the neighbours slow the box does not read as a slower
    program."""
    walls = [s[2] for s in run.samples]
    p = run.passes
    wall = sum(x["wall"] for x in p)
    value, pct, n = stats.tail(walls, run.failed)
    run.extra.update(tail_percentile=pct, tail_n=n)
    raw = {
        "setup_s": setup_s,
        "op_p50_s": stats.median(walls),
        "op_tail_s": value,
        "rows_per_s": sum(x["rows"] for x in p) / wall if wall else 0.0,
        "work_cpu_s": stats.median(x["work_cpu"] for x in p),
    }
    m = run.cpu_marks
    start, end = run.t_first_op or math.inf, run.t_timed_end or math.inf

    def slowness(a: str, b: str, samples: list[float]) -> dict[str, float]:
        steal = stats.steal_slowness(m[a], m[b]) if a in m and b in m else 1.0
        cycles = stats.cycle_slowness(samples, SPEED_REF_S)
        return {"steal": steal, "cycles": cycles, "both": steal * cycles}

    slow = {
        "setup": slowness("start", "first_op", [d for t, d in speed if t < start]),
        "timed": slowness("first_op", "timed_end",
                          [d for t, d in speed if start <= t < end]),
    }
    timed = slow["timed"]["both"]
    out = {
        "setup_s": setup_s / slow["setup"]["both"],
        "op_p50_s": raw["op_p50_s"] / timed,
        "op_tail_s": raw["op_tail_s"] / timed,
        "rows_per_s": raw["rows_per_s"] * timed,
        "work_cpu_s": raw["work_cpu_s"] / slow["timed"]["cycles"],
    }
    return out, raw, slow


def per_layer(run: Run, session_s: float, names: list[str]) -> dict[str, tuple]:
    p, ol = run.passes, run.op_layers
    med = stats.median
    ingest = bool(p) and "batches" in p[0]
    out = {
        "session.start_s": (session_s, "s"),
        "registry.build_s": (med(o["build"] for o in ol if "build" in o), "s"),
        "exec.sink_s": (med(o["sink"] for o in ol if "sink" in o), "s"),
        "catalyst.optimize_s": (med(o["optimize"] for o in ol if "optimize" in o), "s"),
        "driver.cpu_s": (med(x["driver_cpu"] / x["batches"] for x in p) if ingest
                         else med(o["driver_cpu"] for o in ol), "s"),
        "udfs.python_cpu_s": (med(x["python_cpu"] for x in p), "s"),
        "cache.persisted": (med(x["persisted"] for x in p), "count"),
    }
    for name, (field, scale, unit) in SPARK_LAYERS.items():
        out[name] = (med(x["spark"][field] * scale for x in p), unit)
    rows_landed = run.extra.get("rows_landed", 0)
    out.update({
        "streaming.batches": (med(x.get("batches", 0) for x in p), "count"),
        "streaming.rows_in": (med(x.get("rows_in", 0) for x in p), "count"),
        "streaming.reread_ratio": (
            med(x["rows_in"] / rows_landed for x in p) if ingest else 0.0, "1"),
        "streaming.add_batch_s": (med(o["add_batch"] for o in ol if "add_batch" in o), "s"),
        "streaming.overhead_s": (med(o["overhead"] for o in ol if "overhead" in o), "s"),
        "upsert.bytes_written": (med(x.get("bytes_written", 0) for x in p), "bytes"),
        "upsert.write_amp": (
            med(x["bytes_written"] for x in p) / run.extra["csv_bytes"]
            if ingest else 0.0, "1"),
        "upsert.target_rows": (med(x.get("target_rows", 0) for x in p), "count"),
    })
    # the ops of every benchmarked workload, so all runs share one metric set
    for name in dict.fromkeys(OPS["queries"] + names):
        walls = [s[2] for s in run.samples if s[0] == name]
        out[f"op.{name}.p50_s"] = (med(walls), "s")
    return out


def _json_num(v: float) -> float | None:
    """A metric as JSON allows it: more failed ops than the tail rule
    leaves room for make ``op_tail_s`` infinite, which is written as null."""
    return v if math.isfinite(v) else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "aws_etl_pipeline_spark", "__init__.py")):
        print("perfbench: no engine package next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench_out")
    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    spark = jvm = speed = None
    try:
        confs = isolate(run_dir)
        from layers import SpeedSampler

        speed = SpeedSampler(os.path.join(run_dir, "speed.txt"))
        from aws_etl_pipeline_spark.session import get_spark

        from layers import Jvm, cpu_busy_steal, loadavg

        tracer = Tracer(bool(args.trace))
        cpu0, load0 = cpu_busy_steal(), loadavg()
        with tracer.span("session"):
            t = time.perf_counter()
            spark = get_spark("perfbench", cpus=4, extra_conf=confs)
            session_s = time.perf_counter() - t
        jvm = Jvm(spark)
        run = Run(args, run_dir, spark, jvm, tracer)
        run.cpu_marks["start"] = cpu0
        names = OPS.get(args.workload, [])
        jit0, gc0 = jvm.jit_gc_ms()
        if args.workload == "ingest":
            run_ingest(run)
        else:
            run_registry(run, names)
        jit1, gc1 = jvm.jit_gc_ms()
        setup_s = (run.t_first_op or time.time()) - T_START
        e2e, raw, slow = end_to_end(run, setup_s, speed.stop())
        m = run.cpu_marks
        context = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "timed_passes": len(run.passes), "ops_timed": len(run.samples),
            "pass_wall_s": [round(x["wall"], 3) for x in run.passes],
            "fail_ratio": run.failed / max(run.attempted, 1),
            "tail_percentile": run.extra.get("tail_percentile"),
            "tail_n": run.extra.get("tail_n"),
            "steal_s": round(cpu_busy_steal()[1] - cpu0[1], 2),
            "steal_timed_s": round(m["timed_end"][1] - m["first_op"][1], 2)
            if "timed_end" in m and "first_op" in m else None,
            "loadavg_start": load0, "loadavg_end": loadavg(),
            "jit_compile_ms": jit1 - jit0, "jit_timed_ms": jit1 - run.at_first_op[0],
            "gc_ms": gc1 - gc0, "gc_timed_ms": gc1 - run.at_first_op[1],
            "box_slowness": slow,
            "raw": {k: _json_num(v) for k, v in raw.items()},
            "errors": run.errors[:20],
            "pins": run.extra.get("pins", {}),
        }
        if args.trace:
            layers = per_layer(run, session_s, names)
            metrics = {k: {"value": _json_num(v), "unit": u} for k, (v, u) in layers.items()}
            context["end_to_end"] = {k: _json_num(e2e[k]) for k in E2E}
            context["self_time_s"] = tracer.self_times()
            os.makedirs(out_dir, exist_ok=True)
            spans_path = os.path.join(
                out_dir, f"spans-{args.workload}-seed{args.seed}.json")
            with open(spans_path, "w") as fh:
                json.dump({"context": context, "spans": tracer.spans}, fh)
            context["spans_file"] = os.path.relpath(spans_path, ROOT)
        else:
            metrics = {k: {"value": _json_num(e2e[k]), "unit": UNITS[k]} for k in E2E}
    finally:
        signal.signal(signal.SIGTERM, signal.SIG_IGN)  # let the clean-up finish
        try:
            if speed is not None and speed.proc.poll() is None:
                speed.stop()
            if spark is not None:
                stop_spark(spark, jvm.pid if jvm else -1)
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(run_dir))
            except OSError:
                pass
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": run.correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0 if run.correct else 1


if __name__ == "__main__":
    sys.exit(main())
