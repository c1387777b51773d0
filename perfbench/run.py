#!/usr/bin/env python3
"""Layered benchmark for meerpipe_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload in this single driver process on ``local[N]``
(N = min(nproc, 4)) as a closed loop with one client: the next lane
call or launch starts only when the previous one has finished. Inputs
are generated from ``--seed`` with ``tools/gen_testdata.generate`` into
a scratch directory under ``.perfbench/`` and removed afterwards.

A run sets the session up three times (the first includes the JVM
start), runs one untimed warm-up pass whose outputs are checked against
the DuckDB oracles and a few more untimed passes while the JIT settles,
then repeats passes for ``--seconds`` seconds and reports medians.
With ``--trace 0`` it reports the end-to-end metrics, with ``--trace 1``
the per-layer metrics from spans, job groups and the Spark event log.
Human-readable lines go first; the last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only when every output was correct. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import duckdb  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import pyspark  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from gen_testdata import generate  # noqa: E402
from meerpipe_spark import launcher  # noqa: E402
from meerpipe_spark.cacheutil import release_checkpoints, release_persisted  # noqa: E402
from meerpipe_spark.io import TABLES, load_tables  # noqa: E402
from meerpipe_spark.queries import QUERIES  # noqa: E402
from meerpipe_spark.session import get_spark  # noqa: E402
from meerpipe_spark.streaming.events import run_incremental_pipeline  # noqa: E402

from checks import Oracle, check_drain, check_launch_cycle  # noqa: E402
from probes import (  # noqa: E402
    ProgressListener,
    Tracer,
    event_log_metrics,
    jvm_peak_rss_mb,
    plan_nodes,
)

CORES = min(len(os.sched_getaffinity(0)), 4)
SETUPS = 3
# A fixed, modest driver heap for the gated workloads, so runs compare
# whatever SPARK_DRIVER_MEM the environment sets, and so a run stays
# small on a shared machine (the repository's 8g default let the JVM
# reach 5.5 GB resident on obs_pipeline).
GATED_HEAP = "2g"
# The driver JVM compiles hot code after a twentieth of HotSpot's usual
# invocation counts. Driver-bound lanes otherwise keep speeding up for
# about a minute, longer than a run, and each run would catch that ramp
# at another point; with this the JIT settles within the warm-up passes.
JIT_OPTS = ("-XX:CompileThresholdScaling=0.05",)
# A run measures at least this many passes, so that its median is not
# the mean of two when the machine is slow and the passes are long.
MIN_PASSES = 3
# A gated run must end within 180 s; past this it stops without a result.
DEADLINE_S = 170


@dataclass(frozen=True)
class Workload:
    name: str
    scale: float
    lanes: tuple[str, ...] = ()
    job_limit: int = 0  # > 0 marks the launch workload
    gated: bool = True  # listed in BENCHMARK.json, so held to the run deadline
    warm_passes: int = 0  # untimed passes after the check pass, for the JIT

    @property
    def is_launch(self) -> bool:
        return self.job_limit > 0


# Why each workload exists is recorded in perfbench/README.md. The lane
# lists are subsets of the registry chosen so that warm-up and several
# measured passes fit the per-run budget. obs_pipeline, corpus_curation
# and graph_iterative_full are runnable on demand but too slow for the
# gated set (one ppmi pass alone exceeds a run).
WORKLOADS = {
    w.name: w
    for w in (
        Workload("graph_iterative", 1, ("node2vec_biased_walks",), warm_passes=3),
        Workload("obs_launch", 4, job_limit=1000, warm_passes=1),
        Workload("obs_pipeline", 10, (
            "pipeline_results_json", "delay_rules_engine",
        ), gated=False),
        Workload("corpus_curation", 10, (
            "corpus_build_e2e", "kneser_ney_trigram_lm", "minhash_lsh_pairs",
            "ppjoin_jaccard_pairs", "bpe_train_merges", "embedding_near_dup",
            "ivf_search", "pq_adc_search", "two_level_ann_search",
        ), gated=False),
        Workload("graph_iterative_full", 10, (
            "ppmi_svd_node_embeddings", "node2vec_biased_walks",
            "skipgram_pairs_walks", "pagerank_customer_supplier",
            "lpa_communities",
        ), gated=False),
    )
}

END_TO_END = {"setup_s": "s", "pass_s": "s"}

# Every lane gets a build/exec/jobs breakdown in the traced report; the
# result object carries it for the lanes of the gated workloads.
LANE_DETAIL = tuple(sorted({n for w in WORKLOADS.values() if w.gated for n in w.lanes}))
SELF_LAYERS = ("bench", "queries", "catalyst", "exec", "cacheutil", "launcher", "streaming")

PER_LAYER = {
    "session.get_spark_s": "s",
    "session.driver_peak_rss_mb": "MB",
    "io.load_tables_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.plan_nodes": "count",
    "catalyst.plan_s": "s",
    "exec.exec_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_s": "s",
    "exec.core_busy_ratio": "ratio",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "cacheutil.release_s": "s",
    "cacheutil.frames_released": "count",
    "launcher.jobs_per_launch": "count",
    "launcher.files_written": "count",
    "launcher.bytes_per_obs": "bytes",
    "launcher.launch_p50_s": "s",
    "launcher.obs_per_s": "1/s",
    "launcher.relaunch_s": "s",
    "streaming.batches": "count",
    "streaming.batch_ms": "ms",
    "streaming.rows_per_s": "1/s",
    **{f"lane.{n}.{m}": u for n in LANE_DETAIL
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("jobs", "count"))},
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
    "trace.pass_s": "s",
    "trace.overhead_s": "s",
}


class Run:
    """State of one benchmark run: session, tracer, counters."""

    def __init__(self, workload: Workload, seed: int, work: str, trace: bool):
        self.w = workload
        self.seed = seed
        self.work = work
        self.trace = trace
        self.data = os.path.join(work, "data")
        self.eventlog = os.path.join(work, "eventlog")  # see configure_jvm
        self.spark = None
        self.tracer = Tracer(None, f"{workload.name}-s{seed}-{os.getpid()}", trace)
        self.attempted = 0
        self.errors: list[str] = []
        self.setups: list[tuple[float, float]] = []

    # -- set-up ---------------------------------------------------------

    def make_inputs(self) -> dict[str, int]:
        generate(self.data, self.w.scale, self.seed)
        rows = {t: pq.read_metadata(os.path.join(self.data, f"{t}.parquet")).num_rows
                for t in TABLES}
        if self.w.is_launch:
            # the drain's event files: the events table in 32 files, two
            # micro-batches at the stream's 16-files-per-trigger cap
            ev = pq.read_table(os.path.join(self.data, "events.parquet"))
            ev = ev.set_column(ev.schema.get_field_index("ts"), "ts",
                               ev["ts"].cast(pa.timestamp("us", tz="UTC")))
            src = os.path.join(self.work, "event_files")
            os.makedirs(src)
            step = math.ceil(ev.num_rows / 32)
            for i in range(32):
                pq.write_table(ev.slice(i * step, step),
                               os.path.join(src, f"part-{i:03d}.parquet"))
        return rows

    def set_up(self, repeats: int) -> None:
        """get_spark + load_tables, ``repeats`` times; the first builds
        the JVM, later ones stop and re-create the SparkContext in it."""
        for _ in range(repeats):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench", master=f"local[{CORES}]",
                                   shuffle_partitions=CORES)
            t1 = time.perf_counter()
            load_tables(self.spark, self.data)
            t2 = time.perf_counter()
            self.setups.append((t1 - t0, t2 - t1))
        self.tracer.spark = self.spark

    # -- lane workloads -------------------------------------------------

    def check_pass(self, oracle: Oracle, corrupt: str | None = None) -> float:
        """Untimed warm-up: build and collect every lane, compare with
        its oracle. Returns the wall time of the Spark part."""
        outputs = {}
        t0 = time.perf_counter()
        for name in self.w.lanes:
            self.attempted += 1
            try:
                df = QUERIES[name].fn(self.spark, self.data)
                if name == corrupt:
                    df = df.unionByName(df.limit(1))
                outputs[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # a failing lane is counted, not fatal
                traceback.print_exc(file=sys.stderr)
                self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            finally:
                release_persisted()
                release_checkpoints(self.spark)
        spent = time.perf_counter() - t0
        for name, (cols, rows) in outputs.items():
            self.errors += oracle.check_lane(name, QUERIES[name].sql, cols, rows)
        return spent

    def lane_pass(self, idx: int, traced: bool) -> dict:
        """One pass over the lanes: build, (plan), noop-sink write, release."""
        tr = self.tracer
        tr.enabled = traced
        rec = {"lanes": {}, "plan_nodes": 0, "frames_released": 0}
        t_pass = time.perf_counter()
        with tr.span("pass"):
            for name in self.w.lanes:
                self.attempted += 1
                g = f"{tr.run_id}/{idx}/{name}"
                lane = {}
                try:
                    with tr.span(f"lane:{name}"):
                        t0 = time.perf_counter()
                        with tr.span(f"queries:{name}", g + "/build"):
                            df = QUERIES[name].fn(self.spark, self.data)
                        t_built = t1 = t2 = time.perf_counter()
                        if traced:
                            rec["plan_nodes"] += plan_nodes(df)
                            t1 = time.perf_counter()
                            with tr.span(f"catalyst:{name}", g + "/plan"):
                                df._jdf.queryExecution().executedPlan()
                            t2 = time.perf_counter()
                        with tr.span(f"exec:{name}", g + "/exec"):
                            df.write.format("noop").mode("overwrite").save()
                        t3 = time.perf_counter()
                        with tr.span(f"cacheutil:{name}"):
                            rec["frames_released"] += release_persisted()
                            release_checkpoints(self.spark)
                        t4 = time.perf_counter()
                    lane.update(build_s=t_built - t0, plan_s=t2 - t1, exec_s=t3 - t2,
                                release_s=t4 - t3, wall_s=t4 - t0,
                                build_jobs=len(tr.jobs(g + "/build")),
                                exec_jobs=len(tr.jobs(g + "/exec")))
                except Exception as exc:
                    traceback.print_exc(file=sys.stderr)
                    self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                    release_persisted()
                rec["lanes"][name] = lane
        rec["wall_s"] = time.perf_counter() - t_pass
        rec["traced"] = traced
        rec["idx"] = idx
        return rec

    # -- launch workload ------------------------------------------------

    def launch_cycle(self, idx: int, traced: bool, listener: ProgressListener,
                     n_obs: int) -> dict:
        """Launch -job_limit batches until every observation is drained,
        re-launch once (selects nothing), then drain the event files
        incrementally. Checks run after the timed part."""
        tr = self.tracer
        tr.enabled = traced
        cyc = os.path.join(self.work, f"cycle-{idx}")
        out = os.path.join(cyc, "launch")
        sink = os.path.join(cyc, "stream")
        src = os.path.join(self.work, "event_files")
        limit = self.w.job_limit

        def runas(df):  # the CLI's -runas: stamp the pipeline name
            return df.withColumn("pipeline", F.lit("perfbench"))

        rec = {"launch_s": [], "launched": [], "launch_jobs": []}
        t_cycle = time.perf_counter()
        with tr.span("pass"):
            for i in range(math.ceil(n_obs / limit) + 1):
                if sum(rec["launched"]) >= n_obs:
                    break
                self.attempted += 1
                g = f"{tr.run_id}/{idx}/launch{i}"
                t0 = time.perf_counter()
                with tr.span("launcher:launch", g):
                    n = launcher.launch(self.spark, self.data, out, execute=runas,
                                        job_limit=limit)
                rec["launch_s"].append(time.perf_counter() - t0)
                rec["launched"].append(n)
                rec["launch_jobs"].append(len(tr.jobs(g)))
                if n == 0:
                    break
            self.attempted += 1
            t0 = time.perf_counter()
            with tr.span("launcher:relaunch", f"{tr.run_id}/{idx}/relaunch"):
                relaunched = launcher.launch(self.spark, self.data, out,
                                             execute=runas, job_limit=limit)
            rec["relaunch_s"] = time.perf_counter() - t0
            self.attempted += 1
            seen = len(listener.batches)
            done = listener.terminated
            t0 = time.perf_counter()
            with tr.span("streaming:drain", f"{tr.run_id}/{idx}/drain"):
                run_incremental_pipeline(self.spark, src, sink,
                                         os.path.join(cyc, "ckpt"), runas)
            rec["drain_s"] = time.perf_counter() - t0
        rec["wall_s"] = time.perf_counter() - t_cycle
        listener.wait_terminated(done + 1)
        rec["batches"] = listener.batches[seen:]
        rec["stream_groups"] = listener.run_ids[done:]
        files = [os.path.join(d, f) for d in (os.path.join(out, "results"),
                                              os.path.join(out, "ledger"))
                 for f in os.listdir(d) if not f.startswith((".", "_"))]
        rec["files_written"] = len(files)
        rec["bytes_written"] = sum(os.path.getsize(f) for f in files)
        self.errors += check_launch_cycle(self.spark, out, rec["launched"],
                                          relaunched, n_obs)
        self.errors += check_drain(self.spark, src, sink, n_obs)
        shutil.rmtree(cyc, ignore_errors=True)
        rec["traced"] = traced
        rec["idx"] = idx
        return rec

    # -- driving --------------------------------------------------------

    def measure(self, seconds: float, step) -> list[dict]:
        """Closed loop, whole passes only, until the passes themselves
        have taken at least ``seconds`` (the checks between launch cycles
        are not counted) and there are at least MIN_PASSES of them. A
        traced run alternates plain and traced passes and ends on a plain
        one, so every traced pass is bracketed by plain ones and the
        tracing overhead is not confused with the JIT still warming up."""
        passes = []
        spent = 0.0
        idx = 1
        while True:
            traced = self.trace and idx % 2 == 0
            passes.append(step(idx, traced))
            spent += passes[-1]["wall_s"]
            idx += 1
            if spent >= seconds and len(passes) >= MIN_PASSES and not traced:
                return passes


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, int, int]:
    """(value, percentile, n): the highest whole percentile that still
    has at least ten samples above it; with fewer than eleven samples,
    the maximum is reported as p100."""
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    s = sorted(xs)
    if n <= 10:
        return s[-1], 100, n
    pct = math.floor(100 * (n - 10) / n)
    return s[max(0, math.ceil(pct / 100 * n) - 1)], pct, n


def lane_layer_metrics(run: Run, passes: list[dict]) -> dict[str, float]:
    traced = [p for p in passes if p["traced"]]
    ev = event_log_metrics(run.eventlog,
                           run.spark.sparkContext.applicationId)
    per_pass = []
    for p in traced:
        lanes = p["lanes"].values()
        m = {
            "queries.build_s": sum(l.get("build_s", 0) for l in lanes),
            "queries.build_jobs": sum(l.get("build_jobs", 0) for l in lanes),
            "queries.plan_nodes": p["plan_nodes"],
            "catalyst.plan_s": sum(l.get("plan_s", 0) for l in lanes),
            "exec.exec_s": sum(l.get("exec_s", 0) for l in lanes),
            "exec.jobs": sum(l.get("exec_jobs", 0) for l in lanes),
            "cacheutil.release_s": sum(l.get("release_s", 0) for l in lanes),
            "cacheutil.frames_released": p["frames_released"],
            "trace.pass_s": p["wall_s"],
        }
        for key in ("stages", "tasks", "task_s", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes"):
            m[f"exec.{key}"] = sum(
                ev.get(f"{run.tracer.run_id}/{p['idx']}/{name}/exec", {}).get(key, 0)
                for name in p["lanes"])
        m["exec.core_busy_ratio"] = (
            m["exec.task_s"] / (m["exec.exec_s"] * CORES) if m["exec.exec_s"] else 0.0)
        for name, l in p["lanes"].items():
            if l:
                m[f"lane.{name}.build_s"] = l.get("build_s", 0)
                m[f"lane.{name}.exec_s"] = l.get("exec_s", 0)
                m[f"lane.{name}.jobs"] = l.get("build_jobs", 0) + l.get("exec_jobs", 0)
        per_pass.append(m)
    return {k: _median([m.get(k, 0.0) for m in per_pass]) for k in per_pass[0]}


def launch_layer_metrics(run: Run, passes: list[dict], n_obs: int) -> dict[str, float]:
    traced = [p for p in passes if p["traced"]]
    ev = event_log_metrics(run.eventlog,
                           run.spark.sparkContext.applicationId)
    per_pass = []
    for p in traced:
        groups = [g for g in ev if g.startswith(f"{run.tracer.run_id}/{p['idx']}/")
                  or g in p["stream_groups"]]
        exec_s = sum(p["launch_s"]) + p["relaunch_s"] + p["drain_s"]
        m = {
            "exec.exec_s": exec_s,
            "launcher.jobs_per_launch": _median(p["launch_jobs"]),
            "launcher.files_written": p["files_written"],
            "launcher.bytes_per_obs": p["bytes_written"] / n_obs,
            "launcher.launch_p50_s": _median(p["launch_s"]),
            "launcher.obs_per_s": sum(p["launched"]) / sum(p["launch_s"]),
            "launcher.relaunch_s": p["relaunch_s"],
            "streaming.batches": len(p["batches"]),
            "streaming.batch_ms": _median([b[0] for b in p["batches"]]),
            "streaming.rows_per_s": n_obs / p["drain_s"],
            "trace.pass_s": p["wall_s"],
        }
        for key in ("jobs", "stages", "tasks", "task_s", "shuffle_read_bytes",
                    "shuffle_write_bytes", "spill_bytes"):
            m[f"exec.{key}"] = sum(ev[g].get(key, 0) for g in groups)
        m["exec.core_busy_ratio"] = m["exec.task_s"] / (exec_s * CORES)
        per_pass.append(m)
    return {k: _median([m[k] for m in per_pass]) for k in per_pass[0]}


def box_state() -> dict:
    try:
        head = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                              capture_output=True, text=True, timeout=10)
        rev = head.stdout.strip() if head.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        rev = None
    return {
        "loadavg": list(os.getloadavg()),
        "nproc": len(os.sched_getaffinity(0)),
        "cores_used": CORES,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "git_head": rev,
    }


def configure_jvm(work: str, trace: bool, heap: str = GATED_HEAP) -> None:
    """Launcher settings that must exist before the JVM starts: the
    driver heap, every scratch file inside ``work`` and, in a traced run
    only, the JSON event log."""
    for d in ("local", "tmp", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": " ".join((
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), *JIT_OPTS)),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {heap} {args} pyspark-shell"


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def execute(run: Run, seconds: float, corrupt: str | None = None) -> dict:
    """Run the workload on an already set-up session; return the report."""
    w = run.w
    meta = box_state()
    meta["java"] = run.spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    report: dict = {"meta": meta}
    if w.is_launch:
        n_obs = pq.read_metadata(os.path.join(run.data, "events.parquet")).num_rows
        listener = ProgressListener()
        run.spark.streams.addListener(listener)
        t0 = time.perf_counter()
        run.launch_cycle(0, False, listener, n_obs)
        report["warmup_s"] = time.perf_counter() - t0
        for i in range(w.warm_passes):
            run.launch_cycle(-1 - i, False, listener, n_obs)
        meta["calibrate_before_s"] = bench._calibrate(run.spark)
        passes = run.measure(seconds, lambda i, tr: run.launch_cycle(i, tr, listener, n_obs))
        run.spark.streams.removeListener(listener)
        plain = [p for p in passes if not p["traced"]]
        lat = [s for p in plain for s in p["launch_s"]]
        report["launch_p50_s"] = _median(lat)
        report["launch_tail"] = tail(lat)
        report["obs_per_s"] = _median([sum(p["launched"]) / sum(p["launch_s"]) for p in plain])
        report["relaunch_s"] = _median([p["relaunch_s"] for p in plain])
        report["stream_rows_per_s"] = _median([n_obs / p["drain_s"] for p in plain])
        layers = launch_layer_metrics(run, passes, n_obs) if run.trace else {}
    else:
        oracle = Oracle(run.data, TABLES)
        try:
            report["warmup_s"] = run.check_pass(oracle, corrupt)
        finally:
            oracle.close()
        for i in range(w.warm_passes):
            run.lane_pass(-1 - i, False)
        meta["calibrate_before_s"] = bench._calibrate(run.spark)
        passes = run.measure(seconds, run.lane_pass)
        plain = [p for p in passes if not p["traced"]]
        lane_wall = [l["wall_s"] for p in plain for l in p["lanes"].values() if l]
        report["lane_p50_s"] = _median(lane_wall)
        report["lane_tail"] = tail(lane_wall)
        for name in w.lanes:
            report[f"lane.{name}.wall_s"] = _median(
                [p["lanes"][name]["wall_s"] for p in plain if p["lanes"][name]])
        layers = lane_layer_metrics(run, passes) if run.trace else {}
    meta["calibrate_after_s"] = bench._calibrate(run.spark)
    meta["loadavg_after"] = list(os.getloadavg())
    report["passes"] = len(plain)
    report["pass_walls"] = [p["wall_s"] for p in plain]
    report["pass_s"] = _median(report["pass_walls"])
    report["setup_s"] = _median([a + b for a, b in run.setups])
    report["driver_peak_rss_mb"] = jvm_peak_rss_mb(run.spark)
    if run.trace:
        layers["session.get_spark_s"] = _median([a for a, _ in run.setups])
        layers["io.load_tables_s"] = _median([b for _, b in run.setups])
        layers["session.driver_peak_rss_mb"] = report["driver_peak_rss_mb"]
        n_traced = sum(1 for p in passes if p["traced"])
        for layer, s in run.tracer.self_times().items():
            name = "bench" if layer in ("pass", "lane") else layer
            if name in SELF_LAYERS:
                layers[f"self.{name}_s"] = layers.get(f"self.{name}_s", 0) + s / n_traced
        layers["trace.overhead_s"] = layers["trace.pass_s"] - report["pass_s"]
        report["layers"] = layers
        report["per_layer"] = {k: layers.get(k, 0.0) for k in PER_LAYER}
    return report


def print_report(w: Workload, seed: int, rows: dict, report: dict, run: Run) -> None:
    print(f"# perfbench workload={w.name} seed={seed} scale={w.scale} "
          f"cores={CORES} passes={report['passes']}")
    print("# inputs " + json.dumps(rows, sort_keys=True))
    print("# box " + json.dumps(report["meta"], sort_keys=True))
    print(f"# pass_wall_s {[round(x, 4) for x in report['pass_walls']]}")
    units = {**END_TO_END, "driver_peak_rss_mb": "MB", "warmup_s": "s", "lane_p50_s": "s", "launch_p50_s": "s",
             "obs_per_s": "1/s", "relaunch_s": "s", "stream_rows_per_s": "1/s"}
    for k, v in report.items():
        if k in units:
            print(f"{w.name} {k} = {v:.6g} {units[k]}")
        elif k.startswith("lane.") and k.endswith(".wall_s"):
            print(f"{w.name} {k} = {v:.6g} s")
    for k in ("lane_tail", "launch_tail"):
        if k in report:
            v, pct, n = report[k]
            print(f"{w.name} {k.replace('_tail', '_tail_s')} = {v:.6g} s (p{pct} of n={n})")
    ratio = len(run.errors) / run.attempted
    print(f"{w.name} failed_ratio = {ratio:.6g} ratio ({len(run.errors)} of {run.attempted})")
    for k, v in sorted({**report.get("per_layer", {}), **report.get("layers", {})}.items()):
        unit = PER_LAYER.get(k) or ("count" if k.endswith("jobs") else "s")
        print(f"{w.name} {k} = {v:.6g} {unit}")
    for e in run.errors:
        print(f"MISMATCH {e}")


def summary(run: Run, report: dict) -> dict:
    """The result object: end-to-end metrics, or per-layer ones when traced."""
    if run.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                   for k, v in report["per_layer"].items()}
    else:
        metrics = {k: {"value": report[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": not run.errors, "attempted": run.attempted,
            "failed": len(run.errors), "metrics": metrics}


def _deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    w = WORKLOADS[args.workload]
    if w.gated:
        signal.signal(signal.SIGALRM, _deadline)
        signal.alarm(DEADLINE_S)
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    run = Run(w, args.seed, work, bool(args.trace))
    try:
        configure_jvm(work, run.trace, GATED_HEAP if w.gated
                      else os.environ.get("SPARK_DRIVER_MEM", "8g"))
        t0 = time.perf_counter()
        rows = run.make_inputs()
        t1 = time.perf_counter()
        run.set_up(SETUPS)
        t2 = time.perf_counter()
        report = execute(run, args.seconds)
        report["meta"]["phase_s"] = {"inputs": t1 - t0, "set_up": t2 - t1,
                                     "execute": time.perf_counter() - t2}
        if run.trace:
            run.tracer.write(os.path.join(
                ROOT, ".perfbench", "spans", f"{run.tracer.run_id}.jsonl"))
    finally:
        signal.alarm(0)
        stop_jvm(run.spark)
        shutil.rmtree(work, ignore_errors=True)
    print_report(w, args.seed, rows, report, run)
    out = summary(run, report)
    print(json.dumps(out))
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
