#!/usr/bin/env python3
"""The engine's repeatable benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload olap_sf001 --seed 1 --seconds 16 --trace 0

It may be started from any directory: the checkout is the parent of
this file's directory.  One closed-loop client (a single process, one
query at a time) drives ``local[<cores>]`` through the package's public
entry points, over the engine's sf0.01 testdata (``--data``; by default
the copy in ``perfbench/data/sf0.01``), and times each call from
outside:

* ``session.get_spark`` and the ``data.load_table`` warm-up (set-up);
* ``REGISTRY[name].spark(spark, sf_dir)`` — the builder, as the
  verification driver calls it;
* the forcing aggregate of ``measure.force_count`` (``count`` plus
  ``bit_xor(xxhash64(<all columns>))``), whose (rows, hash) is also the
  result checked against ``expected.json``.

After one untimed warm pass, ceil(``--seconds`` / ``PASS_S``) complete
passes over the workload, in the seed's order, are timed.  ``--trace 0``
prints the end-to-end metrics.  ``--trace 1`` instruments half of the
calls, alternating by pass so that every query is called both plain
and instrumented.  The instrumentation is job-id-range stage
accounting from Spark's status store, Catalyst phase times, a
StreamingQueryListener registered for the call, and in-memory spans
written out at the end.  It prints the per-layer metrics plus the
tracing overhead.  The last line of stdout is the result object;
README.md defines every metric.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)  # the checkout the benchmark runs in
if HERE not in sys.path:
    sys.path.insert(0, HERE)

from workloads import DATA_DIR, PASS_S, WORKLOADS, query_order  # noqa: E402

DRIVER_MEMORY = "3g"
MB = 1024 * 1024

END_TO_END_UNITS = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "query_max_s": "s",
    "correct_frac": "frac",
    "peak_rss_mb": "MB",
}
TIMES = ("setup_s", "wall_s", "query_p50_s", "query_max_s")
# Per-query layer counters, summed over a pass (per-query medians).
LAYER_SUM_UNITS = {
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "measure.force_s": "s",
    "measure.jobs": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "executor.stages": "count",
    "executor.tasks": "count",
    "executor.task_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.shuffle_read_mb": "MB",
    "executor.shuffle_write_mb": "MB",
    "executor.spill_mb": "MB",
    "executor.input_mb": "MB",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "data.warm_s": "s",
    **LAYER_SUM_UNITS,
    "executor.parallel_eff": "frac",
    "trace.overhead_s": "s",
}


# --------------------------------------------------------------------------
# Result check
# --------------------------------------------------------------------------
def forcing_aggregate(df):
    """``measure.force_count``'s aggregate, kept as a DataFrame so its
    Catalyst phases can be read after it runs: ``count(1)`` plus an
    order-insensitive ``bit_xor`` of every row's all-column hash."""
    from pyspark.sql import functions as F

    cols = [
        F.to_json(F.struct(F.col(c).alias("v"))) if "map<" in t else F.col(c)
        for c, t in df.dtypes
    ]
    return df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("h"))


def check_result(name: str, rows: int, digest: int, expected: dict) -> str | None:
    """None when (rows, hash) matches the committed record, else why not."""
    want = expected.get(name)
    if want is None:
        return "no expected record"
    if (rows, digest) != (want["rows"], want["hash"]):
        return f"got rows={rows} hash={digest}, expected rows={want['rows']} hash={want['hash']}"
    return None


def table_digests(sf_dir: str) -> dict[str, str]:
    """sha256 of every table file the engine reads from ``sf_dir``."""
    from big_data_projects_spark.data import TABLES

    out = {}
    for t in TABLES:
        with open(os.path.join(sf_dir, f"{t}.parquet"), "rb") as f:
            out[t] = hashlib.sha256(f.read()).hexdigest()
    return out


def load_expected(path: str, sf_dir: str) -> dict:
    """The records, once ``sf_dir`` holds the tables they were recorded on."""
    with open(path) as f:
        doc = json.load(f)
    if table_digests(sf_dir) != doc["tables"]:
        raise SystemExit(f"{sf_dir} does not hold the tables {path} was recorded on")
    return doc["queries"]


# --------------------------------------------------------------------------
# Spark-side counters (traced samples only)
# --------------------------------------------------------------------------
class Probe:
    """Reads Spark's own counters around a call, without job groups.

    Jobs are attributed by job-id range: ``statusStore().jobsList``
    lists jobs newest first, so the jobs a call launched are the ones
    above the newest id seen before it — including micro-batch jobs
    that run on a stream's own thread.  The stream listener is
    registered only while an instrumented call runs, so plain calls do
    not pay for it.
    """

    def __init__(self, spark):
        self.streams = spark.streams
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.listener = _stream_listener()

    def flush(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def attach(self) -> None:
        self.flush()
        self.listener.events = []
        self.streams.addListener(self.listener)

    def detach(self) -> list:
        """Stop listening; the progress reports seen since ``attach``."""
        self.flush()
        self.streams.removeListener(self.listener)
        return self.listener.events

    def last_job(self) -> int:
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs_since(self, job_id: int) -> list:
        self.flush()  # the status store fills from the listener bus
        jobs, out = self.store.jobsList(None), []
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= job_id:
                break
            out.append(job)
        return out

    def stage_totals(self, jobs: list) -> dict:
        from py4j.protocol import Py4JJavaError

        stage_ids = {job.stageIds().apply(i) for job in jobs for i in range(job.stageIds().size())}
        tot = dict.fromkeys(
            ("stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_read_mb",
             "shuffle_write_mb", "spill_mb", "input_mb"),
            0.0,
        )
        for sid in stage_ids:
            try:
                st = self.store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # evicted from the status store
            if st.status().toString() == "SKIPPED":
                continue
            tot["stages"] += 1
            tot["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            tot["task_s"] += st.executorRunTime() / 1e3
            tot["cpu_s"] += st.executorCpuTime() / 1e9
            tot["gc_s"] += st.jvmGcTime() / 1e3
            tot["shuffle_read_mb"] += st.shuffleReadBytes() / MB
            tot["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
            tot["spill_mb"] += st.diskBytesSpilled() / MB
            tot["input_mb"] += st.inputBytes() / MB
        return {f"executor.{k}": v for k, v in tot.items()}


def _stream_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Collects every micro-batch progress report, in arrival order."""

        def __init__(self):
            self.events = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.events.append(
                (str(p.runId), p.numInputRows, dict(p.durationMs),
                 [(s.numRowsTotal, s.memoryUsedBytes) for s in p.stateOperators])
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def stream_totals(events: list) -> dict:
    """Streaming layer counters over the progress reports of one call.
    State size is each stream run's state after its last batch."""
    def d(e, k):
        return e[2].get(k, 0)

    last_state: dict[str, list] = {}
    for e in events:
        last_state[e[0]] = e[3]
    return {
        "streaming.batches": len(events),
        "streaming.input_rows": sum(e[1] for e in events),
        "streaming.trigger_ms": sum(d(e, "triggerExecution") for e in events),
        "streaming.add_batch_ms": sum(d(e, "addBatch") for e in events),
        "streaming.commit_ms": sum(d(e, "walCommit") + d(e, "commitOffsets") for e in events),
        "streaming.planning_ms": sum(d(e, "queryPlanning") for e in events),
        "streaming.state_rows": sum(r for ops in last_state.values() for r, _ in ops),
        "streaming.state_mb": sum(b for ops in last_state.values() for _, b in ops) / MB,
    }


def phase_ms(jdf, phase: str) -> float:
    opt = jdf.queryExecution().tracker().phases().get(phase)
    return float(opt.get().durationMs()) if opt.isDefined() else 0.0


# --------------------------------------------------------------------------
# The run
# --------------------------------------------------------------------------
class Tracer:
    """In-memory spans sharing one run id; written out once, at the end."""

    def __init__(self, run_id: str):
        self.run_id, self.spans = run_id, []

    def span(self, name: str, parent: int | None, start: float, end: float, **attrs) -> int:
        self.spans.append(
            {"run_id": self.run_id, "id": len(self.spans), "parent": parent, "name": name,
             "start_s": start, "end_s": end, **attrs}
        )
        return len(self.spans) - 1


class Bench:
    def __init__(self, spark, sf_dir: str, expected: dict, probe: Probe | None, tracer: Tracer | None):
        from big_data_projects_spark.queries import REGISTRY
        from big_data_projects_spark.session import ensure_runtime_conf

        self.spark, self.sf_dir, self.expected = spark, sf_dir, expected
        self.registry, self.ensure_conf = REGISTRY, ensure_runtime_conf
        self.probe, self.tracer = probe, tracer
        self.failures: dict[str, str] = {}
        self.attempted = self.failed = 0

    def run_query(self, name: str, traced: bool, parent: int | None = None) -> dict:
        """Build, force and check one query; a traced call also reads
        Spark's counters and records spans.  ``wall_s`` is the whole
        call, probe work included, so that instrumented minus plain
        calls is what tracing costs."""
        probe = self.probe if traced else None
        rec: dict = {"query": name, "traced": traced}
        self.attempted += 1
        start = time.perf_counter()
        if probe:
            probe.attach()
            j0 = probe.last_job()
        try:
            t0 = time.perf_counter()
            df = self.registry[name].spark(self.spark, self.sf_dir)
            t1 = t1b = time.perf_counter()
            if probe:
                build_jobs = probe.jobs_since(j0)
                j1 = build_jobs[0].jobId() if build_jobs else j0
                t1b = time.perf_counter()  # force_s leaves out the probe's reads
            forced = forcing_aggregate(df)
            row = forced.collect()[0]
            t2 = time.perf_counter()
            if probe:
                force_jobs = probe.jobs_since(j1)
        except Exception as e:  # a raise is a failed query, never dropped
            traceback.print_exc()
            msg = f"{type(e).__name__}: {str(e).strip().splitlines()[0] if str(e).strip() else ''}"
            self.failures[name] = msg[:300]
            self.failed += 1
            rec["error"] = msg
            return rec
        finally:
            self.ensure_conf(self.spark)
            if probe:
                events = probe.detach()
        build_s, force_s = t1 - t0, t2 - t1b
        rec.update(build_s=build_s, force_s=force_s, total_s=build_s + force_s)
        problem = check_result(name, int(row["n"]), int(row["h"]), self.expected)
        if problem:
            self.failures[name] = problem
            self.failed += 1
            rec["error"] = problem
        if probe:
            rec["layers"] = {
                "queries.build_s": build_s,
                "queries.build_jobs": len(build_jobs),
                "measure.force_s": force_s,
                "measure.jobs": len(force_jobs),
                # The builder's DataFrame carries only its analysis; the
                # optimizer and planner run on the forced aggregate.
                "catalyst.analysis_ms": phase_ms(df._jdf, "analysis") + phase_ms(forced._jdf, "analysis"),
                "catalyst.optimization_ms": phase_ms(forced._jdf, "optimization"),
                "catalyst.planning_ms": phase_ms(forced._jdf, "planning"),
                **probe.stage_totals(build_jobs + force_jobs),
                **stream_totals(events),
            }
            if self.tracer:
                q = self.tracer.span("query", parent, t0, t2, query=name, rows=int(row["n"]))
                self.tracer.span("build", q, t0, t1, jobs=len(build_jobs))
                self.tracer.span("force", q, t1b, t2, jobs=len(force_jobs))
        rec["wall_s"] = time.perf_counter() - start
        return rec

    def run_pass(self, order: list[str], traced: bool, parent: int | None, n: int = 0) -> dict:
        """Pass ``n`` over the workload.  In a traced run every other
        query is instrumented, and the other half in the next pass, so
        each query has plain and instrumented calls in both positions."""
        t0 = time.perf_counter()
        recs = [
            self.run_query(name, traced and (i + n) % 2 == 0, parent)
            for i, name in enumerate(order)
        ]
        return {"wall_s": time.perf_counter() - t0, "records": recs}


def timed_passes(seconds: float, traced: bool) -> int:
    """A traced run needs two passes to call every query both ways."""
    return max(2 if traced else 1, math.ceil(seconds / PASS_S))


def _by_query(recs: list[dict], key, stat=statistics.median) -> dict[str, float]:
    by: dict[str, list] = {}
    for r in recs:
        if "error" not in r:
            by.setdefault(r["query"], []).append(key(r))
    return {q: stat(v) for q, v in by.items()}


def end_to_end(passes: list[dict], setup_s: float, peak_rss_mb: float, attempted: int, failed: int) -> dict:
    recs = [r for p in passes for r in p["records"]]
    ok = [r["total_s"] for r in recs if "error" not in r]
    # Each query's best time before taking the max: a maximum over
    # queries picks up any one call's hiccup, and one call per query in
    # a run would otherwise decide the metric.
    best = _by_query(recs, lambda r: r["total_s"], min)
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(p["wall_s"] for p in passes),
        # 0.0 only when every query failed, and then "correct" is false
        "query_p50_s": statistics.median(ok) if ok else 0.0,
        "query_max_s": max(best.values()) if best else 0.0,
        "correct_frac": 1.0 - failed / attempted,
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(passes: list[dict], session_s: float, warm_s: float, cores: int) -> dict:
    recs = [r for p in passes for r in p["records"]]
    traced = [r for r in recs if r["traced"] and "layers" in r]
    plain = [r for r in recs if not r["traced"]]
    out = {"session.start_s": session_s, "data.warm_s": warm_s}
    for key in LAYER_SUM_UNITS:
        out[key] = sum(_by_query(traced, lambda r: r["layers"][key]).values())
    # Build + force only: the probe's own reads are not executor time.
    busy = sum(_by_query(traced, lambda r: r["total_s"]).values())
    out["executor.parallel_eff"] = out["executor.task_s"] / (busy * cores) if busy else 0.0
    # Traced minus untraced wall: each query's median instrumented call,
    # probe work and listener included, less its median plain call.
    traced_wall = sum(_by_query(traced, lambda r: r["wall_s"]).values())
    plain_wall = sum(_by_query(plain, lambda r: r["wall_s"]).values())
    out["trace.overhead_s"] = traced_wall - plain_wall
    return out


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def stolen_share(before: list[int], after: list[int]) -> float:
    """Share of the CPU time the VM wanted, between two ``/proc/stat``
    readings, that the hypervisor gave to other tenants instead
    (``steal`` over user + nice + system + irq + softirq + steal)."""
    d = [a - b for a, b in zip(after, before)]
    wanted = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return d[7] / wanted if wanted else 0.0


def spark_settings(work: str) -> tuple[dict, dict]:
    """(environment, Spark conf) for a run whose scratch space is ``work``.

    Everything Spark and the engine write (shuffle files, stream
    checkpoints, staging dirs, the warehouse) lands under ``work``.
    The checkout root goes on PYTHONPATH, which the JVM passes to its
    Python workers, so UDF and data-source queries import the package
    whatever the current directory is.
    """
    tmp = os.path.join(work, "tmp")
    env = {
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    }
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp}",
    }
    return env, conf


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    import pyspark

    from big_data_projects_spark.data import TABLES, load_table
    from big_data_projects_spark.queries import REGISTRY
    from big_data_projects_spark.session import get_spark
    from pyspark.sql import functions as F

    order = query_order(args.workload, args.seed)
    unknown = [q for q in order if q not in REGISTRY]
    if unknown:
        raise SystemExit(f"workload {args.workload} names unregistered queries: {unknown}")
    sf_dir = os.path.abspath(args.data)
    expected = load_expected(args.expected, sf_dir)
    run_id = uuid.uuid4().hex[:12]
    work = os.path.join(ROOT, ".bench_run", run_id)
    env, conf = spark_settings(work)
    for d in (env["TMPDIR"], env["SPARK_LOCAL_DIRS"]):
        os.makedirs(d, exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    cores = len(os.sched_getaffinity(0))
    load_start = _loadavg()

    spark = None
    try:
        cpu0, t0 = _cpu_times(), time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
        t1 = time.perf_counter()
        for t in TABLES:  # touch every column chunk: page cache, codegen, JIT
            df = load_table(spark, sf_dir, t)
            df.agg(*[F.count(F.col(c)) for c in df.columns]).collect()
        t2 = time.perf_counter()
        stolen_setup = stolen_share(cpu0, _cpu_times())

        tracer = Tracer(run_id) if args.trace else None
        bench = Bench(spark, sf_dir, expected, Probe(spark) if args.trace else None, tracer)
        bench.run_pass(order, False, None)  # warm pass: checked, not timed
        passes = []
        cpu_start = _cpu_times()
        start = time.perf_counter()
        root_span = tracer.span("workload", None, start, start, workload=args.workload) if tracer else None
        for n in range(timed_passes(args.seconds, bool(args.trace))):
            passes.append(bench.run_pass(order, bool(args.trace), root_span, n))
        end = time.perf_counter()
        stolen_timed = stolen_share(cpu_start, _cpu_times())
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        peak_rss_mb = _vm_hwm_mb(jvm_pid)
        env_block = {
            "run_id": run_id,
            "workload": args.workload,
            "seed": args.seed,
            "order": order,
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "cores": cores,
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory"),
            "data": sf_dir,
            "timed_passes": len(passes),
            "timed_s": end - start,
            "loadavg_start": load_start,
            "loadavg_end": _loadavg(),
            "stolen_share_setup": stolen_setup,
            "stolen_share_timed": stolen_timed,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.runtime.version"),
            "python": platform.python_version(),
        }
        if tracer:
            tracer.spans[root_span]["end_s"] = end
            os.makedirs(os.path.join(ROOT, ".bench_run", "traces"), exist_ok=True)
            path = os.path.join(ROOT, ".bench_run", "traces", f"{run_id}.json")
            with open(path, "w") as f:
                json.dump({"env": env_block, "spans": tracer.spans}, f)
            env_block["trace_file"] = os.path.relpath(path, ROOT)
            env_block["spans"] = len(tracer.spans)
            metrics = per_layer(passes, t1 - t0, t2 - t1, cores)
            units = PER_LAYER_UNITS
        else:
            metrics = end_to_end(passes, t2 - t0, peak_rss_mb, bench.attempted, bench.failed)
            env_block["measured"] = {k: metrics[k] for k in TIMES}
            # The work is CPU-bound (tables in page cache, no network), so
            # time the hypervisor withheld is time the run would not
            # have waited on an idle host.
            metrics["setup_s"] *= 1 - stolen_setup
            for k in TIMES[1:]:
                metrics[k] *= 1 - stolen_timed
            units = END_TO_END_UNITS
        per_query = _by_query([r for p in passes for r in p["records"]], lambda r: r["total_s"])
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"env": env_block}))
    print(json.dumps({"query_median_s": {q: round(v, 4) for q, v in sorted(per_query.items())}}))
    if bench.failures:
        print(json.dumps({"failures": bench.failures}))
    return {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it
    forked) to exit, so the run leaves no process behind.  The gateway
    JVM exits when its stdin closes; py4j's own shutdown is skipped,
    since closing its callback server can block after a stream ran."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=DATA_DIR,
                    help="the engine's read-only sf0.01 testdata directory")
    ap.add_argument("--expected", default=os.path.join(HERE, "expected.json"),
                    help="(rows, hash) records to check results against")
    args = ap.parse_args(argv)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
