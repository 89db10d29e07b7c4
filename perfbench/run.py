#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 6 --trace 0

Runs the program on ``local[<cpus>]`` over tables generated at seed 42 at
sf0.1 (``perfbench/datagen.py``), inside ``perfbench/_out``. A run starts
the JVM and sets up the session several times, checks every output once,
then repeats passes of the workload for ``--seconds`` seconds.

Output: one JSON line with the run context, every metric with its unit
and the sample counts behind them, then, as the last line,
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones,
from spans recorded around each call into the program (written to
``perfbench/_out/spans``). See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import statistics as st
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "_out")
WORKLOADS = ("adhoc_sql", "llm_pipeline", "bulk_sort_io", "stream_stateful")
# printed as the last line's metrics; the report line adds peak_rss_mb,
# query_p50_s, query_tail_s and each workload's own figures
END_TO_END = {"setup_s": "s", "pass_s": "s"}
PER_LAYER = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    "tables.first_touch_s": "s", "tables.first_touch_jobs": "count",
    "plan.build_s": "s", "plan.build_jobs": "count", "plan.build_py4j_calls": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "spark_exec.s": "s", "spark_exec.jobs": "count", "spark_exec.stages": "count",
    "spark_exec.tasks": "count", "spark_exec.failed_tasks": "count",
    "spark_exec.exchanges": "count", "spark_exec.shuffle_write_bytes": "bytes",
    "spark_exec.shuffle_read_bytes": "bytes", "spark_exec.input_bytes": "bytes",
    "spark_exec.spill_bytes": "bytes", "spark_exec.gc_ms": "ms",
    "caching.live_waypoints": "count", "caching.cached_bytes": "bytes", "caching.release_s": "s",
    "trace.overhead_s": "s",
}
SMALL_SF = 0.001
SETUPS = 3  # cold set-ups per run, each with its own JVM; setup_s is their median
WARM_PASS = 900  # pass numbers of the warm passes start here
WARM_SECONDS = 6.0


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=0.1, help="scale factor of the measured tables")
    return p.parse_args(argv)


def _vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        return int(re.search(r"VmHWM:\s+(\d+)", f.read()).group(1))


def _source_digest() -> str:
    h = hashlib.sha1()
    for base in ("hadoop_fcfs_spark", "perfbench"):
        for d, dirs, files in sorted(os.walk(os.path.join(ROOT, base))):
            dirs[:] = sorted(x for x in dirs if not x.startswith(("_out", "__pycache__")))
            for name in sorted(files):
                if name.endswith(".py"):
                    with open(os.path.join(d, name), "rb") as f:
                        h.update(name.encode() + f.read())
    return h.hexdigest()[:12]


def _git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args, workload, tracer, sf_dir, small_dir, work_dir, event_dir):
        self.seed = args.seed
        self.workload, self.tracer = workload, tracer
        self.sf_dir, self.small_dir = sf_dir, small_dir
        self.work_dir, self.event_dir = work_dir, event_dir
        self.spark = None
        self.failures: list[str] = []
        self.op_samples: list[tuple[str, float]] = []
        self.stream_progress: list[list[dict]] = []
        self.ops_attempted = 0
        self.cache_dir = os.path.join(OUT, "cache")
        self.group_alias: dict[str, str] = {}

    def note_failure(self, what: str, err: Exception) -> None:
        self.failures.append(f"{what}: {type(err).__name__}: {err}"[:300])

    def setup(self, i: int) -> float:
        """A cold set-up: stop any running session and its JVM, then start
        both, warm up at the small scale and touch the ten measured
        tables. Returns its wall time, the JVM start included."""
        from hadoop_fcfs_spark.session import get_spark
        from hadoop_fcfs_spark.tables import TABLES as tables
        from hadoop_fcfs_spark.tables import t

        if self.spark is not None:
            _shutdown(self.spark)
            self.spark = None
        tr = self.tracer
        start = time.perf_counter()
        with tr.span("session.get_spark", op=f"setup{i}"):
            self.spark = get_spark(f"perfbench-{self.workload.name}")
        tr.attach(self.spark)
        with tr.span("session.warmup", op=f"setup{i}", group=f"setup{i}|warmup"):
            for name in tables:
                t(self.spark, self.small_dir, name)
        with tr.span("tables.first_touch", op=f"setup{i}", group=f"setup{i}|touch"):
            for name in tables:
                t(self.spark, self.sf_dir, name)
        return time.perf_counter() - start

    def peak_rss_mb(self) -> float:
        jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


def _configure_env(work_dir: str, event_dir: str | None) -> None:
    """Everything the program and Spark write goes under ``work_dir``."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["TMPDIR"] = tmp
    conf = [f"--conf spark.sql.warehouse.dir={os.path.join(work_dir, 'warehouse')}",
            f"--driver-java-options '-Djava.io.tmpdir={tmp}'"]
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf += ["--conf spark.eventLog.enabled=true", f"--conf spark.eventLog.dir=file://{event_dir}",
                 "--conf spark.eventLog.compress=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(conf + ["pyspark-shell"])


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit. The next
    session starts a new JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def _per_layer(run, pass_walls, traced_passes) -> tuple[dict, dict]:
    """Per-layer metrics (median over traced passes) and the
    workload-specific layer figures for the report."""
    from spans import event_log_counts, self_times

    spans = run.tracer.spans
    selfs = self_times(spans)
    counts = event_log_counts(run.event_dir, run.group_alias)
    pass_of = re.compile(r"^p(\d+)[:|]")

    def in_pass(op, p):
        m = pass_of.match(op or "")
        return m is not None and int(m.group(1)) == p

    def med(values):
        values = list(values)
        return st.median(values) if values else 0.0

    setup_span = lambda name: [s["end"] - s["start"] for s in spans if s["name"] == name]  # noqa: E731
    out = {
        "session.get_spark_s": med(setup_span("session.get_spark")),
        "session.warmup_s": med(setup_span("session.warmup")),
        "tables.first_touch_s": med(setup_span("tables.first_touch")),
        "tables.first_touch_jobs": med(counts.get(f"setup{i}|touch", {}).get("jobs", 0)
                                       for i in range(SETUPS)),
    }
    per_pass: list[dict] = []
    for p in traced_passes:
        idx = [i for i, s in enumerate(spans) if in_pass(s["op"], p)]
        by_name = lambda name: [i for i in idx if spans[i]["name"] == name]  # noqa: E731
        groups = {g: c for g, c in counts.items() if in_pass(g, p)}
        exec_c = [c for g, c in groups.items() if g.endswith(("|exec", "|stream"))]
        phases = [spans[i]["attrs"].get("phases_ms", {}) for i in idx]
        roots = [spans[i] for i in idx if spans[i]["parent"] is None]
        m = {
            "plan.build_s": sum(selfs[i] for i in by_name("plan.build")),
            "plan.build_jobs": sum(c["jobs"] for g, c in groups.items() if g.endswith("|build")),
            "plan.build_py4j_calls": sum(spans[i]["attrs"]["py4j_calls"] for i in by_name("plan.build")),
            "spark_exec.s": sum(selfs[i] for i in by_name("spark_exec.run")),
            "spark_exec.gc_ms": sum(spans[i]["attrs"].get("gc_ms", 0) for i in by_name("spark_exec.run")),
            "caching.release_s": sum(selfs[i] for i in by_name("caching.release")),
            "caching.live_waypoints": sum(s["attrs"].get("live_waypoints", 0) for s in roots),
            "caching.cached_bytes": sum(s["attrs"].get("cached_bytes", 0) for s in roots),
        }
        for ph in ("analysis", "optimization", "planning"):
            m[f"catalyst.{ph}_ms"] = sum(x.get(ph, 0) for x in phases)
        for key in ("jobs", "stages", "tasks", "failed_tasks", "exchanges", "shuffle_write_bytes",
                    "shuffle_read_bytes", "input_bytes", "spill_bytes"):
            m[f"spark_exec.{key}"] = sum(c[key] for c in exec_c)
        m["udf.python_bytes_sent"] = sum(c["python_bytes_sent"] for c in groups.values())
        m["udf.python_bytes_returned"] = sum(c["python_bytes_returned"] for c in groups.values())
        root_time = lambda name: sum(s["end"] - s["start"] for s in roots if s["name"] == name)  # noqa: E731
        m["tera.sort_s"] = root_time("tera.sort")
        m["io.write_s"] = root_time("io.write")
        m["io.read_s"] = root_time("io.read")
        io_runs = [spans[i]["attrs"] for i in by_name("spark_exec.run") if "bytes_written" in spans[i]["attrs"]]
        m["io.bytes_written"] = sum(a["bytes_written"] for a in io_runs)
        m["io.files_written"] = sum(a["files_written"] for a in io_runs)
        layer_self: dict[str, float] = {}
        for i in idx:
            layer = spans[i]["name"].split(".")[0]
            layer_self[layer] = layer_self.get(layer, 0.0) + selfs[i]
        m["self_s"] = layer_self
        per_pass.append(m)

    for key in PER_LAYER:
        if key not in out and key != "trace.overhead_s":
            out[key] = med(m[key] for m in per_pass)
    traced = [pass_walls[p] for p in traced_passes]
    plain = [w for p, w in enumerate(pass_walls) if p not in traced_passes]
    out["trace.overhead_s"] = (st.median(traced) - st.median(plain)) if traced and plain else 0.0

    extra = {"passes_traced": len(traced_passes), "passes_untraced": len(plain),
             "exact_counters_per_pass": [
                 {k: m[k] for k in m if k.endswith(("jobs", "stages", "tasks", "exchanges",
                                                     "_bytes", "py4j_calls", "waypoints"))
                  or k in ("io.files_written",)} for m in per_pass],
             "layer_self_s": {k: med(m["self_s"].get(k, 0.0) for m in per_pass)
                              for k in sorted({k for m in per_pass for k in m["self_s"]})}}
    extra.update(run.workload.layer_extra(run, lambda key: med(m[key] for m in per_pass)))
    return out, extra


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "hadoop_fcfs_spark", "__init__.py")):
        print(f"perfbench: no hadoop_fcfs_spark package in {ROOT}", file=sys.stderr)
        return 2
    load_before = list(os.getloadavg())
    work_dir = os.path.join(OUT, f"work-{os.getpid()}")
    shutil.rmtree(work_dir, ignore_errors=True)
    event_dir = os.path.join(work_dir, "eventlog") if args.trace else None
    _configure_env(work_dir, event_dir)
    sys.path[:0] = [ROOT, HERE]

    import pyspark

    import datagen
    from spans import Tracer
    from workloads import WORKLOADS as IMPL
    from workloads import tail

    try:
        sf_dir = datagen.ensure(os.path.join(OUT, "data"), args.scale)
        small_dir = datagen.ensure(os.path.join(OUT, "data"), SMALL_SF)
        workload = IMPL[args.workload]()
        tracer = Tracer(bool(args.trace))
        run = Run(args, workload, tracer, sf_dir, small_dir, work_dir, event_dir)
        try:
            phase_s = {}
            mark = time.perf_counter()
            # the run keeps the last set-up's session
            setups = [run.setup(i) for i in range(SETUPS)]
            workload.prepare(run)
            phase_s["setup_and_prepare"], mark = time.perf_counter() - mark, time.perf_counter()
            # untimed passes of the exact operations: the first runs of
            # each plan in a fresh JVM are far slower than later ones
            tracer.enabled = False
            warm = 0
            while warm == 0 or time.perf_counter() - mark < WARM_SECONDS:
                run.ops_attempted += len(workload.run_pass(run, WARM_PASS + warm))
                warm += 1
            phase_s["warm_passes"] = warm
            phase_s["warm"], mark = time.perf_counter() - mark, time.perf_counter()
            checks = workload.checks(run)
            phase_s["checks"] = time.perf_counter() - mark
            pass_walls, traced_passes, start = [], [], time.perf_counter()
            # at least two passes, so pass_s is never one slow pass alone;
            # traced runs alternate traced and plain passes, so the
            # tracing overhead is measured inside the run
            while time.perf_counter() - start < args.seconds or len(pass_walls) < 2:
                p = len(pass_walls)
                tracer.enabled = bool(args.trace) and p % 2 == 0
                if tracer.enabled:
                    traced_passes.append(p)
                t0 = time.perf_counter()
                ops = workload.run_pass(run, p)
                pass_walls.append(time.perf_counter() - t0)
                run.op_samples.extend((n, s) for n, s in ops if s is not None)
                run.ops_attempted += len(ops)
            tracer.enabled = bool(args.trace)
            phase_s["window"] = time.perf_counter() - start
            peak_rss = run.peak_rss_mb()
        finally:
            if run.spark is not None:
                _shutdown(run.spark)

        op_times = [s for _, s in run.op_samples]
        tail_v, tail_pct, beyond = tail(op_times)
        e2e = {
            "setup_s": st.median(setups),
            "pass_s": st.median(pass_walls),
        }
        failed_checks = [(n, r) for n, r in checks if r is not None]
        attempted = len(checks) + run.ops_attempted
        failed = len(failed_checks) + len(run.failures)
        report = {
            "workload": args.workload,
            "context": {
                "cpus": len(os.sched_getaffinity(0)), "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "scale": args.scale, "pyspark": pyspark.__version__,
                "git_commit": _git_commit(), "source_digest": _source_digest(),
                "loadavg_before": load_before, "loadavg_after": list(os.getloadavg()),
            },
            "end_to_end": {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()},
            "samples": {"setups": len(setups), "passes": len(pass_walls), "operations": len(op_times),
                        "query_tail_percentile": tail_pct, "query_tail_samples_beyond": beyond},
            "setup_samples_s": setups,
            "pass_samples_s": pass_walls,
            "phase_s": phase_s,
            "operation_p50_s": {n: st.median(s for m, s in run.op_samples if m == n)
                                for n in sorted({m for m, _ in run.op_samples})},
            "failed_fraction": failed / attempted,
            "failures": [f"{n}: {r}" for n, r in failed_checks] + run.failures,
        }
        report["end_to_end"]["peak_rss_mb"] = {"value": peak_rss, "unit": "MB"}
        report["end_to_end"]["query_p50_s"] = {"value": st.median(op_times), "unit": "s"}
        report["end_to_end"]["query_tail_s"] = {"value": tail_v, "unit": "s"}
        for k, (v, unit) in workload.extra_metrics(run, op_times, pass_walls).items():
            report["end_to_end"][k] = {"value": v, "unit": unit}
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        if args.trace:
            layers, extra = _per_layer(run, pass_walls, traced_passes)
            report["per_layer"] = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layers.items()}
            report["per_layer_extra"] = extra
            metrics = report["per_layer"]
            tracer.write(os.path.join(OUT, "spans", f"{args.workload}-seed{args.seed}-{os.getpid()}.jsonl"))
        print(json.dumps(report))
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
