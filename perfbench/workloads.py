"""The benchmark's four workloads.

Each is a closed loop with one client: a pass runs the workload's
operations one after another in an order drawn from the seed, and the
window repeats passes. An operation is one registry query
(``adhoc_sql``, ``llm_pipeline``), one sort or storage step
(``bulk_sort_io``) or one streaming micro-batch (``stream_stateful``).
"""

from __future__ import annotations

import os
import random
import shutil
import statistics as st
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hadoop_fcfs_spark.bench import tera
from hadoop_fcfs_spark.caching import live_waypoint_count, release_waypoints
from hadoop_fcfs_spark.registry import all_queries
from hadoop_fcfs_spark.streaming.stateful import stream_running_stats
from hadoop_fcfs_spark.tables import t

from checks import content_digest, oracle_mismatch, oracle_result

PHASES = ("analysis", "optimization", "planning")


def tail(samples: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples beyond). Fewer than 11 samples give the
    maximum, with the count beyond it (0) saying so."""
    s = sorted(samples)
    n = len(s)
    if n > 10:
        return s[n - 11], 100.0 * (n - 10) / n, 10
    return s[-1], 100.0, 0


def _phases_ms(qe) -> dict:
    ph = qe.tracker().phases()
    return {k: int(ph.get(k).get().durationMs()) for k in PHASES if ph.contains(k)}


def _cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def _release(run, op: str) -> None:
    with run.tracer.span("caching.release", op=op):
        release_waypoints()
        run.spark.catalog.clearCache()


def _timed_op(run, op: str, root: str, build, action) -> float:
    """Release caches, then time build + action as one operation. Traced,
    the build, Catalyst and action phases get their own spans and job
    groups, and the caches left behind are recorded on the root span."""
    tr, spark = run.tracer, run.spark
    _release(run, op)
    start = time.perf_counter()
    with tr.span(root, op=op) as attrs:
        with tr.span("plan.build", group=f"{op}|build"):
            df = build()
        if tr.enabled:
            with tr.span("catalyst.plan") as cat:
                # a fresh QueryExecution: phases of a reused DataFrame (a
                # table handle) span every re-measurement since it was built
                mode = spark._jvm.org.apache.spark.sql.execution.CommandExecutionMode.ALL()
                qe = spark._jsparkSession.sessionState().executePlan(
                    df._jdf.queryExecution().logical(), mode)
                qe.executedPlan()
                cat["phases_ms"] = _phases_ms(qe)
        with tr.span("spark_exec.run", group=f"{op}|exec", gc=True) as ex:
            ex.update(action(df) or {})
    elapsed = time.perf_counter() - start
    if tr.enabled:
        attrs["live_waypoints"] = live_waypoint_count()
        attrs["cached_bytes"] = _cached_bytes(spark)
    return elapsed


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""

    def prepare(self, run) -> None:
        """Build the seeded inputs (untimed)."""

    def checks(self, run) -> list[tuple[str, str | None]]:
        raise NotImplementedError

    def run_pass(self, run, pass_no: int) -> list[tuple[str, float | None]]:
        """Run one pass; return (operation, seconds or None if it raised)."""
        raise NotImplementedError

    def extra_metrics(self, run, ops: list[float], passes: list[float]) -> dict:
        """The workload's own end-to-end figures: name -> (value, unit)."""
        return {}

    def layer_extra(self, run, per_pass) -> dict:
        """Layer figures that exist on this workload only; ``per_pass(key)``
        is the median over traced passes of a per-pass figure."""
        return {}


class QueryMix(Workload):
    """Repeated passes over a fixed list of registry entries."""

    entries: tuple[str, ...] = ()

    def __init__(self):
        self.specs = all_queries()

    def builders(self, run) -> dict:
        sf = run.sf_dir
        return {n: (lambda n=n: self.specs[n].spark_fn(run.spark, sf)) for n in self.entries}

    def checks(self, run):
        con = None
        out = []
        for name, build in self.builders(run).items():
            _release(run, f"check:{name}")
            try:
                got = build().toPandas()
                if name not in self.specs:
                    reason = self.check_extra(name, got)
                else:
                    want, con = oracle_result(run, self.specs[name].oracle, con)
                    reason = oracle_mismatch(got, want)
            except Exception as e:  # a raising query is a failed case, not a crash
                reason = f"raised {type(e).__name__}: {e}"[:300]
            out.append((name, reason))
        if con is not None:
            con.close()
        return out

    def check_extra(self, name, got) -> str | None:
        return f"no check for {name}"

    def layer_extra(self, run, per_pass):
        return {f"registry.{k}": per_pass(f"plan.{k}") for k in ("build_s", "build_jobs", "build_py4j_calls")}

    def run_pass(self, run, pass_no):
        builders = self.builders(run)
        order = sorted(builders)
        random.Random(run.seed * 1000 + pass_no).shuffle(order)
        out = []
        for name in order:
            try:
                out.append((name, _timed_op(run, f"p{pass_no}:{name}", "op", builders[name], _noop)))
            except Exception as e:
                run.note_failure(name, e)
                out.append((name, None))
        return out


class AdhocSql(QueryMix):
    """Short single-exchange registry entries plus an MRBench-style tiny
    groupBy: fixed per-query cost (py4j build, Catalyst, job and stage
    scheduling) dominates each query."""

    name = "adhoc_sql"
    entries = (
        "pricing_summary", "join_multiway", "wordcount", "value_histogram",
        "sequence_packing", "ann_cosine_topk",
    )

    def builders(self, run):
        b = super().builders(run)
        spark = run.spark
        b["mrbench_tiny_groupby"] = lambda: (
            spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count())
        return b

    def check_extra(self, name, got):
        rows = sorted(zip(got["k"], got["count"]))
        return None if rows == [(k, 100) for k in range(10)] else f"tiny groupBy gave {rows}"


class LlmPipeline(QueryMix):
    """Composed and iterative LLM entries: jobs run while the plan is
    built, waypoint persist/release and multi-exchange plans dominate."""

    name = "llm_pipeline"
    entries = ("corpus_pipeline", "bradley_terry_suppliers")


TERA_ROWS = 500_000
TERA_RECORD_BYTES = 100  # TeraGen's record size: what sort MB/s is quoted in
LINEITEM_SORT_KEY = ("l_shipdate", "l_orderkey", "l_linenumber")


def seeded_teragen(spark, rows: int, seed: int) -> DataFrame:
    """``tera.teragen`` with keys drawn from the workload seed: same record
    layout and row count on every run, different key order per seed."""
    salt = F.lit(seed * 2 + 1001)
    h1 = F.xxhash64(F.col("rowid"), salt)
    h2 = F.xxhash64(F.col("rowid"), salt + 1)
    key = F.unhex(F.concat(F.lpad(F.hex(h1), 16, "0"),
                           F.substring(F.lpad(F.hex(h2), 16, "0"), 1, 4)))
    return tera.teragen(spark, rows).withColumn("key", key)


class BulkSortIo(Workload):
    """TeraSort of a seeded teragen, the lineitem total-order sort, and a
    TestDFSIO-style parquet write of lineitem with its read-back."""

    name = "bulk_sort_io"

    def prepare(self, run):
        self.io_dir = os.path.join(run.work_dir, "dfsio")
        self.io_stats: list[tuple[float, float, int]] = []  # write s, read s, bytes

    def _lineitem(self, run):
        return t(run.spark, run.sf_dir, "lineitem")

    def checks(self, run):
        spark = run.spark
        out = []
        try:
            gen = seeded_teragen(spark, TERA_ROWS, run.seed)
            v = tera.teravalidate(tera.terasort(gen))
            same = tera.content_checksum(tera.terasort(gen)) == tera.content_checksum(gen)
            out.append(("terasort", None if v["ok"] and v["rows"] == TERA_ROWS and same
                        else f"teravalidate {v}, checksum preserved {same}"))
        except Exception as e:
            out.append(("terasort", f"raised {type(e).__name__}: {e}"[:300]))
        li = self._lineitem(run)
        cases = {
            # a sort keeps every row: its output hashes like its input
            "lineitem_sort": lambda: li.orderBy(*LINEITEM_SORT_KEY),
            # the warm pass left its parquet write in io_dir
            "parquet_roundtrip": lambda: spark.read.parquet(self.io_dir),
        }
        for name, output in cases.items():
            try:
                got, want = content_digest(output()), content_digest(li)
                out.append((name, None if got == want else f"digest {got} vs {want}"))
            except Exception as e:
                out.append((name, f"raised {type(e).__name__}: {e}"[:300]))
        return out

    def run_pass(self, run, pass_no):
        spark = run.spark
        steps = {
            "terasort": lambda: [("terasort", _timed_op(
                run, f"p{pass_no}:terasort", "tera.sort",
                lambda: tera.terasort(seeded_teragen(spark, TERA_ROWS, run.seed)), _noop))],
            "lineitem_sort": lambda: [("lineitem_sort", _timed_op(
                run, f"p{pass_no}:lineitem_sort", "op",
                lambda: self._lineitem(run).orderBy(*LINEITEM_SORT_KEY), _noop))],
            "dfsio": lambda: self._dfsio(run, pass_no),
        }
        order = sorted(steps)
        random.Random(run.seed * 1000 + pass_no).shuffle(order)
        out = []
        for name in order:
            try:
                out.extend(steps[name]())
            except Exception as e:
                run.note_failure(name, e)
                out.append((name, None))
        return out

    def _dfsio(self, run, pass_no):
        io_dir, written = self.io_dir, {}

        def write(df):
            df.write.mode("overwrite").parquet(io_dir)
            files = [os.path.join(io_dir, f) for f in os.listdir(io_dir) if f.endswith(".parquet")]
            written.update(bytes_written=sum(map(os.path.getsize, files)), files_written=len(files))
            return written

        w = _timed_op(run, f"p{pass_no}:dfsio_write", "io.write", lambda: self._lineitem(run), write)
        r = _timed_op(run, f"p{pass_no}:dfsio_read", "io.read",
                      lambda: run.spark.read.parquet(io_dir), _noop)
        self.io_stats.append((w, r, written["bytes_written"]))
        return [("dfsio_write", w), ("dfsio_read", r)]

    def layer_extra(self, run, per_pass):
        out = {k: per_pass(k) for k in ("tera.sort_s", "io.write_s", "io.read_s",
                                        "io.bytes_written", "io.files_written")}
        out["tera.rows"] = TERA_ROWS
        return out

    def extra_metrics(self, run, ops, passes):
        sorts = [s for n, s in run.op_samples if n == "terasort"]
        return {
            "sort_mb_per_s": (TERA_ROWS * TERA_RECORD_BYTES / 1e6 / st.median(sorts), "MB/s"),
            "write_mb_per_s": (st.median(b / 1e6 / w for w, _, b in self.io_stats), "MB/s"),
            "read_mb_per_s": (st.median(b / 1e6 / r for _, r, b in self.io_stats), "MB/s"),
        }


STREAM_USERS = 150
STREAM_FILES = 6


class StreamStateful(Workload):
    """Seeded event files replayed one file per trigger through
    ``readStream`` into ``streaming.stateful.stream_running_stats``
    (``applyInPandasWithState``): the Arrow/Python worker boundary and
    the state store do most of the work."""

    name = "stream_stateful"

    def prepare(self, run):
        import numpy as np
        import pyarrow.parquet as pq

        ev = pq.read_table(os.path.join(run.sf_dir, "events.parquet"),
                           columns=["ts", "user_id", "value"]).to_pandas()
        population = np.sort(ev["user_id"].unique())
        users = np.random.default_rng(run.seed).choice(
            population, min(STREAM_USERS, len(population)), replace=False)
        ev = ev[ev["user_id"].isin(users)].sort_values("ts", kind="stable")
        self.staged = os.path.join(run.work_dir, "stream-staged")
        shutil.rmtree(self.staged, ignore_errors=True)
        os.makedirs(self.staged)
        self.files = []
        for i, part in enumerate(np.array_split(ev[["user_id", "value"]], STREAM_FILES)):
            path = os.path.join(self.staged, f"part-{i:04d}.parquet")
            part.to_parquet(path, index=False)
            self.files.append(path)
        self.events = len(ev)

    def _replay(self, run, tag: str, sink: str) -> list[float]:
        spark, tr = run.spark, run.tracer
        base = os.path.join(run.work_dir, f"stream-{tag}")
        shutil.rmtree(base, ignore_errors=True)
        src = os.path.join(base, "src")
        os.makedirs(src)
        _release(run, f"{tag}:start")
        with tr.span("streaming.start", op=f"{tag}:start", group=f"{tag}|stream"):
            with tr.span("plan.build"):
                stream = (spark.readStream.schema("user_id long, value double")
                          .option("maxFilesPerTrigger", 1).parquet(src))
                out = stream_running_stats(stream, "user_id", "value")
            writer = out.writeStream.format(sink).outputMode("update").option(
                "checkpointLocation", os.path.join(base, "checkpoint"))
            if sink == "memory":
                writer = writer.queryName(f"perfbench_{tag}")
            q = writer.start()
        # micro-batch jobs run under the query's run id as their job group
        run.group_alias[str(q.runId)] = f"{tag}|stream"
        times = []
        try:
            for i, path in enumerate(self.files):
                start = time.perf_counter()
                with tr.span("streaming.batch", op=f"{tag}:b{i}"):
                    with tr.span("spark_exec.run", gc=True) as attrs:
                        os.link(path, os.path.join(src, os.path.basename(path)))
                        q.processAllAvailable()
                times.append(time.perf_counter() - start)
                if tr.enabled:
                    attrs["phases_ms"] = _phases_ms(q._jsq.streamingQuery().lastExecution())
            if tr.enabled:
                run.stream_progress.append([p for p in q.recentProgress if p["numInputRows"] > 0])
        finally:
            with tr.span("streaming.stop", op=f"{tag}:stop"):
                q.stop()
            shutil.rmtree(base, ignore_errors=True)
        return times

    def checks(self, run):
        spark = run.spark
        tag = "check"
        try:
            self._replay(run, tag, "memory")
            last = {}
            for r in spark.sql(f"SELECT * FROM perfbench_{tag}").collect():
                last[r["user_id"]] = (r["n"], r["total"], r["vmax"])
            want = {
                r["user_id"]: (r["n"], r["total"], r["vmax"])
                for r in spark.read.parquet(*self.files).groupBy("user_id").agg(
                    F.count("value").alias("n"), F.sum("value").alias("total"),
                    F.max("value").alias("vmax")).collect()
            }
            bad = [k for k in want if k not in last or last[k][0] != want[k][0]
                   or last[k][2] != want[k][2]
                   or abs(last[k][1] - want[k][1]) > 1e-9 * max(1.0, abs(want[k][1]))]
            reason = None if not bad and len(last) == len(want) else (
                f"{len(bad)} keys differ, {len(last)} vs {len(want)} keys")
        except Exception as e:
            reason = f"raised {type(e).__name__}: {e}"[:300]
        finally:
            spark.catalog.dropTempView(f"perfbench_{tag}")
        return [("final_state", reason)]

    def run_pass(self, run, pass_no):
        try:
            times = self._replay(run, f"p{pass_no}", "noop")
        except Exception as e:
            run.note_failure("replay", e)
            return [("replay", None)]
        return [(f"batch{i}", s) for i, s in enumerate(times)]

    def layer_extra(self, run, per_pass):
        progress = run.stream_progress

        def med(f):
            return st.median(f(b) for b in progress)

        return {
            "streaming.batches": med(len),
            "streaming.add_batch_ms": med(lambda b: sum(x["durationMs"].get("addBatch", 0) for x in b)),
            "streaming.query_planning_ms": med(
                lambda b: sum(x["durationMs"].get("queryPlanning", 0) for x in b)),
            "streaming.state_rows": med(lambda b: b[-1]["stateOperators"][0]["numRowsTotal"]),
            "streaming.state_memory_bytes": med(lambda b: b[-1]["stateOperators"][0]["memoryUsedBytes"]),
            "udf.python_bytes_sent": per_pass("udf.python_bytes_sent"),
            "udf.python_bytes_returned": per_pass("udf.python_bytes_returned"),
        }

    def extra_metrics(self, run, ops, passes):
        return {
            "events_per_s": (self.events / st.median(passes), "1/s"),
            "batch_p50_s": (st.median(ops), "s"),
            "batch_tail_s": (tail(ops)[0], "s"),
        }


WORKLOADS = {w.name: w for w in (AdhocSql, LlmPipeline, BulkSortIo, StreamStateful)}
