"""Spans and counters for the traced run.

A ``Tracer`` records a span (name, start, end, parent, op id) around each
call the benchmark makes into a layer of the program. Spans stay in
memory and are written as JSON lines when the run ends. With tracing off
every ``span`` is a no-op, so the untraced run measures the program alone.

Counters come from three places:

- the py4j client, wrapped to count calls (the wrapper only increments an
  integer and delegates, so behaviour is unchanged); releases of
  garbage-collected handles are left out;
- the JVM's garbage-collector beans, read at span boundaries;
- Spark's event log, parsed after the session stops. Each traced phase
  runs under its own job group, so jobs, stages, tasks, shuffle and input
  bytes, spill, executed exchanges and Python-worker bytes are attributed
  to the span that caused them.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager

from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._gc_beans = None
        self.py4j_calls = 0

    def attach(self, spark) -> None:
        """Bind to a (new) session: job groups and GC beans go through it.
        The py4j client lives as long as the JVM, so it is wrapped once."""
        if not self.enabled:
            return
        self._sc = spark.sparkContext
        self._gc_beans = list(
            spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        )
        client = self._sc._gateway._gateway_client
        if not getattr(client, "_perfbench_counting", False):
            send = client.send_command
            # releases of Python-side handles follow the garbage collector's
            # timing, not the program's work, so they are not counted
            release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

            def counting_send(command, *args, **kwargs):
                if not command.startswith(release):
                    self.py4j_calls += 1
                return send(command, *args, **kwargs)

            client.send_command = counting_send
            client._perfbench_counting = True

    def _gc_ms(self) -> int:
        return sum(b.getCollectionTime() for b in self._gc_beans) if self._gc_beans else 0

    @contextmanager
    def span(self, name: str, op: str | None = None, group: str | None = None, gc: bool = False):
        """Record ``name`` around the body. ``group`` sets the Spark job
        group first, so event-log counters can be joined to this span;
        ``gc`` samples JVM GC time at both ends. Yields a dict the body may
        add attributes to."""
        if not self.enabled:
            yield {}
            return
        if group is not None:
            self._sc.setJobGroup(group, name)
        attrs: dict = {}
        gc0 = self._gc_ms() if gc else 0
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        idx = len(self.spans)
        rec = {"name": name, "start": 0.0, "end": 0.0, "parent": parent, "op": op,
               "group": group, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(idx)
        calls0 = self.py4j_calls
        rec["start"] = time.perf_counter()
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            attrs["py4j_calls"] = self.py4j_calls - calls0
            if gc:
                attrs["gc_ms"] = self._gc_ms() - gc0
            if group is not None:
                self._sc.setJobGroup("perfbench-untraced", "outside any span")

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the union of its children's intervals."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, cur_start, cur_end = 0.0, None, None
        for a, b in sorted(children.get(i, [])):
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out.append(s["end"] - s["start"] - covered)
    return out


_EXCHANGES = {"Exchange", "ShuffleExchange", "BroadcastExchange"}
_SQL = "org.apache.spark.sql.execution.ui."


def _count_exchanges(plan: dict) -> int:
    n = 1 if plan.get("nodeName") in _EXCHANGES else 0
    return n + sum(_count_exchanges(c) for c in plan.get("children", []))


def _new_counts() -> dict:
    return {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "exchanges": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "input_bytes": 0,
            "spill_bytes": 0, "python_bytes_sent": 0, "python_bytes_returned": 0}


def event_log_counts(log_dir: str, alias: dict[str, str]) -> dict[str, dict]:
    """Per job group counters from every event log under ``log_dir``;
    ``alias`` renames groups the benchmark did not name itself.

    Exchanges are counted in the final adaptive plan of each SQL
    execution (the last plan update Spark logged for it), so they are the
    exchanges that ran, not those of the printed pre-execution tree."""
    groups: dict[str, dict] = {}
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(f) and os.path.basename(f).startswith(("events_", "local-"))]
    for path in sorted(files):
        stage_group: dict[int, str] = {}
        exec_group: dict[int, str] = {}
        plans: dict[int, dict] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if g is None:
                        continue
                    g = alias.get(g, g)
                    groups.setdefault(g, _new_counts())["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, g)
                    eid = props.get("spark.sql.execution.id")
                    if eid is not None:
                        exec_group.setdefault(int(eid), g)
                elif kind == "SparkListenerStageCompleted":
                    g = stage_group.get(ev["Stage Info"]["Stage ID"])
                    if g is not None:
                        groups[g]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev["Stage ID"])
                    if g is None:
                        continue
                    c = groups[g]
                    c["tasks"] += 1
                    if ev["Task End Reason"]["Reason"] != "Success":
                        c["failed_tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    c["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    for acc in ev["Task Info"].get("Accumulables", []):
                        name = acc.get("Name")
                        if name == "data sent to Python workers":
                            c["python_bytes_sent"] += int(acc.get("Update", 0))
                        elif name == "data returned from Python workers":
                            c["python_bytes_returned"] += int(acc.get("Update", 0))
                elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                              _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
                    plans[ev["executionId"]] = ev["sparkPlanInfo"]
        for eid, g in exec_group.items():
            if eid in plans:
                groups[g]["exchanges"] += _count_exchanges(plans[eid])
    return groups
