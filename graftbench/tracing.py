"""The traced run: per-layer time from outside the engine.

``Tracer`` wraps public functions of the engine's modules at the
attributes their callers look up, so every call opens a span. Spans opened
on a thread that has none open (generator level workers, the streaming
``foreachBatch`` callback thread) nest under the current pass. py4j round
trips are counted at ``GatewayClient.send_command``. Spark's own work is
read afterwards from the event log, attributed to a pass by task launch
time, and streaming trigger phases come from ``recentProgress``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import Counter, defaultdict

from workloads import ENGINE

# (module, attribute, span name). Modules that import a helper by name get
# their own entry: patching the defining module would miss those calls.
TIMED = [
    ("session", "get_spark", "session.get_spark"),
    ("sources.ddl", "parse_schema_script", "sources.parse_schema_script"),
    ("plans.rules", "dump_rules", "plans.dump_rules"),
    ("plans.rules", "load_rules", "plans.load_rules"),
    ("plans.executor", "compile_rule", "plans.compile_rule"),
    ("plans.executor.GenerationPlan", "build_one", "plans.build_one"),
    ("streaming.ingest", "build_lsh_index", "operators.dedup.build_lsh_index"),
    ("streaming.ingest", "dedup_incremental", "operators.dedup.dedup_incremental"),
    ("streaming.ingest", "connected_components", "operators.dedup.connected_components"),
    ("streaming.ingest", "write_bucketed", "sinks.write_bucketed"),
    ("streaming.ingest", "mark_batch_committed", "sinks.ledger_commit"),
    ("streaming.ingest", "ensure_index", "streaming.ensure_index"),
    ("streaming.ingest", "compact_corpus", "streaming.compact_corpus"),
    ("streaming.ingest", "compact_index", "streaming.compact_index"),
    ("streaming.ingest", "verify_index", "streaming.verify_index"),
]
# spans that are layers of their own inside another span: time in them is
# subtracted from the enclosing span's construct time
SINK = "sinks.parquet_write"


def _resolve(mod_path: str):
    import importlib

    parts = mod_path.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join([ENGINE, *parts[:i]]))
        except ImportError:
            continue
        for p in parts[i:]:
            obj = getattr(obj, p)
        return obj
    raise ImportError(mod_path)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.py4j_calls = 0
        self.py4j_by_layer: Counter = Counter()
        self._tl = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []
        self.pass_span: dict | None = None

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._tl, "stack"):
            self._tl.stack = []
        return self._tl.stack

    def open(self, name: str) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else self.pass_span
        span = {"name": name, "t0": time.perf_counter(), "t1": None, "parent": parent}
        stack.append(span)
        with self._lock:
            self.spans.append(span)
        return span

    def close(self, span: dict) -> None:
        span["t1"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def begin_pass(self, name: str) -> dict:
        """The pass span: the root of every span until end_pass, whichever
        thread opens it."""
        self.pass_span = {"name": name, "t0": time.perf_counter(), "t1": None, "parent": None}
        with self._lock:
            self.spans.append(self.pass_span)
        return self.pass_span

    def add_span(self, name: str, t0: float, t1: float) -> None:
        """A span measured elsewhere (a streaming trigger), under the pass."""
        with self._lock:
            self.spans.append({"name": name, "t0": t0, "t1": t1, "parent": self.pass_span})

    def end_pass(self) -> None:
        self.pass_span["t1"] = time.perf_counter()
        self.pass_span = None

    def _wrapper(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **k):
            span = tracer.open(name)
            try:
                return fn(*a, **k)
            finally:
                tracer.close(span)

        return traced

    # -- installation --------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self) -> None:
        import py4j.java_gateway as jg
        from pyspark.sql.readwriter import DataFrameWriter

        for mod, attr, name in TIMED:
            owner = _resolve(mod)
            self._patch(owner, attr, self._wrapper(getattr(owner, attr), name))
        self._patch(DataFrameWriter, "parquet",
                    self._wrapper(DataFrameWriter.parquet, SINK))
        reg = _resolve("registry")
        all_queries = reg.all_queries

        def traced_queries():
            return {
                n: self._wrapper(f, f"operators.{n}.construct")
                for n, f in all_queries().items()
            }

        self._patch(reg, "all_queries", traced_queries)
        gen = _resolve("functions.generators")
        for attr, fn in list(vars(gen).items()):
            if attr.startswith("gen_") and callable(fn):
                self._patch(gen, attr, self._counter(fn, "functions.gen_calls"))
        tracer = self
        send = jg.GatewayClient.send_command

        @functools.wraps(send)
        def counted(client, command, *a, **k):
            # "m\n" commands release Python-side references when the
            # garbage collector runs, at times no run controls
            if not command.startswith("m\n"):
                stack = tracer._stack()
                layer = stack[-1]["name"] if stack else None
                with tracer._lock:
                    tracer.py4j_calls += 1
                    if layer is not None:
                        tracer.py4j_by_layer[layer] += 1
            return send(client, command, *a, **k)

        self._patch(jg.GatewayClient, "send_command", counted)

    def _counter(self, fn, key: str):
        tracer = self

        @functools.wraps(fn)
        def counted(*a, **k):
            tracer.counts[key] += 1
            return fn(*a, **k)

        return counted

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, old = self._undo.pop()
            setattr(owner, attr, old)

    # -- per-pass figures ----------------------------------------------
    def pass_figures(self, pass_span: dict) -> dict:
        """Sums of span time by name under one pass, the construct time of
        build_one (minus its parquet writes), and the share of the pass
        covered by the union of its direct children."""
        mine = [s for s in self.spans if s["t1"] is not None and _under(s, pass_span)]
        by_name: dict[str, float] = defaultdict(float)
        calls: Counter = Counter()
        for s in mine:
            by_name[s["name"]] += s["t1"] - s["t0"]
            calls[s["name"]] += 1
            if s["name"] == SINK and s["parent"] is not None:
                # a query's result write is that query's execute time
                by_name[s["parent"]["name"] + ".execute"] += s["t1"] - s["t0"]
        build_write = sum(
            s["t1"] - s["t0"] for s in mine
            if s["name"] == SINK and _has_ancestor(s, "plans.build_one")
        )
        direct = sorted(
            (s["t0"], s["t1"]) for s in mine if s["parent"] is pass_span
        )
        covered, end = 0.0, pass_span["t0"]
        for a, b in direct:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        wall = pass_span["t1"] - pass_span["t0"]
        return {
            "by_name": dict(by_name), "calls": dict(calls),
            "construct_s": by_name.get("plans.build_one", 0.0) - build_write,
            "coverage": covered / wall if wall > 0 else 0.0,
        }


def _under(span: dict, root: dict) -> bool:
    p = span["parent"]
    while p is not None:
        if p is root:
            return True
        p = p["parent"]
    return False


def _has_ancestor(span: dict, name: str) -> bool:
    p = span["parent"]
    while p is not None:
        if p["name"] == name:
            return True
        p = p["parent"]
    return False


# --- Spark event log ---------------------------------------------------------


def read_event_log(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Task, stage and job totals for tasks launched inside ``windows``
    (epoch seconds), and jobs submitted inside them."""
    files = [f for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
             if os.path.isfile(f)]
    inside = lambda ms: any(a <= ms / 1000.0 <= b for a, b in windows)  # noqa: E731
    tot: Counter = Counter()
    stages, jobs = set(), set()
    for path in files:
        with open(path, errors="replace") as f:
            for line in f:
                if '"Event":"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    launch = info.get("Launch Time", 0)
                    if not inside(launch):
                        continue
                    tot["tasks"] += 1
                    stages.add(ev.get("Stage ID"))
                    tot["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    tot["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    tot["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    sw = m.get("Shuffle Write Metrics", {})
                    sr = m.get("Shuffle Read Metrics", {})
                    tot["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    tot["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    tot["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
                elif '"Event":"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    if inside(ev.get("Submission Time", 0)):
                        jobs.add(ev.get("Job ID"))
    tot["stages"] = len(stages)
    tot["jobs"] = len(jobs)
    return dict(tot)


PHASES = {
    "triggerExecution": "streaming.trigger_execution_ms",
    "addBatch": "streaming.add_batch_ms",
    "getBatch": "streaming.get_batch_ms",
    "latestOffset": "streaming.latest_offset_ms",
    "queryPlanning": "streaming.query_planning_ms",
    "walCommit": "streaming.wal_commit_ms",
}


def progress_figures(progress: list) -> dict:
    """Summed phase durations and row counts over a query's triggers."""
    out = Counter()
    for p in progress:
        for phase, key in PHASES.items():
            out[key] += p.durationMs.get(phase, 0)
        out["streaming.docs_in"] += p.numInputRows
        out["streaming.triggers"] += 1
    return dict(out)


def trigger_window(p, clock_offset: float) -> tuple[float, float]:
    """A trigger's (start, end) on the perf_counter clock; ``clock_offset``
    is time.time() - time.perf_counter()."""
    import datetime

    start = datetime.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
    return start - clock_offset, start - clock_offset + p.durationMs["triggerExecution"] / 1000.0
