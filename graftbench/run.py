#!/usr/bin/env python3
"""spark-graft benchmark: one workload, one process, ``local[4]``.

    python3 graftbench/run.py --workload erp_wide --seed 1 --seconds 3 --trace 0

Run from the repository root. The run writes only under
``.graftbench_work/`` in that root and deletes it at exit. It prints one
JSON object as the last line of stdout: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``). A run record
(machine, versions, load) goes to stderr. See graftbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "synthetic_data_transfer_to_relational_database_spark"
CORES = 4
INPUT_REPEATS = 3  # set-up of the inputs is repeated, and its median kept
WARMUP = 1  # untimed passes before the timed ones: the cold one

# Sizes, chosen so that 22 runs of each workload fit the benchmark's time
# budget on 4 cores (README.md, "Sizes").
SIZES = {
    "erp_wide": {"n_tables": 16},
    "analytics_mix": {},
    "corpus_ingest": {"n_files": 1},
}


def _env(work: str, trace: bool) -> None:
    """Point every place Spark, Derby, Python and the JVM write to inside
    ``work``, before the JVM starts."""
    for d in ("tmp", "local", "warehouse", "derby", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_MASTER": f"local[{CORES}]",
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "OMP_NUM_THREADS": "1",
        "ARROW_NUM_THREADS": "1",
        "PYTHONDONTWRITEBYTECODE": "1",
        # no hsperfdata files in the system temp dir, from either JVM
        # spark-submit starts
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    })
    java_opts = (
        f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={work}/tmp"
    )
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")


def _record(spark) -> dict:
    import pyspark

    java = [
        line for line in subprocess.run(
            ["java", "-version"], capture_output=True, text=True, check=False
        ).stderr.splitlines()
        if not line.startswith("Picked up")
    ]
    return {
        "nproc": os.cpu_count(),
        "cores_used": CORES,
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "java": java[0] if java else "?",
        "python": platform.python_version(),
        "loadavg": list(os.getloadavg()),
    }


def _jvm():
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    return gw, getattr(gw, "proc", None)


def _peak_rss_mb(proc) -> float:
    try:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (OSError, AttributeError):
        pass
    return 0.0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to end."""
    gw, proc = _jvm()
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _make(name: str, spark, work: str, seed: int):
    import workloads as W

    size = SIZES[name]
    if name == "erp_wide":
        return W.erp_wide(spark, work, seed, **size)
    if name == "analytics_mix":
        return W.Analytics(spark, work, seed, **size)
    return W.CorpusIngest(spark, work, seed, **size)


def run(args, work: str, bench: dict) -> dict:
    trace = bool(args.trace)
    _env(work, trace)
    os.chdir(work)
    from importlib import import_module

    t0 = time.perf_counter()
    spark = import_module(f"{ENGINE}.session").get_spark("graftbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return _measure(args, work, bench, spark, session_s, trace)
    finally:
        _stop(spark)


def _measure(args, work, bench, spark, session_s, trace) -> dict:
    wl = _make(args.workload, spark, work, args.seed)
    input_s = []
    for r in range(INPUT_REPEATS):
        d = os.path.join(work, f"inputs{r}")
        os.makedirs(d)
        t = time.perf_counter()
        wl.inputs(d)
        input_s.append(time.perf_counter() - t)
    for r in range(INPUT_REPEATS - 1):  # the last set-up stays in use
        shutil.rmtree(os.path.join(work, f"inputs{r}"))

    failures: list[str] = []

    def one_pass(k: int, tracer=None):
        wl.tracer = tracer
        if tracer is not None:
            tracer.install()
            span = tracer.begin_pass(f"pass{k}")
        t = time.perf_counter()
        try:
            res = wl.run_pass(k)
        finally:
            if tracer is not None:
                tracer.end_pass()
                tracer.uninstall()
        res["wall_s"] = time.perf_counter() - t
        res["window"] = (time.time() - res["wall_s"], time.time())
        if tracer is not None:
            res["span"] = span
        return res

    # warm-up: a fixed number of passes, so set-up time does not depend on
    # a stopping rule. The pass after the cold one is still up to 60%
    # slower than later ones, so a traced run warms up one pass more before
    # it compares traced with untraced passes.
    t = time.perf_counter()
    warm = []
    for _ in range(WARMUP + trace):
        res = one_pass(len(warm))
        warm.append(res["wall_s"])
        bad = wl.check(res)
        failures += [f"warm-up pass {len(warm)}: {b}" for b in bad]
        wl.cleanup(res)
    warmup_s = time.perf_counter() - t

    import tracing as T

    # timed passes, at least one and at least --seconds in total; a traced
    # run times untraced, traced, traced, untraced passes, so a trend left
    # over from the warm-up cancels out of the tracing overhead
    passes, traced, failed, attempted = [], [], 0, 0
    measured = 0.0
    k = len(warm)
    last = None
    while measured < args.seconds or not passes or (trace and len(passes) + len(traced) < 4):
        tracer = T.Tracer() if trace and (len(passes) + len(traced)) % 4 in (1, 2) else None
        res = one_pass(k, tracer)
        k += 1
        measured += res["wall_s"]
        bad = wl.check(res)
        res["output_bytes"] = wl.output_bytes(res) if hasattr(wl, "output_bytes") else 0
        attempted += 1
        if bad:
            failed += 1
            failures += [f"pass {k}: {b}" for b in bad]
        (traced if tracer is not None else passes).append((res, tracer))
        if last is not None:
            wl.cleanup(last)
        last = res
    missed = wl.selftests(last)
    failures += missed
    wl.cleanup(last)
    for f in failures:
        print(f"graftbench: {f}", file=sys.stderr)

    _, proc = _jvm()
    walls = [r["wall_s"] for r, _ in passes]
    e2e = {
        "setup_s": session_s + statistics.median(input_s) + warmup_s,
        "pass_s": statistics.median(walls),
    }
    rss = _peak_rss_mb(proc)
    record = _record(spark)
    record.update({
        "workload": args.workload, "seed": args.seed, "sizes": SIZES[args.workload],
        "warmup_passes": warm, "pass_walls": walls, "input_s": input_s,
        "steps": [{key: v for key, v in r.items() if key.endswith("_s") or key == "times"}
                  for r, _ in passes],
        "session_s": session_s, "selftests_missed": missed, "jvm_peak_rss_mb": rss,
    })
    if trace:
        metrics = _layers(wl, spark, work, session_s, passes, traced, record)
        metrics["jvm_peak_rss_mb"] = rss
        spec = bench["per_layer"]
    else:
        metrics = e2e
        spec = bench["end_to_end"]
    print("graftbench record: " + json.dumps(record, default=str), file=sys.stderr)
    out = {}
    for m in spec:
        if m["name"] not in metrics:
            raise KeyError(f"metric {m['name']} was not measured")
        out[m["name"]] = {"value": float(metrics[m["name"]]), "unit": m["unit"]}
    ok = failed == 0 and not failures
    return {"correct": ok, "attempted": attempted, "failed": failed, "metrics": out}


def _layers(wl, spark, work, session_s, passes, traced, record) -> dict:
    """Per-layer figures, each the median over the traced passes."""
    import tracing as T
    import workloads as W

    def med(fn):
        return statistics.median(fn(r, t) for r, t in traced)

    figs = [(r, t, t.pass_figures(r["span"])) for r, t in traced]

    def span_s(name):
        return statistics.median(f["by_name"].get(name, 0.0) for _, _, f in figs)

    def span_n(name):
        return statistics.median(f["calls"].get(name, 0) for _, _, f in figs)

    m = {
        "session.get_spark_s": session_s,
        "sources.parse_schema_script_s": span_s("sources.parse_schema_script"),
        "plans.dump_rules_s": span_s("plans.dump_rules"),
        "plans.load_rules_s": span_s("plans.load_rules"),
        "plans.compile_rule_calls": span_n("plans.compile_rule"),
        "plans.compile_rule_s": span_s("plans.compile_rule"),
        "plans.build_one_s": span_s("plans.build_one"),
        "plans.construct_s": statistics.median(f["construct_s"] for _, _, f in figs),
        "plans.py4j_calls": med(lambda r, t: sum(
            n for k, n in t.py4j_by_layer.items() if k.startswith("plans."))),
        "functions.gen_calls": med(lambda r, t: t.counts["functions.gen_calls"]),
        "sinks.parquet_write_s": span_s(T.SINK),
        "sinks.parquet_writes": span_n(T.SINK),
        "sinks.write_bucketed_s": span_s("sinks.write_bucketed"),
        "sinks.ledger_commit_s": span_s("sinks.ledger_commit"),
        "streaming.compact_corpus_s": span_s("streaming.compact_corpus"),
        "streaming.compact_index_s": span_s("streaming.compact_index"),
        "streaming.verify_index_s": span_s("streaming.verify_index"),
        "operators.dedup.build_lsh_index_s": span_s("operators.dedup.build_lsh_index"),
        "operators.dedup.dedup_incremental_s": span_s("operators.dedup.dedup_incremental"),
        "operators.dedup.connected_components_s": span_s("operators.dedup.connected_components"),
        "py4j.calls": med(lambda r, t: t.py4j_calls),
        "trace.span_coverage": min(f["coverage"] for _, _, f in figs),
        "trace.overhead": statistics.median(r["wall_s"] for r, _ in traced)
        / statistics.median(r["wall_s"] for r, _ in passes),
        "pass_s_traced": statistics.median(r["wall_s"] for r, _ in traced),
    }
    schema = getattr(wl, "schema", None)
    m["sources.tables"] = len(schema["tables"]) if schema else 0
    m["sources.fks"] = len(schema["fks"]) if schema else 0
    m["sinks.output_bytes"] = med(lambda r, t: r["output_bytes"])
    # streaming
    prog = [T.progress_figures(r.get("progress", [])) for r, _ in traced]
    keys = set(T.PHASES.values()) | {"streaming.triggers", "streaming.docs_in"}
    for key in keys:
        m[key] = statistics.median(p.get(key, 0) for p in prog)
    committed = [r.get("committed", 0) for r, _ in traced]
    m["streaming.docs_committed"] = statistics.median(committed)
    m["streaming.accept_ratio"] = (
        m["streaming.docs_committed"] / m["streaming.docs_in"] if m["streaming.docs_in"] else 0
    )
    trig = [p.durationMs["triggerExecution"] / 1000.0
            for r, _ in traced for p in r.get("progress", [])]
    m["trigger_s_p50"] = statistics.median(trig) if trig else 0
    m["maintain_s"] = statistics.median(r.get("maintain_s", 0) for r, _ in traced)
    # queries
    # a p90 would need ten samples beyond it; a traced run has eight
    qt = [s for r, _ in traced for s in r.get("times", {}).values()]
    m["query_s_p50"] = statistics.median(qt) if qt else 0
    record["query_samples"] = len(qt)
    cons = exe = 0.0
    for q in W.QUERIES:
        c, e = span_s(f"operators.{q}.construct"), span_s(f"operators.{q}.execute")
        m[f"operators.{q}.construct_s"], m[f"operators.{q}.execute_s"] = c, e
        cons, exe = cons + c, exe + e
    m["operators.construct_s"], m["operators.execute_s"] = cons, exe
    # Spark, from the event log, per traced pass
    windows = [r["window"] for r, _ in traced]
    ev = T.read_event_log(os.path.join(work, "events"), windows)
    n = len(traced)
    for key in ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"spark.{key}"] = ev.get(key, 0) / n
    wall = sum(r["wall_s"] for r, _ in traced)
    m["spark.core_busy_share"] = ev.get("task_s", 0) / (wall * CORES)
    record["traced_walls"] = [r["wall_s"] for r, _ in traced]
    record["layers"] = m
    return m


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "__main__.py")):
        print(f"graftbench: the engine package {ENGINE}/ is not in {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    sys.path[:0] = [HERE, ROOT]
    work = os.path.join(ROOT, ".graftbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = run(args, work, bench)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
