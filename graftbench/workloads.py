"""The three workloads. Each drives the engine through the CLI's entry
points (``__main__.main``) or, where the CLI hides the handle a metric
needs, through the same public functions the CLI command calls.

A workload has four parts: ``inputs(dir)`` writes its seeded inputs and
whatever the checks compare against; ``run_pass(k)`` is the timed unit;
``check(result)`` and ``selftests(result)`` run outside the timer.
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

import checks
import inputs

ENGINE = "synthetic_data_transfer_to_relational_database_spark"
PARALLELISM = 4


def cli(*argv: str) -> None:
    """One CLI invocation in this process; its prints go to stderr so the
    benchmark's result stays the last line of stdout."""
    import importlib

    main = importlib.import_module(f"{ENGINE}.__main__").main
    with contextlib.redirect_stdout(sys.stderr):
        rc = main(list(argv))
    if rc:
        raise RuntimeError(f"CLI {argv[0]} exited {rc}")


def _rewrite(path: str, fn) -> None:
    """Replace a parquet dataset directory by one file holding fn(table)."""
    table = fn(pq.read_table(path))
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def _bytes(d: str) -> int:
    return sum(os.path.getsize(f) for f in glob.glob(f"{d}/**/*.parquet", recursive=True))


def _set_cell(table: pa.Table, col: str, row: int, value) -> pa.Table:
    vals = table.column(col).to_pylist()
    vals[row] = value
    i = table.schema.get_field_index(col)
    return table.set_column(i, table.schema.field(i), pa.array(vals, table.schema.field(i).type))


class Workload:
    tracer = None  # the pass's Tracer in a traced pass

    def __init__(self, spark, work: str, seed: int):
        self.spark, self.work, self.seed = spark, work, seed


# --- ERP generation --------------------------------------------------------


class Erp(Workload):
    """``rules`` then ``generate --rules`` on a seeded ERP dump."""

    def __init__(self, spark, work, seed, schema: dict, row_counts: dict[str, int]):
        super().__init__(spark, work, seed)
        self.schema, self.row_counts = schema, row_counts
        self.golden = None

    def inputs(self, d: str) -> None:
        self.dump = os.path.join(d, "erp.sql")
        inputs.write_erp_dump(self.dump, self.schema, self.seed)

    def run_pass(self, k: int) -> dict:
        out = os.path.join(self.work, f"gen{k}")
        rules = os.path.join(self.work, f"rules{k}.json")
        cli("rules", "--script", self.dump, "--out", rules)
        cli(
            "generate", "--script", self.dump, "--rules", rules,
            "--row-counts", ",".join(f"{t}={n}" for t, n in self.row_counts.items()),
            "--parallelism", str(PARALLELISM), "--seed", str(self.seed), "--out", out,
        )
        return {"out": out, "rules": rules}

    def check(self, r: dict) -> list[str]:
        if self.golden is None:
            self.golden = checks.erp_digest(r["out"], self.schema)
        return checks.check_erp(r["out"], self.schema, self.row_counts, self.golden)

    def output_bytes(self, r: dict) -> int:
        return _bytes(r["out"])

    def cleanup(self, r: dict) -> None:
        shutil.rmtree(r["out"], ignore_errors=True)
        os.remove(r["rules"])

    def selftests(self, r: dict) -> list[str]:
        """An orphan FK row, a duplicated PK, one wrong cell and a NULL in a
        NOT NULL column, each in a copy of this pass's output."""
        kind = {t["name"]: t["pk_kind"] for t in self.schema["tables"]}
        fk = next(f for f in self.schema["fks"] if kind[f["parent"]] == "uuid"
                  and f["child"] != f["parent"] and f["cols"] != f["pcols"])
        fk_cols = {c for f in self.schema["fks"] for c in f["cols"]}

        def plain_column(t):
            return next((c for c in checks.written_columns(t) if c[0] not in t["pk"]
                         and c[0] not in fk_cols and not c[2] and "char" in c[1]), None)

        uuid_t = next(t for t in self.schema["tables"]
                      if t["pk_kind"] == "uuid" and t["role"] != "subtype" and plain_column(t))
        plain = plain_column(uuid_t)
        cases = {
            "orphan FK row": (fk["child"], lambda t: _set_cell(t, fk["cols"][0], 0, "orphan")),
            "duplicated PK": (uuid_t["name"], lambda t: _set_cell(
                t, uuid_t["pk"][0], 1, t.column(uuid_t["pk"][0])[0].as_py())),
            "one wrong cell": (uuid_t["name"], lambda t: _set_cell(t, plain[0], 0, "x")),
            "NULL in NOT NULL": (uuid_t["name"], lambda t: _set_cell(t, plain[0], 0, None)),
        }
        missed = []
        for label, (table, corrupt) in cases.items():
            copy = os.path.join(self.work, "neg")
            shutil.copytree(r["out"], copy)
            try:
                _rewrite(os.path.join(copy, table), corrupt)
                if not checks.check_erp(copy, self.schema, self.row_counts, self.golden):
                    missed.append(f"erp check accepted: {label}")
            finally:
                shutil.rmtree(copy)
        return missed


def erp_wide(spark, work, seed, n_tables: int) -> Erp:
    """A slice of the ERP schema with the reference's proportions: 16
    columns, 1.5 FKs and 0.36 unique indexes per table."""
    schema = inputs.erp_schema(
        n_tables=n_tables, n_columns=round(n_tables * 15.8),
        n_fks=round(n_tables * 1.54), n_unique=round(n_tables * 0.365),
        n_lookups=max(3, n_tables // 8),
    )
    return Erp(spark, work, seed, schema, inputs.erp_row_counts(schema, 1000))


# --- analytics query mix ---------------------------------------------------

# Oracle-backed registered queries: a 4-way join, session windows, and
# the two vector queries the roadmap's vector work must keep in band.
QUERIES = [
    "revenue_by_nation", "events_session", "sim_knn_graph", "sim_search_index",
]
SF_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


class Analytics(Workload):
    """``query --name Q --out DIR`` for each query, in a seed-permuted
    order; every result is compared with its registered DuckDB oracle."""

    def __init__(self, spark, work, seed):
        super().__init__(spark, work, seed)
        self.sf = inputs.DATA

    def inputs(self, d: str) -> None:
        """The tables are the committed sf0.01 copy; the set-up is the
        oracle results every pass is compared with."""
        from importlib import import_module

        oracles = import_module(f"{ENGINE}.registry").all_oracles()
        self.expected = {
            q: checks.oracle_canon(self.sf, SF_TABLES, oracles[q]) for q in QUERIES
        }

    def run_pass(self, k: int) -> dict:
        order = [QUERIES[i] for i in np.random.default_rng([self.seed, k]).permutation(len(QUERIES))]
        out = os.path.join(self.work, f"q{k}")
        times = {}
        for q in order:
            span = self.tracer.open(f"operators.{q}") if self.tracer else None
            t0 = time.perf_counter()
            cli("query", "--name", q, "--sf-dir", self.sf, "--out", os.path.join(out, q))
            times[q] = time.perf_counter() - t0
            if span is not None:
                self.tracer.close(span)
            self.spark.catalog.clearCache()
        return {"out": out, "times": times}

    def check(self, r: dict) -> list[str]:
        bad = []
        for q in QUERIES:
            bad += checks.check_query(os.path.join(r["out"], q), self.expected[q])
        return bad

    def output_bytes(self, r: dict) -> int:
        return _bytes(r["out"])

    def cleanup(self, r: dict) -> None:
        shutil.rmtree(r["out"], ignore_errors=True)

    def selftests(self, r: dict) -> list[str]:
        """One wrong cell and one missing row in a copy of a result."""
        q = max(QUERIES, key=lambda q: self.expected[q][0])
        src = os.path.join(r["out"], q)
        first = self.expected[q][1][0]

        def wrong_cell(t):
            v = t.column(first)[0].as_py()
            return _set_cell(t, first, 0, None if v is not None else 0)

        missed = []
        for label, corrupt in (("one wrong cell", wrong_cell), ("a missing row", lambda t: t.slice(1))):
            copy = os.path.join(self.work, "neg")
            shutil.copytree(src, copy)
            try:
                _rewrite(copy, corrupt)
                if not checks.check_query(copy, self.expected[q]):
                    missed.append(f"query check accepted: {label}")
            finally:
                shutil.rmtree(copy)
        return missed


# --- streaming corpus ingest -----------------------------------------------


class CorpusIngest(Workload):
    """Crawl files drained through ``write_stream_dedup_ingest`` (the
    ``ingest`` command's body, called directly to keep the query handle
    for ``recentProgress``), then ``maintain full``."""

    def __init__(self, spark, work, seed, n_files: int):
        super().__init__(spark, work, seed)
        self.n_files = n_files
        self.golden = None

    def inputs(self, d: str) -> None:
        self.src = os.path.join(d, "crawl")
        self.meta = inputs.write_crawl_files(self.src, self.seed, self.n_files)

    def run_pass(self, k: int) -> dict:
        from importlib import import_module

        ing = import_module(f"{ENGINE}.streaming.ingest")
        base = os.path.join(self.work, f"ingest{k}")
        table = f"graftbench_index_{k}"
        idx, out = os.path.join(base, "index"), os.path.join(base, "corpus")
        t0 = time.perf_counter()
        ing.ensure_index(self.spark, table, idx, docs_src=self.src)
        query = ing.write_stream_dedup_ingest(
            ing.stream_documents(self.spark, self.src), table, out,
            os.path.join(base, "checkpoint"),
        )
        query.awaitTermination()
        t1 = time.perf_counter()
        cli("maintain", "full", "--index-table", table, "--index-path", idx, "--out", out)
        t2 = time.perf_counter()
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
        if self.tracer is not None:
            from tracing import trigger_window

            offset = time.time() - time.perf_counter()
            for p in progress:
                self.tracer.add_span("streaming.trigger", *trigger_window(p, offset))
        return {
            "base": base, "table": table, "index": idx, "corpus": out,
            "drain_s": t1 - t0, "maintain_s": t2 - t1, "progress": progress,
        }

    def check(self, r: dict) -> list[str]:
        state = checks.corpus_state(r["corpus"], r["index"])
        r["committed"] = len(state["docs"])
        bad = checks.check_corpus(
            state, self.meta["source_ids"], self.meta["recrawl_ids"], self.golden
        )
        if self.golden is None and not bad:
            self.golden = frozenset(d for d, _ in state["docs"])
        if len(r["progress"]) != self.n_files:
            bad.append(f"{len(r['progress'])} non-empty triggers, expected {self.n_files}")
        return bad

    def cleanup(self, r: dict) -> None:
        self.spark.sql(f"DROP TABLE IF EXISTS {r['table']}")
        shutil.rmtree(r["base"], ignore_errors=True)

    def selftests(self, r: dict) -> list[str]:
        """A duplicated text, an accepted re-crawl, and an index that lost
        a document, each in a copy of this pass's corpus and index."""
        state = checks.corpus_state(r["corpus"], r["index"])
        ids = {d for d, _ in state["docs"]}
        spare = min(self.meta["source_ids"] - ids)
        recrawl = min(self.meta["recrawl_ids"])
        text0 = state["docs"][0][1]

        def add_row(doc_id, text):
            def fn(copy):
                extra = os.path.join(copy, "corpus", "data", "batch_id=999")
                os.makedirs(extra)
                pq.write_table(
                    pa.table({"doc_id": [doc_id], "text": [text], "lang": ["en"],
                              "source": ["src0"], "n_chars": [len(text)]}),
                    os.path.join(extra, "part-0.parquet"),
                )
            return fn

        victim = state["docs"][0][0]

        def drop_index_doc(copy):
            for f in glob.glob(os.path.join(copy, "index", "*.parquet")):
                t = pq.read_table(f)
                pq.write_table(t.filter(pa.compute.not_equal(t.column("doc_id"), victim)), f)

        cases = {
            "a duplicated text": add_row(spare, text0),
            "an accepted re-crawl": add_row(recrawl, "unique text of a re-crawl"),
            "an index missing a document": drop_index_doc,
        }
        missed = []
        for label, corrupt in cases.items():
            copy = os.path.join(self.work, "neg")
            shutil.copytree(r["base"], copy)
            try:
                corrupt(copy)
                st = checks.corpus_state(os.path.join(copy, "corpus"), os.path.join(copy, "index"))
                if not checks.check_corpus(st, self.meta["source_ids"],
                                           self.meta["recrawl_ids"], self.golden):
                    missed.append(f"corpus check accepted: {label}")
            finally:
                shutil.rmtree(copy)
        return missed
