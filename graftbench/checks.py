"""Output checks, run outside the timer on every timed pass.

The checks read the files a pass wrote with DuckDB and pyarrow only; the
engine never checks itself here. Each check returns a list of failure
strings (empty = correct), so a negative self-test can assert that a
corrupted copy yields at least one.
"""

from __future__ import annotations

import glob
import os

import duckdb
import pyarrow.parquet as pq

from tools.driver_sim import canon


def _q(name: str) -> str:
    return '"' + name.replace('"', '""') + '"'


def _scan(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet')"


# --- generator output ------------------------------------------------------


def written_columns(t: dict) -> list[tuple[str, str, bool]]:
    """Columns the generator writes: IDENTITY, computed and rowversion
    columns are never generated."""
    return [
        c for c in t["cols"]
        if c[1] != "AS" and "IDENTITY" not in c[1] and c[1] != "[timestamp]"
    ]


def _is_identity(t: dict, col: str) -> bool:
    return any(c[0] == col and "IDENTITY" in c[1] for c in t["cols"])


def erp_digest(out_dir: str, schema: dict) -> dict[str, str]:
    """Order-independent content digest per table: row count plus the sum
    of DuckDB row hashes."""
    con = duckdb.connect()
    out = {}
    for t in schema["tables"]:
        cols = ", ".join(_q(c[0]) for c in written_columns(t))
        n, h = con.execute(
            f"SELECT count(*), sum(hash(struct_pack({cols}))::HUGEINT) "
            f"FROM {_scan(os.path.join(out_dir, t['name']))}"
        ).fetchone()
        out[t["name"]] = f"{n}:{h}"
    return out


def check_erp(out_dir: str, schema: dict, row_counts: dict[str, int],
              golden: dict[str, str] | None) -> list[str]:
    """Row counts, PK and unique-index uniqueness, NOT NULL, FK
    containment (composite included; IDENTITY parents are 1..n), and the
    content digest against ``golden`` (the warm-up pass's)."""
    con = duckdb.connect()
    bad: list[str] = []
    by_name = {t["name"]: t for t in schema["tables"]}
    for t in schema["tables"]:
        name = t["name"]
        path = os.path.join(out_dir, name)
        if not glob.glob(f"{path}/**/*.parquet", recursive=True):
            bad.append(f"{name}: no output")
            continue
        con.execute(f"CREATE OR REPLACE VIEW {_q(name)} AS SELECT * FROM {_scan(path)}")
    if bad:
        return bad
    for t in schema["tables"]:
        name, tq = t["name"], _q(t["name"])
        written = {c[0] for c in written_columns(t)}
        n = con.execute(f"SELECT count(*) FROM {tq}").fetchone()[0]
        if n != row_counts[name]:
            bad.append(f"{name}: {n} rows, expected {row_counts[name]}")
        keys = [t["pk"]] + [cols for tn, cols in schema["unique"] if tn == name]
        for cols in keys:
            if not set(cols) <= written:
                continue  # an IDENTITY member makes the tuple unique by construction
            sel = ", ".join(_q(c) for c in cols)
            dup = con.execute(
                f"SELECT count(*) FROM (SELECT {sel} FROM {tq} GROUP BY ALL "
                f"HAVING count(*) > 1)"
            ).fetchone()[0]
            if dup:
                bad.append(f"{name}{cols}: {dup} duplicated keys")
        notnull = [c[0] for c in written_columns(t) if not c[2]]
        if notnull:
            sums = ", ".join(f"count(*) - count({_q(c)})" for c in notnull)
            for c, k in zip(notnull, con.execute(f"SELECT {sums} FROM {tq}").fetchone()):
                if k:
                    bad.append(f"{name}.{c}: {k} nulls in a NOT NULL column")
    for f in schema["fks"]:
        child, parent = f["child"], f["parent"]
        cq = _q(child)
        if all(_is_identity(by_name[parent], c) for c in f["pcols"]):
            (col,) = f["cols"]
            n_parent = row_counts[parent]
            k = con.execute(
                f"SELECT count(*) FROM {cq} WHERE {_q(col)} IS NOT NULL AND "
                f"({_q(col)} < 1 OR {_q(col)} > {n_parent})"
            ).fetchone()[0]
        else:
            on = " AND ".join(
                f"c.{_q(a)} = p.{_q(b)}" for a, b in zip(f["cols"], f["pcols"])
            )
            notnull = " AND ".join(f"c.{_q(a)} IS NOT NULL" for a in f["cols"])
            k = con.execute(
                f"SELECT count(*) FROM {cq} c WHERE {notnull} AND NOT EXISTS "
                f"(SELECT 1 FROM {_q(parent)} p WHERE {on})"
            ).fetchone()[0]
        if k:
            bad.append(f"{f['name']}: {k} orphan rows")
    if golden is not None:
        now = erp_digest(out_dir, schema)
        for name, d in now.items():
            if d != golden.get(name):
                bad.append(f"{name}: content digest differs from the warm-up pass")
    return bad


# --- query results ---------------------------------------------------------
# The canonical form is tools/driver_sim.py's: row count, sorted column
# names, and a SHA-256 over the representation-sensitive cell strings of
# the row-sorted frame.


def oracle_canon(sf_dir: str, tables: list[str], sql: str) -> tuple:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return canon(con.execute(sql).df())


def check_query(out_path: str, expected: tuple) -> list[str]:
    files = sorted(glob.glob(os.path.join(out_path, "*.parquet")))
    if not files:
        return [f"{out_path}: no result files"]
    got = canon(pq.read_table(out_path).to_pandas())
    if got == expected:
        return []
    if got[0] != expected[0]:
        return [f"{out_path}: {got[0]} rows, oracle has {expected[0]}"]
    if got[1] != expected[1]:
        return [f"{out_path}: columns {got[1]} != oracle {expected[1]}"]
    return [f"{out_path}: value hash differs from the oracle"]


# --- corpus ingest ---------------------------------------------------------


def corpus_state(corpus_dir: str, index_dir: str) -> dict:
    con = duckdb.connect()
    docs = con.execute(
        f"SELECT doc_id, text FROM {_scan(os.path.join(corpus_dir, 'data'))}"
    ).fetchall()
    index_ids = {
        r[0] for r in con.execute(f"SELECT DISTINCT doc_id FROM {_scan(index_dir)}").fetchall()
    }
    return {"docs": docs, "index_ids": index_ids}


def check_corpus(state: dict, source_ids: set, recrawl_ids: set,
                 golden: frozenset | None) -> list[str]:
    """Committed doc ids unique and drawn from the source; no two committed
    texts equal; every re-crawl rejected; the index's doc-id set equals the
    corpus's; the committed set equals the warm-up's."""
    bad: list[str] = []
    ids = [d for d, _ in state["docs"]]
    id_set = set(ids)
    if len(ids) != len(id_set):
        bad.append(f"{len(ids) - len(id_set)} duplicated committed doc ids")
    if not id_set:
        bad.append("nothing committed")
    stray = id_set - source_ids - recrawl_ids
    if stray:
        bad.append(f"{len(stray)} committed ids not in the crawl files")
    texts = [t for _, t in state["docs"]]
    if len(texts) != len(set(texts)):
        bad.append(f"{len(texts) - len(set(texts))} committed documents repeat a text")
    kept = id_set & recrawl_ids
    if kept:
        bad.append(f"{len(kept)} re-crawls accepted")
    if state["index_ids"] != id_set:
        bad.append(
            f"index/corpus doc ids differ: {len(state['index_ids'] - id_set)} only in "
            f"the index, {len(id_set - state['index_ids'])} only in the corpus"
        )
    if golden is not None and frozenset(id_set) != golden:
        bad.append("committed set differs from the warm-up pass")
    return bad
