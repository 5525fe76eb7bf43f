"""Seeded input writers for the benchmark.

Everything here is a pure function of ``seed`` (and a size): the same seed
writes byte-identical files. Nothing calls the engine, so a defect in the
engine cannot shape its own inputs.

- ``DATA``: a byte-for-byte copy of the repository's sf0.01 testdata
  tables (TESTDATA.md). The query mix reads them as they are: the
  registered DuckDB oracles are bit-identical to Spark on these files,
  and self-made tables would void that (``operators/_registry.py``).
- ``write_crawl_files``: the sf0.01 documents plus exact re-crawls under
  fresh doc ids, split by a seeded hash into crawl files for the
  streaming ingest.
- ``write_erp_dump``: an SSMS-shaped UTF-16 T-SQL dump of an ERP schema.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def write_crawl_files(
    out_dir: str, seed: int, n_files: int, recrawl_share: float = 0.05
) -> dict:
    """The sf0.01 documents plus exact re-crawls (same text, fresh doc id
    above every source id) split by a seeded hash into ``n_files`` crawl
    files whose modification times follow their index, so the file-source
    stream reads them in order. A re-crawl never lands in an earlier file
    than its original: the ingest keeps the first copy it sees, and the
    check "every re-crawl is rejected" assumes the original is seen first.

    Returns {"source_ids", "recrawl_ids", "files"}; the id sets are what
    the output checks compare the committed corpus against."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    docs = pq.read_table(os.path.join(DATA, "documents.parquet"))
    ids = docs.column("doc_id").to_numpy()
    n_docs, first = docs.num_rows, int(ids.max()) + 1
    n_re = int(n_docs * recrawl_share)
    orig = np.sort(rng.choice(n_docs, n_re, replace=False))
    file_of = rng.integers(0, n_files, n_docs)
    re_file = np.maximum(file_of[orig], rng.integers(0, n_files, n_re))
    recrawls = docs.take(pa.array(orig)).set_column(
        0, "doc_id", pa.array(np.arange(first, first + n_re, dtype=np.int64))
    )
    allt = pa.concat_tables([docs, recrawls])
    files = np.concatenate([file_of, re_file])
    paths = []
    base = _dt.datetime(2024, 1, 1).timestamp()
    for f in range(n_files):
        idx = np.flatnonzero(files == f)
        path = os.path.join(out_dir, f"crawl{f:02d}.parquet")
        pq.write_table(allt.take(pa.array(idx)), path)
        os.utime(path, (base + f * 60, base + f * 60))
        paths.append(path)
    return {
        "source_ids": set(ids.tolist()),
        "recrawl_ids": set(range(first, first + n_re)),
        "files": paths,
    }


# --- ERP schema dump -------------------------------------------------------

# (column name, T-SQL type, nullable) attribute pool; names hit the rule
# keywords (Unvan → company, Eposta → email, Tutar → money, …) so a table
# draws on many generator families.
_ATTRS = [
    ("Unvan", "[nvarchar](100)", False),
    ("Ad", "[nvarchar](50)", True),
    ("Soyad", "[nvarchar](50)", True),
    ("Eposta", "[nvarchar](100)", True),
    ("Telefon", "[nvarchar](20)", True),
    ("Iban", "[nvarchar](34)", True),
    ("Adres", "[nvarchar](250)", True),
    ("Aciklama", "[nvarchar](500)", True),
    ("Tutar", "[decimal](25, 6)", False),
    ("Miktar", "[decimal](18, 4)", True),
    ("KdvOran", "[float]", True),
    ("Tarih", "[date]", False),
    ("KayitZamani", "[datetime]", True),
    ("Saat", "[time](7)", True),
    ("Aktif", "[bit]", False),
    ("Sira", "[int]", True),
    ("Adet", "[smallint]", True),
    ("BelgeNo", "[nvarchar](20)", False),
    ("Barkod", "[nvarchar](13)", True),
    ("Web", "[nvarchar](200)", True),
    ("Notlar", "[nvarchar](max)", True),
    ("Tckn", "[nvarchar](11)", True),
    ("Vkn", "[nvarchar](10)", True),
    ("Deger", "[nvarchar](50)", True),
    ("Bakiye", "[money]", True),
    ("Sehir", "[nvarchar](60)", True),
    ("Yil", "[int]", True),
    ("CreateDate", "[datetime2](7)", True),
    ("CreatedBy", "[nvarchar](60)", True),
    ("SurumNo", "[timestamp]", False),
]
_WITH = (
    "WITH (PAD_INDEX = OFF, STATISTICS_NORECOMPUTE = OFF, IGNORE_DUP_KEY = OFF, "
    "ALLOW_ROW_LOCKS = ON, ALLOW_PAGE_LOCKS = ON) ON [PRIMARY]"
)
_TYPE_OF_PK = {
    "nat": "[nvarchar](3)",
    "ident": "[int]",
    "uuid": "[uniqueidentifier]",
}


def erp_schema(n_tables: int = 85, n_columns: int = 1340, n_fks: int = 131,
               n_unique: int = 31, n_lookups: int = 10) -> dict:
    """The ERP schema as plain data: {"tables": [...], "fks": [...],
    "unique": [...]} in dependency order (every FK parent precedes its
    child, so the graph is acyclic apart from the self-reference).

    Shape, after the reference dump: natural-key lookups (nvarchar(3)
    PKs), IDENTITY and uniqueidentifier PKs, TenantId on every table,
    a self-referencing account table, a shared-PK document subtype, a
    composite-key reference table with a composite FK onto it, and
    unique indexes both on plain columns and on FK columns of 1:1
    extension tables. The structure is fixed; only the data seed varies
    between runs, so every run does the same work."""
    rng = np.random.default_rng(20240917)
    tables: list[dict] = []
    fks: list[dict] = []
    unique: list[tuple[str, list[str]]] = []

    def add(name, pk_kind, role):
        t = {"name": name, "pk_kind": pk_kind, "role": role, "cols": [], "pk": []}
        if pk_kind == "composite":
            t["cols"] += [("Kod", "[nvarchar](20)", False), ("TipId", "[int]", False)]
            t["pk"] = ["Kod", "TipId"]
        else:
            pk = "NumKod" if pk_kind == "nat" else "Id"
            ident = " IDENTITY(1,1)" if pk_kind == "ident" else ""
            t["cols"].append((pk, _TYPE_OF_PK[pk_kind] + ident, False))
            t["pk"] = [pk]
        t["cols"].append(("TenantId", "[uniqueidentifier]", False))
        tables.append(t)
        return t

    def fk(child, parent, nullable=None, unique_fk=False):
        if parent["pk_kind"] == "composite":
            cols = [f"Ref{c}" for c in parent["pk"]]
            child["cols"] += [
                ("RefKod", "[nvarchar](20)", True), ("RefTipId", "[int]", True)
            ]
        else:
            col = f"{parent['name']}{parent['pk'][0]}"
            k = 2
            while any(c[0] == col for c in child["cols"]):
                col = f"{parent['name']}{k}{parent['pk'][0]}"
                k += 1
            base = _TYPE_OF_PK[parent["pk_kind"]]
            null = bool(rng.random() < 0.3) if nullable is None else nullable
            child["cols"].append((col, base, null and not unique_fk))
            cols = [col]
        fks.append({
            "name": f"FK_{child['name']}_{parent['name']}_{'_'.join(cols)}",
            "child": child["name"], "cols": cols,
            "parent": parent["name"], "pcols": list(parent["pk"]),
        })
        if unique_fk:
            unique.append((child["name"], cols))

    lookups = [add(n, "nat", "lookup") for n in (
        "Ulke", "DovizTip", "Birim", "VergiTip", "OdemeTip", "SevkTip",
        "DepoTip", "BelgeTip", "Dil", "Il",
    )[:n_lookups]]
    fk(lookups[-1], lookups[0], nullable=False)  # a lookup chain: Il → Ulke at full size
    ref = add("Referans", "composite", "lookup")
    n_rest = n_tables - len(tables) - 3
    masters = [add(f"Kart{i:02d}", "ident" if i % 3 == 0 else "uuid", "master")
               for i in range(n_rest // 3)]
    cari = add("CariHesap", "uuid", "master")
    fk(cari, cari, nullable=True)  # self-reference
    belge = add("BelgeBaslik", "uuid", "master")
    satis = add("SatisBelge", "uuid", "subtype")
    fk(satis, belge, nullable=False)  # shared-PK subtype: PK is the FK
    satis["cols"] = [c for c in satis["cols"] if c[0] != "BelgeBaslikId"]
    fks[-1]["cols"] = ["Id"]
    fks[-1]["name"] = "FK_SatisBelge_BelgeBaslik_Id"
    docs = [add(f"Hareket{i:02d}", "ident" if i % 4 == 0 else "uuid", "detail")
            for i in range(n_tables - len(tables))]
    fk(docs[0], ref)  # composite FK
    pool = lookups + [cari, belge] + masters
    # 1:1 extension tables: a unique index on the FK column, child rows
    # never exceed the parent's (the pigeonhole limit)
    for child, parent in zip(docs[1:6], masters[:5]):
        fk(child, parent, nullable=False, unique_fk=True)
    for t in docs:
        fk(t, cari, nullable=False)
    for t in masters[1:]:
        fk(t, lookups[int(rng.integers(0, len(lookups)))])
    while len(fks) < n_fks:
        child = (masters + docs)[int(rng.integers(0, len(masters) + len(docs)))]
        cands = [p for p in pool if tables.index(p) < tables.index(child)]
        if child in docs:
            cands += [d for d in docs if tables.index(d) < tables.index(child)]
        fk(child, cands[int(rng.integers(0, len(cands)))])
    # unique indexes on injectable plain columns (lookups' names, codes)
    for t in lookups + [ref]:
        t["cols"].append(("Ad", "[nvarchar](100)", False))
        if len(unique) < n_unique:
            unique.append((t["name"], ["Ad"]))
    for t in masters:
        if len(unique) >= n_unique:
            break
        t["cols"].append(("Kod", "[nvarchar](20)", False))
        unique.append((t["name"], ["TenantId", "Kod"] if len(unique) % 2 else ["Kod"]))
    # attribute columns up to the column budget, spread over the tables
    attr_tables = [t for t in tables if t["role"] != "lookup"]
    i = 0
    while sum(len(t["cols"]) for t in tables) < n_columns:
        t = attr_tables[i % len(attr_tables)] if i % 9 else tables[i % len(tables)]
        taken = {c[0] for c in t["cols"]}
        free = [a for a in _ATTRS if a[0] not in taken]
        if free:
            t["cols"].append(free[int(rng.integers(0, len(free)))])
        i += 1
    for t in tables:
        if t["role"] == "detail" and not any(c[0] == "ToplamTutar" for c in t["cols"]):
            if any(c[0] == "Tutar" for c in t["cols"]):
                t["cols"].append(("ToplamTutar", "AS", True))  # computed
    return {"tables": tables, "fks": fks, "unique": unique}


def erp_row_counts(schema: dict, default_rows: int, lookup_rows: int = 100) -> dict[str, int]:
    """Per-table row counts: lookups stay lookup-sized (natural keys are
    nvarchar(3), whose injective codes run out at 36^3 rows); every
    other table gets ``default_rows``."""
    return {
        t["name"]: lookup_rows if t["role"] == "lookup" else default_rows
        for t in schema["tables"]
    }


def render_erp_dump(schema: dict, seed: int, db: str = "ErpBench") -> str:
    """SSMS-shaped script text: header batches, one CREATE TABLE per GO
    batch (column order inside a table shuffled by ``seed``), then the FK
    constraints, then the unique indexes."""
    rng = np.random.default_rng(seed)
    stamp = "Script Date: 1.01.2024 00:00:00"
    out = [
        "USE [master]", "GO",
        f"/****** Object:  Database [{db}]    {stamp} ******/",
        f"CREATE DATABASE [{db}]", "GO",
        f"ALTER DATABASE [{db}] SET COMPATIBILITY_LEVEL = 150", "GO",
        f"USE [{db}]", "GO",
    ]
    for t in schema["tables"]:
        key = [c for c in t["cols"] if c[0] in t["pk"]]
        rest = [c for c in t["cols"] if c[0] not in t["pk"]]
        rest = [rest[i] for i in rng.permutation(len(rest))]
        out += [
            f"/****** Object:  Table [dbo].[{t['name']}]    {stamp} ******/",
            "SET ANSI_NULLS ON", "GO", "SET QUOTED_IDENTIFIER ON", "GO",
            f"CREATE TABLE [dbo].[{t['name']}](",
        ]
        for name, typ, null in key + rest:
            if typ == "AS":
                out.append(f"\t[{name}]  AS ([Tutar]*(2)),")
                continue
            out.append(f"\t[{name}] {typ} {'NULL' if null else 'NOT NULL'},")
        cols = ",\n".join(f"\t[{c}] ASC" for c in t["pk"])
        out += [
            f" CONSTRAINT [PK_{t['name']}] PRIMARY KEY CLUSTERED ",
            "(", cols, f"){_WITH}",
            ") ON [PRIMARY] TEXTIMAGE_ON [PRIMARY]", "GO",
        ]
    for f in schema["fks"]:
        cols = ", ".join(f"[{c}]" for c in f["cols"])
        pcols = ", ".join(f"[{c}]" for c in f["pcols"])
        out += [
            f"ALTER TABLE [dbo].[{f['child']}]  WITH CHECK ADD  CONSTRAINT "
            f"[{f['name']}] FOREIGN KEY({cols})",
            f"REFERENCES [dbo].[{f['parent']}] ({pcols})", "GO",
            f"ALTER TABLE [dbo].[{f['child']}] CHECK CONSTRAINT [{f['name']}]", "GO",
        ]
    for tname, cols in schema["unique"]:
        body = ",\n".join(f"\t[{c}] ASC" for c in cols)
        out += [
            f"CREATE UNIQUE NONCLUSTERED INDEX [u{tname}{''.join(cols)}] "
            f"ON [dbo].[{tname}]", "(", body, f"){_WITH}", "GO",
        ]
    out += ["USE [master]", "GO", f"ALTER DATABASE [{db}] SET  READ_WRITE ", "GO"]
    return "\r\n".join(out) + "\r\n"


def write_erp_dump(path: str, schema: dict, seed: int) -> None:
    """UTF-16 (with BOM), the SSMS default encoding."""
    with open(path, "wb") as f:
        f.write(render_erp_dump(schema, seed).encode("utf-16"))
