"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's seed,
so one seed always yields the same inputs. The fixture tables are only read;
everything generated is written under the caller's work directory.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: The nine fixture tables a migration would copy. ``embeddings`` is left out
#: because SQL Server has no array column type.
FIXTURE_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents",
)

#: Declared primary keys; the generated small tables use ``id``. lineitem's
#: natural pair (l_orderkey, l_linenumber) is not unique in the fixture, so the
#: benchmark declares a generated key.
PRIMARY_KEYS = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "lineitem": "l_linekey",
    "events": "event_id",
    "documents": "doc_id",
}

#: Small generated tables whose strings carry NUL bytes: they are bound by the
#: fixed per-table cost of a transfer, and they give the cleanse step work.
N_SMALL_TABLES = 2

#: Change set applied for incremental sync, as shares of each table's rows.
UPDATE_SHARE, INSERT_SHARE, DELETE_SHARE = 0.01, 0.005, 0.005

SCHEMA = "public"  # where the DDL parser puts [dbo] tables

_SQL_TYPES = {
    pa.int32(): "int",
    pa.int64(): "bigint",
    pa.float64(): "float",
    pa.string(): "nvarchar(max)",
    pa.timestamp("us"): "datetime2",
}


def store_path(root: str, table: str) -> str:
    """Location of ``table`` in a ``plans.ParquetStore`` rooted at ``root``."""
    return os.path.join(root, SCHEMA, f"{table}.parquet")


def read_fixture(sf_dir: str) -> dict[str, pa.Table]:
    tables = {}
    for name in FIXTURE_TABLES:
        t = pq.read_table(os.path.join(sf_dir, f"{name}.parquet")).replace_schema_metadata(None)
        if name == "lineitem":
            t = t.append_column("l_linekey", pa.array(np.arange(t.num_rows, dtype=np.int64)))
        tables[name] = t
    return tables


def lineitem_fanout(lineitem: pa.Table) -> tuple[int, int]:
    """(rows, distinct (l_orderkey, l_linenumber)): the natural key's fan-out."""
    pairs = lineitem.group_by(["l_orderkey", "l_linenumber"]).aggregate([])
    return lineitem.num_rows, pairs.num_rows


def _nul_strings(rng: np.random.Generator, n: int) -> pa.Array:
    words = np.array(["alpha", "beta", "gamma", "delta", "omega", "", "x"])
    out = []
    for _ in range(n):
        parts = rng.choice(words, size=rng.integers(1, 4))
        s = " ".join(parts)
        pos = int(rng.integers(0, len(s) + 1))
        out.append(s[:pos] + "\x00" + s[pos:])
    return pa.array(out, pa.string())


def small_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    tables = {}
    for i in range(N_SMALL_TABLES):
        n = int(rng.integers(5, 50))
        tables[f"nul_{i:02d}"] = pa.table({
            "id": pa.array(np.arange(1, n + 1, dtype=np.int64)),
            "name": _nul_strings(rng, n),
            "note": _nul_strings(rng, n),
            "qty": pa.array(rng.integers(0, 1000, n, dtype=np.int32)),
            "price": pa.array(np.round(rng.random(n) * 100, 2)),
        })
    return tables


def primary_key(table: str) -> str:
    return PRIMARY_KEYS.get(table, "id")


def check_keys_unique(tables: dict[str, pa.Table]) -> None:
    """Refuse inputs whose declared key repeats: diff/merge assume a key."""
    for name, t in tables.items():
        key = primary_key(name)
        distinct = pc.count_distinct(t[key]).as_py()
        if distinct != t.num_rows:
            raise ValueError(f"{name}.{key}: {t.num_rows} rows but {distinct} distinct keys")


def catalog_ddl(tables: dict[str, pa.Table]) -> str:
    """The SQL Server DDL a migration of ``tables`` starts from."""
    stmts = []
    for name, t in tables.items():
        cols = []
        for field in t.schema:
            null = " NOT NULL" if field.name == primary_key(name) else " NULL"
            cols.append(f"  [{field.name}] {_SQL_TYPES[field.type]}{null}")
        cols.append(f"  CONSTRAINT [pk_{name}] PRIMARY KEY ([{primary_key(name)}])")
        stmts.append(f"CREATE TABLE [dbo].[{name}] (\n" + ",\n".join(cols) + "\n)\nGO\n")
    return "".join(stmts)


def write_store(root: str, tables: dict[str, pa.Table]) -> None:
    """Write ``tables`` as a ParquetStore: one directory per table."""
    shutil.rmtree(root, ignore_errors=True)
    for name, t in tables.items():
        path = store_path(root, name)
        os.makedirs(path)
        pq.write_table(t, os.path.join(path, "part-0.parquet"))


def strip_nul(t: pa.Table) -> pa.Table:
    """What the cleanse step makes of ``t``: NUL bytes removed from strings."""
    cols = [
        pc.replace_substring(c, "\x00", "") if c.type == pa.string() else c
        for c in t.columns
    ]
    return pa.table(cols, names=t.column_names)


def _bump(col: pa.Array) -> pa.Array:
    """A value that differs from every input value of ``col``."""
    if pa.types.is_string(col.type):
        return pc.binary_join_element_wise(col, pa.scalar("~"), "")
    if pa.types.is_timestamp(col.type):
        return pc.add(col, pa.scalar(86_400_000_000, pa.duration("us")))
    return pc.add(col, pa.scalar(1, col.type))


def change_set(
    rng: np.random.Generator, tables: dict[str, pa.Table]
) -> tuple[dict[str, pa.Table], dict[str, dict[str, int]]]:
    """Apply a seeded change set to ``tables``.

    Returns the changed tables and, per table, how many rows were updated,
    inserted and deleted; a diff of the result against the input must flag
    exactly these counts.
    """
    out, counts = {}, {}
    for name, t in tables.items():
        key = primary_key(name)
        n = t.num_rows
        n_upd, n_ins, n_del = (round(n * s) for s in (UPDATE_SHARE, INSERT_SHARE, DELETE_SHARE))
        picked = rng.permutation(n)
        deleted, updated = picked[:n_del], picked[n_del:n_del + n_upd]
        keep = np.ones(n, dtype=bool)
        keep[deleted] = False
        # the first non-key column carries the update
        target = next(c for c in t.column_names if c != key)
        is_upd = np.zeros(n, dtype=bool)
        is_upd[updated] = True
        col = t[target].combine_chunks()
        t2 = t.set_column(
            t.column_names.index(target), target,
            pc.if_else(pa.array(is_upd), _bump(col), col),
        ).filter(pa.array(keep))
        if n_ins:
            src_rows = t.take(pa.array(rng.integers(0, n, n_ins)))
            max_key = pc.max(t[key]).as_py()
            new_keys = pa.array(np.arange(max_key + 1, max_key + 1 + n_ins), t.schema.field(key).type)
            ins = src_rows.set_column(t.column_names.index(key), key, new_keys)
            t2 = pa.concat_tables([t2, ins])
        out[name] = t2
        counts[name] = {"changed": n_upd, "new": n_ins, "deleted": n_del}
    return out, counts


# -- schema conversion: a SQL Server dump the size of a large real schema ---

_DUMP_COL_TYPES = (
    ("int", "(0)"), ("bigint", "(0)"), ("smallint", "(1)"), ("bit", "(0)"),
    ("decimal(18, 2)", "(0.00)"), ("float", "(0)"), ("datetime2", None),
    ("nvarchar(100)", "(N'')"), ("varchar(40)", "('n/a')"), ("char(8)", None),
    ("uniqueidentifier", None), ("varbinary(max)", None), ("ntext", None),
)


def sqlserver_dump(rng: np.random.Generator, n_tables: int) -> tuple[str, dict[str, int]]:
    """A seeded SSMS-style dump of ``n_tables`` tables with identity columns,
    PK/FK/unique/check constraints, defaults, indexes (some partial), views,
    sequences and comments. Returns the text and the count of each object
    kind, which the converted scripts must reproduce."""
    n = {k: 0 for k in (
        "tables", "identity", "primary_keys", "uniques", "foreign_keys", "checks",
        "defaults", "indexes", "partial_indexes", "views", "sequences", "comments",
    )}
    out = ["SET ANSI_NULLS ON\nGO\nSET QUOTED_IDENTIFIER ON\nGO\n"]
    for i in range(n_tables):
        schema = "dbo" if i % 5 else "sales"
        if i == 1:
            out.append("CREATE SCHEMA [sales]\nGO\n")
        tname = f"T{i:05d}"
        n_cols = int(rng.integers(4, 16))
        cols = ["  [Id] [int] IDENTITY(1,1) NOT NULL"]
        n["identity"] += 1
        col_names = []
        for c in range(n_cols):
            typ, default = _DUMP_COL_TYPES[int(rng.integers(0, len(_DUMP_COL_TYPES)))]
            cname = f"Col{c:02d}"
            col_names.append(cname)
            line = f"  [{cname}] {typ} {'NOT NULL' if rng.random() < 0.3 else 'NULL'}"
            if default and rng.random() < 0.3:
                line += f" CONSTRAINT [DF_{tname}_{cname}] DEFAULT {default}"
                n["defaults"] += 1
            cols.append(line)
        has_parent = i > 0 and rng.random() < 0.6
        if has_parent:
            cols.append("  [ParentId] [int] NULL")
        cols.append(f"  CONSTRAINT [PK_{tname}] PRIMARY KEY CLUSTERED ([Id] ASC)")
        n["primary_keys"] += 1
        out.append(f"CREATE TABLE [{schema}].[{tname}] (\n" + ",\n".join(cols) + "\n)\nGO\n")
        n["tables"] += 1
        if has_parent:
            parent = int(rng.integers(0, i))
            pschema = "dbo" if parent % 5 else "sales"
            out.append(
                f"ALTER TABLE [{schema}].[{tname}] WITH CHECK ADD CONSTRAINT [FK_{tname}_parent] "
                f"FOREIGN KEY ([ParentId]) REFERENCES [{pschema}].[T{parent:05d}] ([Id])"
                f"{' ON DELETE CASCADE' if rng.random() < 0.3 else ''}\nGO\n"
            )
            n["foreign_keys"] += 1
        if rng.random() < 0.3:
            out.append(
                f"ALTER TABLE [{schema}].[{tname}] ADD CONSTRAINT [UQ_{tname}] "
                f"UNIQUE NONCLUSTERED ([{col_names[0]}] ASC)\nGO\n"
            )
            n["uniques"] += 1
        if rng.random() < 0.4:
            out.append(
                f"ALTER TABLE [{schema}].[{tname}] WITH CHECK ADD CONSTRAINT [CK_{tname}] "
                f"CHECK (([Id]>=(0)))\nGO\n"
            )
            n["checks"] += 1
        for k in range(int(rng.integers(0, 3))):
            cname = col_names[int(rng.integers(0, len(col_names)))]
            partial = rng.random() < 0.2
            out.append(
                f"CREATE NONCLUSTERED INDEX [IX_{tname}_{k}] ON [{schema}].[{tname}] "
                f"([{cname}] ASC){' WHERE ([Id]>(0))' if partial else ''}\nGO\n"
            )
            n["partial_indexes" if partial else "indexes"] += 1
        if rng.random() < 0.5:
            out.append(
                "EXEC sys.sp_addextendedproperty @name=N'MS_Description', "
                f"@value=N'Table {tname} of the generated schema', @level0type=N'SCHEMA', "
                f"@level0name=N'{schema}', @level1type=N'TABLE', @level1name=N'{tname}'\nGO\n"
            )
            n["comments"] += 1
        if rng.random() < 0.15:
            out.append(
                f"CREATE VIEW [{schema}].[V{i:05d}] AS SELECT [Id], [{col_names[0]}] "
                f"FROM [{schema}].[{tname}] WHERE [Id] > 0\nGO\n"
            )
            n["views"] += 1
        if rng.random() < 0.05:
            out.append(
                f"CREATE SEQUENCE [{schema}].[S{i:05d}] AS bigint START WITH "
                f"{int(rng.integers(1, 1000))} INCREMENT BY 1\nGO\n"
            )
            n["sequences"] += 1
    return "".join(out), n
