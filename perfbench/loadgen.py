"""Inputs and oracle for the ``load_merge`` workload.

The inputs are Keboola-style data directories (``config.json`` plus
``in/tables/<id>.csv``) that ``app.Application(data_dir, spark).run()``
consumes:

* ``full``: every row of the fixture's ``lineitem.parquet`` as one CSV,
  loaded with ``incremental: false``. The fixture's
  ``(l_orderkey, l_linenumber)`` is not unique, so duplicate keys reach the
  managed table.
* ``incr``: an increment loaded with ``incremental: true``. The seed picks
  which base rows it updates, which new keys it adds, and which of its own
  keys it repeats later in the file, with different values.

The oracle computes the expected managed table in DuckDB from the two CSV
files and compares it with the table's parquet files, read by DuckDB, so
Spark never checks itself. The merge semantics it encodes are the engine's
documented ones (``operators/merge.py``): every target row whose key occurs
in the increment is replaced, target rows with other keys survive (their
duplicates too), and duplicate keys inside the increment resolve to their
last occurrence in file order.
"""

from __future__ import annotations

import glob
import json
import os

import duckdb
import numpy as np
import pandas as pd

TABLE_ID = "lineitem_load"
DB_NAME = "lineitem_managed"
PRIMARY_KEY = ("l_orderkey", "l_linenumber")

# (column, declared type, size) in declared order; the DuckDB type is what
# the managed table must hold after a load (decimals at declared scale).
COLUMNS = (
    ("l_orderkey", "bigint", "", "BIGINT"),
    ("l_partkey", "bigint", "", "BIGINT"),
    ("l_suppkey", "bigint", "", "BIGINT"),
    ("l_linenumber", "int", "", "INTEGER"),
    ("l_quantity", "decimal", "12,2", "DECIMAL(12,2)"),
    ("l_extendedprice", "decimal", "15,2", "DECIMAL(15,2)"),
    ("l_discount", "decimal", "4,2", "DECIMAL(4,2)"),
    ("l_tax", "decimal", "4,2", "DECIMAL(4,2)"),
    ("l_returnflag", "varchar", "1", "VARCHAR"),
    ("l_linestatus", "varchar", "1", "VARCHAR"),
    ("l_shipdate", "timestamp", "", "TIMESTAMP"),
)
NAMES = [c[0] for c in COLUMNS]

# Increment shape as shares of the base row count (600k rows at sf0.1
# give 60k updates, 15k new keys and 15k repeated keys: ~90k rows).
UPDATE_SHARE = 0.10
NEW_SHARE = 0.025
DUP_SHARE = 0.025

_CSV_SELECT = """
    SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
           CAST(l_quantity AS DECIMAL(12,2)) AS l_quantity,
           CAST(l_extendedprice AS DECIMAL(15,2)) AS l_extendedprice,
           CAST(l_discount AS DECIMAL(4,2)) AS l_discount,
           CAST(l_tax AS DECIMAL(4,2)) AS l_tax,
           l_returnflag, l_linestatus,
           strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS l_shipdate
"""


def _config(incremental: bool) -> dict:
    items = [
        {"name": n, "dbName": n, "type": t, **({"size": s} if s else {})}
        for n, t, s, _ in COLUMNS
    ]
    table = {
        "tableId": TABLE_ID,
        "dbName": DB_NAME,
        "export": True,
        "incremental": incremental,
        "primaryKey": list(PRIMARY_KEY),
        "items": items,
    }
    return {
        "parameters": {"db": {"host": "local"}, "tables": [table]},
        "storage": {"input": {"tables": [{"source": TABLE_ID, "columns": NAMES}]}},
    }


def _data_dir(root: str, name: str, incremental: bool) -> tuple[str, str]:
    d = os.path.join(root, name)
    os.makedirs(os.path.join(d, "in", "tables"), exist_ok=True)
    with open(os.path.join(d, "config.json"), "w", encoding="utf-8") as fh:
        json.dump(_config(incremental), fh)
    return d, os.path.join(d, "in", "tables", TABLE_ID + ".csv")


def generate(sf_dir: str, out_dir: str, seed: int) -> dict:
    """Write the ``full`` and ``incr`` data directories under ``out_dir``.

    Returns their paths, the CSV paths and row counts. The base CSV depends
    only on the fixture; the increment depends on the fixture and ``seed``.
    """
    full_dir, full_csv = _data_dir(out_dir, "full", incremental=False)
    incr_dir, incr_csv = _data_dir(out_dir, "incr", incremental=True)
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE base AS SELECT row_number() OVER () - 1 AS i, * "
            f"FROM ({_CSV_SELECT} FROM read_parquet(?))",
            [os.path.join(sf_dir, "lineitem.parquet")],
        )
        con.execute(
            f"COPY (SELECT {', '.join(NAMES)} FROM base ORDER BY i) TO '{full_csv}' "
            "(HEADER, DELIMITER ',')"
        )
        n, max_key = con.execute("SELECT count(*), max(l_orderkey) FROM base").fetchone()
        rng = np.random.default_rng(seed)
        n_upd, n_new, n_dup = (max(1, int(n * s)) for s in (UPDATE_SHARE, NEW_SHARE, DUP_SHARE))
        upd = rng.choice(n, n_upd, replace=False)
        new_src = rng.choice(n, n_new, replace=False)
        # kind: 0 update of a base key, 1 new key, 2 repeat of an earlier
        # increment row; ref is the base row (kinds 0/1) or increment row (2)
        kind = np.concatenate([np.zeros(n_upd), np.ones(n_new)]).astype(np.int64)
        ref = np.concatenate([upd, new_src]).astype(np.int64)
        dup_of = rng.choice(n_upd + n_new, n_dup, replace=True)
        kind = np.concatenate([kind, np.full(n_dup, 2)])
        ref = np.concatenate([ref, dup_of])
        pos = rng.permutation(len(kind))
        plan = {"j": np.arange(len(kind)), "kind": kind, "ref": ref, "pos": pos}
        con.register("plan_df", pd.DataFrame(plan))
        # New keys start above the fixture's largest order key; a repeat
        # copies its referenced increment row's key with other values.
        con.execute(
            f"""
            CREATE TABLE first AS
            SELECT p.j, p.pos,
                   CASE WHEN p.kind = 1 THEN {max_key} + 1 + p.j ELSE b.l_orderkey END AS l_orderkey,
                   b.l_partkey, b.l_suppkey, b.l_linenumber,
                   b.l_quantity + 1 AS l_quantity,
                   b.l_extendedprice + 0.01 AS l_extendedprice,
                   b.l_discount, b.l_tax,
                   CASE WHEN p.kind = 1 THEN 'N' ELSE 'U' END AS l_returnflag,
                   b.l_linestatus,
                   strftime(CAST(b.l_shipdate AS TIMESTAMP) + INTERVAL 1 DAY,
                            '%Y-%m-%d %H:%M:%S') AS l_shipdate
            FROM plan_df p JOIN base b ON b.i = p.ref WHERE p.kind < 2
            """
        )
        con.execute(
            f"""
            COPY (
              SELECT {', '.join(NAMES)} FROM (
                SELECT pos, {', '.join(NAMES)} FROM first
                UNION ALL
                SELECT p.pos, f.l_orderkey, f.l_partkey, f.l_suppkey, f.l_linenumber,
                       f.l_quantity + 2, f.l_extendedprice + 0.02, f.l_discount,
                       f.l_tax, 'D', f.l_linestatus, f.l_shipdate
                FROM plan_df p JOIN first f ON f.j = p.ref WHERE p.kind = 2
              ) ORDER BY pos
            ) TO '{incr_csv}' (HEADER, DELIMITER ',')
            """
        )
        n_incr = con.execute(f"SELECT count(*) FROM read_csv('{incr_csv}', header=true)").fetchone()[0]
    finally:
        con.close()
    return {
        "full_dir": full_dir,
        "incr_dir": incr_dir,
        "full_csv": full_csv,
        "incr_csv": incr_csv,
        "full_rows": int(n),
        "incr_rows": int(n_incr),
        "max_key": int(max_key),
    }


def _read_csv_sql(path: str) -> str:
    types = ", ".join(f"'{n}': '{d}'" for n, _, _, d in COLUMNS)
    return f"read_csv('{path}', header=true, delim=',', quote='\"', columns={{{types}}})"


def table_files(table_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(table_dir, "**", "*.parquet"), recursive=True))


def create_expected(con: duckdb.DuckDBPyConnection, full_csv: str, incr_csv: str | None) -> None:
    """Create the view ``expected``: the managed table a load should leave.

    ``incr_csv`` None means the state after the full load only. The
    increment is loaded into a DuckDB table, which keeps file order in its
    ``rowid``; the last occurrence of each key wins.
    """
    cols = ", ".join(NAMES)
    con.execute(f"CREATE OR REPLACE TABLE base_csv AS SELECT {cols} FROM {_read_csv_sql(full_csv)}")
    if incr_csv is None:
        con.execute("CREATE OR REPLACE VIEW expected AS SELECT * FROM base_csv")
        return
    pk = ", ".join(PRIMARY_KEY)
    con.execute(f"CREATE OR REPLACE TABLE incr_csv AS SELECT {cols} FROM {_read_csv_sql(incr_csv)}")
    con.execute(
        f"""
        CREATE OR REPLACE VIEW expected AS
        SELECT {cols} FROM base_csv b
        WHERE NOT EXISTS (SELECT 1 FROM incr_csv s
                          WHERE s.l_orderkey = b.l_orderkey AND s.l_linenumber = b.l_linenumber)
        UNION ALL
        SELECT {cols} FROM incr_csv
        QUALIFY row_number() OVER (PARTITION BY {pk} ORDER BY rowid DESC) = 1
        """
    )


def check_table(table_dir: str, full_csv: str, incr_csv: str | None) -> str | None:
    """Compare the managed table's parquet files with the expected table.

    Returns None when they hold the same multiset of rows, with every
    declared column present under its name and type; else a one-line
    reason. Columns are compared by name, so column order does not count.
    """
    files = table_files(table_dir)
    if not files:
        return f"no parquet files under {table_dir}"
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW actual AS SELECT * FROM read_parquet({files!r})")
        got = {r[0]: r[1] for r in con.execute("DESCRIBE actual").fetchall()}
        want = {n: d for n, _, _, d in COLUMNS}
        if got != want:
            return f"schema {sorted(got.items())} != {sorted(want.items())}"
        create_expected(con, full_csv, incr_csv)
        cols = ", ".join(NAMES)
        missing, extra = (
            con.execute(f"SELECT count(*) FROM (SELECT {cols} FROM {a} EXCEPT ALL SELECT {cols} FROM {b})").fetchone()[0]
            for a, b in (("expected", "actual"), ("actual", "expected"))
        )
        if missing or extra:
            return f"{missing} expected rows missing, {extra} unexpected rows"
        return None
    finally:
        con.close()


def expected_results(full_csv: str, incr_csv: str, sqls: list[str]) -> list[tuple[list[str], list[tuple]]]:
    """(columns, rows) of each query in ``sqls`` over the expected table
    after the merge (the queries name it ``expected``)."""
    con = duckdb.connect()
    try:
        create_expected(con, full_csv, incr_csv)
        out = []
        for sql in sqls:
            res = con.execute(sql)
            out.append(([d[0] for d in res.description], res.fetchall()))
        return out
    finally:
        con.close()


def dir_bytes(path: str) -> int:
    """Bytes of every file under ``path``: what the table takes on disk."""
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )
