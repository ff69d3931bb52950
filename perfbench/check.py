"""Output checks against DuckDB, run outside the timed region.

Warehouse tables: the engine's own ``pipeline_*`` oracle SQL, run over
the fixtures restricted to the synced history, reduced last-writer-wins
by the order columns ``pipelines.run_pipeline`` merges with.  A key
whose latest rows tie on those columns with different values accepts
any of the tied rows (the merge's own order does not break such ties);
the number of such keys is reported, never hidden.  Idempotence: a
table after a sync against its snapshot from before, row by row.

Query results: row count, column names and the order-insensitive value
hash of ``tools/selfcheck`` against each query's DuckDB oracle.
"""

from __future__ import annotations

import datetime as dt
import os

import duckdb

from tools.selfcheck import _from_pandas, canon, table_hash

#: warehouse table → (registry oracle, fixture view windowed, its ts column)
SYNC_ORACLES = {
    "pos_payments": ("pipeline_payments", "orders", "o_orderdate"),
    "pos_order_items": ("pipeline_order_items", "orders", "o_orderdate"),
    "pos_catalog": ("pipeline_catalog", None, None),
    "pos_inventory": ("pipeline_inventory", "lineitem", "l_shipdate"),
    "pos_categories": ("pipeline_categories", None, None),
    "pos_locations": ("pipeline_locations", None, None),
}
FIXTURE_VIEWS = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")


def order_columns(cols: list[str], key: list[str]) -> list[str]:
    """The merge's last-writer order, as ``run_pipeline`` picks it."""
    return [c for c in ("updated_at", "calculated_at") if c in cols] or key


def connect(threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    con.execute("SET TimeZone='UTC'")
    return con


def warehouse_scan(path: str) -> str:
    """DuckDB relation over one warehouse table (hive-partitioned or not)."""
    return (
        f"read_parquet('{path}/**/*.parquet', hive_partitioning=true, "
        "hive_types_autocast=false)"
    )


def _q(c: str) -> str:
    return '"' + c + '"'


def register_history(
    con: duckdb.DuckDBPyConnection, fixture_dir: str, table: str, end: dt.date | None
) -> None:
    """Fixture views as ``table``'s sync sees them after syncing every
    row before ``end`` (all rows if None)."""
    _, view, ts_col = SYNC_ORACLES[table]
    for name in FIXTURE_VIEWS:
        cond = ""
        if name == view and end is not None:
            cond = f" WHERE {ts_col} < TIMESTAMP '{end.isoformat()}'"
        con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{fixture_dir}/{name}.parquet'){cond}"
        )


def check_table(
    con: duckdb.DuckDBPyConnection,
    fixture_dir: str,
    table: str,
    oracle_sql: str,
    key: list[str],
    target: str,
    end: dt.date | None,
    cand: str = "cand",
) -> dict:
    """Compare one warehouse table on disk with the expected state
    after syncing every fixture row before ``end`` (all rows if None).
    Returns counts, and in ``tied`` the keys whose latest rows tie;
    ``ok`` is true when nothing is missing, extra, duplicated or
    different.  The expected rows stay in the temp table ``cand``."""
    register_history(con, fixture_dir, table, end)
    con.execute(f"CREATE OR REPLACE TEMP TABLE exp AS {oracle_sql}")
    cols = [r[0] for r in con.execute("DESCRIBE exp").fetchall()]
    sel = ", ".join(_q(c) for c in cols)
    keys = ", ".join(_q(c) for c in key)
    order = ", ".join(f"{_q(c)} DESC NULLS LAST" for c in order_columns(cols, key))
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE {cand} AS SELECT DISTINCT {sel} FROM ("
        f"SELECT *, dense_rank() OVER (PARTITION BY {keys} ORDER BY {order}) AS __r "
        f"FROM exp) WHERE __r = 1"
    )
    con.execute(
        f"CREATE OR REPLACE TEMP TABLE act AS SELECT {sel} FROM {warehouse_scan(target)}"
    )

    def one(sql: str) -> int:
        return int(con.execute(sql).fetchone()[0])

    res = {
        "rows": one("SELECT count(*) FROM act"),
        "expected_keys": one(f"SELECT count(*) FROM (SELECT DISTINCT {keys} FROM {cand})"),
        "missing_keys": one(
            f"SELECT count(*) FROM (SELECT DISTINCT {keys} FROM {cand} "
            f"EXCEPT SELECT DISTINCT {keys} FROM act)"
        ),
        "extra_keys": one(
            f"SELECT count(*) FROM (SELECT DISTINCT {keys} FROM act "
            f"EXCEPT SELECT DISTINCT {keys} FROM {cand})"
        ),
        "duplicate_rows": one(
            f"SELECT count(*) - count(DISTINCT ({keys})) FROM act"
        ),
        "wrong_rows": one(f"SELECT count(*) FROM (SELECT * FROM act EXCEPT SELECT * FROM {cand})"),
    }
    tied = con.execute(
        f"SELECT {keys} FROM {cand} GROUP BY {keys} HAVING count(*) > 1"
    ).fetchall()
    res["tied"] = {tuple(canon(v) for v in r) for r in tied}
    res["tied_keys"] = len(tied)
    res["ok"] = all(
        res[k] == 0
        for k in ("missing_keys", "extra_keys", "duplicate_rows", "wrong_rows")
    )
    return res


def snapshot(con: duckdb.DuckDBPyConnection, target: str, name: str) -> str:
    """Copy one warehouse table's rows, every column in name order (the
    files of a table need not agree on column order), into the DuckDB
    temp table ``name`` and return the name."""
    scan = warehouse_scan(target)
    cols = sorted(r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {scan}").fetchall())
    sel = ", ".join(_q(c) for c in cols)
    con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS SELECT {sel} FROM {scan}")
    return name


def replay_diff(
    con: duckdb.DuckDBPyConnection,
    snap: str,
    snap_cand: str,
    cand: str,
    target: str,
    key: list[str],
    tied: set[tuple],
) -> dict:
    """Idempotence of a sync over history the table already holds.
    Compares the table on disk, row by row over every column, with its
    :func:`snapshot` ``snap`` from before the sync.  A key's rows may
    change only where the expected rows changed between the two syncs
    (``snap_cand`` before, ``cand`` after, as :func:`check_table` left
    them: new keys and newer versions) or where the key's latest rows
    tie."""
    now = snapshot(con, target, f"{snap}_now")
    keys = ", ".join(_q(c) for c in key)

    def changed(a: str, b: str) -> set[tuple]:
        rows = con.execute(
            f"SELECT DISTINCT {keys} FROM ("
            f"(SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}) UNION ALL "
            f"(SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))"
        ).fetchall()
        return {tuple(canon(v) for v in r) for r in rows}

    on_disk, expected = changed(snap, now), changed(snap_cand, cand)
    unexpected = sorted(on_disk - expected - tied)
    return {
        "changed_keys": len(on_disk),
        "expected_changed_keys": len(expected),
        "changed_tied_keys": len((on_disk - expected) & tied),
        "unexpected_changed_keys": len(unexpected),
        "ok": not unexpected,
        "example": unexpected[:3],
    }


def oracle_result(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    """Row count, columns and value hash of one oracle, fetched as
    ``tools/selfcheck`` does (pandas, DATE folded back, null sentinels
    to None)."""
    cur = con.execute(sql)
    date_cols = {d[0] for d in cur.description if d[1] == "Date"}
    odf = cur.df()
    for c in date_cols:
        odf[c] = odf[c].dt.date
    rows = [tuple(_from_pandas(v) for v in r) for r in odf.itertuples(index=False, name=None)]
    cols = list(odf.columns)
    return {"rows": len(rows), "cols": sorted(cols), "hash": table_hash(rows, cols)}


def spark_result(rows: list[tuple], cols: list[str]) -> dict:
    return {"rows": len(rows), "cols": sorted(cols), "hash": table_hash(rows, cols)}


def register_fixtures(con: duckdb.DuckDBPyConnection, fixture_dir: str, names) -> None:
    for name in names:
        path = os.path.join(fixture_dir, f"{name}.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
