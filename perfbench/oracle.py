"""Independent checks: DuckDB oracle fingerprints and row-for-row
comparison.

The fingerprint is the parity harness's own (``tests/parity.py``): row
count, sorted column names, and an order-insensitive value hash. Every run
computes the oracle fingerprints afresh, before any timed region, so a
change to a contract's oracle SQL can never meet a stale expectation.
"""

from __future__ import annotations

import datetime as dt

from tests.parity import frame_fingerprint, run_duckdb


def _naive_utc(v):
    """Arrow hands back zone-aware datetimes for Spark TIMESTAMP columns;
    the oracle (and ``collect()``) see the same instant as a naive UTC
    wall time."""
    if isinstance(v, dt.datetime) and v.tzinfo is not None:
        return v.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return v


def arrow_fingerprint(table) -> list:
    cols = table.column_names
    data = []
    for c in cols:
        values = table.column(c).to_pylist()
        if str(table.schema.field(c).type).startswith("timestamp"):
            values = [_naive_utc(v) for v in values]
        data.append(values)
    n, names, h = frame_fingerprint(cols, list(zip(*data)))
    return [n, names, h]


def sql_fingerprint(sql: str, data_dir: str) -> list:
    cols, rows = run_duckdb(sql, data_dir)
    n, names, h = frame_fingerprint(cols, rows)
    return [n, names, h]


def contract_fingerprints(corpus_dir: str, names: list[str]) -> dict:
    """Oracle fingerprint of every named contract over ``corpus_dir``."""
    from silvia_spark import registry

    return {n: sql_fingerprint(registry.ORACLE[n], corpus_dir)
            for n in names}


def duck_fingerprint(con, sql: str) -> list:
    """Fingerprint of ``sql`` on an open DuckDB connection."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    n, names, h = frame_fingerprint(cols, cur.fetchall())
    return [n, names, h]


def same_rows(got, expected) -> bool:
    """Exact multiset equality of two Arrow tables with the same columns,
    decided in DuckDB (EXCEPT ALL both ways)."""
    import duckdb

    con = duckdb.connect()
    con.register("got", got)
    con.register("expected", expected)
    diff = con.execute(
        "SELECT (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL "
        "SELECT * FROM expected)) + (SELECT count(*) FROM (SELECT * FROM "
        "expected EXCEPT ALL SELECT * FROM got))").fetchone()[0]
    con.close()
    return got.num_rows == expected.num_rows and diff == 0
