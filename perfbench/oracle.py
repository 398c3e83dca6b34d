"""Correctness checks, run after the timed phase, through DuckDB.

Query bodies are written once with placeholders and rendered for each
side: ``{lineitem}`` becomes ``read_files('lineitem.parquet')`` for the
engine and a view over the same Parquet file for DuckDB. Double sums go
through DECIMAL as in the query registry (``{dsum:x}`` casts ``x``;
``{dsumx:x}`` sums an expression that is already DECIMAL), so both
engines produce bit-identical doubles. Results are compared by sorted
column names, row count and an order-insensitive hash of every cell's
VARCHAR form, which still tells ``1`` from ``1.0``.
"""

from __future__ import annotations

import glob
import os
import re

_AGG = re.compile(r"\{(dsumx?):([^{}]*)\}")
_TABLE = re.compile(r"\{(\w+)\}")


def render(body: str, dialect: str) -> str:
    """Render a query body for ``"engine"`` (Spark SQL) or ``"duckdb"``."""

    def agg(m):
        kind, expr = m.groups()
        total = f"SUM(CAST({expr} AS DECIMAL(27,4)))" if kind == "dsum" else f"SUM({expr})"
        if dialect == "engine":
            return f"CAST({total} AS DOUBLE)"
        # DuckDB's decimal->double cast can round twice; its string parse cannot
        return f"CAST(CAST({total} AS VARCHAR) AS DOUBLE)"

    body = _AGG.sub(agg, body)
    if dialect == "engine":
        return _TABLE.sub(lambda m: f"read_files('{m.group(1)}.parquet')", body)
    return _TABLE.sub(lambda m: m.group(1), body)


def connect(work: str):
    import duckdb

    con = duckdb.connect()
    tmp = os.path.join(work, "duckdb-tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute("SET memory_limit = '2GB'")
    return con


def register_tables(con, sf_dir: str, tables) -> None:
    for t in tables:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )


def signature(con, relation: str) -> tuple[list[str], int, int]:
    cols = sorted(con.sql(relation).columns)
    cells = ", ".join(f'CAST("{c}" AS VARCHAR)' for c in cols)
    n, h = con.sql(
        f"SELECT count(*), COALESCE(sum(hash({cells})), 0) FROM ({relation})"
    ).fetchone()
    return cols, int(n), int(h)


def _written(path: str, row_id: bool) -> str:
    files = "**/*.parquet" if glob.glob(os.path.join(path, "*=*")) else "*.parquet"
    cols = "* EXCLUDE (__row_id)" if row_id else "*"
    return f"SELECT {cols} FROM read_parquet('{path}/{files}', hive_partitioning = true)"


def written_result_ok(con, extra: dict) -> bool:
    """A ``materialize`` output against the same SQL run in DuckDB."""
    got = signature(con, _written(extra["path"], row_id=False))
    want = signature(con, render(extra["body"], "duckdb"))
    return got == want and extra["rows"] == want[1]


def service_result_ok(con, path: str, extra: dict, page_rows: int) -> bool:
    """A service query: the whole result against DuckDB, then every page
    the client received against the result rows at those row ids."""
    got = signature(con, _written(path, row_id=True))
    want = signature(con, render(extra["body"], "duckdb"))
    n = extra["num_rows"]
    if got != want or n != want[1]:
        return False
    # first page, a forward page if rows remain, the reverse page ending
    # at the last row
    starts = [0, page_rows, n - page_rows] if n > page_rows else [0, 0]
    pages = extra["pages"]
    if len(pages) != len(starts):
        return False
    for (rows, offsets), start in zip(pages, starts):
        if not rows or offsets != list(range(start, start + len(rows))):
            return False
        names = list(rows[0])
        cols = ", ".join(f'"{c}"' for c in names)
        expected = con.sql(
            f"SELECT {cols} FROM read_parquet('{path}/*.parquet') "
            f"WHERE __row_id BETWEEN {offsets[0]} AND {offsets[-1]} ORDER BY __row_id"
        ).fetchall()
        if [tuple(r[c] for c in names) for r in rows] != expected:
            return False
    return True


def pipeline_result_ok(name: str, df, oracle_sql: str, con) -> bool:
    """A registry query against its DuckDB oracle, with the comparison
    the repository's correctness gate uses."""
    from tools.check_correctness import compare

    problems, _, _ = compare(name, df, oracle_sql, con)
    return not problems


def drop_one_row(path: str) -> None:
    """Corrupt a written result (self-test only): one row goes missing."""
    import pyarrow.parquet as pq

    for f in sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)):
        table = pq.read_table(f, partitioning=None)
        if table.num_rows:
            pq.write_table(table.slice(1), f)
            return
