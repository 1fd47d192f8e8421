"""Output checks, run outside the timed phase with DuckDB over the
committed parquet.  Each function returns ``(attempted, failed)``; a
document or row counts as failed at most once."""

from __future__ import annotations

import glob
import os
from collections import Counter

import duckdb


def parquet_glob(path: str) -> str:
    return os.path.join(path, "*.parquet")


def _has_parquet(path: str) -> bool:
    return bool(glob.glob(parquet_glob(path)))


def check_extraction(
    con: duckdb.DuckDBPyConnection, results: str, lineage: str
) -> tuple[int, int]:
    """Committed extraction results against the ``expected`` view
    (url, text), which the caller registers on ``con``.

    A document fails if its url is missing or appears more than once, if
    it was quarantined (``payload_kind='error'``), or if its text differs
    from the expected text.  A result row whose url was never an input
    counts as one more failure, and so does each document by which the
    lineage ``input_count`` sum misses the document count."""
    attempted = con.execute("SELECT count(*) FROM expected").fetchone()[0]
    if not _has_parquet(results):
        return attempted, attempted
    con.execute(
        "CREATE OR REPLACE TEMP VIEW res AS SELECT url, payload_kind, text "
        f"FROM read_parquet('{parquet_glob(results)}')"
    )
    bad_docs = con.execute(
        """
        WITH per_url AS (
          SELECT url, count(*) AS n,
                 bool_or(payload_kind = 'error') AS quarantined,
                 min(text) AS text
          FROM res GROUP BY url
        )
        SELECT count(*) FROM expected e LEFT JOIN per_url r USING (url)
        WHERE r.url IS NULL OR r.n <> 1 OR r.quarantined
           OR r.text IS DISTINCT FROM e.text
        """
    ).fetchone()[0]
    strays = con.execute(
        "SELECT count(*) FROM res WHERE url NOT IN (SELECT url FROM expected)"
    ).fetchone()[0]
    if _has_parquet(lineage):
        lineage_sum = con.execute(
            "SELECT coalesce(sum(input_count), 0) "
            f"FROM read_parquet('{parquet_glob(lineage)}')"
        ).fetchone()[0]
    else:
        lineage_sum = 0
    return attempted, bad_docs + strays + abs(int(lineage_sum) - attempted)


def _row_key(cols: list[str], row: tuple) -> str:
    """Order-insensitive row key: columns by name, floats at 6 dp (the
    same normalisation as the repository's oracle gate)."""
    parts = []
    for i in sorted(range(len(cols)), key=lambda i: cols[i]):
        v = row[i]
        parts.append(f"{v:.6f}" if isinstance(v, float) else str(v))
    return "\x1f".join(parts)


def compare_rows(
    got_cols: list[str], got: list[tuple], want_cols: list[str], want: list[tuple]
) -> tuple[int, int]:
    """Multiset comparison of two row sets.  Attempted is the expected row
    count; failed counts every row present on one side only (all rows
    when the column sets differ)."""
    if sorted(got_cols) != sorted(want_cols):
        return len(want), max(len(want), len(got))
    g = Counter(_row_key(got_cols, r) for r in got)
    w = Counter(_row_key(want_cols, r) for r in want)
    return len(want), sum((w - g).values()) + sum((g - w).values())


def check_against_oracle(
    con: duckdb.DuckDBPyConnection, got_cols: list[str], got: list[tuple], sql: str
) -> tuple[int, int]:
    """Rows from the engine against a DuckDB oracle query."""
    res = con.execute(sql)
    want_cols = [d[0] for d in res.description]
    return compare_rows(got_cols, got, want_cols, res.fetchall())


def read_rows(con: duckdb.DuckDBPyConnection, path: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(f"SELECT * FROM read_parquet('{parquet_glob(path)}')")
    return [d[0] for d in res.description], res.fetchall()


def register_tables(con: duckdb.DuckDBPyConnection, sf_dir: str, names: list[str]) -> None:
    for t in names:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')"
        )
