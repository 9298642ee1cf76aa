"""Correctness checks against DuckDB, run outside the timed window.

Each check returns an error string, or None when the program's
output matches. Floats compare with a relative tolerance of 1e-9;
everything else compares exactly, ignoring row order.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb

_REL_TOL = 1e-9


def connect(temp_dir: str, table_dir: str | None,
            tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection that spills to `temp_dir`, with a view per
    name in `tables` over `<table_dir>/<name>.parquet`."""
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute(f"SET temp_directory = '{temp_dir}'")
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{table_dir}/{name}.parquet')")
    return con


def _cell(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=_REL_TOL, abs_tol=1e-12)
    return a == b


def _sort_key(row):
    return tuple((x is None, str(x) if not isinstance(x, float)
                  else f"{x:.6e}") for x in row)


def compare(label: str, cols: list[str], rows: list,
            want_cols: list[str], want_rows: list) -> str | None:
    """Order-insensitive comparison of two results, columns matched
    by name."""
    if sorted(cols) != sorted(want_cols):
        return f"{label}: columns {sorted(cols)} != {sorted(want_cols)}"
    if len(rows) != len(want_rows):
        return f"{label}: {len(rows)} rows, oracle has {len(want_rows)}"
    order = [cols.index(c) for c in sorted(cols)]
    want_order = [want_cols.index(c) for c in sorted(want_cols)]
    got = sorted((tuple(_cell(r[i]) for i in order) for r in rows),
                 key=_sort_key)
    want = sorted((tuple(_cell(r[i]) for i in want_order)
                   for r in want_rows), key=_sort_key)
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_same(x, y) for x, y in zip(g, w)):
            return f"{label}: row {g} != oracle row {w}"
    return None


def check_query(con, name: str, cols: list[str], rows: list,
                oracle_sql: str) -> str | None:
    rel = con.sql(oracle_sql)
    return compare(name, cols, rows, list(rel.columns), rel.fetchall())


def check_minhash(con, cols: list[str], rows: list) -> str | None:
    """`llm_dedup_minhash` has no oracle (its hash family is
    engine-specific). What every correct answer must hold: estimates
    lie in [0, 1], pairs are ordered, and every pair of documents
    with identical text (three words or more) is reported with an
    estimate of 1."""
    if cols != ["doc_a", "doc_b", "est_jaccard"]:
        return f"llm_dedup_minhash: columns {cols}"
    est = {(a, b): e for a, b, e in rows}
    if any(not (a < b and 0.0 <= e <= 1.0) for (a, b), e in est.items()):
        return "llm_dedup_minhash: unordered pair or estimate out of [0, 1]"
    dups = con.sql(
        "SELECT a.doc_id, b.doc_id FROM documents a JOIN documents b "
        "ON a.text = b.text AND a.doc_id < b.doc_id "
        "WHERE len(string_split(a.text, ' ')) >= 3").fetchall()
    if not dups:
        return "llm_dedup_minhash: inputs hold no duplicate to find"
    missed = [p for p in dups if est.get(p) != 1.0]
    if missed:
        return f"llm_dedup_minhash: duplicates {missed[:3]} not reported"
    return None


def check_views(con, files: list[str], group_agg: list,
                top_k: list, k: int) -> str | None:
    """Standing views against a last-writer-wins recomputation over
    every ingested change file (no deletes)."""
    listing = ", ".join(f"'{f}'" for f in files)
    con.execute("CREATE OR REPLACE VIEW changes AS SELECT * FROM "
                f"read_parquet([{listing}])")
    con.execute(
        "CREATE OR REPLACE VIEW lww AS SELECT user_id, value, event_type, "
        "event_id FROM changes QUALIFY row_number() OVER (PARTITION BY "
        "user_id ORDER BY ts DESC, event_id DESC) = 1")
    want = con.sql(
        "SELECT event_type, count(*) AS cnt, CAST(sum(CAST(value AS "
        "DECIMAL(18,6))) AS DOUBLE) AS sum_value FROM lww "
        "GROUP BY event_type").fetchall()
    err = compare("group_agg", ["event_type", "cnt", "sum_value"],
                  group_agg, ["event_type", "cnt", "sum_value"], want)
    if err:
        return err
    want_top = con.sql(
        "SELECT user_id, value, event_id FROM lww "
        f"ORDER BY value DESC, event_id LIMIT {k}").fetchall()
    if [tuple(r) for r in top_k] != [tuple(r) for r in want_top]:
        return f"top_k: {top_k[:3]} != oracle {want_top[:3]}"
    return None
