"""Output checks: every operation's result against a DuckDB recompute.

The comparison is the repository's oracle rule (``tools/check_oracle.py``:
same row count and columns, then exact values with columns sorted by name
and rows sorted by every column), loaded from that file so the benchmark
and the oracle replay cannot drift apart.
"""

from __future__ import annotations

import functools
import importlib.util
import os

import duckdb
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def _oracle_rule():
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("_check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


def compare(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Problems found comparing ``got`` with ``want``; empty when equal."""
    return _oracle_rule()(name, got, want)


def duckdb_over(data_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table of ``data_dir``."""
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def check(con: duckdb.DuckDBPyConnection, name: str, got: pd.DataFrame,
          oracle_sql: str) -> list[str]:
    """Compare ``got`` with the oracle's answer; a failing oracle is a
    problem too, never a pass."""
    try:
        want = con.execute(oracle_sql).fetchdf()
    except duckdb.Error as e:
        return [f"oracle error: {e}"]
    return compare(name, got, want)
