"""Correctness gates, run outside every timed region.

Materialized views are checked against DuckDB running the view's SQL
over the base tables with changelog batches 1..k applied. The batches
are applied here with plain DuckDB DELETE/INSERT statements, never with
the engine's own merge code. Integers and strings must match exactly;
doubles within a relative 1e-9, because an incremental view sums in
another order than a recompute does.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

REL_TOL = 1e-9


class ChangelogOracle:
    """DuckDB copy of a view's source tables that batches are applied to
    in order; :meth:`query` answers the view's SQL over the current
    state. ``sources`` maps each name the SQL uses to its base table
    and primary key."""

    def __init__(self, base_dir: str, sources: dict):
        self.con = duckdb.connect()
        self.con.execute("SET threads=1")
        self.keys = {name: pk[0] for name, (_t, pk) in sources.items()}
        for name, (table, _pk) in sources.items():
            path = os.path.join(base_dir, f"{table}.parquet")
            self.con.execute(f"CREATE TABLE {name} AS SELECT * FROM read_parquet('{path}')")

    def apply(self, table: str, batch_path: str) -> None:
        """Apply one changelog batch: drop every changed key, then
        insert the new row of each key that was not deleted."""
        key = self.keys[table]
        cols = ", ".join(c for (c,) in self.con.execute(
            f"SELECT column_name FROM (DESCRIBE {table})").fetchall())
        self.con.execute(
            f"DELETE FROM {table} WHERE {key} IN "
            f"(SELECT {key} FROM read_parquet('{batch_path}'))"
        )
        self.con.execute(
            f"INSERT INTO {table} SELECT {cols} FROM read_parquet('{batch_path}') "
            "WHERE __op <> '-D'"
        )

    def query(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()


def compare_view(got: pd.DataFrame, want: pd.DataFrame, key: list[str]) -> str | None:
    """None when ``got`` equals ``want`` as a set of rows keyed by
    ``key``; otherwise a one-line description of the first difference."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    got = got.sort_values(key).reset_index(drop=True)
    want = want[list(got.columns)].sort_values(key).reset_index(drop=True)
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            ok = np.isclose(g.astype(float), w.astype(float), rtol=REL_TOL, atol=0.0,
                            equal_nan=True)
        elif pd.api.types.is_integer_dtype(g) and pd.api.types.is_integer_dtype(w):
            ok = g.astype(np.int64).to_numpy() == w.astype(np.int64).to_numpy()
        else:
            ok = (g.astype(object).to_numpy() == w.astype(object).to_numpy())
        if not np.all(ok):
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {g.iloc[i]!r} != {w.iloc[i]!r}"
    return None
