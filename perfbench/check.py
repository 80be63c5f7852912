"""Output checks against DuckDB, run outside the timed passes.

Every comparison goes through the repository's oracle harness
(``tests/oracle_harness.compare_query``): the same columns, row count and
coarse dtype per column, and equal values in any row order, floats within a
relative tolerance.
"""

from __future__ import annotations

from pathlib import Path
from types import SimpleNamespace

import duckdb
import pandas as pd


def connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per ``name -> parquet path``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name, path in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def table_views(data: Path) -> dict[str, str]:
    return {p.name.removesuffix(".parquet"): str(p) for p in sorted(data.glob("*.parquet"))}


def read_output(con: duckdb.DuckDBPyConnection, location: Path) -> pd.DataFrame:
    """A table Spark wrote, partition columns (as strings) included."""
    return con.execute(
        f"SELECT * FROM read_parquet('{location}/**/*.parquet', "
        "hive_partitioning = true, hive_types_autocast = false)"
    ).df()


class Rows:
    """The one thing ``compare_query`` asks of a query result: ``toPandas()``.
    Wraps a Spark DataFrame or an already collected pandas frame, and keeps
    the frame so the caller can look at the rows that were compared."""

    def __init__(self, df):
        self.df = df
        self.frame: pd.DataFrame | None = df if isinstance(df, pd.DataFrame) else None

    def toPandas(self) -> pd.DataFrame:  # noqa: N802 - the DataFrame method name
        if self.frame is None:
            self.frame = self.df.toPandas()
        return self.frame


def compare(name: str, rows: Rows, con: duckdb.DuckDBPyConnection, oracle_sql: str) -> str | None:
    """None when ``rows`` match DuckDB running ``oracle_sql`` on ``con``,
    else the harness's mismatches."""
    from oracle_harness import compare_query

    spec = SimpleNamespace(name=name, fn=lambda spark, sf_dir: rows, oracle=oracle_sql)
    res = compare_query(spec, None, con, "")
    return None if res.ok else "; ".join(res.mismatches) or res.detail
