"""Local re-implementation of the driver's DuckDB-oracle comparison,
so mismatches are caught in pytest before the driver's per-round gate.

Compares a Spark DataFrame against a DuckDB SQL result: row count,
column-name set, and order-insensitive value equality (floats with
tolerance; everything else exact after canonicalization).
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

# Driver testdata tables (FIXTURES.md §B), one parquet file each.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    # pinned resources: a runaway oracle fails fast with an
    # out-of-memory error instead of exhausting the host
    threads = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    con = duckdb.connect(
        config={"memory_limit": "4GB", "threads": int(threads)}
    )
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("datetime64[us]").astype(str)
        elif pd.api.types.is_bool_dtype(col):
            df[c] = col.astype("boolean")
        elif pd.api.types.is_integer_dtype(col):
            df[c] = col.astype("Int64")
    sort_cols = list(df.columns)
    return df.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "?"):
    got = _canon(spark_df.toPandas())
    want = _canon(con.execute(sql).fetchdf())
    assert len(got) == len(want), (
        f"{name}: row count {len(got)} != oracle {len(want)}"
    )
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}"
    )
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            for i, (x, y) in enumerate(zip(g.tolist(), w.tolist())):
                xnan = x is None or (isinstance(x, float) and math.isnan(x))
                ynan = y is None or (isinstance(y, float) and math.isnan(y))
                if xnan and ynan:
                    continue
                assert not (xnan or ynan), f"{name}.{c}[{i}]: {x} vs {y}"
                assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9), (
                    f"{name}.{c}[{i}]: {x} != {y}"
                )
        else:
            eq = g.astype(str).fillna("<null>") == w.astype(str).fillna("<null>")
            if not eq.all():
                i = int(eq.idxmin())
                raise AssertionError(
                    f"{name}.{c}[{i}]: {g.iloc[i]!r} != oracle {w.iloc[i]!r}"
                )
