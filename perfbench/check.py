"""Output checks against DuckDB over the same generated files.

Checks run outside the timed region. Rows are compared as multisets
after a type-tagged normalisation (an int never equals a float, floats
compare at 6 decimals, as ``scripts/gatecheck.py`` does). The benchmark
keeps its own copy of that normalisation, for numpy scalars and decimals,
rather than importing one from ``scripts/`` or ``tests/``: a later change
that refactors those must not have to edit the benchmark.
"""

from __future__ import annotations

import math
from decimal import Decimal

import duckdb
import numpy as np

from proteus_engine_spark.queries import REGISTRY

ENRICH_COLUMNS = (
    "event_id", "ts_us", "user_id", "event_type", "value", "props",
    "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment",
    "tier", "score", "note",
)
TUMBLE_COLUMNS = ("user_id", "n", "amount", "window_start_us", "window_end_us")
CEP_COLUMNS = ("user_id", "signup_id", "signup_ts", "purchase_id", "purchase_ts")


def norm(v):
    if isinstance(v, np.generic):
        v = v.item()
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, bool):
        return ("bool", v)
    if isinstance(v, float):
        return ("float", round(v, 6))
    if isinstance(v, int):
        return ("int", v)
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(norm(x) for x in v)
    return v


def same_rows(actual, expected) -> bool:
    """True when both iterables of rows hold the same rows, in any order."""

    def canon(rows):
        return sorted((tuple(norm(x) for x in r) for r in rows), key=repr)

    return canon(actual) == canon(expected)


def frame_rows(pdf, columns) -> list[tuple]:
    return list(pdf[list(columns)].itertuples(index=False, name=None))


def _parquet(path_glob: str) -> str:
    return f"read_parquet('{path_glob}')"


def enrich_expected(events_dir: str, side_dir: str) -> list[tuple]:
    """Left join of every event with its customer and profile row."""
    sql = f"""
    SELECT e.event_id, epoch_us(e.ts) AS ts_us, e.user_id, e.event_type, e.value, e.props,
           c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment,
           p.tier, p.score, p.note
    FROM {_parquet(events_dir + '/*.parquet')} e
    LEFT JOIN {_parquet(side_dir + '/customer.parquet')} c ON e.user_id = c.c_custkey
    LEFT JOIN {_parquet(side_dir + '/profile.parquet')} p ON e.user_id = p.user_id
    """
    return duckdb.sql(sql).fetchall()


def tumble_expected(events_dir: str, window_us: int, delay_ms: int) -> list[tuple]:
    """Per-user tumbling windows that the final watermark (max event time
    minus the delay) has closed: the rows an append-mode stream emits."""
    sql = f"""
    WITH e AS (SELECT user_id, value, epoch_us(ts) AS t FROM {_parquet(events_dir + '/*.parquet')}),
         wm AS (SELECT max(t) // 1000 - {delay_ms} AS wm_ms FROM e)
    SELECT user_id, count(*) AS n, sum(CAST(value AS DECIMAL(18,2))) AS amount,
           (t // {window_us}) * {window_us} AS window_start_us,
           (t // {window_us}) * {window_us} + {window_us} AS window_end_us
    FROM e
    GROUP BY user_id, t // {window_us}
    HAVING ((t // {window_us}) * {window_us} + {window_us}) // 1000 <= (SELECT wm_ms FROM wm)
    """
    return duckdb.sql(sql).fetchall()


def registry_expected(name: str, tables: dict[str, str]) -> list[tuple]:
    """Rows of a registered query's DuckDB oracle, with ``tables`` mapping
    each table name to a parquet path or glob. Columns come back sorted by
    name, the order ``sorted_columns`` gives Spark rows."""
    con = duckdb.connect()
    try:
        for table, path in tables.items():
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM {_parquet(path)}")
        rel = con.sql(REGISTRY[name].oracle)
        cols = rel.columns
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return [tuple(r[i] for i in order) for r in rel.fetchall()]
    finally:
        con.close()


def sorted_columns(rows, columns) -> list[tuple]:
    """Reorder Spark ``Row`` objects by sorted column name, to line up with
    ``registry_expected``."""
    names = sorted(columns)
    return [tuple(r[c] for c in names) for r in rows]
