"""Shared pytest fixtures: one SparkSession per test session, DuckDB oracle
helper replicating the driver's comparison (row count + schema + order-
insensitive value comparison)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

# Python workers must be able to unpickle closures defined in test modules
# (UDF classes); propagate repo + tests dirs to the worker PYTHONPATH before
# any SparkSession starts.
_paths = [str(REPO), str(REPO / "tests")]
os.environ["PYTHONPATH"] = os.pathsep.join(
    _paths + ([os.environ["PYTHONPATH"]] if os.environ.get("PYTHONPATH") else [])
)

# One comparator: the tier-1 oracle tests normalise cells exactly as the
# local driver-gate replica does.
from scripts.gatecheck import _norm  # noqa: E402

SF_DIR = os.environ.get("PROTEUS_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


@pytest.fixture(scope="session")
def spark():
    from proteus_engine_spark.session import get_session

    s = get_session(app_name="proteus-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()


def assert_matches_oracle(spark_df, duck_con, oracle_sql: str, check_schema: bool = True):
    """Driver-comparison replica: sort columns by name, compare row multisets
    with float rounding."""
    scols = sorted(spark_df.columns)
    srows = [tuple(_norm(r[c]) for c in scols) for r in spark_df.collect()]

    duck_res = duck_con.sql(oracle_sql)
    dcols_raw = duck_res.columns
    assert sorted(dcols_raw) == scols, f"column mismatch: spark={scols} duck={sorted(dcols_raw)}"
    order = [dcols_raw.index(c) for c in scols]
    drows = [tuple(_norm(row[i]) for i in order) for row in duck_res.fetchall()]

    assert len(srows) == len(drows), f"row count: spark={len(srows)} duck={len(drows)}"
    assert sorted(srows, key=repr) == sorted(drows, key=repr)


def cep_scan(group_pattern, types):
    """Matches of a compiled group pattern over a typed event sequence:
    event i has type ``types[i]`` (column ``et``), id ``i`` and event time
    ``i`` seconds — the shared helper of the CEP property tests."""
    from proteus_engine_spark.streaming.cep import _scan

    pat, _ = group_pattern.compile()
    rows = [{"et": t, "id": i} for i, t in enumerate(types)]
    matches, _, _ = _scan(rows, [i * 1000 for i in range(len(types))], pat, "id")
    return matches
