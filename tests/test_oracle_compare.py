"""The oracle comparator shared by the tier-1 tests and the local gate
replica (``scripts/gatecheck.py``)."""

from __future__ import annotations

import datetime as dt

import scripts.gatecheck as gatecheck
from tests import conftest
from tests.conftest import assert_matches_oracle


def test_tests_and_gate_share_one_normaliser():
    assert conftest._norm is gatecheck._norm


def test_date_timestamp_binary_match_duckdb(spark, duck):
    """DATE, TIMESTAMP and BINARY cells (plus their NULLs) from Spark and
    DuckDB compare equal: dates and timestamps by ISO text, binaries by
    their bytes (Spark yields ``bytearray``, DuckDB ``bytes``)."""
    df = spark.sql(
        "SELECT * FROM VALUES "
        "(1, DATE'2024-02-29', TIMESTAMP'2024-02-29 23:59:58.123456', X'00FF10'), "
        "(2, DATE'1999-12-31', TIMESTAMP'2000-01-01 00:00:00', X''), "
        "(3, NULL, NULL, NULL) AS t(k, d, ts, b)"
    )
    oracle = (
        "SELECT * FROM (VALUES "
        "(1, DATE '2024-02-29', TIMESTAMP '2024-02-29 23:59:58.123456', '\\x00\\xFF\\x10'::BLOB), "
        "(2, DATE '1999-12-31', TIMESTAMP '2000-01-01 00:00:00', ''::BLOB), "
        "(3, NULL, NULL, NULL)) AS t(k, d, ts, b)"
    )
    assert_matches_oracle(df, duck, oracle)
    row = df.where("k = 1").collect()[0]
    assert [conftest._norm(row[c]) for c in ("d", "ts", "b")] == [
        dt.date(2024, 2, 29).isoformat(),
        dt.datetime(2024, 2, 29, 23, 59, 58, 123456).isoformat(),
        b"\x00\xff\x10",
    ]
