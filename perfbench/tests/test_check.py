"""A wrong output is counted as a failed operation; DuckDB oracles agree
with the rows a correct engine would emit."""

from __future__ import annotations

from decimal import Decimal

import pytest

from perfbench import check, gen
from perfbench.workloads import BatchMix, StreamWorkload


class _FakeStream(StreamWorkload):
    """A stream workload whose outputs are set by the test, not by Spark."""

    name = "fake"

    def __init__(self, expected_rows):
        super().__init__(ctx=None)
        self._rows = expected_rows

    def queries(self, warm):
        return [("q", None, None, None)]

    def expected(self, label):
        return self._rows


ROWS = [(1, "signup", 2.5, Decimal("10.25")), (2, "purchase", 3.0, Decimal("7.00"))]


def test_correct_output_passes():
    wl = _FakeStream(ROWS)
    wl.kept = {0: {"q": list(reversed(ROWS))}}
    wl.verify()
    assert (wl.outcome.attempted, wl.outcome.failed) == (1, 0)


@pytest.mark.parametrize(
    "corrupt",
    [
        lambda rows: rows[:1],  # a lost row
        lambda rows: rows + rows[:1],  # a duplicated row
        lambda rows: [rows[0], (2, "purchase", 3.0, Decimal("7.01"))],  # a wrong value
        lambda rows: [rows[0], (2.0, "purchase", 3.0, Decimal("7.00"))],  # a wrong type
        lambda rows: None,  # an output that could not be read
    ],
)
def test_corrupted_output_counts_as_failed(corrupt):
    wl = _FakeStream(ROWS)
    wl.kept = {0: {"q": list(ROWS)}, 1: {"q": corrupt(list(ROWS))}}
    wl.verify()
    assert (wl.outcome.attempted, wl.outcome.failed) == (2, 1)


def test_missing_query_output_counts_as_failed():
    wl = _FakeStream(ROWS)
    wl.kept = {0: {}}
    wl.verify()
    assert wl.outcome.failed == 1


@pytest.mark.parametrize(
    "count, rows, failed",
    [
        (2, list(reversed(ROWS)), 0),
        (2, [ROWS[0], (2, "purchase", 3.0, Decimal("7.01"))], 1),  # right count, a wrong value
        (3, ROWS, 1),  # a count that disagrees with the rows
        (None, None, 1),  # a query that raised
    ],
)
def test_batch_round_rows_are_checked(tmp_path, monkeypatch, count, rows, failed):
    monkeypatch.setattr(check, "registry_expected", lambda name, tables: ROWS)
    wl = BatchMix(ctx=None)
    wl.dir = str(tmp_path)
    wl.kept = [("q3_shipping_priority", 2, list(ROWS)), ("q3_shipping_priority", count, rows)]
    wl.verify()
    assert (wl.outcome.attempted, wl.outcome.failed) == (2, failed)


def test_tumble_oracle_emits_only_closed_windows(tmp_path):
    d = str(tmp_path / "ev")
    gen.stage_events(d, 1, n_files=3, rows_per_file=100, key_range=100, n_keys=10, file_span_s=3600, jitter_s=60)
    rows = check.tumble_expected(d, 3_600_000_000, 3_600_000)
    ends = {r[4] for r in rows}
    # three hours of events with a one-hour delay: nothing after the first
    # hour closes (jitter puts a few events in the hour before T0)
    assert max(ends) == gen.T0_US + 3_600_000_000
    assert sum(r[1] for r in rows) > 0


def test_enrichment_oracle_keeps_every_event(tmp_path):
    import pyarrow.parquet as pq

    events, side = str(tmp_path / "ev"), tmp_path / "side"
    side.mkdir()
    gen.stage_events(events, 1, n_files=2, rows_per_file=50, key_range=100, n_keys=20, file_span_s=600, jitter_s=60)
    pq.write_table(gen.customer_table(100, gen.seeded_rng(0, 0)), side / "customer.parquet")
    pq.write_table(gen.user_profiles(1, 100), side / "profile.parquet")
    rows = check.enrich_expected(events, str(side))
    assert len(rows) == 100
    assert all(r[2] == r[6] and r[11] is not None for r in rows)  # user_id = c_custkey, profile found

