"""The generator is a pure function of the seed: the same seed writes
byte-identical files with identical mtimes, another seed different ones."""

from __future__ import annotations

import os

from perfbench import gen


def _snapshot(root: str) -> dict[str, tuple[bytes, int]]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = (f.read(), int(os.stat(path).st_mtime))
    return out


def _stage(root: str, seed: int) -> dict[str, tuple[bytes, int]]:
    gen.stage_events(os.path.join(root, "events"), seed, n_files=3, rows_per_file=50, key_range=1000,
                     n_keys=100, file_span_s=3600, jitter_s=60)
    gen.stage_tables(os.path.join(root, "tables"), seed, gen.batch_tables(0.001))
    gen.user_profiles(seed, 1000)
    return _snapshot(root)


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _stage(str(tmp_path / "a"), 7)
    b = _stage(str(tmp_path / "b"), 7)
    assert a == b
    assert len(a) == 3 + 8


def test_different_seeds_give_different_inputs(tmp_path):
    a = _stage(str(tmp_path / "a"), 7)
    b = _stage(str(tmp_path / "b"), 8)
    assert a.keys() == b.keys()
    assert all(a[k][0] != b[k][0] for k in a if k.startswith("events") or k.endswith(("lineitem.parquet", "documents.parquet")))
    assert gen.user_profiles(7, 1000) != gen.user_profiles(8, 1000)


def test_reordered_tables_keep_their_contents(tmp_path):
    import pyarrow.parquet as pq

    tables = gen.batch_tables(0.001)
    for seed in (1, 2):
        gen.stage_tables(str(tmp_path / str(seed)), seed, tables)
    for name, table in tables.items():
        a = pq.read_table(tmp_path / "1" / f"{name}.parquet")
        b = pq.read_table(tmp_path / "2" / f"{name}.parquet")
        keys = [(c, "ascending") for c in table.column_names]
        assert a.sort_by(keys).equals(table.sort_by(keys))
        assert b.sort_by(keys).equals(table.sort_by(keys))


def test_events_never_arrive_late(tmp_path):
    """Event times rise across files by more than the in-file jitter, so a
    watermark delay above the jitter drops nothing."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    d = str(tmp_path / "events")
    gen.stage_events(d, 3, n_files=4, rows_per_file=200, key_range=1000, n_keys=50, file_span_s=1800, jitter_s=600)
    prev_max = None
    for i in range(4):
        ts = pq.read_table(os.path.join(d, f"part-{i:05d}.parquet")).column("ts").cast("int64")
        lo, hi = pc.min(ts).as_py(), pc.max(ts).as_py()
        if prev_max is not None:
            assert lo > prev_max - 600 * 1_000_000
        prev_max = max(prev_max or hi, hi)
