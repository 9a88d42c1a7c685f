"""Seeded inputs for the benchmark workloads.

Every function here is pure in its arguments: the same seed and sizes
write byte-identical parquet files (pyarrow writes no timestamps into the
footer, and file mtimes are set to fixed values), and different seeds give
different files of the same shape and size.

Two families of inputs:

- streams: an ``events`` table split into many files, one micro-batch
  each. User keys are Zipf-distributed over the customer key range, event
  types mix so that signup→purchase pairs exist, timestamps rise across
  files and jitter inside a file by less than any watermark delay the
  workloads use, so no row is ever late.
- batch: TPC-H-like tables plus a ``documents`` corpus in the layout the
  engine's ``sources.tables.load_table`` reads (``<dir>/<name>.parquet``).
  Their contents come from a fixed content seed, so every query does the
  same work on every run; ``seed`` only permutes row order and row-group
  boundaries of the staged copies, which leaves query results unchanged.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MTIME_BASE = 1_000_000_000  # fixed epoch for file mtimes (arrival order)
T0_US = 1_704_067_200_000_000  # 2024-01-01 00:00:00 UTC, in microseconds
CONTENT_SEED = 20240101  # batch-table contents; the run seed only reorders

EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
EVENT_TYPE_P = np.array([0.2, 0.2, 0.25, 0.25, 0.1])
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
P_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
WORDS = np.array(
    "a the data table scan filter stream window agg hash join merge batch "
    "spark query key value row column part order line customer group sort "
    "fast slow big small vector index shard cache state watermark event "
    "source sink plan task stage shuffle".split()
)


def seeded_rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def zipf_keys(rng: np.random.Generator, n: int, key_range: int, n_keys: int, s: float = 1.1) -> np.ndarray:
    """``n`` keys drawn Zipf(s) over ``n_keys`` distinct keys, which are a
    seeded sample of ``[0, key_range)`` (the hot keys differ per seed)."""
    keys = rng.choice(key_range, size=n_keys, replace=False)
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = ranks**-s
    return keys[rng.choice(n_keys, size=n, p=p / p.sum())].astype(np.int64)


# ---------------------------------------------------------------------------
# streams


def stage_events(
    out_dir: str,
    seed: int,
    n_files: int,
    rows_per_file: int,
    key_range: int,
    n_keys: int,
    file_span_s: int,
    jitter_s: int,
    stream: int = 1,
) -> int:
    """Write ``n_files`` events files into ``out_dir``; returns the row count.

    File ``i`` holds event times in ``[i, i+1) * file_span_s`` after T0,
    each moved back by up to ``jitter_s`` and written in shuffled order;
    its mtime is ``MTIME_BASE + i`` so the file source reads in order.
    ``stream`` selects an independent draw for the same seed (warm-up
    replays use their own).
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = seeded_rng(seed, stream)
    n = n_files * rows_per_file
    users = zipf_keys(rng, n, key_range, n_keys)
    etypes = EVENT_TYPES[rng.choice(len(EVENT_TYPES), size=n, p=EVENT_TYPE_P)]
    values = _money(rng, 0.0, 200.0, n)
    props = np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}")
    step_us = file_span_s * 1_000_000 / rows_per_file
    nominal = T0_US + ((np.arange(n) + rng.uniform(0, 1, n)) * step_us).astype(np.int64)
    ts = nominal - rng.integers(0, jitter_s * 1_000_000, n)
    for i in range(n_files):
        order = rng.permutation(rows_per_file) + i * rows_per_file
        table = pa.table(
            {
                "event_id": pa.array(order.astype(np.int64)),
                "ts": pa.array(ts[order], type=pa.timestamp("us")),
                "user_id": pa.array(users[order]),
                "event_type": pa.array(etypes[order]),
                "value": pa.array(values[order]),
                "props": pa.array(props[order]),
            }
        )
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (MTIME_BASE + i, MTIME_BASE + i))
    return n


def user_profiles(seed: int, key_range: int, note_chars: int = 160) -> pa.Table:
    """The keyed side table: one row per customer key with a free-text
    ``note``, so the static side is a few MB and its re-read per batch
    shows."""
    rng = seeded_rng(seed, 0)
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789 ", dtype="S1")
    notes = rng.choice(alphabet, size=(key_range, note_chars)).view(f"S{note_chars}").ravel()
    return pa.table(
        {
            "user_id": pa.array(np.arange(key_range, dtype=np.int64)),
            "tier": pa.array(np.array(["gold", "silver", "bronze"])[rng.integers(0, 3, key_range)]),
            "score": pa.array(_money(rng, 0.0, 1.0, key_range)),
            "note": pa.array(notes.astype(str)),
        }
    )


# ---------------------------------------------------------------------------
# batch tables


def customer_table(n: int, rng: np.random.Generator) -> pa.Table:
    keys = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "c_custkey": keys,
            "c_name": np.char.add("Customer#", np.char.zfill(keys.astype(str), 9)),
            "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), n)],
        }
    )


def batch_tables(sf: float) -> dict[str, pa.Table]:
    """TPC-H-like tables at scale factor ``sf`` plus ``documents``, from the
    fixed content seed (schemas as the engine's driver tables)."""
    rng = seeded_rng(CONTENT_SEED, 3)
    n_cust, n_ord, n_part, n_supp = (int(x * sf) for x in (150_000, 1_500_000, 200_000, 10_000))
    day_us = 86_400_000_000
    d0 = 788_918_400_000_000  # 1995-01-01
    n_days = 2404  # through 2001-08-01

    region = pa.table(
        {
            "r_regionkey": np.arange(5, dtype=np.int32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    nk = np.arange(25, dtype=np.int32)
    nation = pa.table(
        {"n_nationkey": nk, "n_name": np.char.add("NATION_", nk.astype(str)), "n_regionkey": nk % 5}
    )
    supp_keys = np.arange(n_supp, dtype=np.int64)
    supplier = pa.table(
        {
            "s_suppkey": supp_keys,
            "s_name": np.char.add("Supplier#", np.char.zfill(supp_keys.astype(str), 9)),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    part_keys = np.arange(n_part, dtype=np.int64)
    retail = np.round(900.0 + (part_keys % 20_000) / 10.0, 2)
    adjectives = np.array(["large", "hot", "blue", "green", "small", "bright"])
    nouns = np.array(["ring", "bolt", "screw", "gear", "spring", "nut"])
    part = pa.table(
        {
            "p_partkey": part_keys,
            "p_name": np.char.add(
                np.char.add(adjectives[rng.integers(0, 6, n_part)], " "), nouns[rng.integers(0, 6, n_part)]
            ),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": P_TYPES[rng.integers(0, len(P_TYPES), n_part)],
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": retail,
        }
    )
    customer = customer_table(n_cust, rng)

    order_keys = np.arange(n_ord, dtype=np.int64)
    order_day = rng.integers(0, n_days, n_ord)
    n_lines = rng.integers(1, 8, n_ord)
    li_order = np.repeat(order_keys, n_lines)
    n_li = len(li_order)
    li_number = (np.arange(n_li) - np.repeat(np.cumsum(n_lines) - n_lines, n_lines) + 1).astype(np.int32)
    li_part = rng.integers(0, n_part, n_li).astype(np.int64)
    li_qty = rng.integers(1, 51, n_li).astype(np.float64)
    li_price = np.round(li_qty * retail[li_part], 2)
    li_disc = np.round(rng.integers(0, 11, n_li) / 100.0, 2)
    li_tax = np.round(rng.integers(0, 9, n_li) / 100.0, 2)
    ship_day = order_day[li_order] + rng.integers(1, 122, n_li)
    total = np.bincount(li_order, weights=li_price * (1 - li_disc) * (1 + li_tax), minlength=n_ord)
    orders = pa.table(
        {
            "o_orderkey": order_keys,
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": np.round(total, 2),
            "o_orderdate": pa.array(d0 + order_day * day_us, type=pa.timestamp("us")),
            "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), n_ord)],
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": li_order,
            "l_partkey": li_part,
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": li_number,
            "l_quantity": li_qty,
            "l_extendedprice": li_price,
            "l_discount": li_disc,
            "l_tax": li_tax,
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(d0 + ship_day * day_us, type=pa.timestamp("us")),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "supplier": supplier,
        "part": part,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
        "documents": documents_table(int(50_000 * sf), rng),
    }


def documents_table(n: int, rng: np.random.Generator, dup_share: float = 0.06) -> pa.Table:
    """Random word sequences over a small vocabulary, with ``dup_share`` of
    the documents copied from an earlier one with at most one word changed.

    Every document has at least 60 words, so a one-word edit keeps the
    3-shingle Jaccard of a pair at ≥ 0.9, where 16×4 MinHash-LSH misses a
    pair with probability < 1e-6; random pairs share almost no shingles.
    Only pairs far above or far below ``dedup_minhash_lsh``'s 0.5 cut
    exist, so the LSH candidate stage finds every pair the exact oracle
    does."""
    lengths = rng.integers(60, 90, n)
    texts = [" ".join(WORDS[rng.integers(0, len(WORDS), m)]) for m in lengths]
    for i in np.flatnonzero(rng.uniform(0, 1, n) < dup_share):
        if i == 0:
            continue
        words = texts[int(rng.integers(0, i))].split(" ")
        if rng.uniform() < 0.5:
            words[int(rng.integers(0, len(words)))] = str(WORDS[rng.integers(0, len(WORDS))])
        texts[i] = " ".join(words)
    langs = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs[rng.integers(0, len(langs), n)],
            "source": np.char.add("src", rng.integers(0, 20, n).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def stage_tables(out_dir: str, seed: int, tables: dict[str, pa.Table], row_groups: int = 4) -> None:
    """Write a seeded reorder of each table as ``<out_dir>/<name>.parquet``:
    rows permuted, ``row_groups`` row groups with boundaries moved by up to
    a tenth of a group."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, table) in enumerate(sorted(tables.items())):
        rng = seeded_rng(seed, 100 + i)
        n = table.num_rows
        shuffled = table.take(pa.array(rng.permutation(n)))
        size = max(1, -(-n // row_groups))
        cuts = [0]
        for g in range(1, row_groups):
            jitter = int(rng.integers(-(size // 10), size // 10 + 1))
            cuts.append(min(n, max(cuts[-1], g * size + jitter)))
        cuts.append(n)
        path = os.path.join(out_dir, f"{name}.parquet")
        with pq.ParquetWriter(path, shuffled.schema) as writer:
            for lo, hi in zip(cuts, cuts[1:]):
                if hi > lo:
                    writer.write_table(shuffled.slice(lo, hi - lo))
        os.utime(path, (MTIME_BASE, MTIME_BASE))
