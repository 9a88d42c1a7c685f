#!/usr/bin/env python
"""Interleaved A/B: streaming stateful gates vs spark.sql.shuffle.partitions
(= state-store partition count at stream start).

Motivation (r18, VERDICT item 1): every stateful operator plans
spark.sql.shuffle.partitions state-store instances PER OPERATOR PER
MICRO-BATCH; at sf0.1 the keyed state is tiny (15k events / 1.5k keys) so
the per-partition fixed costs (store init + delta-file commit + one Arrow
runner round-trip per partition for the Python-stateful gates) dominate.
The driver's own 8-core run (BENCH_r17_c8) ran stream_session_windows_chained
3x faster with 8 partitions — this script resolves the partition-count curve
in ONE session, interleaved, so co-tenant drift hits every leg equally.

Each leg sets the session value, which is the state-store instance count
of every stateful operator the leg's streams start. Every run's progress
events are kept: per (query, parts) the output also holds the state-store
instance count and the state commit time summed over batches and
operators, in total and per instance and batch.

Usage: python scripts/ab_stream_parts.py [rounds] [parts,parts,...]
Prints one JSON object: the cpu calibration probe per round, and per
(query, parts) all wall samples + median and the state commit figures.
"""
from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import proteus_engine_spark.streaming.sources as sources  # noqa: E402
from proteus_engine_spark.queries.registry import REGISTRY  # noqa: E402
from proteus_engine_spark.session import DEFAULT_SF_DIR, get_session  # noqa: E402

QUERIES = [
    "stream_session_windows_chained",
    "stream_delta_trigger_fires",
    "stream_tumble_agg",
    "stream_dedup_media_phash",
]
PARTS = [32, 16, 8, 4, 2]


def _recording(progress: list):
    """Wrap the runner so every run's progress events land in ``progress``."""
    observed = sources.run_to_completion_observed

    def run(df, query_name, output_mode="append"):
        table, events = observed(df, query_name, output_mode)
        progress.extend(json.loads(e.json) for e in events)
        return table, events

    return run


def _state_commit(progress: list) -> dict:
    ops = [so for p in progress for so in p.get("stateOperators", [])]
    commit = sum(so.get("commitTimeMs", 0) for so in ops)
    instance_batches = sum(so.get("numStateStoreInstances", 0) for so in ops)
    return {
        "instances": max((so.get("numStateStoreInstances", 0) for so in ops), default=0),
        "commit_ms": commit,
        "commit_ms_per_instance_batch": round(commit / instance_batches, 3) if instance_batches else None,
    }


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    parts = [int(c) for c in sys.argv[2].split(",")] if len(sys.argv) > 2 else PARTS
    progress: list = []
    sources.run_to_completion_observed = _recording(progress)
    spark = get_session(app_name="ab_stream_parts")
    base = spark.conf.get("spark.sql.shuffle.partitions")
    samples: dict[tuple[str, int], list[float]] = {}
    commits: dict[tuple[str, int], list[dict]] = {}
    probes: list[float] = []
    for r in range(rounds + 1):  # round 0 = warm-up, discarded
        t0 = time.perf_counter()
        spark.range(200_000_000).selectExpr("sum(id)").collect()
        probes.append(round(time.perf_counter() - t0, 4))
        for name in QUERIES:
            fn = REGISTRY[name].fn
            for p in parts:
                spark.conf.set("spark.sql.shuffle.partitions", str(p))
                progress.clear()
                try:
                    t0 = time.perf_counter()
                    fn(spark, DEFAULT_SF_DIR).count()
                    dt = time.perf_counter() - t0
                finally:
                    spark.conf.set("spark.sql.shuffle.partitions", base)
                if r > 0:
                    samples.setdefault((name, p), []).append(round(dt, 4))
                    commits.setdefault((name, p), []).append(_state_commit(progress))
    out = {
        "probes_cpu": probes,
        "results": [
            {
                "query": q,
                "parts": p,
                "median": round(statistics.median(v), 4),
                "samples": v,
                "state": commits[(q, p)],
            }
            for (q, p), v in sorted(samples.items())
        ],
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
