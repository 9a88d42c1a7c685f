"""Round-18 optimization tests: scale-adaptive streaming state
partitions, pagerank loop restructure, NB score label carry, BM25
postings pin — each optimization's internals pinned by a focused test
(results themselves stay covered by the oracle gates)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _write_parts(directory, n_files: int, rows: int, seed: int) -> int:
    """``n_files`` parquet part files of (k, v) rows under ``directory``,
    plus a ``_SUCCESS`` marker; v is random doubles, so the bytes scale
    with ``rows``. Returns the bytes of the part files."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(directory, exist_ok=True)
    rng = np.random.default_rng(seed)
    for i in range(n_files):
        pq.write_table(
            pa.table({"k": rng.integers(0, 50, rows), "v": rng.random(rows)}),
            os.path.join(directory, f"part-{i:05d}.parquet"),
        )
    open(os.path.join(directory, "_SUCCESS"), "w").close()
    return sum(
        os.path.getsize(os.path.join(directory, f))
        for f in os.listdir(directory)
        if f.startswith("part-")
    )


def _clamp(n_bytes: int, cap: int) -> int:
    return max(min(cap, -(-n_bytes // (256 * 1024))), min(4, cap))


def _keyed_count(spark, directory):
    from proteus_engine_spark.streaming.sources import parquet_stream

    return parquet_stream(spark, str(directory), "*.parquet").groupBy("k").count()


def _instances(progress) -> set[int]:
    return {
        p.stateOperators[0].numStateStoreInstances
        for p in progress
        if p.stateOperators
    }


class TestStatePartitionsFor:
    def test_small_source_hits_floor(self, spark):
        from proteus_engine_spark.streaming.sources import (
            _state_partitions,
            events_stream,
        )

        # sf0.001 events.parquet is a few KB -> floor (4), never below
        assert _state_partitions(events_stream(spark, SF_DIR)) == 4

    def test_never_exceeds_session_cap(self, spark, monkeypatch):
        from proteus_engine_spark.streaming import sources

        monkeypatch.setattr(sources, "_BYTES_PER_PARTITION", 1)
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # huge byte-derived count clamps to the session value
        assert sources._state_partitions(sources.events_stream(spark, SF_DIR)) == cap

    def test_unknown_source_keeps_default(self, spark):
        from proteus_engine_spark.streaming.sources import _state_partitions, rate_stream

        assert _state_partitions(rate_stream(spark)) is None

    def test_stream_plans_with_derived_partitions(self, spark, tmp_path):
        """The count derived from the stream's own files (recursive byte
        sum, markers skipped) reaches the stateful operator, and the
        session conf is unchanged afterwards."""
        from proteus_engine_spark.streaming.sources import run_to_completion_observed

        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        n_bytes = _write_parts(tmp_path / "src", n_files=5, rows=28_000, seed=1)
        want = _clamp(n_bytes, cap)
        assert 4 < want < cap, (n_bytes, want)  # distinguishable from floor and cap
        out, progress = run_to_completion_observed(
            _keyed_count(spark, tmp_path / "src"), "r18_sp_probe", "update"
        )
        assert _instances(progress) == {want}
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(cap)
        assert out.count() > 0

    def test_concurrent_starts_keep_their_own_counts(self, spark, tmp_path):
        """Streams started at the same moment from more threads than
        cores, whose derived counts differ (floor vs cap), each plan with
        their own count; the session value is restored."""
        import sys
        import threading

        from proteus_engine_spark.streaming.sources import run_to_completion_observed

        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        small = _write_parts(tmp_path / "small", n_files=2, rows=1_000, seed=2)
        big = _write_parts(tmp_path / "big", n_files=5, rows=60_000, seed=3)
        want = {"small": _clamp(small, cap), "big": _clamp(big, cap)}
        assert want == {"small": 4, "big": cap}, (small, big)
        labels = ["small", "big"] * 3
        barrier = threading.Barrier(len(labels))
        got, errors = {}, []

        def run(i, label):
            try:
                df = _keyed_count(spark, tmp_path / label)
                barrier.wait(timeout=60)
                _, progress = run_to_completion_observed(df, f"r18_race_{i}", "update")
                got[i] = _instances(progress)
            except Exception as e:  # noqa: BLE001 - reported by the assert below
                errors.append(e)

        interval = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=run, args=a) for a in enumerate(labels)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=300)
        finally:
            sys.setswitchinterval(interval)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors
        assert got == {i: {want[label]} for i, label in enumerate(labels)}
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(cap)


class TestPagerankRestructure:
    def test_matches_manual_three_iterations(self, spark):
        from proteus_engine_spark.graph import page_rank

        edges = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (4, 1)], "src long, dst long"
        )
        got = {
            r.vertex: r.score
            for r in page_rank(edges, damping=0.85, iterations=2).collect()
        }
        # manual reference: v={1,2,3,4}, od={1:2,2:1,4:1}; sinks: 3
        n = 4.0
        s = {v: 1 / n for v in (1, 2, 3, 4)}
        for _ in range(2):
            ns = s[1] + s[2] + s[4]
            contrib = {1: s[4] / 1, 2: s[1] / 2, 3: s[1] / 2 + s[2] / 1}
            base = (0.15 + 0.85 * (1 - ns)) / n
            s = {v: base + 0.85 * contrib.get(v, 0.0) for v in (1, 2, 3, 4)}
        assert set(got) == set(s)
        for v in s:
            assert abs(got[v] - s[v]) < 1e-12, (v, got[v], s[v])


class TestNbScoreCarry:
    def test_carry_cols_constant_per_doc(self, spark):
        from proteus_engine_spark.datapipe.classify import nb_scores, nb_token_model

        df = spark.createDataFrame(
            [(1, "a", "x y"), (2, "b", "y z"), (3, "a", "x z")],
            "doc_id long, source string, text string",
        )
        pri, lik = nb_token_model(df, class_col="source")
        out = nb_scores(
            df.withColumn("__true__", F.col("source")),
            pri, lik, carry_cols=("__true__",),
        ).collect()
        truth = {1: "a", 2: "b", 3: "a"}
        assert len(out) == 6  # 3 docs x 2 classes
        for r in out:
            assert r["__true__"] == truth[r.doc_id]


class TestBm25PostingsPin:
    def test_pinned_equals_lazy(self, spark):
        from proteus_engine_spark.datapipe.textstats import bm25_topk

        docs = spark.createDataFrame(
            [(i, f"alpha beta w{i} gamma" if i % 2 else f"delta w{i}") for i in range(20)],
            "doc_id long, text string",
        )
        a = sorted(
            map(tuple, bm25_topk(docs, queries=["alpha gamma"], k=5).collect())
        )
        b = sorted(
            map(tuple, bm25_topk(docs, queries=["alpha gamma"], k=5, pin_postings=True).collect())
        )
        assert a == b and len(a) > 0


class TestNullGroupGuard:
    """A NULL group value fails the in-plan coverage guard with a message
    that names it (a NULL cast inside concat would null the message)."""

    def _df(self, spark):
        return spark.createDataFrame(
            [(1, "a", "x y"), (2, None, "x y z")], "doc_id long, g string, text string"
        )

    def test_interleave_names_null_group(self, spark):
        from proteus_engine_spark.datapipe.sampling import interleave_by_weight

        with pytest.raises(Exception, match=r"groups without a weight: \['NULL'\]"):
            interleave_by_weight(self._df(spark), "g", {"a": 1.0}).collect()

    def test_token_budget_names_null_group(self, spark):
        from proteus_engine_spark.datapipe.sampling import sample_to_token_budget

        sz = F.size(F.split("text", r"\s+"))
        with pytest.raises(Exception, match=r"groups without a budget: \['NULL'\]"):
            sample_to_token_budget(self._df(spark), "g", {"a": 5}, size_col=sz).collect()


class TestReadSchemaAudit:
    def _parse(self, plan):
        import importlib.util
        from pathlib import Path

        path = Path(__file__).resolve().parent.parent / "scripts" / "readschema_audit.py"
        spec = importlib.util.spec_from_file_location("readschema_audit", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod.parse_scans(plan)

    def test_truncated_line_is_an_audit_error(self):
        plan = (
            "== Physical Plan ==\n"
            "* Project (2)\n"
            "+- Scan parquet  (1)\n\n\n"
            "(1) Scan parquet \n"
            "Output [3]: [doc_id#1L, text#2, lang#3]\n"
            "Batched: true\n"
            "Location: InMemoryFileIndex [file:/data/sf0.01/documents.parquet]\n"
            "ReadSchema: struct<doc_id:bigint,text:string,... 3 more fields>\n\n"
            "(2) Scan parquet \n"
            "Location: InMemoryFileIndex [file:/data/sf0.01/events.parquet]\n"
            "ReadSchema: struct<event_id:bigint,ts:timestamp>, PushedFilters: []\n\n"
            "(3) Scan parquet \n"
            "Location: InMemoryFileIndex [file:/data/sf0.01/embeddings.parquet]\n"
            "ReadSchema: struct<doc_id:bigint,embedding:array<float>>\n"
        )
        scans, unparsed = self._parse(plan)
        assert scans == [
            {"table": "embeddings", "cols": ["doc_id", "embedding"], "wide": ["embedding"]}
        ]
        assert unparsed == [
            "ReadSchema: struct<doc_id:bigint,text:string,... 3 more fields>",
            "ReadSchema: struct<event_id:bigint,ts:timestamp>, PushedFilters: []",
        ]
