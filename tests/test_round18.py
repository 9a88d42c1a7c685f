"""Round-18 optimization tests: streaming state partitions follow the
session, pagerank loop restructure, NB score label carry, BM25
postings pin — each optimization's internals pinned by a focused test
(results themselves stay covered by the oracle gates)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


class TestStreamStatePartitions:
    def test_stream_plans_session_partitions(self, spark, tmp_path):
        """A keyed count over a few-KB parquet source plans one state-store
        instance per session shuffle partition, and the session conf is
        unchanged afterwards."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from proteus_engine_spark.streaming.sources import (
            parquet_stream,
            run_to_completion_observed,
        )

        cap = spark.conf.get("spark.sql.shuffle.partitions")
        assert cap == "8"  # the tier-1 session (tests/conftest.py)
        src = tmp_path / "src"
        src.mkdir()
        pq.write_table(
            pa.table({"k": [i % 50 for i in range(500)], "v": [i * 0.5 for i in range(500)]}),
            src / "part-00000.parquet",
        )
        df = parquet_stream(spark, str(src), "*.parquet").groupBy("k").count()
        out, progress = run_to_completion_observed(df, "r18_sp_probe", "update")
        instances = {
            p.stateOperators[0].numStateStoreInstances for p in progress if p.stateOperators
        }
        assert instances == {8}
        assert spark.conf.get("spark.sql.shuffle.partitions") == cap
        assert out.count() == 50


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
