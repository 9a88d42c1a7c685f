"""Round-10 tests: relaxed batch-return UDF contract (1-d batches only),
benchmark decontamination, mixture weights and per-row-rate sampling,
percentile summaries, TF-IDF top terms, the cheapened strict
connected-components convergence, delta-iteration signalling, the
insort ordering of late-admitted rows in triggered windows, the
per-partition late splitter frontier (incl. a randomized prior-batch
frontier sweep and explicit allowed-lateness composition), multimodal
stub edges with cross-engine empty-document oracle agreement,
plan-shape regressions for the new operators, and the exchange-free
bucketed co-located join proof."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from proteus_engine_spark.streaming.sources import run_to_completion

from tests.test_round9 import _ev_m, _n_batch_stream
from tests.test_streaming import EV_SCHEMA


# ---------------- vectorized UDF batch-return contract ----------------


def test_udf_ndarray_return_accepted(spark):
    """The Arrow worker only needs __len__ — an np.ndarray return is a
    valid batch and must not be rejected (r9 ADVICE)."""
    from proteus_engine_spark.functions.udf import ScalarFunction

    class PlusOne(ScalarFunction):
        return_type = "long"

        def eval(self, x):
            return x.to_numpy() + 1  # ndarray, not Series

    df = spark.createDataFrame([(1,), (2,)], "v long")
    rows = df.select(PlusOne().to_udf()(F.col("v")).alias("o")).collect()
    assert sorted(r["o"] for r in rows) == [2, 3]


def test_udf_list_return_accepted(spark):
    from proteus_engine_spark.functions.udf import ScalarFunction

    class Doubler(ScalarFunction):
        return_type = "long"

        def eval(self, x):
            return [v * 2 for v in x]  # plain list

    df = spark.createDataFrame([(3,), (4,)], "v long")
    rows = df.select(Doubler().to_udf()(F.col("v")).alias("o")).collect()
    assert sorted(r["o"] for r in rows) == [6, 8]


def test_udf_scalar_string_still_rejected():
    """str has __len__ but is the classic silent-broadcast bug — still a
    hard probe error."""
    from proteus_engine_spark.functions.udf import ScalarFunction

    class Bad(ScalarFunction):
        return_type = "string"

        def eval(self, x):
            return "constant"

    with pytest.raises(TypeError, match="not a batch"):
        Bad().to_udf()


# ---------------- benchmark decontamination ----------------


def _docs(spark):
    rows = [
        (0, "alpha beta gamma delta"),          # eval doc
        (1, "alpha beta gamma epsilon zeta"),   # shares 3-gram "alpha beta gamma"
        (2, "zeta eta theta iota"),             # no shared 3-gram
        (3, "x alpha beta gamma delta y"),      # shares 2 distinct 3-grams
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_overlap_counts(spark):
    from proteus_engine_spark.datapipe.decontam import ngram_overlap_counts

    docs = _docs(spark)
    out = ngram_overlap_counts(
        docs.filter("doc_id > 0"), docs.filter("doc_id = 0"), n=3
    ).collect()
    got = {r["doc_id"]: r["n_shared_grams"] for r in out}
    # doc1 shares {"alpha beta gamma"}; doc3 shares {"alpha beta gamma",
    # "beta gamma delta"}; doc2 is absent (clean)
    assert got == {1: 1, 3: 2}


def test_decontaminate_removes_flagged(spark):
    from proteus_engine_spark.datapipe.decontam import decontaminate

    docs = _docs(spark)
    kept = decontaminate(
        docs.filter("doc_id > 0"), docs.filter("doc_id = 0"), n=3
    )
    assert [r["doc_id"] for r in kept.collect()] == [2]
    # higher bar: doc1 (1 shared gram) survives min_shared_grams=2
    kept2 = decontaminate(
        docs.filter("doc_id > 0"), docs.filter("doc_id = 0"), n=3,
        min_shared_grams=2,
    )
    assert sorted(r["doc_id"] for r in kept2.collect()) == [1, 2]


# ---------------- mixture weights ----------------


def test_mixture_weights_properties(spark):
    from proteus_engine_spark.datapipe.sampling import mixture_weights

    rows = [("a", 10), ("a", 30), ("b", 20), ("c", 40)]
    df = spark.createDataFrame(rows, "src string, n long")
    out = mixture_weights(df, ["src"], size_col="n").collect()
    by = {r["src"]: r for r in out}
    assert by["a"]["n_docs"] == 2 and by["a"]["total_size"] == 40
    assert sum(r["share"] for r in out) == pytest.approx(1.0)
    # weight * share == 1/n_strata for every stratum (uniform target)
    for r in out:
        assert r["weight"] * r["share"] == pytest.approx(1 / 3)
    # rows-as-size default
    out2 = {r["src"]: r for r in mixture_weights(df, ["src"]).collect()}
    assert out2["a"]["total_size"] == 2 and out2["a"]["share"] == pytest.approx(0.5)


# ---------------- percentile summary ----------------


def test_percentile_summary_exact_matches_numpy(spark):
    from proteus_engine_spark.datapipe.textstats import percentile_summary

    vals = [3, 1, 4, 1, 5, 9, 2, 6]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v long")
    out = percentile_summary(df, "v", ["g"], pcts=(0.25, 0.5, 0.9))
    got = {r["pct"]: r["value"] for r in out.collect()}
    for p in (0.25, 0.5, 0.9):
        # Spark `percentile` == numpy linear == DuckDB quantile_cont
        assert got[p] == pytest.approx(float(np.percentile(vals, p * 100)))


def test_percentile_summary_approx_close(spark):
    from proteus_engine_spark.datapipe.textstats import percentile_summary

    df = spark.range(0, 1000).select(
        F.lit("g").alias("g"), F.col("id").alias("v")
    )
    out = percentile_summary(df, "v", ["g"], pcts=(0.5,), mode="approx")
    [row] = out.collect()
    assert row["value"] == pytest.approx(499.5, abs=2.0)


def test_percentile_summary_rejects_unknown_mode(spark):
    from proteus_engine_spark.datapipe.textstats import percentile_summary

    df = spark.createDataFrame([("g", 1)], "g string, v long")
    with pytest.raises(ValueError, match="unknown mode"):
        percentile_summary(df, "v", ["g"], mode="bogus")


# ---------------- connected components ----------------


def test_connected_components_chain_and_schema(spark):
    from proteus_engine_spark.operators.iterations import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "src long, dst long"
    )
    out = connected_components(edges, max_iterations=10)
    assert out.columns == ["vertex", "component"]  # changed flag dropped
    comp = {r["vertex"]: r["component"] for r in out.collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_still_strict(spark):
    """The cheapened probe must keep the r9 guarantee: an unconverged
    run raises, it does not silently split clusters."""
    from proteus_engine_spark.operators.iterations import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="max_iterations"):
        connected_components(chain, max_iterations=2).collect()


# ---------------- insort of late-admitted rows ----------------


class _FakeGroupState:
    """Minimal GroupState stand-in for driving a captured transition."""

    hasTimedOut = False

    def __init__(self):
        self._val = None
        self.wm = 0

    @property
    def exists(self):
        return self._val is not None

    @property
    def get(self):
        return self._val

    def getCurrentWatermarkMs(self):
        return self.wm

    def update(self, v):
        self._val = v

    def setTimeoutTimestamp(self, ts):
        pass

    def remove(self):
        self._val = None


def test_late_admitted_row_insorts_into_window_buffer(spark, monkeypatch):
    """A late-but-admitted row (window still open at the frontier) must
    land at its (ts, id) position in the window buffer so later fires'
    contents and evictor fronts are event-time-ordered, not
    arrival-ordered (r9 ADVICE). The end-to-end engine cannot reach this
    state (Spark's upstream late filter lags the release threshold by
    exactly one batch, so admitted rows always sort after released
    ones); the insort is defense-in-depth against that lag changing —
    so this drives the captured transition directly with an
    out-of-order admission."""
    import pandas as pd

    from pyspark.sql.group import GroupedData
    from proteus_engine_spark.streaming.triggers import (
        CountEvictor,
        CountTrigger,
        triggered_window_agg,
    )

    captured = {}

    def capture(self, func, *a, **k):
        captured["fn"] = func
        return None

    monkeypatch.setattr(GroupedData, "applyInPandasWithState", capture)
    static = spark.createDataFrame([_ev_m(0, 0, 1, "x", 0.0)], EV_SCHEMA)
    triggered_window_agg(
        static, "user_id", "ts", "value",
        trigger=CountTrigger(3),
        evictor=CountEvictor(4),
        window_ms=3_600_000,
        watermark_delay="0 seconds",
    )
    fn = captured["fn"]

    state = _FakeGroupState()
    M = 60_000

    def run_batch(rows, wm_ms):
        state.wm = wm_ms
        pdf = pd.DataFrame(
            {
                "event_id": [i for i, _m, _v in rows],
                "ts": pd.to_datetime([m * M for _i, m, _v in rows], unit="ms"),
                "user_id": [1] * len(rows),
                "event_type": ["x"] * len(rows),
                "value": [v for _i, _m, v in rows],
            }
        )
        fires = []
        for out in fn((1,), [pdf], state):
            fires += list(out.itertuples(index=False))
        return fires

    # batch1: three on-time rows buffered (wm 0 releases nothing)
    assert run_batch([(1, 10, 1.0), (2, 20, 2.0), (3, 25, 4.0)], 0) == []
    # batch2: wm 30m releases all three -> CountTrigger(3) fire #1
    f1 = run_batch([], 30 * M)
    assert len(f1) == 1 and f1[0].n == 3 and f1[0].total_value == 7.0
    # batch3: 15m is BELOW the 30m frontier but its window [0, 60m) is
    # still open -> admitted AND released this batch, after rows of
    # larger ts already sit in the window buffer; 40m/50m stay buffered
    assert run_batch([(4, 15, 8.0), (5, 40, 16.0), (6, 50, 32.0)], 30 * M) == []
    # batch4: wm 70m releases 40m, 50m -> fire #2. With insort the
    # buffer is [10,15,20,25,40,50] and CountEvictor(4) keeps
    # {20,25,40,50} = 54.0; an append buffer [10,20,25,15,40,50] would
    # keep {25,15,40,50} = 60.0.
    f2 = run_batch([], 70 * M)
    assert len(f2) == 1 and f2[0].n == 4
    assert f2[0].total_value == pytest.approx(54.0)


# ---------------- per-partition late splitter frontier ----------------


def test_late_data_split_partitioned_frontiers(spark):
    """With partition_col, each partition key owns an independent
    frontier: the same ts can be late in one partition and on time in
    another (the reference's per-partition watermark)."""
    from proteus_engine_spark.streaming.late import late_data_split

    batches = [
        [_ev_m(1, 100, 0, "x"), _ev_m(2, 10, 1, "x")],
        [
            _ev_m(3, 50, 0, "x"),   # late for p0 (frontier 100m)
            _ev_m(4, 5, 1, "x"),    # late for p1 (frontier 10m)
            _ev_m(5, 50, 1, "x"),   # ON TIME for p1 — same ts as event 3
        ],
    ]
    tagged = late_data_split(
        _n_batch_stream(spark, batches, EV_SCHEMA),
        "ts", delay_ms=0, partition_col="user_id",
    )
    rows = run_to_completion(tagged, "late_split_part_test", "append").collect()
    late = {r["event_id"]: r["is_late"] for r in rows}
    assert late == {1: False, 2: False, 3: True, 4: True, 5: False}


# ---------------- TF-IDF top terms ----------------


def test_tfidf_top_terms_hand_computed(spark):
    import math

    from proteus_engine_spark.datapipe.textstats import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "a c")], "doc_id long, text string"
    )
    out = tfidf_top_terms(docs, k=2).collect()
    got = {(r["doc_id"], r["term"]): (r["score"], r["rk"]) for r in out}

    def idf(df):
        return math.log((1 + 2) / (1 + df)) + 1.0

    # doc1: a tf=2 df=2 -> 2*idf(2); b tf=1 df=1 -> idf(1)
    assert got[(1, "a")][0] == pytest.approx(2 * idf(2))
    assert got[(1, "b")][0] == pytest.approx(idf(1))
    # b (higher idf) outranks a in doc1: 2*(ln(1)+1)=2.0 vs ln(1.5)+1=1.405
    assert got[(1, "a")][1] == 1 and got[(1, "b")][1] == 2
    # doc2: c rk1 (idf(1)=1.405) beats a (idf(2)=1.0)
    assert got[(2, "c")][1] == 1 and got[(2, "a")][1] == 2


# ---------------- per-row-rate sampling ----------------


def test_rate_threshold_col_matches_scalar(spark):
    """The column form must agree with rate_to_threshold exactly."""
    from proteus_engine_spark.datapipe.sampling import (
        rate_threshold_col,
        rate_to_threshold,
    )

    rates = [0.0, 0.05, 0.125, 0.25, 0.5, 0.999, 1.0]
    df = spark.createDataFrame([(r,) for r in rates], "rate double")
    out = df.select("rate", rate_threshold_col(F.col("rate")).alias("t")).collect()
    for r in out:
        assert r["t"] == rate_to_threshold(r["rate"]), r["rate"]


def test_sample_by_rate_col_matches_fixed_rate(spark):
    """A constant rate column reproduces deterministic_sample exactly."""
    from proteus_engine_spark.datapipe.sampling import (
        deterministic_sample,
        sample_by_rate_col,
    )

    df = spark.range(0, 500).withColumnRenamed("id", "k")
    a = sorted(r["k"] for r in deterministic_sample(df, "k", 0.25, "s").collect())
    b = sorted(
        r["k"] for r in sample_by_rate_col(df, "k", F.lit(0.25), "s").collect()
    )
    assert a == b and 0 < len(a) < 500


# ---------------- iterate_delta signalling ----------------


def test_iterate_delta_strict_raises_on_nonempty_workset(spark):
    from proteus_engine_spark.operators.iterations import iterate_delta

    sol = spark.createDataFrame([(0,)], "v long")

    def step(s, w, i):
        return s, w  # workset never drains

    with pytest.raises(RuntimeError, match="non-empty workset"):
        iterate_delta(sol, sol, step, max_iterations=2, strict=True)
    # default: warns, returns the last solution
    import warnings

    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        out = iterate_delta(sol, sol, step, max_iterations=2)
        assert out.count() == 1
    assert any("non-empty workset" in str(w.message) for w in rec)


# ---------------- late splitter property test ----------------


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st_

    HAS_HYPOTHESIS = True
except ImportError:  # pragma: no cover
    HAS_HYPOTHESIS = False


def _capture_split_fn(spark, delay):
    """Build late_data_split's transition closure for a given delay by
    intercepting applyInPandasWithState (restored immediately)."""
    from pyspark.sql.group import GroupedData
    from proteus_engine_spark.streaming.late import late_data_split

    captured = {}
    orig = GroupedData.applyInPandasWithState
    GroupedData.applyInPandasWithState = (
        lambda self, func, *a, **k: captured.setdefault("fn", func) and None
    )
    try:
        static = spark.createDataFrame([_ev_m(0, 0, 1, "x", 0.0)], EV_SCHEMA)
        late_data_split(static, "ts", delay_ms=delay)
    finally:
        GroupedData.applyInPandasWithState = orig
    return captured["fn"]


@pytest.mark.skipif(not HAS_HYPOTHESIS, reason="hypothesis not installed")
def test_late_data_split_frontier_invariant(spark):
    """Randomized replay: a row is tagged late iff its ts is strictly
    below (max event time of PRIOR batches - delay) — batch-granularity
    watermark semantics, independent of intra-batch order. The delay is
    baked into the captured closure, so two fixed delays each get a
    randomized batch sweep."""
    import pandas as pd

    for delay in (0, 60):
        fn = _capture_split_fn(spark, delay)

        @settings(deadline=None, max_examples=20)
        @given(
            batches=st_.lists(
                st_.lists(st_.integers(min_value=0, max_value=400), max_size=6),
                min_size=1, max_size=5,
            )
        )
        def replay(batches):
            state = _FakeGroupState()
            seen_max = None
            for rows in batches:
                pdf = pd.DataFrame(
                    {
                        "event_id": list(range(len(rows))),
                        "ts": pd.to_datetime(rows, unit="ms"),
                        "user_id": [1] * len(rows),
                        "event_type": ["x"] * len(rows),
                        "value": [0.0] * len(rows),
                    }
                )
                outs = list(fn((0,), [pdf], state))
                if rows:
                    out = pd.concat(outs)
                    frontier = None if seen_max is None else seen_max - delay
                    expect = [
                        False if frontier is None else t < frontier for t in rows
                    ]
                    got = list(out.sort_values("event_id")["is_late"])
                    assert got == expect, (rows, frontier, got, expect)
                    seen_max = (
                        max(rows) if seen_max is None
                        else max(seen_max, max(rows))
                    )

        replay()


# ---------------- multimodal stub edges ----------------


def test_resize_empty_payload_fills_budget(spark):
    """Empty payloads resize to a zero-filled target-budget buffer; the
    output size is always the target, never the source."""
    from proteus_engine_spark.datapipe.multimodal import resize_images

    df = spark.createDataFrame(
        [(1, b""), (2, b"abc")], "media_id long, payload binary"
    )
    rows = {r["media_id"]: r for r in resize_images(df, 4, 2).collect()}
    assert bytes(rows[1]["resized"]) == b"\0" * 24
    assert len(bytes(rows[2]["resized"])) == 24
    assert bytes(rows[2]["resized"]).startswith(b"abcabc")


def test_sample_frames_stride_and_short_payload(spark):
    from proteus_engine_spark.datapipe.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, b"x" * 1300), (2, b"y" * 10)], "media_id long, payload binary"
    )
    rows = sample_frames(df, every_n=2).collect()
    by = {}
    for r in rows:
        by.setdefault(r["media_id"], []).append(r["frame_idx"])
    # 1300 bytes -> 5 pseudo-frames -> stride 2 keeps frames 0, 2, 4
    assert sorted(by[1]) == [0, 2, 4]
    # short payload still yields its single (partial) frame
    assert by[2] == [0]


# ---------------- plan-shape regressions for the new operators ----------------


def _plan10(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_decontam_plan_stays_jvm_and_hash_keyed(spark):
    """Corpus grams must join on the 8-byte xxhash64, not gram strings,
    with no Python evaluation node."""
    from proteus_engine_spark.datapipe.decontam import ngram_overlap_counts

    docs = spark.createDataFrame(
        [(i, "a b c d e f g") for i in range(50)], "doc_id long, text string"
    )
    plan = _plan10(
        ngram_overlap_counts(docs.filter("doc_id > 5"), docs.filter("doc_id <= 5"))
    )
    assert "xxhash64" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_tfidf_plan_partial_aggregates(spark):
    """Term counting must map-side combine (partial_count) and stay
    JVM-side."""
    from proteus_engine_spark.datapipe.textstats import tfidf_top_terms

    docs = spark.createDataFrame(
        [(i, "w x y z") for i in range(50)], "doc_id long, text string"
    )
    plan = _plan10(tfidf_top_terms(docs, num_docs=50))
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_minhash_no_forced_candidate_broadcast(spark):
    """r10 regression: the per-doc candidate map must NOT carry a forced
    broadcast hint (corpus-fraction-sized at web dup rates) — the
    logical plan may not contain a user ResolvedHint on that join.
    AQE may still CHOOSE a broadcast at this tiny scale; what we assert
    is the absence of the hint in the analyzed plan."""
    from proteus_engine_spark.datapipe.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i+1} tok{i+2} common words here") for i in range(30)],
        "doc_id long, text string",
    )
    logical = minhash_lsh_pairs(docs)._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical


# ---------------- review fixes ----------------


def test_udf_0d_and_2d_ndarray_rejected():
    """A 0-d ndarray is a disguised scalar (np.asarray(x.sum())) and a
    2-d array is not a column — both must fail the batch contract with
    the guidance message, not a downstream 'Data must be 1-dimensional'."""
    from proteus_engine_spark.functions.udf import ScalarFunction

    class Zero(ScalarFunction):
        return_type = "double"

        def eval(self, x):
            return np.asarray(x.to_numpy().sum())  # 0-d

    class Two(ScalarFunction):
        return_type = "double"

        def eval(self, x):
            return np.zeros((2, 2))

    for cls in (Zero, Two):
        with pytest.raises(TypeError, match="not a batch"):
            cls().to_udf()


def test_iterate_delta_strict_zero_cap_still_raises(spark):
    """max_iterations=0 with a non-empty initial workset is unfinished
    propagation — strict must raise, not silently return."""
    from proteus_engine_spark.operators.iterations import iterate_delta

    sol = spark.createDataFrame([(0,)], "v long")
    with pytest.raises(RuntimeError, match="non-empty workset"):
        iterate_delta(sol, sol, lambda s, w, i: (s, w), max_iterations=0, strict=True)


def test_multimodal_oracles_handle_empty_doc(spark):
    """The audio / resize oracles must agree with the stubs on an EMPTY
    document (latent gate red if a corpus ever stages one): DuckDB's
    list_aggregate([], 'sum') is NULL and repeat('') is '', both now
    guarded in the oracle SQL."""
    import duckdb

    from proteus_engine_spark.queries import REGISTRY

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES (1, 'ab'), (2, ''))"
        " AS t(doc_id, text)"
    )
    media = spark.createDataFrame(
        [(1, b"ab"), (2, b"")], "media_id long, payload binary"
    )
    from proteus_engine_spark.datapipe.multimodal import (
        extract_audio_features,
        resize_images,
    )
    from pyspark.sql import functions as SF

    audio = {
        r["media_id"]: (r["n_bytes"], round(r["rms_energy"], 6))
        for r in extract_audio_features(media).collect()
    }
    audio_oracle = {
        r[0]: (r[1], round(r[2], 6))
        for r in con.sql(REGISTRY["multimodal_audio_features"].oracle).fetchall()
    }
    assert audio == audio_oracle
    resized = {
        r["media_id"]: r["m"]
        for r in resize_images(media, 8, 8)
        .select("media_id", SF.md5("resized").alias("m"))
        .collect()
    }
    resize_oracle = {
        r[0]: r[3]
        for r in con.sql(REGISTRY["multimodal_resize"].oracle).fetchall()
    }
    assert resized == resize_oracle


# ---------------- bucketed co-located join ----------------


def test_bucketed_tables_join_without_exchange(spark):
    """The 100 TB payoff of write_parquet(bucket_by=...): two tables
    bucketed on the same key and count sort-merge-join with NO shuffle
    exchange on either side — the co-located join the docstring
    promises, proven on the physical plan."""
    from proteus_engine_spark.sources.sinks import write_parquet

    a = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    write_parquet(a, "", bucket_by=(8, ["k"]), table_name="bkt_a")
    write_parquet(b, "", bucket_by=(8, ["k"]), table_name="bkt_b")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_allowed_lateness_adds_to_frontier_delay(spark):
    """allowed_lateness_ms composes additively with the watermark delay
    (WindowOperator.isElementLate semantics): a row late by the delay
    alone but inside the lateness allowance stays on time."""
    from proteus_engine_spark.streaming.late import side_output_late_data

    batches = [
        [_ev_m(1, 100, 1, "x")],
        [_ev_m(2, 95, 1, "x"),   # 5m late: inside 10m allowance
         _ev_m(3, 80, 1, "x")],  # 20m late: beyond delay 0 + allowance 10m
    ]
    _on, late = side_output_late_data(
        _n_batch_stream(spark, batches, EV_SCHEMA),
        "ts", delay_ms=0, allowed_lateness_ms=10 * 60_000,
    )
    collected = run_to_completion(late, "allowed_late_test", "append").collect()
    ids = sorted(r["event_id"] for r in collected)
    assert ids == [3]


# ---------------- datapipe review fixes (library-level) ----------------


def test_phone_pattern_real_world_formats(spark):
    """The phone tier must catch real formats, skip ISO dates and IPs,
    and agree between Spark (Java regex) and DuckDB (RE2) on every case
    — the oracle mirrors the literal pattern."""
    import duckdb

    from proteus_engine_spark.datapipe.pii import PII_PATTERNS, scrub_documents

    cases = [
        (1, "Call 415-555-2671 now"),            # NANP dashed
        (2, "or (415) 555-2671 works"),          # parenthesized
        (3, "intl +44 20 7946 0958 line"),       # +CC spaced
        (4, "plus +1 415-555-2671 too"),         # +CC + NANP
        (5, "legacy 12-345-678-9012 shape"),     # synthetic TPC-H form
        (6, "date 2024-01-15 is not a phone"),   # negative: ISO date
        (7, "ip 10.255.0.24 is not a phone"),    # negative: IPv4
        (8, "no digits at all"),
    ]
    df = spark.createDataFrame(cases, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_phone"], r["text_scrubbed"])
        for r in scrub_documents(df).collect()
    }
    for i in (1, 2, 3, 4, 5):
        assert got[i][0] == 1 and "[PHONE]" in got[i][1], (i, got[i])
    for i in (6, 7, 8):
        assert got[i][0] == 0 and "[PHONE]" not in got[i][1], (i, got[i])
    # cross-engine: RE2 must produce the identical count per case
    pat = PII_PATTERNS["phone"][0]
    con = duckdb.connect()
    for doc_id, text in cases:
        [(n,)] = con.execute(
            "SELECT len(regexp_extract_all(?, ?))", [text, pat]
        ).fetchall()
        assert n == got[doc_id][0], (doc_id, n, got[doc_id][0])


def test_token_count_empty_and_whitespace(spark):
    from proteus_engine_spark.datapipe.textstats import quality_stats, token_count

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "a b"), (4, " a b ")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["n"]
        for r in df.select("doc_id", token_count("text").alias("n")).collect()
    }
    # padded text keeps the phantom-token behavior both engines share
    # (split(' a b ') has leading AND trailing empty tokens — Spark's
    # limit=-1 matches DuckDB); only fully-empty text is guarded to 0
    assert got == {1: 0, 2: 0, 3: 2, 4: 4}
    q = {r["doc_id"]: r["n_tokens"] for r in quality_stats(df).collect()}
    assert q[1] == 0 and q[2] == 0


def test_decontam_skips_docs_shorter_than_n(spark):
    """GPT-3/Gopher convention: sub-n-token docs contribute no grams —
    a 2-token eval doc must not flag 2-token corpus docs, and empty
    docs must not match each other on the '' pseudo-gram."""
    from proteus_engine_spark.datapipe.decontam import ngram_overlap_counts

    rows = [(0, "foo bar"), (1, "foo bar"), (2, ""), (3, "foo bar baz qux")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = ngram_overlap_counts(
        docs.filter("doc_id > 0"), docs.filter("doc_id = 0"), n=3
    ).collect()
    assert out == []  # eval doc too short to emit any 3-gram


def test_kmeans_fewer_rows_than_centroids(spark):
    from proteus_engine_spark.datapipe.similarity import kmeans_centroids

    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(5)],
        "c_id long, vec array<double>",
    )
    cents = kmeans_centroids(df, dim=2, n_centroids=16, n_iter=2)
    assert 1 <= len(cents) <= 5
    empty = spark.createDataFrame([], "c_id long, vec array<double>")
    with pytest.raises(ValueError, match="no vectors"):
        kmeans_centroids(empty, dim=2, n_centroids=4)


def test_minhash_rejects_nondivisible_bands(spark):
    from proteus_engine_spark.datapipe.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bands in (12, 128, 0):
        with pytest.raises(ValueError, match="divide num_perm"):
            minhash_lsh_pairs(docs, num_perm=64, bands=bands)


def test_multimodal_id_column_name_and_type_carry_through(spark):
    """A string uuid id must survive decode under its own name/type
    (previously the output hard-coded media_id:long and a string id
    failed Arrow conversion)."""
    from proteus_engine_spark.datapipe.multimodal import decode_images

    df = spark.createDataFrame(
        [("u-1", b"abcdef")], "uuid string, payload binary"
    )
    out = decode_images(df, id_col="uuid")
    assert out.schema["uuid"].dataType.simpleString() == "string"
    [r] = out.collect()
    assert r["uuid"] == "u-1" and r["width"] == 6
