"""Round-8 tests: strict watermark release, ingest-time late-event drop
(the frontier guard), late-data observability, JDBC round trip, and the
event-containment AfterMatchSkip pruning."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from proteus_engine_spark.streaming.sources import run_to_completion

from tests.conftest import SF_DIR
from tests.test_streaming import EV_SCHEMA, _ev, _two_batch_stream


# ---------------- ingest-time frontier guard ----------------


def test_row_admitted_below_eviction_wm_sequences_correctly(spark):
    """Spark's late filter lags one micro-batch behind eviction, so a row
    below the CURRENT batch's eviction watermark (but above the previous
    release frontier) still reaches the stateful operator. It must slot
    into the same flush as its later peers in (ts, id) order — never
    behind them — and the ingest frontier guard guarantees nothing below
    the last flush's frontier can ever be buffered."""
    from datetime import datetime

    from proteus_engine_spark.streaming.stateful import event_time_sort

    def ev(i, hour, minute):
        return (i, datetime(2024, 1, 1, hour, minute, 0), 1, "x", 1.0)

    a = [ev(1, 2, 0), ev(2, 2, 30)]
    b = [ev(3, 0, 1), ev(4, 3, 0)]  # 3 arrives after wm jumped to 02:30
    out = event_time_sort(
        _two_batch_stream(spark, a, b, EV_SCHEMA), "user_id", "ts",
        watermark_delay="0 seconds",
    )
    collected = run_to_completion(out, "frontier_test", "append").collect()
    rows = sorted(collected, key=lambda r: r["seq"])
    # event 3 (00:01) was admitted in batch 1 BEFORE anything released
    # below it had flushed, so it ranks FIRST — the global event-time
    # order [3 (00:01), 1 (02:00), 2 (02:30)]; event 4 sits at the final
    # watermark and stays buffered (strict release).
    assert [r["event_id"] for r in rows] == [3, 1, 2]
    assert [r["seq"] for r in rows] == [1, 2, 3]


def test_ingest_frontier_guard_drops_below_frontier_rows():
    """Direct unit check of the guard: an arrival strictly below the
    key's last release frontier is discarded at ingest (it could no
    longer be sequenced — its peers already flushed)."""
    import pandas as pd

    from proteus_engine_spark.streaming.stateful import _ingest_and_release

    st = {"buf": [], "seq": 0, "frontier": 120_000}  # last flush at 2 min
    pdf = pd.DataFrame({
        "ts": pd.to_datetime([60_000, 120_000, 180_000], unit="ms"),
        "event_id": [1, 2, 3],
    })
    ready = _ingest_and_release(st, pdf, 200_000, "ts", "event_id", None)
    # id 1 (1 min < frontier 2 min) dropped; id 2 (== frontier) kept and
    # released (ts < wm); id 3 kept and released
    assert [i for _t, i, _c in ready] == [2, 3]
    assert st["buf"] == [] and st["frontier"] == 200_000


# ---------------- late-data observability ----------------


def test_dropped_late_rows_metric(spark, tmp_path):
    """numRowsDroppedByWatermark (the sideOutputLateData observability
    hook) counts raw input rows for applyInPandasWithState operators."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from proteus_engine_spark.streaming.sources import (
        dropped_late_rows,
        run_to_completion_observed,
    )
    from proteus_engine_spark.streaming.stateful import event_time_sort

    def mk(ts, ids):
        return pa.table({
            "ts": pa.array(pd.to_datetime(ts), type=pa.timestamp("us")),
            "event_id": pa.array(ids, type=pa.int64()),
            "user_id": pa.array([1] * len(ids), type=pa.int64()),
        })

    files = [
        mk(["2024-01-01 10:00", "2024-01-01 11:00"], [1, 2]),
        mk(["2024-01-01 10:30"], [3]),  # spacer: filter watermark catches up
        mk(["2024-01-01 00:00", "2024-01-01 00:30", "2024-01-01 01:00"], [4, 5, 6]),
    ]
    for i, t in enumerate(files):
        p = os.path.join(tmp_path, f"f{i}.parquet")
        pq.write_table(t, p)
        os.utime(p, (1_000_000_000 + 60 * i,) * 2)
    raw = (
        spark.readStream.schema("ts timestamp, event_id long, user_id long")
        .format("parquet").option("maxFilesPerTrigger", "1").load(str(tmp_path))
    )
    out = event_time_sort(raw, "user_id", "ts", watermark_delay="10 minutes")
    sink, progress = run_to_completion_observed(out, "late_metric_test", "append")
    assert dropped_late_rows(progress) == 3  # the whole third file
    assert sorted(r["event_id"] for r in sink.collect()) == [1, 3]  # ts < wm_f


# ---------------- strict release boundary ----------------


def test_equal_ts_row_at_watermark_stays_buffered(spark):
    """A row whose ts exactly equals the final watermark is withheld:
    Spark admits equal-ts arrivals after the watermark reaches them, so
    releasing at == wm could emit before a peer that still arrives."""
    from proteus_engine_spark.streaming.stateful import event_time_sort

    a = [_ev(1, 1, 1, "x", 1.0), _ev(2, 5, 1, "x", 2.0)]
    b = [_ev(3, 10, 1, "x", 3.0)]
    out = event_time_sort(
        _two_batch_stream(spark, a, b, EV_SCHEMA), "user_id", "ts",
        watermark_delay="0 seconds",
    )
    collected = run_to_completion(out, "strict_rel_test", "append").collect()
    ids = sorted(r["event_id"] for r in collected)
    assert ids == [1, 2]  # event 3 sits AT the final watermark


# ---------------- JDBC ----------------


def test_jdbc_option_builders():
    from proteus_engine_spark.sources.jdbc import sink_options, source_options

    with pytest.raises(ValueError):
        source_options(url="jdbc:derby:x")  # neither table nor query
    with pytest.raises(ValueError):
        source_options(url="jdbc:derby:x", table="t", query="SELECT 1")
    with pytest.raises(ValueError):
        source_options(url="jdbc:derby:x", table="t", partition_column="c")
    with pytest.raises(ValueError):
        source_options(
            url="jdbc:derby:x", query="SELECT 1", partition_column="c",
            lower_bound=0, upper_bound=10, num_partitions=2,
        )
    opts = source_options(
        url="jdbc:derby:x", table="t", partition_column="c",
        lower_bound=0, upper_bound=10, num_partitions=2, fetch_size=500,
    )
    assert opts["partitionColumn"] == "c" and opts["fetchsize"] == "500"
    sopts = sink_options(url="jdbc:derby:x", table="t", batch_size=100, truncate=True)
    assert sopts["batchsize"] == "100" and sopts["truncate"] == "true"


def test_jdbc_derby_roundtrip(spark, tmp_path):
    """End-to-end against embedded Derby (shipped in Spark's jars): write
    partitioned data out, read it back with a 3-way range split, verify
    no boundary row is lost or duplicated."""
    from proteus_engine_spark.sources.jdbc import (
        DERBY_EMBEDDED_DRIVER,
        read_jdbc,
        write_jdbc,
    )

    df = spark.range(0, 100).select(
        F.col("id").alias("k"), (F.col("id") * 2).cast("double").alias("v")
    )
    url = f"jdbc:derby:{tmp_path}/db;create=true"
    write_jdbc(df, mode="overwrite", url=url, table="t_rt",
               driver=DERBY_EMBEDDED_DRIVER, batch_size=10)
    back = read_jdbc(
        spark, url=url, table="t_rt", driver=DERBY_EMBEDDED_DRIVER,
        partition_column="k", lower_bound=0, upper_bound=100, num_partitions=3,
    )
    assert back.rdd.getNumPartitions() == 3
    got = sorted((r["k"], r["v"]) for r in back.collect())
    assert got == [(i, float(i * 2)) for i in range(100)]


# ---------------- AfterMatchSkip event containment ----------------


def test_skip_to_first_spares_disjoint_partials():
    """SKIP_TO_FIRST prunes by event containment (NFA.java:374-383): a
    partial sharing NO event with the emitted match survives, even if it
    started earlier — the old start-point bar killed it and under-emitted."""
    from proteus_engine_spark.streaming.cep import Pattern, _run_nfa

    # key events: a1(t1) b1(t2) a2(t3) b2(t4); pattern a followedBy b.
    # When a1-b1 completes at t2, the partial opened by... we need a
    # disjoint partial alive at emission time. Use types so that the
    # emitted match consumes (x1, y1) while a partial (x2,...) opened
    # between them shares nothing with it.
    df = pd.DataFrame({
        "ts": pd.to_datetime([
            "2024-01-01 00:01",  # x1
            "2024-01-01 00:02",  # x2 (disjoint partial opens here)
            "2024-01-01 00:03",  # y1 -> completes x1-y1 AND x2-y1? no:
        ]),
        "event_id": [1, 2, 3],
        "et": ["x", "x", "y"],
    })
    pat = (
        Pattern.begin("a", lambda r: r["et"] == "x")
        .followed_by("b", lambda r: r["et"] == "y")
        .after_match_skip("skip_to_first", "b")
    )
    matches, partials, _ = _run_nfa(df, pat, "ts", "event_id")
    # both x1-y1 and x2-y1 complete ON y1's element, before pruning
    got = sorted((m["a"][0], m["b"][0]) for m in matches)
    assert got == [(1, 3), (2, 3)]


def test_skip_to_first_missing_mapping_does_not_raise():
    """An optional() referenced step that matched no event must degrade
    to discard-all (reference behavior), never raise inside the
    executor."""
    from proteus_engine_spark.streaming.cep import Pattern, _run_nfa

    df = pd.DataFrame({
        "ts": pd.to_datetime(["2024-01-01 00:01", "2024-01-01 00:02"]),
        "event_id": [1, 2],
        "et": ["x", "y"],
    })
    pat = (
        Pattern.begin("a", lambda r: r["et"] == "x")
        .followed_by("m", lambda r: r["et"] == "z").optional()
        .followed_by("b", lambda r: r["et"] == "y")
        .after_match_skip("skip_to_first", "m")
    )
    matches, _p, _t = _run_nfa(df, pat, "ts", "event_id")
    assert [(m["a"][0], m["b"][0]) for m in matches] == [(1, 2)]


# ---------------- state-counted group one_or_more ----------------


def test_group_one_or_more_unbounded_state_counted():
    """(a NEXT b) one_or_more with no cap: matches at every repeat depth
    the data reaches — the state-counted loop, not a variant enumeration."""
    from proteus_engine_spark.streaming.cep import (
        GroupPattern,
        Pattern,
        _run_nfa,
    )

    g = GroupPattern.begin(
        Pattern.begin("a", lambda r: r["et"] == "a")
        .next("b", lambda r: r["et"] == "b")
    ).one_or_more().consecutive()
    pat, choice = g.compile()
    assert choice == {0: -1}
    n = 10  # (a b) x 10 — far beyond any variant cap
    df = pd.DataFrame({
        "ts": pd.to_datetime([f"2024-01-01 00:{m:02d}" for m in range(2 * n)]),
        "event_id": list(range(1, 2 * n + 1)),
        "et": ["a", "b"] * n,
    })
    matches, _p, _t = _run_nfa(df, pat, "ts", "event_id")
    # strict chaining: start i, depth r for every i + r <= n
    got = sorted((m["__first__"]["a"][0], m["__gcnt__0"]) for m in matches)
    exp = sorted((2 * i + 1, r) for i in range(n) for r in range(1, n - i + 1))
    assert got == exp


def test_group_one_or_more_bounded_is_state_counted():
    """r14: a capped one_or_more compiles to ONE state-counted pattern
    (group_max bounds the loop-back; exits stay per-prefix) — the pre-r14
    per-repeat-count enumeration is gone. The pure NFA emits matches at
    repeat counts 1..3 and stops looping at the cap."""
    from proteus_engine_spark.streaming.cep import GroupPattern, Pattern, _scan

    g = GroupPattern.begin(
        Pattern.begin("a", lambda r: r["et"] == "a")
        .next("b", lambda r: r["et"] == "b")
    ).one_or_more(max_repeats=3)
    assert isinstance(g.compile()[0], Pattern)
    pat, eff = g.compile()
    assert eff == {0: -1}
    assert pat.steps[-1].group_max == 3 and pat.steps[-1].group_times is None
    rows = [{"et": t, "id": i} for i, t in enumerate("abababab")]
    matches, _, _ = _scan(rows, [i * 1000 for i in range(8)], pat, "id")
    # anchored at each 'a': counts reach 3 from start 0, 3 from start 2, ...
    counts = sorted(m["__gcnt__0"] for m in matches)
    assert max(counts) == 3  # the cap stops the loop-back
    assert counts.count(1) == 4 and counts.count(2) == 3 and counts.count(3) == 2


# ---------------- readFileOfPrimitives ----------------


def test_read_file_of_primitives(spark, tmp_path):
    from proteus_engine_spark.sources.tables import read_file_of_primitives

    p = tmp_path / "prims.txt"
    p.write_text("1\n2\n3\nnope\n")
    vals = [r["value"] for r in read_file_of_primitives(spark, str(p), "long").collect()]
    assert sorted(v for v in vals if v is not None) == [1, 2, 3]
    assert None in vals  # unparseable token -> NULL, not an error

    q = tmp_path / "csvish.txt"
    q.write_text("1.5,2.5\n3.5,4.5\n")
    got = sorted(
        r["value"]
        for r in read_file_of_primitives(spark, str(q), "double", delimiter=",").collect()
    )
    assert got == [1.5, 2.5, 3.5, 4.5]


# ---------------- repetition + PII ----------------


def test_repetition_stats_edges(spark):
    from proteus_engine_spark.datapipe.textstats import repetition_stats

    docs = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # bigram 'a b' x3 (+ 'b a' x2), trigrams repeat
            (2, "x"),                  # single token: no grams at all
            (3, "p q r s"),            # all distinct
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    assert rows[1]["n_tokens"] == 6 and round(rows[1]["dup_token_frac"], 6) == round(1 - 2 / 6, 6)
    # 'a b' occurs 3x, len 3 -> coverage 9/11
    assert round(rows[1]["top_bigram_cov"], 6) == round(9 / 11, 6)
    # trigrams 'a b a' x2 and 'b a b' x2, len 5 -> (10+10)/11
    assert round(rows[1]["dup_trigram_cov"], 6) == round(20 / 11, 6)
    assert rows[2]["n_tokens"] == 1 and rows[2]["top_bigram_cov"] == 0.0
    assert rows[3]["dup_token_frac"] == 0.0 and rows[3]["dup_trigram_cov"] == 0.0


def test_pii_scrub(spark):
    from proteus_engine_spark.datapipe.pii import scrub_documents

    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org call 12-345-678-9012 host 192.168.0.1 done")],
        "id long, text string",
    )
    r = scrub_documents(df).collect()[0]
    assert (r["n_email"], r["n_phone"], r["n_ipv4"]) == (1, 1, 1)
    assert r["text_scrubbed"] == "mail [EMAIL] call [PHONE] host [IP] done"


def test_group_loop_agrees_with_bounded_enumeration():
    """Adversarial cross-check: on random event tapes, the state-counted
    unbounded loop must produce EXACTLY the union of the bounded
    enumeration's matches at every repeat depth (cap chosen above the
    deepest achievable run)."""
    import random

    from proteus_engine_spark.streaming.cep import (
        GroupPattern,
        Pattern,
        _GroupItem,
        _run_nfa,
    )

    rng = random.Random(81)
    for trial in range(25):
        n = rng.randint(2, 14)
        ets = [rng.choice("abc") for _ in range(n)]
        df = pd.DataFrame({
            "ts": pd.to_datetime(
                [f"2024-01-01 00:{m:02d}" for m in range(n)]
            ),
            "event_id": list(range(1, n + 1)),
            "et": ets,
        })
        consec = rng.random() < 0.5

        def build(max_repeats=None):
            g = GroupPattern.begin(
                Pattern.begin("a", lambda r: r["et"] == "a")
                .next("b", lambda r: r["et"] == "b")
            )
            g.one_or_more(max_repeats)
            if consec:
                g.consecutive()
            return g

        def all_matches(g):
            out = []
            pat, choice = g.compile()
            ms, _p, _t = _run_nfa(df, pat, "ts", "event_id")
            for m in ms:
                r = choice.get(0)
                if r == -1:
                    cnt = m["__gcnt__0"]
                    out.append((m["a"][0], m["b"][0], cnt))
                else:
                    last = f"a__g0r{r - 1}", f"b__g0r{r - 1}"
                    out.append((m[last[0]][0], m[last[1]][0], r))
            return sorted(out)

        unb = all_matches(build(None))
        cap = n // 2 + 1
        bnd = all_matches(build(cap))
        assert unb == bnd, (trial, ets, consec, unb, bnd)


def test_deterministic_sampling(spark):
    from proteus_engine_spark.datapipe.sampling import (
        deterministic_sample,
        rate_to_threshold,
        stratified_sample,
    )

    assert rate_to_threshold(0.5) == "80000000"
    assert rate_to_threshold(1.0) == "g"
    assert rate_to_threshold(0.0) == "00000000"
    with pytest.raises(ValueError):
        rate_to_threshold(1.5)

    df = spark.range(0, 4000).select(F.col("id").alias("k"))
    kept = deterministic_sample(df, "k", 0.25, salt="s1")
    n = kept.count()
    assert abs(n / 4000 - 0.25) < 0.05  # md5 is uniform
    # reproducible: same salt -> identical set; different salt -> different
    again = {r["k"] for r in deterministic_sample(df, "k", 0.25, salt="s1").collect()}
    assert again == {r["k"] for r in kept.collect()}
    other = {r["k"] for r in deterministic_sample(df, "k", 0.25, salt="s2").collect()}
    assert other != again
    # rate 1.0 keeps everything; 0.0 keeps nothing
    assert deterministic_sample(df, "k", 1.0).count() == 4000
    assert deterministic_sample(df, "k", 0.0).count() == 0

    strat = spark.createDataFrame(
        [(i, "a" if i % 2 else "b") for i in range(2000)], "k long, s string"
    )
    got = stratified_sample(strat, "k", "s", {"a": 1.0}, default_rate=0.0)
    assert got.filter(F.col("s") == "a").count() == 1000
    assert got.filter(F.col("s") == "b").count() == 0


def test_embedding_preprocess_zero_and_unit(spark):
    from proteus_engine_spark.datapipe.embeddings import preprocess_embeddings

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [3.0, 4.0]), (3, [2.0, 2.0])],
        "vec_id long, embedding array<float>",
    )
    # no centering: plain unit-normalization
    rows = {r["vec_id"]: r for r in
            preprocess_embeddings(df, center=False).collect()}
    assert rows[2]["norm"] == 5.0
    assert [round(x, 6) for x in rows[2]["vec"]] == [0.6, 0.8]
    # centered: mean = (2, 2); vec 3 becomes the zero vector -> NULL unit
    crows = {r["vec_id"]: r for r in preprocess_embeddings(df).collect()}
    assert crows[3]["norm"] == 0.0 and crows[3]["vec"] is None
    assert round(crows[2]["norm"], 6) == round((1 + 4) ** 0.5, 6)


# ---------------- staging crash recovery ----------------


def test_ooo_staging_recovers_from_crashed_stage(spark):
    """A previous staging run that crashed after creating the target dir
    but before completing (no _SUCCESS) must be cleared and re-staged —
    not treated as 'concurrent run won' (which would stream from a
    permanently incomplete directory)."""
    import os
    import shutil

    from proteus_engine_spark.streaming.sources import events_stream_late

    sf_dir = os.environ.get("PROTEUS_TEST_SF_DIR", "/root/testdata/sf0.001")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    parent = os.path.join(repo, ".scratch")
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    target = os.path.join(parent, f"late_events_{sf_tag}_55")
    # simulate the crashed stage: partial dir, no _SUCCESS
    shutil.rmtree(target, ignore_errors=True)
    os.makedirs(target)
    open(os.path.join(target, "f00.parquet"), "w").write("garbage")
    ev = events_stream_late(spark, sf_dir)  # must re-stage, not raise
    assert os.path.exists(os.path.join(target, "_SUCCESS"))
    # the restaged data actually streams
    q = (ev.writeStream.outputMode("append").format("memory")
         .queryName("ooo_recover_test").start())
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    assert spark.table("ooo_recover_test").count() > 0


def test_group_stream_matches_batch(spark):
    """Streaming unbounded group loop == batch group loop on the same
    data (watermark covers everything: delay 0, matches complete before
    the final watermark only when their completing event is strictly
    below it — assert the overlap explicitly)."""
    from proteus_engine_spark.streaming.cep import (
        GroupPattern,
        Pattern,
        match_group_pattern,
        match_group_pattern_stream,
    )

    rows = [
        _ev(1, 1, 1, "a", 1.0), _ev(2, 2, 1, "b", 1.0),
        _ev(3, 3, 1, "a", 1.0), _ev(4, 4, 1, "b", 1.0),
        _ev(5, 5, 1, "c", 1.0), _ev(6, 20, 1, "c", 1.0),
    ]
    a, b = rows[:3], rows[3:]

    def g():
        sub = Pattern.begin(
            "x", lambda r: r["event_type"] == "a"
        ).next("y", lambda r: r["event_type"] == "b")
        return GroupPattern.begin(sub).one_or_more().consecutive()

    batch = match_group_pattern(
        spark.createDataFrame(rows, EV_SCHEMA), g(), "user_id"
    )
    stream_out = match_group_pattern_stream(
        _two_batch_stream(spark, a, b, EV_SCHEMA), g(), "user_id",
        watermark_delay="0 seconds",
    )
    got = sorted(
        (r["x_id"], r["y_id"], r["x_cnt"])
        for r in run_to_completion(stream_out, "group_stream_test", "append").collect()
    )
    exp = sorted((r["x_id"], r["y_id"], r["x_cnt"]) for r in batch.collect())
    # every batch match completes at a y event strictly below the final
    # watermark (max ts = minute 20), so the sets are equal
    assert got == exp and len(got) == 3  # (1,2,r1), (3,4,r1), (3,4 from 1: r2)


def test_group_times_state_counted_no_prefix_matches(spark):
    """r14: times(n) on a group is state-counted — the group exits ONLY
    at exactly n repeats (no per-prefix matches), and since every group
    compiles to a single pattern, streaming no longer rejects any
    quantifier (the pre-r14 'exactly one flattened variant' restriction
    is gone)."""
    from proteus_engine_spark.streaming.cep import GroupPattern, Pattern, _scan

    sub = Pattern.begin("a", lambda r: r["et"] == "a").next(
        "b", lambda r: r["et"] == "b"
    )
    g = GroupPattern.begin(sub).times(2)
    pat, _ = g.compile()
    assert pat.steps[-1].group_times == 2
    rows = [{"et": t, "id": i} for i, t in enumerate("abab")]
    matches, _, _ = _scan(rows, [i * 1000 for i in range(4)], pat, "id")
    # start 0 reaches exactly 2; start 2 reaches only 1 -> no match for it
    assert [m["__gcnt__0"] for m in matches] == [2]
    assert matches[0]["b"][0] == 3  # last repeat's view event


def test_dedup_cluster_keep_transitivity(spark):
    """A~B and B~C collapse into one cluster even without an A~C pair;
    singletons keep themselves."""
    from proteus_engine_spark.datapipe.dedup import dedup_cluster_keep

    docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    rows = {r["doc_id"]: r for r in dedup_cluster_keep(docs, pairs).collect()}
    assert [rows[i]["cluster_rep"] for i in range(1, 7)] == [1, 1, 1, 4, 5, 5]
    assert [rows[i]["is_kept"] for i in range(1, 7)] == [
        True, False, False, True, True, False,
    ]
