"""Round-7 tests: watermark-buffered bounded OVER (out-of-order
correctness), the streaming bounded RANGE OVER shape, non-long stateful
keys, and the hub-bounded jaccard grouping.

Reference parity targets:
- RowTimeBoundedRowsOver.scala  — MapState-by-timestamp buffering, rows
  processed only once the watermark passes them (out-of-order safe).
- RowTimeBoundedRangeOver.scala — same discipline, eviction by timestamp
  delta; peers (equal rowtime) share one complete frame.
"""

from __future__ import annotations

from proteus_engine_spark.streaming.sources import run_to_completion

from tests.test_streaming import EV_SCHEMA, _ev, _two_batch_stream


def _three_batch_stream(spark, rows_a, rows_b, rows_c, schema):
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="proteus_stream3_")
    src_dir = f"{d}/src"
    os.makedirs(src_dir)
    for i, rows in enumerate([rows_a, rows_b, rows_c]):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{d}/b{i}")
        part = [f for f in os.listdir(f"{d}/b{i}") if f.endswith(".parquet")][0]
        os.rename(f"{d}/b{i}/{part}", f"{src_dir}/{i:02d}.parquet")
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


def test_bounded_over_rows_out_of_order_across_batches(spark):
    """Events for minutes 10,11 arrive a batch BEFORE minutes 5,6; the
    watermark buffer must sequence them back into event-time order, so the
    window sums equal the in-order batch result (the old carry-tail-only
    implementation would compute windows in arrival order and fail)."""
    from proteus_engine_spark.streaming.stateful import bounded_over_agg

    a = [_ev(3, 10, 1, "x", 30.0), _ev(4, 11, 1, "x", 40.0)]
    b = [_ev(1, 5, 1, "x", 10.0), _ev(2, 6, 1, "x", 20.0)]
    c = [_ev(9, 40, 1, "x", 1.0)]  # watermark pusher; stays buffered
    out = bounded_over_agg(
        _three_batch_stream(spark, a, b, c, EV_SCHEMA),
        "user_id", "ts", "value", n_rows=2, watermark_delay="5 minutes",
    )
    collected = run_to_completion(out, "bover_ooo_test", "append").collect()
    rows = sorted(collected, key=lambda r: r["event_id"])
    assert [r["event_id"] for r in rows] == [1, 2, 3, 4]
    assert [r["w_sum"] for r in rows] == [10.0, 30.0, 50.0, 70.0]
    assert [r["w_cnt"] for r in rows] == [1, 2, 2, 2]


def test_bounded_range_over_peers_and_eviction(spark):
    """RANGE INTERVAL 5 MINUTES PRECEDING: peer rows (equal ts) share one
    frame containing all of them; a row 8 minutes later sees none of the
    earlier values (evicted by time delta, though fewer than n rows ago)."""
    from proteus_engine_spark.streaming.stateful import bounded_range_over_agg

    a = [_ev(1, 1, 1, "x", 10.0), _ev(2, 2, 1, "x", 20.0), _ev(3, 2, 1, "x", 5.0)]
    b = [_ev(4, 10, 1, "x", 40.0), _ev(9, 20, 1, "x", 1.0)]
    out = bounded_range_over_agg(
        _two_batch_stream(spark, a, b, EV_SCHEMA),
        "user_id", "ts", "value", range_ms=5 * 60_000, watermark_delay="0 seconds",
    )
    collected = run_to_completion(out, "brange_test", "append").collect()
    rows = sorted(collected, key=lambda r: r["event_id"])
    # event 9 sits exactly AT the final watermark (delay 0) and stays
    # buffered: release is strictly below the watermark, since Spark can
    # still admit an equal-ts peer afterwards.
    assert [r["event_id"] for r in rows] == [1, 2, 3, 4]
    # peers at minute 2 both see 10+20+5; minute 10 sees only itself
    assert [r["w_sum"] for r in rows] == [10.0, 35.0, 35.0, 40.0]
    assert [r["w_cnt"] for r in rows] == [1, 3, 3, 1]


def test_bounded_over_string_key(spark):
    """The stateful OVER helpers must not hard-code a long key type: a
    string key column (event_type) works end-to-end (field_ddl derives the
    output schema from the frame itself)."""
    from proteus_engine_spark.streaming.stateful import bounded_over_agg

    a = [_ev(1, 1, 1, "a", 10.0), _ev(2, 2, 1, "b", 20.0)]
    b = [_ev(3, 3, 1, "a", 30.0), _ev(9, 30, 1, "b", 1.0)]
    out = bounded_over_agg(
        _two_batch_stream(spark, a, b, EV_SCHEMA),
        "event_type", "ts", "value", n_rows=2, watermark_delay="0 seconds",
    )
    collected = run_to_completion(out, "bover_strkey_test", "append").collect()
    rows = sorted(collected, key=lambda r: r["event_id"])
    assert [r["event_type"] for r in rows] == ["a", "b", "a"]
    assert [r["w_sum"] for r in rows] == [10.0, 20.0, 40.0]


def test_events_stream_ooo_replay_is_actually_out_of_order(spark):
    """The staged replay must deliver at least one pair of micro-batches
    whose event-time ranges are swapped (a later block before an earlier
    one) — otherwise the ooo gate proves nothing."""
    import os

    from proteus_engine_spark.streaming.sources import events_stream_ooo

    sf_dir = os.environ.get("PROTEUS_TEST_SF_DIR", "/root/testdata/sf0.001")
    ev = events_stream_ooo(spark, sf_dir)
    q = (
        ev.writeStream.outputMode("append")
        .format("memory")
        .queryName("ooo_probe")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # reconstruct per-batch event-time bounds from the staged files instead
    # of progress (memory sink keeps no batch id): read the staged dir
    import glob

    import pyarrow.parquet as pq

    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    # exact staging name (block_ms=7_200_000, n_blocks=6 defaults): stale
    # stagings with other parameters may coexist in .scratch
    scratch = sorted(
        glob.glob(
            os.path.join(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                ".scratch",
                f"ooo_events_{sf_tag}_7200000_6",
                "f*.parquet",
            )
        )
    )
    assert len(scratch) >= 4
    bounds = []
    for f in scratch:
        t = pq.read_table(f, columns=["ts"])
        if len(t):
            ts = t.column("ts").to_numpy()
            bounds.append((ts.min(), ts.max()))
    swapped = sum(
        1 for i in range(len(bounds) - 1) if bounds[i][0] > bounds[i + 1][1]
    )
    assert swapped >= 3, f"expected pair-swapped blocks, got bounds {bounds}"
    # and the stream replays every row exactly once
    n_src = sum(pq.read_metadata(f).num_rows for f in scratch)
    assert spark.table("ooo_probe").count() == n_src


def test_jaccard_span_batching_on_hot_vertex(spark):
    """Star graph K1,60 (one hub of degree 60): every leaf pair shares
    exactly the hub, so jaccard = 1/(1+1-1) = 1.0 for all C(60,2) pairs.
    A tiny group_size forces many spans — the result must be identical to
    the unbatched (single-span) run, pair-for-pair (JaccardIndex.java:
    187-202 GenerateGroupSpans invariance)."""
    from proteus_engine_spark.graph import adamic_adar, jaccard_index

    n = 60
    edges = spark.createDataFrame(
        [(0, i) for i in range(1, n + 1)], "src long, dst long"
    )
    small = jaccard_index(edges, group_size=7).collect()
    big = jaccard_index(edges, group_size=10_000).collect()
    assert len(small) == n * (n - 1) // 2
    assert {(r["u"], r["v"]) for r in small} == {(r["u"], r["v"]) for r in big}
    assert all(r["jaccard_score"] == 1.0 for r in small)
    # adamic-adar on the same graph: every pair scores 1/ln(60)
    import math

    aa = adamic_adar(edges, group_size=7).collect()
    assert len(aa) == n * (n - 1) // 2
    assert all(abs(r["aa_score"] - 1 / math.log(n)) < 1e-12 for r in aa)


def test_shared_neighbor_spans_are_bounded(spark):
    """The span frame's member arrays never exceed group_size — the
    per-task explode fan-out bound that makes hubs safe."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.graph.library import _shared_neighbor_pairs

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 41)], "src long, dst long"
    )
    adj = edges.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    ).union(edges.select(F.col("dst").alias("v"), F.col("src").alias("w")))
    pairs = _shared_neighbor_pairs(adj, group_size=8)
    # structural bound: count pairs per (shared) — fan-out exists, but the
    # plan's explode inputs are ≤ 8 members; verify via the pair count and
    # the exact pair set (0..40 star: C(40,2) pairs through vertex 0)
    assert pairs.count() == 40 * 39 // 2
    got = {(r["u"], r["v"]) for r in pairs.collect()}
    assert got == {(i, j) for i in range(1, 41) for j in range(i + 1, 41)}


def test_triadic_census_small_graph(spark):
    """Triangle + pendant edge + isolated-in-triple vertex: counts match a
    hand enumeration (TriadicCensus.java:99-120 formulas)."""
    from proteus_engine_spark.graph import triadic_census

    # vertices 1,2,3 triangle; 4 attached to 3; n=4
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    r = triadic_census(edges).collect()[0]
    # triples: {123}=3 edges; {124}=1 (12); {134}=2 (13,34); {234}=2 (23,34)
    assert (r["t0"], r["t1"], r["t2"], r["t3"]) == (0, 1, 2, 1)


def test_community_detection_two_cliques(spark):
    """Two triangles joined by one bridge edge: after a few supersteps each
    clique converges to its minimum label (hop-attenuated scores keep the
    bridge from flipping a whole clique)."""
    from proteus_engine_spark.graph import community_detection

    tri1 = [(1, 2), (2, 3), (1, 3)]
    tri2 = [(11, 12), (12, 13), (11, 13)]
    edges = spark.createDataFrame(tri1 + tri2 + [(3, 11)], "src long, dst long")
    labels = {
        r["vertex"]: r["label"]
        for r in community_detection(edges, iterations=4).collect()
    }
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[11] == labels[12] == labels[13]


def test_bounded_over_proc_mode_arrival_order(spark):
    """ProcTimeBoundedRowsOver parity: proc mode processes in arrival
    order (batch by batch), emits immediately, carries the window tail —
    the event at minute 5 arriving AFTER minute 10 extends the arrival-
    order window, unlike event mode which re-sequences."""
    from proteus_engine_spark.streaming.stateful import bounded_over_agg

    a = [_ev(1, 10, 1, "x", 10.0)]
    b = [_ev(2, 5, 1, "x", 20.0)]  # earlier event time, later arrival
    out = bounded_over_agg(
        _two_batch_stream(spark, a, b, EV_SCHEMA),
        "user_id", "ts", "value", n_rows=2, time_mode="proc",
    )
    collected = run_to_completion(out, "bover_proc_test", "append").collect()
    rows = sorted(collected, key=lambda r: r["event_id"])
    # arrival order: id1 first (w_sum 10), id2 second (window = 10+20)
    assert [(r["event_id"], r["w_sum"], r["w_cnt"]) for r in rows] == [
        (1, 10.0, 1), (2, 30.0, 2),
    ]


def test_running_over_proc_vs_event_mode(spark):
    """Same out-of-order feed: proc mode accumulates in arrival order,
    event mode re-sequences to event-time order — their running sums at
    the same event differ accordingly."""
    from proteus_engine_spark.streaming.stateful import running_over_agg

    a = [_ev(1, 10, 1, "x", 10.0), _ev(2, 11, 1, "x", 20.0)]
    b = [_ev(3, 5, 1, "x", 5.0)]   # event-time-first, arrival-last
    c = [_ev(9, 40, 1, "x", 1.0)]  # watermark pusher
    proc = running_over_agg(
        _three_batch_stream(spark, a, b, c, EV_SCHEMA),
        "user_id", "ts", "value", time_mode="proc",
    )
    collected = run_to_completion(proc, "rover_proc_test", "append").collect()
    rows = {r["event_id"]: r for r in collected}
    assert rows[3]["running_sum"] == 35.0  # arrived after 10+20
    event = running_over_agg(
        _three_batch_stream(spark, a, b, c, EV_SCHEMA),
        "user_id", "ts", "value", time_mode="event", watermark_delay="7 minutes",
    )
    collected = run_to_completion(event, "rover_event_test", "append").collect()
    erows = {r["event_id"]: r for r in collected}
    # event-time order: minute 5 is FIRST (sum 5), then 10 (15), then 11 (35)
    assert erows[3]["running_sum"] == 5.0
    assert erows[1]["running_sum"] == 15.0
    assert erows[2]["running_sum"] == 35.0


def test_event_time_sort_reorders_across_batches(spark):
    from proteus_engine_spark.streaming.stateful import event_time_sort

    a = [_ev(4, 10, 1, "x"), _ev(5, 11, 1, "x")]
    b = [_ev(1, 5, 1, "x")]
    c = [_ev(9, 40, 1, "x")]  # pusher, stays buffered
    out = event_time_sort(
        _three_batch_stream(spark, a, b, c, EV_SCHEMA),
        "user_id", "ts", watermark_delay="7 minutes",
    )
    collected = run_to_completion(out, "ets_ooo_test", "append").collect()
    rows = sorted(collected, key=lambda r: r["seq"])
    assert [(r["event_id"], r["seq"]) for r in rows] == [(1, 1), (4, 2), (5, 3)]


# ---------------- FlinkML stragglers: SOS + Splitter ----------------


def _sos_reference(vectors, perplexity=30.0, max_iterations=5000, tol=1e-20):
    """Independent scalar re-derivation of SOS (per-row recursive
    bisection, written from the paper's definition — deliberately NOT the
    vectorized engine shape) used to cross-check the operator."""
    import math

    import numpy as np

    n = len(vectors)
    V = np.asarray(vectors, dtype=float)
    D = np.sqrt(
        np.maximum(
            (V * V).sum(1)[:, None] + (V * V).sum(1)[None, :] - 2 * (V @ V.T), 0
        )
    )
    A = np.zeros((n, n))
    log_perp = math.log(perplexity)
    for i in range(n):
        beta, bmin, bmax = 1.0, -math.inf, math.inf
        for _ in range(max_iterations):
            a = np.array(
                [math.exp(-D[i, j] * beta) if j != i else 0.0 for j in range(n)]
            )
            s = a.sum()
            h = math.log(s) + beta * float((D[i] * a).sum()) / s if s > 0 else float("nan")
            diff = h - log_perp
            if abs(diff) <= tol:
                break
            if math.isnan(diff):
                beta = beta / 10.0
            elif diff > 0:
                bmin, beta = beta, (beta * 2.0 if math.isinf(bmax) else (beta + bmax) / 2)
            else:
                bmax, beta = beta, (beta / 2.0 if math.isinf(bmin) else (beta + bmin) / 2)
        A[i] = a
    B = A / A.sum(1, keepdims=True)
    return np.prod(1.0 - B, axis=0)


def test_sos_matches_independent_reference(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 4))
    vecs[0] += 25.0  # a far outlier
    from proteus_engine_spark.ml import stochastic_outlier_selection

    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: r["outlier_prob"]
        for r in stochastic_outlier_selection(df, perplexity=10.0).collect()
    }
    want = _sos_reference(vecs, perplexity=10.0)
    for i in range(40):
        assert abs(got[i] - want[i]) < 1e-9, (i, got[i], want[i])
    # the planted outlier scores near 1, inliers well below
    assert got[0] > 0.95
    assert sorted(got, key=got.get)[-1] == 0


def test_sos_blocked_scoring(spark):
    """block_col scores outliers within blocks independently — the
    100 TB sharding contract."""
    import numpy as np

    from proteus_engine_spark.ml import stochastic_outlier_selection

    rng = np.random.default_rng(1)
    rows = []
    for blk in (0, 1):
        vs = rng.normal(size=(20, 3))
        vs[5] += 40.0
        rows += [
            (blk * 100 + i, [float(x) for x in v], blk) for i, v in enumerate(vs)
        ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, blk int")
    got = {
        r["vec_id"]: r["outlier_prob"]
        for r in stochastic_outlier_selection(
            df, perplexity=5.0, block_col="blk"
        ).collect()
    }
    assert len(got) == 40
    assert got[5] > 0.9 and got[105] > 0.9


def test_train_test_split_disjoint_exhaustive(spark):
    from proteus_engine_spark.ml import train_test_split

    df = spark.range(1000)
    train, test = train_test_split(df, fraction=0.8, seed=42)
    a = {r["id"] for r in train.collect()}
    b = {r["id"] for r in test.collect()}
    assert a.isdisjoint(b)
    assert a | b == set(range(1000))
    assert 700 < len(a) < 900  # Bernoulli around 800
    # deterministic per seed
    a2 = {r["id"] for r in train_test_split(df, fraction=0.8, seed=42)[0].collect()}
    assert a2 == a


# ---------------- GSA + Pregel iteration frameworks ----------------


def test_gather_sum_apply_sssp_equivalent(spark):
    """GSA SSSP (gsa/GatherSumApplyIteration.java shape: gather = dist +
    edge weight, sum = min, apply = keep improvement) equals the
    scatter-gather sssp on the same graph."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.graph.spargel import gather_sum_apply, sssp

    edges = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 2.0), (1, 3, 5.0), (3, 4, 1.0), (5, 6, 1.0)],
        "src long, dst long, w double",
    )
    verts = (
        edges.select(F.col("src").alias("vertex"))
        .union(edges.select(F.col("dst").alias("vertex")))
        .distinct()
        .withColumn(
            "distance",
            F.when(F.col("vertex") == 1, F.lit(0.0)).otherwise(F.lit(None)),
        )
    )
    out = gather_sum_apply(
        edges,
        verts,
        gather_expr=F.col("distance") + F.col("w"),
        sum_agg=F.min("__partial__"),
        apply_fn=lambda state, summed, _s: state.join(summed, "vertex").select(
            "vertex",
            F.when(  # NULL partials = unreached sources: keep old state
                F.col("__summed__").isNull(), F.col("distance")
            )
            .otherwise(
                F.least(
                    F.coalesce("distance", F.lit(float("inf"))), F.col("__summed__")
                )
            )
            .alias("distance"),
        ),
        max_iterations=5,
    )
    got = {
        r["vertex"]: r["distance"]
        for r in out.filter(F.col("distance").isNotNull()).collect()
    }
    assert got == {1: 0.0, 2: 1.0, 3: 3.0, 4: 4.0}
    want = {
        r["vertex"]: r["distance"]
        for r in sssp(edges, source=1, iterations=5, weight="w").collect()
    }
    assert got == want


def test_pregel_min_label_halts_early(spark):
    """Pregel connected-components (ComputeFunction parity): each vertex
    keeps the min label seen, sends only on improvement — the iteration
    halts when no messages are produced (vote-to-halt), well before
    max_iterations."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.graph.spargel import pregel

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (10, 11)], "src long, dst long"
    )
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    verts = (
        sym.select(F.col("src").alias("vertex")).distinct()
        .withColumn("label", F.col("vertex"))
    )

    def compute(state, msgs, edges_f, superstep):
        if superstep == 1:
            improved = state  # every vertex starts active, broadcasts its label
        else:
            best = msgs.groupBy("vertex").agg(F.min("m_label").alias("m_label"))
            improved = (
                state.join(best, "vertex")
                .filter(F.col("m_label") < F.col("label"))
                .select("vertex", F.col("m_label").alias("label"))
            )
        out_msgs = edges_f.join(
            improved.withColumnRenamed("vertex", "src"), "src"
        ).select(F.col("dst").alias("vertex"), F.col("label").alias("m_label"))
        return improved, out_msgs

    out = pregel(
        sym, verts, compute, max_iterations=20,
        message_schema="vertex long, m_label long",
    )
    got = {r["vertex"]: r["label"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


# ---------------- plan-shape regressions for round-7 operators ----------------


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_jaccard_plan_distributes_span_pairs(spark):
    """The span-pair explode must sit above a repartition keyed by
    (shared, si, sj) — the property that bounds per-task hub fan-out. If
    a refactor drops the repartition, pairs for one hub collapse back
    into one task."""
    from pyspark.sql import functions as F

    from proteus_engine_spark.graph import jaccard_index

    edges = spark.createDataFrame([(0, i) for i in range(1, 20)], "src long, dst long")
    plan = _plan(jaccard_index(edges, group_size=4))
    assert "REPARTITION_BY_COL" in plan or "RepartitionByExpression" in plan, plan[:500]
    # and the pair explode is a Generate node (JVM explode, not Python)
    assert "Generate explode" in plan


def test_sssp_no_python_in_plan(spark):
    """The scatter-gather loop's per-superstep plan is pure Catalyst —
    no Python workers anywhere (messages = join, gather = agg)."""
    from proteus_engine_spark.graph.spargel import sssp

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    plan = _plan(sssp(edges, source=1, iterations=2))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------- streaming OVER SQL dispatch ----------------


def test_stream_over_sql_parses_all_shapes(spark):
    import pytest

    from proteus_engine_spark.plans.stream_over_sql import stream_over_sql

    a = [_ev(1, 1, 1, "x", 10.0), _ev(2, 2, 1, "x", 20.0)]
    b = [_ev(9, 40, 1, "x", 1.0)]
    shapes = {
        "rows": "AVG(value) OVER (PARTITION BY user_id ORDER BY ts "
                "ROWS BETWEEN 1 PRECEDING AND CURRENT ROW)",
        "range": "COUNT(value) OVER (PARTITION BY user_id ORDER BY ts RANGE "
                 "BETWEEN INTERVAL '5' MINUTE PRECEDING AND CURRENT ROW)",
        "unbounded": "SUM(value) OVER (PARTITION BY user_id ORDER BY ts "
                     "ROWS UNBOUNDED PRECEDING)",
    }
    want = {"rows": [10.0, 15.0], "range": [1, 2], "unbounded": [10.0, 30.0]}
    for name, expr in shapes.items():
        out = stream_over_sql(
            _two_batch_stream(spark, a, b, EV_SCHEMA), expr,
            watermark_delay="0 seconds", alias="x",
        )
        rows = sorted(
            run_to_completion(out, f"sql_over_{name}", "append").collect(),
            key=lambda r: r["event_id"],
        )
        assert [r["x"] for r in rows[:2]] == want[name], name
    # shapes the reference rejects are rejected, not silently mis-planned
    for bad in (
        "SUM(value) OVER (PARTITION BY user_id ORDER BY ts DESC)",
        "SUM(value) OVER (ORDER BY ts)",
        "MEDIAN(value) OVER (PARTITION BY user_id ORDER BY ts)",
        "SUM(value) OVER (PARTITION BY user_id ORDER BY ts "
        "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    ):
        with pytest.raises(ValueError):
            stream_over_sql(_two_batch_stream(spark, a, b, EV_SCHEMA), bad)


# ---------------- randomized cross-check of the watermark buffer ----------------


def test_bounded_over_randomized_vs_batch_window(spark):
    """Seeded random events, shuffled into random micro-batches with
    bounded lateness: the streaming bounded ROWS and RANGE operators must
    equal the batch-window computation for every row the watermark
    passed. This exercises buffer carry, multi-flush releases, peer ties,
    and timeout flushes in one go."""
    import os
    import tempfile

    import numpy as np
    from pyspark.sql import functions as F

    from proteus_engine_spark.streaming.stateful import (
        bounded_over_agg,
        bounded_range_over_agg,
    )

    rng = np.random.default_rng(42)
    n = 120
    # minute offsets with duplicates (peer ties for RANGE) over ~4 hours
    minutes = np.sort(rng.integers(0, 240, size=n))
    users = rng.integers(1, 4, size=n)
    values = np.round(rng.uniform(0.5, 99.5, size=n), 2)
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    rows = [
        (
            int(i),
            base + timedelta(minutes=int(minutes[i])),
            int(users[i]),
            "x",
            float(values[i]),
        )
        for i in range(n)
    ]
    # batches: contiguous time slices, adjacent pairs swapped (lateness
    # bounded by two slices = 60 min < the 90-min watermark delay)
    slices = [[r for r in rows if lo <= r[1].minute + r[1].hour * 60 < lo + 30]
              for lo in range(0, 240, 30)]
    order = [1, 0, 3, 2, 5, 4, 7, 6]
    d = tempfile.mkdtemp(prefix="proteus_rand_ooo_")
    src = f"{d}/src"
    os.makedirs(src)
    written = 0
    for pos, si in enumerate(order):
        if not slices[si]:
            continue
        spark.createDataFrame(slices[si], EV_SCHEMA).coalesce(1).write.parquet(
            f"{d}/b{pos}"
        )
        part = [f for f in os.listdir(f"{d}/b{pos}") if f.endswith(".parquet")][0]
        os.rename(f"{d}/b{pos}/{part}", f"{src}/{pos:02d}.parquet")
        written += len(slices[si])
    assert written == n

    def stream():
        return (
            spark.readStream.schema(EV_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    # batch expectation via Spark SQL window on the full data
    batch = spark.createDataFrame(rows, EV_SCHEMA)
    max_ts = batch.agg(F.max("ts")).collect()[0][0]
    from pyspark.sql.window import Window

    w_rows = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 0)
    )
    exp_rows = {
        r["event_id"]: (round(r["s"], 6), r["c"])
        for r in batch.select(
            "event_id", "ts",
            F.sum(F.col("value").cast("decimal(18,2)")).over(w_rows).cast("double").alias("s"),
            F.count(F.lit(1)).over(w_rows).alias("c"),
        ).collect()
    }
    got = bounded_over_agg(
        stream(), "user_id", "ts", "value", n_rows=3, watermark_delay="90 minutes"
    )
    rows_out = run_to_completion(got, "rand_bover", "append").collect()
    assert len(rows_out) > n // 2  # the watermark passed most rows
    for r in rows_out:
        s, c = exp_rows[r["event_id"]]
        assert round(r["w_sum"], 6) == s and r["w_cnt"] == c, r["event_id"]

    # RANGE 45 minutes — peers at equal ts share complete frames
    w_rng = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-45 * 60, 0)
    )
    exp_rng = {
        r["event_id"]: (round(r["s"], 6), r["c"])
        for r in batch.select(
            "event_id",
            F.sum(F.col("value").cast("decimal(18,2)")).over(w_rng).cast("double").alias("s"),
            F.count(F.lit(1)).over(w_rng).alias("c"),
        ).collect()
    }
    got2 = bounded_range_over_agg(
        stream(), "user_id", "ts", "value",
        range_ms=45 * 60_000, watermark_delay="90 minutes",
    )
    rows_out2 = run_to_completion(got2, "rand_brange", "append").collect()
    assert len(rows_out2) > n // 2
    for r in rows_out2:
        s, c = exp_rng[r["event_id"]]
        assert round(r["w_sum"], 6) == s and r["w_cnt"] == c, r["event_id"]


def test_running_over_range_frame_peer_groups(spark):
    """frame='range': rows sharing a timestamp all report the peer
    group's closing aggregate (RowTimeUnboundedRangeOver), while
    frame='rows' gives each row its own prefix."""
    import pytest

    from proteus_engine_spark.streaming.stateful import running_over_agg

    a = [_ev(1, 1, 1, "x", 10.0), _ev(2, 1, 1, "x", 20.0)]  # peers at minute 1
    b = [_ev(3, 2, 1, "x", 5.0), _ev(9, 40, 1, "x", 1.0)]
    rng = running_over_agg(
        _two_batch_stream(spark, a, b, EV_SCHEMA),
        "user_id", "ts", "value", frame="range", watermark_delay="0 seconds",
    )
    collected = run_to_completion(rng, "rrange_test", "append").collect()
    rows = {r["event_id"]: r for r in collected}
    assert rows[1]["running_sum"] == 30.0 and rows[2]["running_sum"] == 30.0
    assert rows[1]["running_cnt"] == 2 and rows[2]["running_cnt"] == 2
    assert rows[3]["running_sum"] == 35.0 and rows[3]["running_cnt"] == 3

    rws = running_over_agg(
        _two_batch_stream(spark, a, b, EV_SCHEMA),
        "user_id", "ts", "value", frame="rows", watermark_delay="0 seconds",
    )
    collected = run_to_completion(rws, "rrows_test", "append").collect()
    rows = {r["event_id"]: r for r in collected}
    assert rows[1]["running_cnt"] == 1 and rows[2]["running_cnt"] == 2

    with pytest.raises(ValueError):
        running_over_agg(
            _two_batch_stream(spark, a, b, EV_SCHEMA),
            "user_id", "ts", "value", frame="range", time_mode="proc",
        )


# ---------------- CEP AfterMatchSkipStrategy ----------------

import pandas as pd
import pytest

from proteus_engine_spark.streaming.cep import Pattern, _run_nfa


def _frame(events):
    """events: (event_id, ts_ms, event_type)"""
    return pd.DataFrame(
        {
            "event_id": [e[0] for e in events],
            "ts": pd.to_datetime([e[1] for e in events], unit="ms"),
            "event_type": [e[2] for e in events],
        }
    )


def _etype(t):
    return lambda r: r["event_type"] == t


def _ab_pattern(skip=None, name=None):
    pat = Pattern.begin("a", _etype("a")).one_or_more().followed_by("b", _etype("b"))
    if skip:
        pat = pat.after_match_skip(skip, name)
    return pat


_AB_INPUT = [(1, 1, "a"), (2, 2, "a"), (3, 3, "b"), (4, 4, "a"), (5, 5, "b")]


def _matches(pat, events=_AB_INPUT):
    m, _open, _t = _run_nfa(_frame(events), pat, "ts", "event_id")
    return sorted((x["a"][0], x["a"][2], x["b"][0]) for x in m)


def test_skip_no_skip_baseline():
    """a+ b over a1 a2 b3 a4 b5, NO_SKIP: at b3 the loop branches emit
    (a1,1) (a2,2) (a2-start,1); surviving loop branches extend with a4 and
    close at b5."""
    got = _matches(_ab_pattern())
    assert (1, 1, 3) in got and (2, 2, 3) in got and (2, 1, 3) in got
    assert any(b == 5 for _a, _c, b in got)
    assert len(got) > 4


def test_skip_past_last_event():
    """SKIP_PAST_LAST_EVENT: all matches completing AT b3 are emitted
    (same-element completions never prune each other), then every partial
    holding a1/a2/b3 dies — so b5 matches contain ONLY a4."""
    got = _matches(_ab_pattern("skip_past_last_event"))
    at_b3 = [x for x in got if x[2] == 3]
    at_b5 = [x for x in got if x[2] == 5]
    assert sorted(at_b3) == [(1, 1, 3), (2, 1, 3), (2, 2, 3)]
    assert at_b5 == [(4, 1, 5)]


def _times3_matches(skip=None, name=None):
    """a.times(3) fby c over a1 a2 a3 c4 a5 a6 c7: the c4 match M has
    first(a)=a1, last(a)=a3, and two live partials started at a2 and a3 —
    the scenario that separates all three strategies."""
    pat = Pattern.begin("a", _etype("a")).times(3).followed_by("c", _etype("c"))
    if skip:
        pat = pat.after_match_skip(skip, name)
    events = [(1, 1, "a"), (2, 2, "a"), (3, 3, "a"), (4, 4, "c"),
              (5, 5, "a"), (6, 6, "a"), (7, 7, "c")]
    m, _o, _t = _run_nfa(_frame(events), pat, "ts", "event_id")
    return sorted((x["a"][0], x["c"][0]) for x in m)


def test_skip_to_first_vs_last_vs_past():
    """The same input under the four strategies (AfterMatchSkipStrategy
    .java semantics, hand-derived):
    - no_skip: c4 match + both surviving partials close at c7;
    - skip_to_first('a'): bar = a1 — nothing started before it, same as
      no_skip here;
    - skip_to_last('a'): bar = a3 — the a2-started partial dies, the
      a3-started one lives;
    - skip_past_last_event: both partials share a2/a3 with the emitted
      match and die; a5 a6 alone can't reach times(3)."""
    assert _times3_matches() == [(3, 4), (5, 7), (6, 7)]
    assert _times3_matches("skip_to_first", "a") == [(3, 4), (5, 7), (6, 7)]
    assert _times3_matches("skip_to_last", "a") == [(3, 4), (6, 7)]
    assert _times3_matches("skip_past_last_event") == [(3, 4)]


def test_skip_strategy_validation():
    with pytest.raises(ValueError):
        _ab_pattern("skip_to_first")  # missing pattern_name
    with pytest.raises(ValueError):
        _ab_pattern("skip_past_last_event", "a")  # spurious name
    with pytest.raises(ValueError):
        _ab_pattern("bogus")
    with pytest.raises(ValueError):
        pat = _ab_pattern("skip_to_first", "zzz")
        _run_nfa(_frame(_AB_INPUT), pat, "ts", "event_id")


def test_skip_strategies_are_subsets_of_no_skip():
    base = set(_matches(_ab_pattern()))
    for kind, name in [
        ("skip_past_last_event", None),
        ("skip_to_first", "a"),
        ("skip_to_last", "a"),
    ]:
        assert set(_matches(_ab_pattern(kind, name))) <= base, kind


def test_skip_strategy_spans_micro_batches(spark):
    """skip_past_last_event across a batch boundary: the emission at b3
    (batch 1) must prune the carried partials so an a in batch 2 starts
    fresh — streaming result equals the batch NFA's (the pruning lives in
    the shared _scan, so state needs no extra history)."""
    from proteus_engine_spark.streaming.cep import match_pattern, match_pattern_stream

    pat = (
        Pattern.begin("a", _etype("a")).one_or_more()
        .followed_by("b", _etype("b"))
        .after_match_skip("skip_past_last_event")
    )
    a = [_ev(1, 1, 1, "a"), _ev(2, 2, 1, "a"), _ev(3, 3, 1, "b")]
    b = [_ev(4, 4, 1, "a"), _ev(5, 5, 1, "b")]
    stream_out = match_pattern_stream(
        _two_batch_stream(spark, a, b, EV_SCHEMA), pat, key_col="user_id"
    )
    got = sorted(
        (r["a_id"], r["a_cnt"], r["b_id"])
        for r in run_to_completion(stream_out, "skip_stream_test", "append").collect()
    )
    batch = spark.createDataFrame(a + b, EV_SCHEMA)
    want = sorted(
        (r["a_id"], r["a_cnt"], r["b_id"])
        for r in match_pattern(batch, pat, key_col="user_id").collect()
    )
    assert got == want
    assert (4, 1, 5) in got and all(not (x[0] in (1, 2) and x[2] == 5) for x in got)


# ---------------- CEP condition composition (where / or / subtype) ----------------


def test_cep_where_or_subtype_composition():
    """where() conjoins, or_where() disjoins, subtype() is the
    discriminator conjunction (Pattern.java:123/142/166) — and the SQL
    mirrors compose so prefilter pushdown stays exact."""
    events = [
        (1, 1, "signup"), (2, 2, "click"), (3, 3, "purchase"),
        (4, 4, "signup"), (5, 5, "view"), (6, 6, "purchase"),
    ]
    # signup followedBy (purchase OR view): or_where widens step 2
    pat = (
        Pattern.begin("s", _etype("signup"), expr="event_type = 'signup'")
        .followed_by("x", _etype("purchase"), expr="event_type = 'purchase'")
        .or_where(_etype("view"), expr="event_type = 'view'")
    )
    m, _o, _t = _run_nfa(_frame(events), pat, "ts", "event_id")
    assert sorted((x["s"][0], x["x"][0]) for x in m) == [(1, 3), (4, 5)]
    assert "OR" in pat.prefilter_expr()

    # where() narrows: even-id purchases only
    pat2 = (
        Pattern.begin("s", _etype("signup"), expr="event_type = 'signup'")
        .followed_by("p", _etype("purchase"), expr="event_type = 'purchase'")
        .where(lambda r: r["event_id"] % 2 == 0, expr="event_id % 2 = 0")
    )
    m2, _o, _t = _run_nfa(_frame(events), pat2, "ts", "event_id")
    assert sorted((x["s"][0], x["p"][0]) for x in m2) == [(1, 6), (4, 6)]

    # subtype(): same conjunction semantics, chained with a further where
    pat3 = (
        Pattern.begin("e", lambda r: True, expr="true")
        .subtype(_etype("purchase"), expr="event_type = 'purchase'")
        .where(lambda r: r["event_id"] > 3, expr="event_id > 3")
    )
    m3, _o, _t = _run_nfa(_frame(events), pat3, "ts", "event_id")
    assert sorted(x["e"][0] for x in m3) == [6]

    # composing with an undeclared expr disables the prefilter (soundness)
    pat4 = (
        Pattern.begin("s", _etype("signup"), expr="event_type = 'signup'")
        .followed_by("p", _etype("purchase"), expr="event_type = 'purchase'")
        .where(lambda r: r["event_id"] % 2 == 0)  # no expr
    )
    assert pat4.prefilter_expr() is None
