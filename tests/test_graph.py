"""Graph library tests (Gelly parity) on hand-computable graphs."""

from __future__ import annotations

import pytest

from proteus_engine_spark.graph import (
    degrees,
    jaccard_index,
    label_propagation,
    page_rank,
    triangle_list,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_degrees_directed(spark):
    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (4, 1)])
    got = {r["vertex"]: (r["out_degree"], r["in_degree"], r["degree"])
           for r in degrees(e).collect()}
    assert got == {1: (2, 1, 3), 2: (1, 1, 2), 3: (0, 2, 2), 4: (1, 0, 1)}


def test_triangle_list_k4_plus_tail(spark):
    # K4 on {1,2,3,4} has 4 triangles; tail 4-5 adds none. Duplicate and
    # reversed edges must not duplicate triangles.
    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    e = _edges(spark, k4 + [(4, 5), (2, 1), (1, 2)])
    tris = sorted(tuple(r) for r in triangle_list(e).collect())
    assert tris == [(1, 2, 3), (1, 2, 4), (1, 3, 4), (2, 3, 4)]


def test_page_rank_cycle_uniform(spark):
    e = _edges(spark, [(1, 2), (2, 3), (3, 1)])
    scores = {r["vertex"]: r["score"] for r in page_rank(e, 0.85, 5).collect()}
    for v in (1, 2, 3):
        assert scores[v] == pytest.approx(1 / 3)


def test_page_rank_sink_mass_redistributed(spark):
    # a→b with b a sink: after one iteration with d=0.85,
    # sinkMass=0.5, base=((0.15)+0.85*0.5)/2=0.2875, contrib(b)=0.85*0.5.
    e = _edges(spark, [(1, 2)])
    scores = {r["vertex"]: r["score"] for r in page_rank(e, 0.85, 1).collect()}
    assert scores[1] == pytest.approx(0.2875)
    assert scores[2] == pytest.approx(0.7125)
    assert sum(scores.values()) == pytest.approx(1.0)  # mass conserved


def test_label_propagation_path_adopts_greatest(spark):
    # Symmetrized path 1-2-3: every step is all-ties at frequency 1, the
    # greater label wins (LabelPropagation.java:129-141) → all converge to 3.
    e = _edges(spark, [(1, 2), (2, 1), (2, 3), (3, 2)])
    got = {r["vertex"]: r["label"] for r in label_propagation(e, iterations=5).collect()}
    assert got == {1: 3, 2: 3, 3: 3}


def test_label_propagation_probe_runs_no_join(spark):
    """The convergence probe is the `changed` flag gather computes over
    its own per-vertex window, checked by a filter-isEmpty scan of the
    superstep's checkpoint. The former prev-vs-cur join probe made a
    2-superstep run on this graph take 33-35 jobs; the flag takes 27-29."""
    import warnings

    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4), (3, 4), (7, 8)])
    sc = spark.sparkContext
    sc.setJobGroup("label_propagation_probe", "2 supersteps")
    try:
        with warnings.catch_warnings():
            warnings.simplefilter("ignore", RuntimeWarning)  # not a fixpoint
            out = label_propagation(e, iterations=2)
    finally:
        sc._jsc.clearJobGroup()
    jobs = len(sc.statusTracker().getJobIdsForGroup("label_propagation_probe"))
    got = {r["vertex"]: r["label"] for r in out.collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 6, 5: 6, 6: 6, 7: 7, 8: 8}
    assert out.columns == ["vertex", "label"]
    assert jobs <= 31, jobs


def test_jaccard_square(spark):
    # 4-cycle: (1,3) and (2,4) each share both neighbors → jaccard 1.0;
    # adjacent pairs share none and are absent.
    e = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    got = {(r["u"], r["v"]): r["jaccard_score"] for r in jaccard_index(e).collect()}
    assert got == {(1, 3): pytest.approx(1.0), (2, 4): pytest.approx(1.0)}


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_graph_plans_stay_jvm_side(spark):
    """Plan-shape pins: every graph algorithm is pure Catalyst (no Python
    eval nodes in the data path), and the materialization points bound
    subplan fan-out — the triangle plan must not re-derive the caller's
    edge construction per branch (it referenced the raw scan 60× before
    the localCheckpoint truncation)."""
    e = _edges(spark, [(a, b) for a in range(1, 6) for b in range(1, 6) if a < b])
    for df in (degrees(e), triangle_list(e), jaccard_index(e)):
        p = _plan(df)
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    # post-materialization the triangle plan reads checkpointed RDDs, not
    # a per-branch replay of the edge subplan
    tri = _plan(triangle_list(e))
    assert tri.count("Scan ExistingRDD") <= 6


def test_hits_star(spark):
    # 1→2 ← 3: vertex 2 is the sole authority (score 1); hubs 1 and 3
    # split the hubbiness mass (1/sqrt(2) each after L2 normalization).
    from proteus_engine_spark.graph.library import hits

    e = _edges(spark, [(1, 2), (3, 2)])
    got = {r["vertex"]: (r["hub_score"], r["authority_score"])
           for r in hits(e, iterations=2).collect()}
    inv_sqrt2 = 1 / 2 ** 0.5
    assert got[2] == (pytest.approx(0.0), pytest.approx(1.0))
    assert got[1] == (pytest.approx(inv_sqrt2), pytest.approx(0.0))
    assert got[3] == (pytest.approx(inv_sqrt2), pytest.approx(0.0))


def test_local_clustering_coefficient(spark):
    # K4 plus tail 4-5: K4-only vertices have lcc 1 (3 triangles / C(3,2));
    # vertex 4 has degree 4 → 3/6; vertex 5 has degree 1 → 0.
    from proteus_engine_spark.graph.library import local_clustering_coefficient

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    e = _edges(spark, k4 + [(4, 5)])
    got = {r["vertex"]: (r["degree"], r["triangle_count"], r["lcc"])
           for r in local_clustering_coefficient(e).collect()}
    assert got[1] == (3, 3, pytest.approx(1.0))
    assert got[4] == (4, 3, pytest.approx(0.5))
    assert got[5] == (1, 0, pytest.approx(0.0))


def test_summarize_groups_and_rolls_up(spark):
    from proteus_engine_spark.graph.library import summarize

    verts = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "y"), (4, "z")], "vertex long, value string"
    )
    e = _edges(spark, [(1, 3), (2, 3), (1, 2), (3, 4)])
    sv, se = summarize(verts, e)
    got_v = {r["value"]: (r["vertex"], r["count"]) for r in sv.collect()}
    assert got_v == {"x": (1, 2), "y": (3, 1), "z": (4, 1)}
    got_e = {(r["src"], r["dst"]): r["count"] for r in se.collect()}
    # 1→3 and 2→3 roll up to (1,3):2; 1→2 becomes the super-self-loop (1,1)
    assert got_e == {(1, 3): 2, (1, 1): 1, (3, 4): 1}


def test_vertex_metrics_k4_tail(spark):
    from proteus_engine_spark.graph.library import vertex_metrics

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    e = _edges(spark, k4 + [(4, 5)])
    r = vertex_metrics(e).collect()[0]
    assert (r["n_vertices"], r["n_edges"], r["sum_degree"], r["max_degree"]) == (5, 7, 14, 4)
    assert r["n_triplets"] == 3 * 3 + 6  # three C(3,2) vertices + C(4,2)
