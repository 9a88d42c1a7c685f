"""Gelly library algorithms on DataFrames (SURVEY §2.11).

The reference ships a graph library in-tree (flink-libraries/flink-gelly):
vertex metrics (library/metric/.../VertexMetrics.java, Graph.java
inDegrees/outDegrees/getDegrees), TriangleEnumerator.java,
linkanalysis/PageRank.java, LabelPropagation.java, and
similarity/JaccardIndex.java. ConnectedComponents and
SingleSourceShortestPaths already live in `operators.iterations` as the
iterate/iterateDelta clients.

Spark-first: a graph here is just an edge DataFrame (src, dst) — every
algorithm is joins + aggregations Catalyst can plan (shuffle on vertex
ids, AQE-coalesced). Every iterative one truncates lineage per step:
label_propagation runs on `iterations.iterate` (through
`spargel.scatter_gather`); page_rank and hits run fixed-count loops of
their own (no convergence probe), pinning each step's frames with
localCheckpoint. Nothing crosses into Python.

Scale notes per algorithm are on the functions; the one deliberate
driver-side value is PageRank's per-iteration sink-mass scalar (one
double per iteration — the same global aggregate the reference computes
as a broadcast set, PageRank.java:420-427).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _vertices(edges: DataFrame, src: str, dst: str) -> DataFrame:
    return (
        edges.select(F.col(src).alias("vertex"))
        .union(edges.select(F.col(dst).alias("vertex")))
        .distinct()
    )


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """The canonical undirected edge set (a, b), a < b: self-loops
    dropped, each edge once whatever its direction or multiplicity."""
    a, b = F.col(src), F.col(dst)
    return (
        edges.filter(a != b)
        .select(F.least(a, b).alias("a"), F.greatest(a, b).alias("b"))
        .distinct()
    )


def _adjacency(sym: DataFrame) -> DataFrame:
    """Both directions (v, w) of an undirected edge set: "v has neighbor
    w"."""
    return sym.select(F.col("a").alias("v"), F.col("b").alias("w")).union(
        sym.select(F.col("b").alias("v"), F.col("a").alias("w"))
    )


def degrees(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Vertex degrees on a directed edge list — Graph.java
    outDegrees():736 / inDegrees():768 / getDegrees():789 (out + in, the
    sum Gelly returns) and library/metric VertexMetrics. One shuffle per
    direction on the vertex id, map-side combined; the outer join is a
    co-partitioned merge on the same key."""
    outd = edges.groupBy(F.col(src).alias("vertex")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    ind = edges.groupBy(F.col(dst).alias("vertex")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        outd.join(ind, "vertex", "full_outer")
        .select(
            "vertex",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            (
                F.coalesce("out_degree", F.lit(0)) + F.coalesce("in_degree", F.lit(0))
            ).alias("degree"),
        )
    )


def triangle_list(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Enumerate triangles — TriangleEnumerator.java:59 (the classic
    Schank/Wagner degree-ordered algorithm the reference implements:
    edges are oriented from the lower-degree endpoint, triads are built on
    the low vertex, and a join with the oriented edge set closes them).

    Orientation by (degree, id) bounds each vertex's out-neighborhood by
    O(sqrt(E)), so the triad fan-out — the quadratic step — is bounded per
    vertex regardless of hub skew; without it a single hot vertex with d
    neighbors produces d² triads. Output is (v1, v2, v3), v1 < v2 < v3 by
    id, one row per triangle."""
    # canonical undirected edge set, self-loops dropped — materialized
    # once (localCheckpoint, the iterate-primitive discipline): it feeds
    # the degree agg AND the orientation join, and without truncation the
    # caller's edge-construction subplan (often a self-join) re-executes
    # per branch — the triangle plan referenced the raw scan 60× before.
    sym = _undirected(edges, src, dst).localCheckpoint(eager=True)
    deg = (
        sym.select(F.col("a").alias("vertex"))
        .union(sym.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient a→b iff (d(a), a) < (d(b), b)
    withd = (
        sym.join(deg.withColumnRenamed("vertex", "a").withColumnRenamed("d", "da"), "a")
        .join(deg.withColumnRenamed("vertex", "b").withColumnRenamed("d", "db"), "b")
    )
    lower_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    # referenced three times (both triad sides + the closing-edge probe)
    oriented = withd.select(
        F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        F.when(lower_first, F.col("db")).otherwise(F.col("da")).alias("dv"),
    ).localCheckpoint(eager=True)
    e1 = oriented.select(
        F.col("u").alias("u1"), F.col("v").alias("v1"), F.col("dv").alias("d1")
    )
    e2 = oriented.select(
        F.col("u").alias("u2"), F.col("v").alias("v2"), F.col("dv").alias("d2")
    )
    # pair the out-neighbors of each low vertex in ≺ = (degree, id) order;
    # the closing edge is then oriented v1→v2 by construction
    triads = e1.join(
        e2,
        (F.col("u1") == F.col("u2"))
        & (F.struct("d1", "v1") < F.struct("d2", "v2")),
    ).select("u1", "v1", "v2")
    closing = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = triads.join(closing, ["v1", "v2"])
    ids = F.array_sort(F.array("u1", "v1", "v2"))
    return tri.select(
        ids[0].alias("v1"), ids[1].alias("v2"), ids[2].alias("v3")
    )


def page_rank(
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """PageRank — linkanalysis/PageRank.java:71 (dampingFactor :96,
    per-iteration transfer + sink handling :393-432): score mass held by
    sink vertices (no out-edges) is redistributed uniformly, so total mass
    stays 1 and the result matches the reference on graphs with sinks.

    new(v) = ((1-d) + d·sinkMass)/N + d · Σ_{u→v} score(u)/outdeg(u)

    Scale: per iteration one shuffle (contributions grouped on dst; the
    joins on src reuse one exchange), lineage truncated per step. The
    sink-mass term is a single global double collected per iteration —
    the same synchronous aggregate the reference materializes
    (PageRank.java:420-427); N is collected once."""
    # truncate the caller's edge construction once — the loop references
    # `edges` every iteration, and an un-materialized subplan would rerun
    # its joins per step (same rule as operators.iterations.iterate)
    edges = edges.select(src, dst).localCheckpoint(eager=True)
    verts = _vertices(edges, src, dst).localCheckpoint(eager=True)
    n = verts.count()
    # r18 (guide §2.4/§2.2): the out-degree join leaves the loop — it is
    # iteration-invariant, yet re-ran (joining and shuffling the edge
    # list) once per step. Attach od to each edge ONCE in a pinned frame;
    # per-iteration plans drop the outd aggregate + join entirely
    # (plans/r18/graph_pagerank_iter*_{before,after}.txt: 18 -> 16
    # exchanges, 18 -> 15 subplan scans per iteration). NOTE: a
    # pre-partitioning repartition was measured useless here — under AQE
    # localCheckpoint records UnknownPartitioning, so the join exchanges
    # re-plan regardless; the win is the removed join, not layout.
    outd = edges.groupBy(F.col(src).alias("vertex")).agg(
        F.count(F.lit(1)).alias("od")
    )
    ed = (
        edges.select(F.col(src).alias("vertex"), F.col(dst).alias("to"))
        .join(outd, "vertex")
        .localCheckpoint(eager=True)
    )
    scores = verts.withColumn("score", F.lit(1.0 / n))
    for _ in range(iterations):
        contrib = (
            ed.join(scores, "vertex")
            .groupBy(F.col("to").alias("vertex"))
            .agg(F.sum(F.col("score") / F.col("od")).alias("contrib"))
        )
        # the sink-mass scalar stays IN the plan: a one-row aggregate
        # broadcast onto every vertex (the reference materializes the same
        # global as a broadcast set, PageRank.java:420-427). One job per
        # iteration — no driver-side collect barrier between the aggregate
        # and the transfer. r18: it is derived from the contribution frame
        # itself — Σ_dst Σ_{u→dst} score(u)/od(u) = Σ_u od·score(u)/od(u)
        # = Σ_{u non-sink} score(u), the identical quantity the former
        # scores⋈outd branch computed (summation grouping differs only at
        # the ~1e-16 double-rounding level; the gate hashes at 6dp and is
        # tri-scale verified) — so the contrib exchange is REUSED and the
        # whole second scores⋈edges pass leaves the per-iteration plan
        # (plans/r18/graph_pagerank_iter*: 7 -> 4 exchanges/iteration).
        nonsink = contrib.agg(
            F.coalesce(F.sum("contrib"), F.lit(0.0)).alias("__ns__")
        )
        base = (
            F.lit(1.0 - damping) + F.lit(damping) * (F.lit(1.0) - F.col("__ns__"))
        ) / n
        scores = (
            verts.join(contrib, "vertex", "left")
            .crossJoin(F.broadcast(nonsink))
            .select(
                "vertex",
                (
                    base + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("score"),
            )
            .localCheckpoint(eager=True)
        )
    return scores


def label_propagation(
    edges: DataFrame,
    labels: DataFrame | None = None,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Community detection by label propagation — LabelPropagation.java:54.
    Each superstep a vertex adopts the most frequent label among the
    labels its in-neighbors held LAST superstep; ties pick the greater
    label; the vertex's own current label competes at an implicit
    frequency of 1 (UpdateVertexLabel:114-143 — the running max over
    (frequency, label) seeded with the current value). Synchronous
    iterations via `iterations.iterate`; the convergence probe is folded
    into gather, as in `iterations.connected_components`: the argmax
    window also reads the vertex's own candidate label and tags the row
    `changed` when the winner differs, so convergence is a filter-isEmpty
    scan of the superstep's checkpoint, not a prev-vs-cur join.

    `labels` defaults to (vertex, label=vertex). Scale: per step one
    shuffle of messages grouped on (vertex, label) plus a per-vertex argmax
    window partitioned on the vertex id — no global sort, no Python.

    Expressed as a `graph.spargel.scatter_gather` client — the reference
    runs it through runScatterGatherIteration the same way
    (LabelPropagation.java:73)."""
    from proteus_engine_spark.graph.spargel import scatter_gather

    msgs_edges = edges.select(F.col(src).alias("mfrom"), F.col(dst).alias("vertex"))
    if labels is None:
        labels = (
            msgs_edges.select(F.col("mfrom").alias("vertex"))
            .union(msgs_edges.select("vertex"))
            .distinct()
            .withColumn("label", F.col("vertex"))
        )

    def scatter(state: DataFrame, edges_f: DataFrame, _s: int) -> DataFrame:
        return edges_f.join(
            state.select(F.col("vertex").alias("mfrom"), "label"), "mfrom"
        ).select("vertex", "label")

    def gather(state: DataFrame, messages: DataFrame, _s: int) -> DataFrame:
        cand = messages.groupBy("vertex", "label").agg(
            F.count(F.lit(1)).alias("freq"), F.lit(False).alias("own")
        ).unionByName(
            state.select("vertex", "label", F.lit(1).alias("freq"), F.lit(True).alias("own"))
        )
        w = Window.partitionBy("vertex").orderBy(
            F.col("freq").desc(), F.col("label").desc()
        )
        whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        own = F.max(F.when(F.col("own"), F.col("label"))).over(whole)
        return (
            cand.select(
                "vertex", "label",
                F.row_number().over(w).alias("__rn__"),
                (~F.col("label").eqNullSafe(own)).alias("changed"),
            )
            .filter(F.col("__rn__") == 1)
            .drop("__rn__")
        )

    def converged(_prev: DataFrame, cur: DataFrame) -> bool:
        return cur.filter("changed").isEmpty()

    return scatter_gather(
        msgs_edges, labels.withColumn("changed", F.lit(True)), scatter, gather,
        iterations, converged,
    ).select("vertex", "label")


def _shared_neighbor_pairs(
    adj: DataFrame, group_size: int = 64
) -> DataFrame:
    """Span-batched pair generation over shared neighbors — the hub-safe
    core of JaccardIndex/AdamicAdar (JaccardIndex.java:187-202
    GenerateGroupSpans / GenerateGroupPairs, reused by AdamicAdar.java:
    171-188). Input `adj` is the symmetric adjacency (v, w) = "v has
    neighbor w"; output is one row (shared, u, v) with u < v for EVERY
    unordered pair of vertices sharing neighbor `shared` — exactly the
    rows the naive self-join would produce, differently scheduled.

    Why not the naive self-join on `shared`: a hub of degree d routes d²
    pairs through ONE shuffle key = one straggler task. Instead each
    neighbor group is split into spans of ≤ group_size members (ranked by
    vertex id, so span i's members all precede span j's for i < j); the
    span-level self-join produces (d/group_size)² span-pair rows — arrays,
    not pairs — which are repartitioned across the cluster BEFORE the
    ≤ group_size² explode. Per-task fan-out is bounded by group_size²
    regardless of hub degree; total pair count is unchanged."""
    neigh = adj.select(F.col("w").alias("shared"), F.col("v").alias("u"))
    ranked = neigh.withColumn(
        "__span__",
        F.floor(
            (F.row_number().over(Window.partitionBy("shared").orderBy("u")) - 1)
            / group_size
        ),
    )
    # materialized once: both sides of the span self-join reference this
    # subplan, and without truncation the ranking window runs twice
    spans = ranked.groupBy("shared", "__span__").agg(
        F.sort_array(F.collect_list("u")).alias("mem")
    ).localCheckpoint(eager=True)
    s1 = spans.select("shared", F.col("__span__").alias("si"), F.col("mem").alias("mi"))
    s2 = spans.select("shared", F.col("__span__").alias("sj"), F.col("mem").alias("mj"))
    span_pairs = (
        s1.join(s2, "shared")
        .filter(F.col("si") <= F.col("sj"))
        .repartition("shared", "si", "sj")
    )
    # members are ranked ascending across spans, so u < v is automatic for
    # si < sj; the filter only prunes the within-span diagonal.
    return (
        span_pairs.select("shared", F.explode("mi").alias("u"), "mj")
        .select("shared", "u", F.explode("mj").alias("v"))
        .filter(F.col("u") < F.col("v"))
    )


def jaccard_index(
    edges: DataFrame, src: str = "src", dst: str = "dst", group_size: int = 64
) -> DataFrame:
    """Neighborhood similarity — similarity/JaccardIndex.java:54: for every
    vertex pair sharing at least one neighbor on the undirected graph,
    jaccard = |N(u) ∩ N(v)| / |N(u) ∪ N(v)|, with
    |union| = d(u) + d(v) - |shared|. Output (u, v, jaccard_score), u < v.

    Scale: pair generation is span-batched (JaccardIndex.java:187-202) —
    per-task fan-out bounded by group_size² even at million-degree hubs;
    see _shared_neighbor_pairs."""
    # referenced three times (degree + both pair sides) — materialize
    adj = _adjacency(_undirected(edges, src, dst)).localCheckpoint(eager=True)
    deg = adj.groupBy("v").agg(F.count(F.lit(1)).alias("d"))
    shared = (
        _shared_neighbor_pairs(adj, group_size)
        .withColumnRenamed("v", "v2")
        .groupBy("u", "v2")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    du = deg.select(F.col("v").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("v").alias("v2"), F.col("d").alias("dv"))
    return (
        shared.join(du, "u")
        .join(dv, "v2")
        .select(
            F.col("u").alias("u"),
            F.col("v2").alias("v"),
            (
                F.col("n_shared")
                / (F.col("du") + F.col("dv") - F.col("n_shared"))
            ).alias("jaccard_score"),
        )
    )


def adamic_adar(
    edges: DataFrame, src: str = "src", dst: str = "dst", group_size: int = 64
) -> DataFrame:
    """Adamic-Adar similarity — similarity/AdamicAdar.java:59: for every
    vertex pair with at least one shared neighbor on the undirected graph,
    score(u, v) = Σ over shared neighbors s of 1 / ln(d(s)) — shared
    neighbors weighted by the inverse log of their degree, so rare mutual
    friends count more. Output (u, v, aa_score), u < v.

    Same span-batched pair pipeline as jaccard_index (the reference reuses
    the group-span functions, AdamicAdar.java:171-188); the only addition
    is attaching 1/ln(d(shared)) to each generated pair before summing —
    a join against the degree frame on the shared-neighbor key."""
    adj = _adjacency(_undirected(edges, src, dst)).localCheckpoint(eager=True)
    # degree-1 neighbors can't connect a pair, and ln(1) = 0 would trip
    # ANSI division — prune them before the weight join
    inv_log = (
        adj.groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
        .filter(F.col("d") >= 2)
        .select(F.col("v").alias("shared"), (F.lit(1.0) / F.log("d")).alias("w_s"))
    )
    pairs = _shared_neighbor_pairs(adj, group_size)
    return (
        pairs.join(inv_log, "shared")
        .groupBy("u", "v")
        .agg(F.sum("w_s").alias("aa_score"))
    )


def hits(
    edges: DataFrame,
    iterations: int = 10,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Hubs-and-authorities — linkanalysis/HITS.java:67 (per-iteration
    hub/authority transfer with L2 normalization — the HUBBINESS/
    AUTHORITY_SUM_SQUARED accumulators :72-74). Each iteration:
    auth(v) = Σ_{u→v} hub(u) then L2-normalize; hub(u) = Σ_{u→v} auth(v)
    then L2-normalize; hubs start at 1. Returns (vertex, hub_score,
    authority_score).

    Scale: two shuffles per iteration (the two transfer aggs, each grouped
    on a vertex id); the L2 norms stay IN the plan as one-row broadcast
    aggregates (the reference's accumulator sync) — no driver collect
    barrier inside an iteration, just the per-half-step checkpoint."""

    def _safe(norm_col: str):
        # empty/zero raw frame → norm NULL/0 → divide by 1 (reference's
        # `norm or 1` guard)
        return F.coalesce(
            F.when(F.col(norm_col) != 0, F.col(norm_col)), F.lit(1.0)
        )

    edges = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    verts = _vertices(edges, "src", "dst").localCheckpoint(eager=True)
    scores = verts.select("vertex", F.lit(1.0).alias("hub"), F.lit(0.0).alias("auth"))
    for _ in range(iterations):
        auth_raw = (
            edges.join(scores.select(F.col("vertex").alias("src"), "hub"), "src")
            .groupBy(F.col("dst").alias("vertex"))
            .agg(F.sum("hub").alias("a_raw"))
            .localCheckpoint(eager=True)  # referenced by norm agg AND join
        )
        a_norm = auth_raw.agg(
            F.sqrt(F.sum(F.col("a_raw") * F.col("a_raw"))).alias("__an__")
        )
        auth = (
            verts.join(auth_raw, "vertex", "left")
            .crossJoin(F.broadcast(a_norm))
            .select(
                "vertex",
                (F.coalesce("a_raw", F.lit(0.0)) / _safe("__an__")).alias("auth"),
            )
        )
        hub_raw = (
            edges.join(auth.select(F.col("vertex").alias("dst"), "auth"), "dst")
            .groupBy(F.col("src").alias("vertex"))
            .agg(F.sum("auth").alias("h_raw"))
            .localCheckpoint(eager=True)
        )
        h_norm = hub_raw.agg(
            F.sqrt(F.sum(F.col("h_raw") * F.col("h_raw"))).alias("__hn__")
        )
        scores = (
            verts.join(hub_raw, "vertex", "left")
            .crossJoin(F.broadcast(h_norm))
            .join(auth, "vertex")
            .select(
                "vertex",
                (F.coalesce("h_raw", F.lit(0.0)) / _safe("__hn__")).alias("hub"),
                "auth",
            )
            .localCheckpoint(eager=True)
        )
    return scores.select(
        "vertex", F.col("hub").alias("hub_score"), F.col("auth").alias("authority_score")
    )


def local_clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-vertex clustering — library/clustering/undirected/
    LocalClusteringCoefficient.java:54 (Result = vertex degree + triangle
    count; score = triangles / C(degree, 2)). Triangles come from the
    degree-ordered enumerator; degree-< 2 vertices score 0. Returns
    (vertex, degree, triangle_count, lcc)."""
    sym = _undirected(edges, src, dst).localCheckpoint(eager=True)
    deg = (
        sym.select(F.col("a").alias("vertex"))
        .union(sym.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tri = triangle_list(sym, src="a", dst="b")
    per_vertex = (
        tri.select(F.explode(F.array("v1", "v2", "v3")).alias("vertex"))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("triangle_count"))
    )
    pairs = (F.col("degree") * (F.col("degree") - 1) / 2).cast("double")
    return (
        deg.join(per_vertex, "vertex", "left")
        .select(
            "vertex",
            "degree",
            F.coalesce("triangle_count", F.lit(0)).alias("triangle_count"),
            F.when(F.col("degree") < 2, F.lit(0.0))
            .otherwise(F.coalesce("triangle_count", F.lit(0)) / pairs)
            .alias("lcc"),
        )
    )


def summarize(
    vertices: DataFrame,
    edges: DataFrame,
    vertex_col: str = "vertex",
    value_col: str = "value",
    src: str = "src",
    dst: str = "dst",
) -> tuple[DataFrame, DataFrame]:
    """Graph summarization — library/Summarization.java:92: vertices with
    the same value collapse into one super-vertex (:103-109), edges roll
    up between super-vertices with a count (:111+). The reference picks an
    arbitrary group representative; here it is the MIN vertex id
    (deterministic, oracle-checkable). Returns (super_vertices,
    super_edges): (vertex, value, count) and (src, dst, count) over
    representative ids — edges between members of one group become
    super-self-loops, as in the reference.

    Edges whose endpoints are missing from `vertices` are dropped (the
    reference's Graph invariant requires the vertex set to cover the edge
    set — validate upstream if unsure).

    Scale: one shuffle to group vertices, one broadcast-or-shuffle join to
    map each edge endpoint to its representative, one shuffle to roll up
    super-edges."""
    groups = vertices.groupBy(value_col).agg(
        F.min(vertex_col).alias("__rep__"), F.count(F.lit(1)).alias("count")
    )
    super_vertices = groups.select(
        F.col("__rep__").alias(vertex_col), value_col, "count"
    )
    rep_map = vertices.join(groups, value_col).select(
        F.col(vertex_col).alias("__member__"), "__rep__"
    )
    super_edges = (
        edges.join(rep_map.withColumnRenamed("__member__", src), src)
        .withColumnRenamed("__rep__", "__rs__")
        .join(rep_map.withColumnRenamed("__member__", dst), dst)
        .groupBy(F.col("__rs__").alias(src), F.col("__rep__").alias(dst))
        .agg(F.count(F.lit(1)).alias("count"))
    )
    return super_vertices, super_edges


def vertex_metrics(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global undirected vertex metrics — library/metric/undirected/
    VertexMetrics.java:46: vertex count, edge count, average degree
    bounds via sum of degrees, maximum degree, and triplet count
    (Σ C(d, 2) — the denominator pool for clustering coefficients). One
    row. Pure aggregation: one shuffle for degrees, one global fold."""
    sym = _undirected(edges, src, dst)
    deg = (
        sym.select(F.col("a").alias("vertex"))
        .union(sym.select(F.col("b").alias("vertex")))
        .groupBy("vertex")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return deg.agg(
        F.count(F.lit(1)).alias("n_vertices"),
        (F.sum("d") / 2).cast("long").alias("n_edges"),
        F.sum("d").alias("sum_degree"),
        F.max("d").alias("max_degree"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long").alias("n_triplets"),
    )


def community_detection(
    edges: DataFrame,
    iterations: int = 10,
    delta: float = 0.5,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
) -> DataFrame:
    """Community detection with hop attenuation — library/
    CommunityDetection.java:49 (Leung et al., arXiv:0808.2633): vertices
    start with their own id as label and score 1.0; each superstep i every
    vertex sends (label, score × edge_weight) to its neighbors on the
    UNDIRECTED graph (:95-99), then adopts the label with the highest SUM
    of received scores (:147-156, ties to the smallest label — the
    reference's ascending TreeMap scan keeps the first maximum), re-scored
    to the highest SINGLE received score of that label minus delta/i if
    the label changed (:159-165). Returns (vertex, label).

    Scale per superstep: one join to attach labels to edges (shuffle on
    vertex id), one two-key aggregation, one per-vertex top-1 window —
    the scatter-gather shuffle pair the reference's spargel plan has.
    Expressed as a `graph.spargel.scatter_gather` client, as the
    reference runs it (runScatterGatherIteration, CommunityDetection
    .java:85)."""
    from proteus_engine_spark.graph.spargel import scatter_gather

    w_col = F.col(weight) if weight else F.lit(1.0)
    a, b = F.col(src), F.col(dst)
    msgs_edges = (
        edges.filter(a != b)
        .select(F.col(src).alias("mfrom"), F.col(dst).alias("vertex"), w_col.alias("w"))
        .union(
            edges.filter(a != b).select(
                F.col(dst).alias("mfrom"), F.col(src).alias("vertex"), w_col.alias("w")
            )
        )
        .distinct()
    )
    state = (
        msgs_edges.select(F.col("mfrom").alias("vertex"))
        .union(msgs_edges.select("vertex"))
        .distinct()
        .withColumn("label", F.col("vertex"))
        .withColumn("score", F.lit(1.0))
    )

    def scatter(st: DataFrame, edges_f: DataFrame, _s: int) -> DataFrame:
        return edges_f.join(
            st.select(F.col("vertex").alias("mfrom"), "label", "score"), "mfrom"
        ).select("vertex", "label", (F.col("score") * F.col("w")).alias("score"))

    def gather(st: DataFrame, messages: DataFrame, superstep: int) -> DataFrame:
        agg = messages.groupBy("vertex", "label").agg(
            F.sum("score").alias("tot"), F.max("score").alias("mx")
        )
        top = Window.partitionBy("vertex").orderBy(
            F.col("tot").desc(), F.col("label").asc()
        )
        picked = (
            agg.withColumn("__rn__", F.row_number().over(top))
            .filter(F.col("__rn__") == 1)
            .select("vertex", "label", "mx")
        )
        return (
            picked.join(
                st.select("vertex", F.col("label").alias("old_label")), "vertex"
            )
            .select(
                "vertex",
                "label",
                F.when(
                    F.col("label") != F.col("old_label"),
                    F.col("mx") - F.lit(delta) / superstep,  # :163 delta/superstep
                )
                .otherwise(F.col("mx"))
                .alias("score"),
            )
        )

    return scatter_gather(msgs_edges, state, scatter, gather, iterations).select(
        "vertex", "label"
    )


def triadic_census(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Undirected triadic census — library/clustering/undirected/
    TriadicCensus.java:81-120: counts of vertex triples by number of
    connecting edges, derived algebraically from four global aggregates
    (never enumerating the O(n³) triples):
      t3 = triangles                         (:99)
      t2 = triplets − 3·t3                   (:103)
      t1 = edges·(n−2) − 2·t2 − 3·t3         (:107-110)
      t0 = C(n,3) − t1 − t2 − t3             (:114-120)
    where triplets = Σ_v C(d(v), 2). One row (t0, t1, t2, t3).

    Scale: the only superlinear work is the triangle count (degree-ordered
    enumeration); everything else is two scans worth of aggregation."""
    sym = _undirected(edges, src, dst).localCheckpoint(eager=True)
    metrics = vertex_metrics(sym, src="a", dst="b")
    tri = triangle_list(sym, src="a", dst="b").agg(
        F.count(F.lit(1)).alias("n_tri")
    )
    return (
        metrics.crossJoin(tri)
        .select(
            (
                F.col("n_vertices")
                * (F.col("n_vertices") - 1)
                * (F.col("n_vertices") - 2)
                / 6
                - (
                    F.col("n_edges") * (F.col("n_vertices") - 2)
                    - 2 * (F.col("n_triplets") - 3 * F.col("n_tri"))
                    - 3 * F.col("n_tri")
                )
                - (F.col("n_triplets") - 3 * F.col("n_tri"))
                - F.col("n_tri")
            ).cast("long").alias("t0"),
            (
                F.col("n_edges") * (F.col("n_vertices") - 2)
                - 2 * (F.col("n_triplets") - 3 * F.col("n_tri"))
                - 3 * F.col("n_tri")
            ).cast("long").alias("t1"),
            (F.col("n_triplets") - 3 * F.col("n_tri")).cast("long").alias("t2"),
            F.col("n_tri").cast("long").alias("t3"),
        )
    )


def global_clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Global clustering coefficient — library/clustering/undirected/
    GlobalClusteringCoefficient.java:79-84: triplet count (Σ C(d,2)) and
    triangle count ×3 (each triangle closes three triplets), score =
    3·triangles / triplets (NaN on a triplet-free graph, :135). One row
    (n_triplets, n_closed_triplets, gcc)."""
    sym = _undirected(edges, src, dst).localCheckpoint(eager=True)
    triplets = vertex_metrics(sym, src="a", dst="b").select("n_triplets")
    tri = triangle_list(sym, src="a", dst="b").agg(F.count(F.lit(1)).alias("n_tri"))
    return triplets.crossJoin(tri).select(
        "n_triplets",
        (3 * F.col("n_tri")).alias("n_closed_triplets"),
        (3 * F.col("n_tri") / F.col("n_triplets")).alias("gcc"),
    )
