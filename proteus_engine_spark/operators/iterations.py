"""Bulk iterations (SURVEY §2.11).

Reference: DataSet.iterate (/root/reference/flink-java/src/main/java/org/
apache/flink/api/java/DataSet.java:1156) and iterateDelta (:1206) — native
iteration operators with feedback edges inside one job.

Spark has no feedback edge; the idiomatic equivalent is a driver-side loop
over DataFrames with per-step truncation of the lineage. Two rules make
this scale:
- `localCheckpoint` (or persist+checkpoint on a cluster with a checkpoint
  dir) every step, otherwise the plan doubles per iteration and Catalyst
  analysis time explodes by step 20;
- an optional convergence probe (the reference's termination criterion)
  evaluated as a cheap aggregate.

Delta iterations (worklist + solution set) are expressed with the same
loop: the step function returns (new_solution, new_workset) and iteration
stops when the workset is empty — capability parity, without the operator
fusion (documented; only Gelly-style algorithms care, and those belong in
GraphFrames/MLlib per SURVEY §2.11).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame


def iterate(
    initial: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    max_iterations: int,
    converged: Callable[[DataFrame, DataFrame], bool] | None = None,
    strict: bool = False,
) -> DataFrame:
    """DataSet.iterate parity: apply `step` up to max_iterations times,
    truncating lineage each step; stop early when `converged(prev, cur)`.

    If a convergence predicate is supplied and is STILL false when the
    cap is hit, the result is a non-fixpoint — warn by default, raise
    with strict=True (clients whose answer is silently WRONG when
    unconverged, e.g. connected components splitting a long chain into
    two clusters, should pass strict=True)."""
    import warnings

    cur = initial.localCheckpoint(eager=True)
    for i in range(max_iterations):
        nxt = step(cur, i).localCheckpoint(eager=True)
        if converged is not None and converged(cur, nxt):
            return nxt
        cur = nxt
    if converged is not None and max_iterations > 0:
        # The loop exhausted with the last convergence check false: the
        # final step still changed the state, so this is not a fixpoint.
        msg = (
            f"iterate() hit max_iterations={max_iterations} without "
            "converging; the result is not a fixpoint"
        )
        if strict:
            raise RuntimeError(msg + " — raise max_iterations")
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return cur


def iterate_delta(
    solution: DataFrame,
    workset: DataFrame,
    step: Callable[[DataFrame, DataFrame, int], tuple[DataFrame, DataFrame]],
    max_iterations: int,
    strict: bool = False,
) -> DataFrame:
    """DataSet.iterateDelta parity: loop with (solution, workset) pairs;
    terminates when the workset empties (the reference's implicit
    criterion). A workset still non-empty at the cap means unfinished
    propagation (e.g. a BFS frontier that never drained — unreached
    vertices keep wrong distances): warn by default, raise with
    strict=True — the same signalling contract as `iterate`."""
    import warnings

    sol = solution.localCheckpoint(eager=True)
    work = workset.localCheckpoint(eager=True)
    for i in range(max_iterations):
        if work.isEmpty():
            return sol
        sol_next, work_next = step(sol, work, i)
        sol = sol_next.localCheckpoint(eager=True)
        work = work_next.localCheckpoint(eager=True)
    # Judged on the workset alone, not the cap: max_iterations=0 with a
    # non-empty initial workset is just as unfinished as an exhausted loop
    if not work.isEmpty():
        msg = (
            f"iterate_delta() hit max_iterations={max_iterations} with a "
            "non-empty workset; the solution set is not a fixpoint"
        )
        if strict:
            raise RuntimeError(msg + " — raise max_iterations")
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return sol


def connected_components(
    edges: DataFrame, src: str = "src", dst: str = "dst", max_iterations: int = 20
) -> DataFrame:
    """Label-propagation connected components — the reference ships this as
    the canonical iterate example (Gelly library/ConnectedComponents and the
    flink-examples ConnectedComponents); here as an `iterate` client.
    Returns (vertex, component) with component = min vertex id reachable.
    Raises if label propagation has not converged within max_iterations
    (strict: an unconverged run silently splits long chains into multiple
    components — wrong answers, not slow ones).

    The convergence probe is folded into the step itself: each step tags
    rows whose label improved (`changed` = nbr_min < old component), so
    converged() is a filter-isEmpty scan over the step's own
    localCheckpoint — an early-exiting scan of cached partitions, NOT the
    prev-vs-cur shuffle join the probe previously launched every
    iteration (~7x wall-clock on dedup_cluster_keep at sf0.01)."""
    from pyspark.sql import functions as F

    sym = edges.select(src, dst).union(edges.select(F.col(dst).alias(src), F.col(src).alias(dst)))
    labels = (
        sym.select(F.col(src).alias("vertex"))
        .union(sym.select(F.col(dst).alias("vertex")))
        .distinct()
        .withColumn("component", F.col("vertex"))
        .withColumn("changed", F.lit(True))
    )

    def step(lbl: DataFrame, _i: int) -> DataFrame:
        neighbor_min = (
            sym.join(lbl, sym[src] == lbl["vertex"])
            .groupBy(F.col(dst).alias("vertex"))
            .agg(F.min("component").alias("nbr_min"))
        )
        return (
            lbl.join(neighbor_min, "vertex", "left")
            .select(
                "vertex",
                F.least(F.col("component"), F.coalesce(F.col("nbr_min"), F.col("component"))).alias(
                    "component"
                ),
                # null nbr_min coalesces to the old component → false
                (
                    F.coalesce(F.col("nbr_min"), F.col("component")) < F.col("component")
                ).alias("changed"),
            )
        )

    def converged(_prev: DataFrame, cur: DataFrame) -> bool:
        return cur.filter("changed").isEmpty()

    return iterate(labels, step, max_iterations, converged, strict=True).select(
        "vertex", "component"
    )
