#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload side_input_enrich --seed 1 --seconds 15 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics of a run with spans on (spans go to
``.perfbench_out/trace-<workload>-<seed>.json``). Inputs are generated from
``--seed`` under ``.perfbench_work/`` and removed at exit; the engine runs
on ``local[k]`` with ``k = min(--cores, available CPUs)``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOAD_NAMES = ("side_input_enrich", "stateful_stream", "batch_mix")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True, help="timed passes start while this many seconds remain")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=4, help="local[k] parallelism, capped at the available CPUs")
    args = p.parse_args(argv)
    if args.seconds < 1 or args.cores < 1:
        p.error("--seconds and --cores must be at least 1")
    return args


def isolate(work: Path) -> None:
    """Keep every file the engine writes inside ``work``: Spark local dirs,
    the JVM and Python temp dirs (streaming checkpoints land there), and
    let Python workers import the engine from this checkout. The JVM keeps
    a fixed set of JIT compiler threads, so ``ProcTree`` can leave their
    CPU out of the process total (a JVM flag; the session conf is the
    engine's own)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p
        for p in (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}", "-XX:-UseDynamicNumberOfCompilerThreads")
        if p
    )


def calibration_probes(spark, io_glob: str) -> dict[str, float]:
    """``bench.py``'s three machine-calibration shapes, smaller: a codegen
    range sum (cpu), a full parquet scan (io) and a cached 32-way
    aggregate plus merge self-join (shuffle)."""

    def timed(action) -> float:
        t0 = time.perf_counter()
        action()
        return time.perf_counter() - t0

    out = {"probe.cpu_s": timed(lambda: spark.range(20_000_000).selectExpr("sum(id)").collect())}
    out["probe.io_s"] = timed(
        lambda: spark.read.parquet(io_glob).selectExpr("count(*)", "sum(length(to_json(struct(*))))").collect()
    )
    src = spark.range(2_000_000).selectExpr("id % 1000000 AS k", "id % 97 AS v").repartition(32).persist()
    src.count()
    out["probe.shuffle_s"] = timed(
        lambda: src.groupBy("k").sum("v").join(src.hint("merge"), "k").selectExpr("sum(`sum(v)` + v)").collect()
    )
    src.unpersist()
    return out


# Spans that only time a whole call around layer work: their self time is
# the part of a pass or query that no layer accounts for.
WRAPPERS = (
    "bench.pass",
    "bench.query",
    "streaming.sources.run_to_completion_observed",
    "streaming.sources.batch",
    "exec.action",
)
MIN_ATTRIBUTED = 0.8


def attributed_share(tracer) -> float:
    """Smallest share, over passes (streams) and queries (``batch_mix``),
    of wall time that layer spans account for: micro-batch phases, jobs,
    and the self time of calls into a layer. The self time of the
    wrappers (``WRAPPERS``) is the unattributed rest."""
    selfs = tracer.self_times()
    root_name = "bench.query" if any(s["name"] == "bench.query" for s in tracer.spans) else "bench.pass"
    shares = []
    for root in tracer.spans:
        if root["name"] != root_name or root["end"] <= root["start"]:
            continue
        inside, lost = {root["id"]}, 0.0
        for s in tracer.spans:  # parents precede children
            if s["id"] in inside or s["parent"] in inside:
                inside.add(s["id"])
                if s["name"] in WRAPPERS:
                    lost += selfs[s["id"]]
        shares.append(1 - lost / (root["end"] - root["start"]))
    return min(shares, default=0.0)


def catalogue() -> tuple[dict[str, str], dict[str, str]]:
    """Unit of every end-to-end and per-layer metric, from ``BENCHMARK.json``."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return tuple({m["name"]: m["unit"] for m in spec[kind]} for kind in ("end_to_end", "per_layer"))


def stop(spark) -> None:
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)


def run(args, work: Path) -> tuple[dict, dict]:
    from perfbench.trace import ProcTree, Tracer, process_age_s
    from perfbench.workloads import WORKLOADS, Ctx
    from proteus_engine_spark.session import get_session

    end_to_end, per_layer = catalogue()
    cores = max(1, min(args.cores, len(os.sched_getaffinity(0))))
    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}-{os.getpid()}")
    proc = ProcTree()
    t0 = time.perf_counter()
    with tracer.span("session.get_session"):
        spark = get_session(app_name="perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    session_s = time.perf_counter() - t0
    try:
        ctx = Ctx(spark=spark, work=str(work), seed=args.seed, tracer=tracer, proc=proc, tmpdir=str(work / "tmp"))
        wl = WORKLOADS[args.workload](ctx)
        t0 = time.perf_counter()
        with tracer.span("sources.stage"):
            wl.stage()
        stage_s = time.perf_counter() - t0
        probes = [calibration_probes(spark, wl.probe_input())] if args.trace else []
        with tracer.span("bench.warm_up"):
            wl.warm_up()
        setup_s = process_age_s()
        setup_cpu = proc.sample()

        passes = []
        timed_start = time.perf_counter()
        while True:
            try:
                passes.append(wl.run_pass(len(passes)))
            except Exception:  # noqa: BLE001 - an engine error fails the pass; report, do not crash
                traceback.print_exc()
                wl.outcome.record(False)
                break
            elapsed = time.perf_counter() - timed_start
            if elapsed + passes[-1].wall_s > args.seconds:
                break
        timed_s = time.perf_counter() - timed_start
        if args.trace:
            probes.append(calibration_probes(spark, wl.probe_input()))
        t0 = time.perf_counter()
        try:
            wl.verify()
        except Exception:  # noqa: BLE001 - a check that cannot run fails its operations
            traceback.print_exc()
            wl.outcome.record(False)
        verify_s = time.perf_counter() - t0
        rss = proc.sample()["jvm_rss_mb"]
    finally:
        t0 = time.perf_counter()
        stop(spark)
    cpu = "; ".join(" ".join(f"{k}={v:.2f}" for k, v in p.cpu.items()) for p in passes)
    print(
        f"\nperfbench: session {session_s:.1f}s, stage {stage_s:.1f}s, set-up {setup_s:.1f}s, "
        f"{len(passes)} pass(es) {timed_s:.1f}s, verify {verify_s:.1f}s, stop {time.perf_counter() - t0:.1f}s; "
        f"cpu per pass: {cpu}",
        file=sys.stderr,
    )

    ops = [x for p in passes for x in p.op_ms]
    measured, wall = {}, {}
    if passes:
        measured = {
            "setup_s": ProcTree.work(setup_cpu),
            "cpu_s": statistics.median(p.cpu["work"] for p in passes),
        }
        wall = {
            "wall.setup_s": setup_s,
            "wall.pass_s": statistics.median(p.wall_s for p in passes),
            "wall.op_p50_ms": statistics.median(ops),
            "wall.op_p90_ms": statistics.quantiles(ops, n=10)[-1] if len(ops) > 1 else ops[0],
        }
    if args.trace:
        layer = {k: statistics.median(p.layers.get(k, 0.0) for p in passes) for k in per_layer} if passes else {}
        layer.update(wall)
        if passes:
            layer.update(
                {
                    f"proc.{name}": statistics.median(p.cpu[key] for p in passes)
                    for name, key in (("jvm_cpu_s", "jvm"), ("python_driver_cpu_s", "driver"), ("jit_cpu_s", "jit"))
                }
            )
            layer["python.worker_cpu_s"] = statistics.median(p.cpu["workers"] for p in passes)
        layer.update(
            {
                "session.start_s": session_s,
                "sources.stage_s": stage_s,
                "proc.jvm_rss_peak_mb": rss,
                "trace.attributed_share": attributed_share(tracer),
            }
        )
        for k in ("probe.cpu_s", "probe.io_s", "probe.shuffle_s"):
            layer[k] = statistics.median(p[k] for p in probes)
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        roots = [s for s in tracer.spans if s["name"] == ("bench.query" if args.workload == "batch_mix" else "bench.pass")]
        tracer.dump(
            str(out_dir / f"trace-{args.workload}-{args.seed}.json"),
            {"workload": args.workload, "seed": args.seed, "probes": probes, "end_to_end": measured,
             "layers": layer, "passes": len(passes), "ops": len(ops),
             "layer_self_s": [{"root": s["attrs"], "wall_s": s["end"] - s["start"], "self_s": tracer.layer_self_s(s)}
                              for s in roots]},
        )
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in per_layer.items()}
        if layer["trace.attributed_share"] < MIN_ATTRIBUTED:
            print(
                f"perfbench: warning: layer spans account for only {layer['trace.attributed_share']:.0%} "
                f"of a {'query' if args.workload == 'batch_mix' else 'pass'}'s wall time",
                file=sys.stderr,
            )
    else:
        metrics = {k: {"value": float(measured[k]), "unit": u} for k, u in end_to_end.items() if k in measured}
    outcome = wl.outcome
    correct = outcome.failed == 0 and outcome.attempted > 0 and len(metrics) > 0
    result = {"correct": correct, "attempted": outcome.attempted, "failed": outcome.failed, "metrics": metrics}
    return result, wall


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import proteus_engine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    isolate(work)
    try:
        result, wall = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    out_dir = ROOT / ".perfbench_out"
    out_dir.mkdir(exist_ok=True)
    # wall-clock figures ride along in the file, so the untraced run's
    # can be set against the traced run's (tracing overhead)
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "result": result, "wall": wall}
    (out_dir / f"result-{args.workload}-{args.seed}-trace{args.trace}.json").write_text(json.dumps(record))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
