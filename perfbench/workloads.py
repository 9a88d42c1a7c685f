"""The three benchmark workloads, each driven from one process as a closed
loop: a bounded replay (or a round of queries) that drains as fast as the
engine allows, then the next.

- ``side_input_enrich``: every micro-batch of events is enriched through
  ``broadcast_side_input`` (customer) and ``keyed_side_input`` (a per-user
  profile table of a few MB). Loads the micro-batch loop and the per-batch
  re-read of the static side; no state, no Python workers.
- ``stateful_stream``: the same replay shape with no side input, through a
  JVM windowed aggregate (``windowed_agg``, append) and a Python-stateful
  CEP pattern (``match_pattern_stream``, signup followedBy purchase within
  4 h, 5 h watermark). State-store commits and Python workers dominate.
- ``batch_mix``: six registered batch queries, each ``fn(spark, dir)``
  followed by a count. Loads plan build, pins, joins and shuffles; no
  streaming.

A pass returns its wall time, one latency per operation (micro-batch
``triggerExecution``, or one query's build plus action), its CPU, and the
outputs to check afterwards; checks never run inside the timed region.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from perfbench import check, gen
from perfbench.trace import PHASE_METRIC, EXEC_KEYS, ProcTree, Tracer, attach_jobs, batch_spans, exec_counters
from proteus_engine_spark.queries import REGISTRY
from proteus_engine_spark.sources.tables import load_table
from proteus_engine_spark.streaming.cep import Pattern, match_pattern_stream
from proteus_engine_spark.streaming.side_inputs import broadcast_side_input, keyed_side_input
from proteus_engine_spark.streaming.sources import probe_parquet_schema, run_to_completion_observed
from proteus_engine_spark.streaming.windows import windowed_agg

N_CUSTOMERS = 15_000  # the sf0.1 customer key range
HOUR_S = 3600

# Stream sizes. A micro-batch costs ~0.3 s (stateless), ~0.4 s (window
# state commit) and ~1.2 s (Python-stateful) on 4 cores whatever its row
# count, so the file counts set the pass length; the run budget caps them.
# The warm-ups are as long as the per-pass CPU needed to repeat (README).
ENRICH = dict(files=24, warm_files=30, rows_per_file=500, n_keys=N_CUSTOMERS, file_span_s=HOUR_S // 2)
TUMBLE = dict(files=6, warm_files=12, rows_per_file=500, n_keys=500, file_span_s=2 * HOUR_S)
CEP = dict(files=2, warm_files=3, rows_per_file=500, n_keys=500, file_span_s=6 * HOUR_S)
JITTER_S = 600  # below every watermark delay: no row is ever late
TUMBLE_DELAY_MS = HOUR_S * 1000
CEP_WITHIN_MS = 4 * HOUR_S * 1000  # cep_stream_ooo's pattern, so its oracle applies
CEP_DELAY = "5 hours"

BATCH_SF = 0.01
BATCH_QUERIES = (
    "q3_shipping_priority",
    "q9_product_type_profit",
    "q18_large_volume_customer",
    "dedup_minhash_lsh",
    "text_bm25_topk",
    "graph_pagerank",
)


@dataclass
class PassResult:
    wall_s: float
    op_ms: list[float]
    cpu: dict[str, float]
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: Tracer
    proc: ProcTree
    tmpdir: str


class Outcome:
    """Attempted and failed operations; a wrong output or an exception
    fails the operation."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1


def replay(spark, events_dir: str):
    """The staged events files as a stream, one file per micro-batch. The
    parquet ``ts`` reads as TIMESTAMP_NTZ, which watermarks reject; the cast
    matches ``events_stream`` (wall-clock preserving under the UTC session)."""
    schema = probe_parquet_schema(spark, os.path.join(events_dir, "part-00000.parquet"))
    raw = spark.readStream.schema(schema).format("parquet").option("maxFilesPerTrigger", "1").load(events_dir)
    return raw.withColumn("ts", F.col("ts").cast(T.TimestampType()))


def _median(values, default=0.0) -> float:
    return statistics.median(values) if values else default


def progress_layers(progress: list[dict], cep_runs: set[str]) -> dict[str, float]:
    """Per-batch medians of the micro-batch phases and state metrics over
    batches with input, plus totals (``streaming.sources.*``, ``state.*``,
    ``streaming.cep.add_batch_ms``)."""
    batches = [p for p in progress if p["numInputRows"] > 0]
    out = {}
    for phase, metric in PHASE_METRIC.items():
        out[f"streaming.sources.{metric}"] = _median([p["durationMs"].get(phase, 0) for p in batches])
    out["streaming.sources.overhead_ms"] = _median(
        [p["durationMs"].get("triggerExecution", 0) - p["durationMs"].get("addBatch", 0) for p in batches]
    )
    out["streaming.sources.batches"] = len(batches)
    out["streaming.sources.rows_in"] = sum(p["numInputRows"] for p in batches)
    ops = [(p, so) for p in batches for so in p.get("stateOperators", [])]
    per_batch = {}
    for key, metric in (("commitTimeMs", "commit_ms"), ("allUpdatesTimeMs", "updates_ms"), ("allRemovalsTimeMs", "removals_ms")):
        per_batch[metric] = _median(
            [sum(so.get(key, 0) for so in p.get("stateOperators", [])) for p in batches if p.get("stateOperators")]
        )
    hits = sum(so.get("customMetrics", {}).get("loadedMapCacheHitCount", 0) for _, so in ops)
    misses = sum(so.get("customMetrics", {}).get("loadedMapCacheMissCount", 0) for _, so in ops)
    out.update({f"state.{k}": v for k, v in per_batch.items()})
    out["state.instances"] = max((so.get("numStateStoreInstances", 0) for _, so in ops), default=0)
    out["state.rows_total"] = max((so.get("numRowsTotal", 0) for _, so in ops), default=0)
    out["state.memory_bytes"] = max((so.get("memoryUsedBytes", 0) for _, so in ops), default=0)
    out["state.cache_hit_ratio"] = hits / (hits + misses) if hits + misses else 0.0
    out["state.rows_dropped_by_watermark"] = sum(
        so.get("numRowsDroppedByWatermark", 0) for p in progress for so in p.get("stateOperators", [])
    )
    out["streaming.cep.add_batch_ms"] = _median(
        [p["durationMs"].get("addBatch", 0) for p in batches if p["runId"] in cep_runs]
    )
    return out


class Workload:
    name = ""

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self.outcome = Outcome()

    def stage(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def run_pass(self, i: int) -> PassResult:
        raise NotImplementedError

    def verify(self) -> None:
        """Compare every kept output with its DuckDB oracle."""
        raise NotImplementedError

    def probe_input(self) -> str:
        """A parquet path of staged input for the io calibration probe."""
        raise NotImplementedError


class StreamWorkload(Workload):
    """Passes are sequences of bounded replays through
    ``run_to_completion_observed``; one operation of the outcome is one
    pass, and every query's output of every timed pass is checked."""

    def queries(self, warm: bool) -> list[tuple[str, str, str, callable]]:
        """(label, events dir, operator layer, build(stream) -> DataFrame)."""
        raise NotImplementedError

    def expected(self, label: str) -> list[tuple]:
        raise NotImplementedError

    columns: dict[str, tuple[str, ...]] = {}
    selects: dict[str, list[str]] = {}

    def __init__(self, ctx: Ctx) -> None:
        super().__init__(ctx)
        self.kept: dict[int, dict[str, list[tuple] | None]] = {}  # pass -> label -> rows

    def _replay_once(self, label, events_dir, layer, build, tag) -> tuple[list[dict], object, dict | None]:
        spark, tr = self.ctx.spark, self.ctx.tracer
        with tr.span("streaming.sources.read_stream"):
            stream = replay(spark, events_dir)
        with tr.span(f"{layer}.build"):
            out = build(stream)
        with tr.span("streaming.sources.run_to_completion_observed", query=label) as run_span:
            table, progress = run_to_completion_observed(out, f"{label}_{tag}", "append")
        return [json.loads(p.json) for p in progress], table, run_span

    def _attribute(self, progress: list[dict], run_span: dict, layer: str) -> None:
        """Per-batch spans from the progress, and the query's jobs (job
        group = the stream's run id) under the batch phase they ran in."""
        tr = self.ctx.tracer
        add_ids = batch_spans(tr, progress, run_span["id"], layer)
        totals, jobs = exec_counters(self.ctx.spark, progress[0]["runId"])
        attach_jobs(tr, jobs, add_ids + [run_span["id"]])
        run_span["attrs"]["exec"] = totals

    def _cleanup(self, name: str) -> None:
        self.ctx.spark.catalog.dropTempView(name)
        for d in glob.glob(os.path.join(self.ctx.tmpdir, "temporary-*")):
            shutil.rmtree(d, ignore_errors=True)

    def warm_up(self) -> None:
        """One short replay per query, run side by side (the warm-up only
        pays one-time costs and is not timed); outputs are discarded."""
        queries = self.queries(warm=True)
        with ThreadPoolExecutor(max_workers=len(queries)) as pool:
            futures = [pool.submit(self._replay_once, label, d, layer, build, "warm") for label, d, layer, build in queries]
        for future in futures:
            future.result()
        for label, *_ in queries:
            self._cleanup(f"{label}_warm")

    def run_pass(self, i: int) -> PassResult:
        spark, tr, proc = self.ctx.spark, self.ctx.tracer, self.ctx.proc
        progress, outputs, cep_runs, runs = [], [], set(), []
        cpu0 = proc.sample()
        t0 = time.perf_counter()
        with tr.span("bench.pass", workload=self.name, i=i) as root:
            for label, events_dir, layer, build in self.queries(warm=False):
                prog, table, run_span = self._replay_once(label, events_dir, layer, build, f"p{i}")
                progress += prog
                outputs.append((label, table))
                runs.append((prog, run_span, layer))
                if layer == "streaming.cep":
                    cep_runs.add(prog[0]["runId"])
        wall = time.perf_counter() - t0
        cpu = ProcTree.delta(cpu0, proc.sample())
        if tr.enabled:
            for prog, run_span, layer in runs:
                self._attribute(prog, run_span, layer)
        kept = self.kept.setdefault(i, {})
        for label, table in outputs:
            try:
                kept[label] = check.frame_rows(table.selectExpr(*self.selects[label]).toPandas(), self.columns[label])
            except Exception:  # noqa: BLE001 - any error reading the output fails the pass
                traceback.print_exc()
                kept[label] = None
            self._cleanup(f"{label}_p{i}")
        batches = [p for p in progress if p["numInputRows"] > 0]
        layers = progress_layers(progress, cep_runs)
        if tr.enabled:
            layers.update(self._exec_layers(root, len(batches)))
        return PassResult(
            wall_s=wall,
            op_ms=[p["durationMs"]["triggerExecution"] for p in batches],
            cpu=cpu,
            layers=layers,
        )

    def _exec_layers(self, root, n_batches) -> dict[str, float]:
        totals = dict.fromkeys(EXEC_KEYS, 0.0)
        side_build = 0.0
        for s in self.ctx.tracer.spans:
            if s["name"] == "streaming.sources.run_to_completion_observed" and s["start"] >= root["start"]:
                for k, v in s["attrs"]["exec"].items():
                    totals[k] += v
            if s["name"] == "streaming.side_inputs.build" and s["start"] >= root["start"]:
                side_build += (s["end"] - s["start"]) * 1000
        out = {f"exec.{k}": v for k, v in totals.items()}
        out["exec.input_bytes_per_batch"] = totals["input_bytes"] / n_batches if n_batches else 0.0
        out["streaming.side_inputs.build_ms"] = side_build
        return out

    def verify(self) -> None:
        labels = [label for label, *_ in self.queries(warm=False)]
        for kept in self.kept.values():
            self.outcome.record(
                all(kept.get(label) is not None and check.same_rows(kept[label], self.expected(label)) for label in labels)
            )


class SideInputEnrich(StreamWorkload):
    name = "side_input_enrich"
    columns = {"enrich": check.ENRICH_COLUMNS}
    selects = {"enrich": [c if c != "ts_us" else "unix_micros(ts) AS ts_us" for c in check.ENRICH_COLUMNS]}

    def stage(self) -> None:
        w, seed = self.ctx.work, self.ctx.seed
        self.events = os.path.join(w, "enrich_events")
        self.warm = os.path.join(w, "enrich_warm")
        self.side = os.path.join(w, "side")
        os.makedirs(self.side)
        common = dict(rows_per_file=ENRICH["rows_per_file"], key_range=N_CUSTOMERS, n_keys=ENRICH["n_keys"],
                      file_span_s=ENRICH["file_span_s"], jitter_s=JITTER_S)
        gen.stage_events(self.events, seed, ENRICH["files"], stream=1, **common)
        gen.stage_events(self.warm, seed, ENRICH["warm_files"], stream=2, **common)
        customers = gen.customer_table(N_CUSTOMERS, gen.seeded_rng(gen.CONTENT_SEED, 3))
        pq.write_table(customers, os.path.join(self.side, "customer.parquet"))
        pq.write_table(gen.user_profiles(seed, N_CUSTOMERS), os.path.join(self.side, "profile.parquet"))
        self._expected = None

    def queries(self, warm):
        spark, tr = self.ctx.spark, self.ctx.tracer

        def build(stream):
            with tr.span("sources.load_table", table="customer"):
                customer = load_table(spark, self.side, "customer")
            profile = spark.read.parquet(os.path.join(self.side, "profile.parquet"))
            with tr.span("streaming.side_inputs.broadcast_side_input"):
                enriched = broadcast_side_input(stream, customer, F.col("user_id") == F.col("c_custkey"))
            with tr.span("streaming.side_inputs.keyed_side_input"):
                return keyed_side_input(enriched, profile, ["user_id"])

        return [("enrich", self.warm if warm else self.events, "streaming.side_inputs", build)]

    def expected(self, label):
        if self._expected is None:
            self._expected = check.enrich_expected(self.events, self.side)
        return self._expected

    def probe_input(self):
        return self.events


class StatefulStream(StreamWorkload):
    name = "stateful_stream"
    columns = {"tumble": check.TUMBLE_COLUMNS, "cep": check.CEP_COLUMNS}
    selects = {
        "tumble": ["user_id", "n", "amount", "unix_micros(window_start) AS window_start_us",
                   "unix_micros(window_end) AS window_end_us"],
        "cep": list(check.CEP_COLUMNS),
    }

    def stage(self) -> None:
        w, seed = self.ctx.work, self.ctx.seed
        self.dirs = {}
        for label, size, stream in (("tumble", TUMBLE, 3), ("cep", CEP, 5)):
            common = dict(rows_per_file=size["rows_per_file"], key_range=N_CUSTOMERS, n_keys=size["n_keys"],
                          file_span_s=size["file_span_s"], jitter_s=JITTER_S)
            self.dirs[label] = os.path.join(w, f"{label}_events")
            self.dirs[label + "_warm"] = os.path.join(w, f"{label}_warm")
            gen.stage_events(self.dirs[label], seed, size["files"], stream=stream, **common)
            gen.stage_events(self.dirs[label + "_warm"], seed, size["warm_files"], stream=stream + 1, **common)
        self._expected = {}

    def queries(self, warm):
        tr = self.ctx.tracer
        suffix = "_warm" if warm else ""

        def tumble(stream):
            with tr.span("streaming.windows.windowed_agg"):
                return windowed_agg(
                    stream, "ts", f"{TUMBLE_DELAY_MS // 1000} seconds", "1 hour", ["user_id"],
                    [F.count(F.lit(1)).alias("n"), F.sum(F.col("value").cast("decimal(18,2)")).alias("amount")],
                )

        def cep(stream):
            pattern = (
                Pattern.begin("signup", lambda r: r["event_type"] == "signup", expr="event_type = 'signup'")
                .followed_by("purchase", lambda r: r["event_type"] == "purchase", expr="event_type = 'purchase'")
                .within(CEP_WITHIN_MS)
            )
            with tr.span("streaming.cep.match_pattern_stream"):
                return match_pattern_stream(stream, pattern, key_col="user_id", watermark_delay=CEP_DELAY)

        return [
            ("tumble", self.dirs["tumble" + suffix], "streaming.windows", tumble),
            ("cep", self.dirs["cep" + suffix], "streaming.cep", cep),
        ]

    def expected(self, label):
        if label not in self._expected:
            if label == "tumble":
                rows = check.tumble_expected(self.dirs["tumble"], HOUR_S * 1_000_000, TUMBLE_DELAY_MS)
            else:
                rows = check.registry_expected("cep_stream_ooo", {"events": self.dirs["cep"] + "/*.parquet"})
                # registry_expected orders columns by name; CEP_COLUMNS is the output order
                names = sorted(check.CEP_COLUMNS)
                rows = [tuple(r[names.index(c)] for c in check.CEP_COLUMNS) for r in rows]
            self._expected[label] = rows
        return self._expected[label]

    def probe_input(self):
        return self.dirs["tumble"]


class BatchMix(Workload):
    """One pass is one round of the six queries; one operation is one
    query execution. A timed round times ``fn`` plus ``count()``; after
    the round's wall and CPU readings each query's DataFrame is collected,
    and both its count and its rows must match the oracle."""

    name = "batch_mix"

    def stage(self) -> None:
        self.dir = os.path.join(self.ctx.work, "tables")
        gen.stage_tables(self.dir, self.ctx.seed, gen.batch_tables(BATCH_SF))
        self.kept: list[tuple[str, int | None, list[tuple] | None]] = []  # (query, count, rows)

    def _run_query(self, name: str, group: str):
        """``fn`` then ``count()``, each under its own job group; returns
        the DataFrame, the count and the time ``fn`` returned."""
        spark, tr = self.ctx.spark, self.ctx.tracer
        sc = spark.sparkContext
        sc.setJobGroup(f"{group}:build", name)
        with tr.span("queries.fn", query=name):
            df = REGISTRY[name].fn(spark, self.dir)
        t_build = time.perf_counter()
        sc.setJobGroup(f"{group}:exec", name)
        with tr.span("exec.action", query=name):
            n = df.count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        return df, n, t_build

    def warm_up(self) -> None:
        """Every query once, side by side (the round only pays one-time
        costs and is not timed); outputs are discarded."""
        with ThreadPoolExecutor(max_workers=len(BATCH_QUERIES)) as pool:
            futures = [pool.submit(self._run_query, name, f"{name}:warm") for name in BATCH_QUERIES]
        for future in futures:
            future.result()

    def run_pass(self, i: int) -> PassResult:
        tr, proc = self.ctx.tracer, self.ctx.proc
        op_ms, layers, frames, qspans = [], {}, [], []
        cpu0 = proc.sample()
        t0 = time.perf_counter()
        with tr.span("bench.pass", workload=self.name, i=i):
            for name in BATCH_QUERIES:
                with tr.span("bench.query", query=name) as qspan:
                    q0 = time.perf_counter()
                    try:
                        df, n, t_build = self._run_query(name, f"{name}:{i}")
                    except Exception:  # noqa: BLE001 - counted as a failed operation
                        traceback.print_exc()
                        df, n, t_build = None, None, time.perf_counter()
                    q1 = time.perf_counter()
                op_ms.append((q1 - q0) * 1000)
                frames.append((name, df, n))
                qspans.append((name, qspan))
                layers[f"queries.{name}.build_s"] = t_build - q0
                layers[f"queries.{name}.exec_s"] = q1 - t_build
        wall = time.perf_counter() - t0
        cpu = ProcTree.delta(cpu0, proc.sample())
        if tr.enabled:
            for name, qspan in qspans:
                layers.update(self._query_exec(name, i, qspan))
        for name, df, n in frames:
            rows = None
            if df is not None:
                try:
                    rows = check.sorted_columns(df.collect(), df.columns)
                except Exception:  # noqa: BLE001 - an output that cannot be read fails its operation
                    traceback.print_exc()
            self.kept.append((name, n, rows))
        return PassResult(wall_s=wall, op_ms=op_ms, cpu=cpu, layers=layers)

    def _query_exec(self, name: str, i: int, qspan: dict) -> dict[str, float]:
        spark, tr = self.ctx.spark, self.ctx.tracer
        out = {}
        build_totals, build_jobs = exec_counters(spark, f"{name}:{i}:build")
        exec_totals, exec_jobs = exec_counters(spark, f"{name}:{i}:exec")
        kids = [s["id"] for s in tr.spans if s["parent"] == qspan["id"]]
        attach_jobs(tr, build_jobs + exec_jobs, kids)
        out[f"queries.{name}.jobs_in_build"] = build_totals["jobs"]
        for k in EXEC_KEYS:
            out[f"queries.{name}.{k}"] = build_totals[k] + exec_totals[k]
        return out

    def verify(self) -> None:
        tables = {f[: -len(".parquet")]: os.path.join(self.dir, f) for f in os.listdir(self.dir)}
        expected = {name: check.registry_expected(name, tables) for name, _, _ in self.kept}
        for name, n, rows in self.kept:
            self.outcome.record(rows is not None and n == len(expected[name]) and check.same_rows(rows, expected[name]))

    def probe_input(self):
        return os.path.join(self.dir, "lineitem.parquet")


WORKLOADS = {w.name: w for w in (SideInputEnrich, StatefulStream, BatchMix)}
