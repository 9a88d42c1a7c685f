"""Measurement from outside the engine: spans, Spark's own counters and
process CPU.

- ``Tracer`` keeps spans (name, start, end, parent, run id) in memory and
  writes them as JSON at exit. A disabled tracer records nothing, so the
  end-to-end run pays one attribute check per span.
- ``batch_spans`` turns a stream's ``StreamingQueryProgress`` list into
  per-batch child spans (its ``timestamp`` plus the ``durationMs`` phases).
- ``exec_counters`` reads jobs and stages of a job group from
  ``statusTracker()`` and the JVM status store, which Spark fills with the
  UI disabled.
- ``ProcTree`` reads CPU and RSS of this process, the driver JVM and the
  ``pyspark.daemon`` worker tree from ``/proc``.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from datetime import datetime

from py4j.protocol import Py4JJavaError

# Order of a micro-batch's phases inside ``triggerExecution``
# (MicroBatchExecution: offsets, WAL, batch, plan, sink, commit log).
BATCH_PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
PHASE_METRIC = {
    "latestOffset": "latest_offset_ms",
    "walCommit": "wal_commit_ms",
    "getBatch": "get_batch_ms",
    "queryPlanning": "query_planning_ms",
    "addBatch": "add_batch_ms",
    "commitOffsets": "commit_offsets_ms",
}
EXEC_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
)


class Tracer:
    """In-memory span recorder. ``span`` nests by call order within a
    thread; ``add`` records a span whose times were measured elsewhere
    (Spark progress, job times)."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = self.add(name, time.time(), None, stack[-1] if stack else None, **attrs)
        stack.append(sid)
        try:
            yield self.spans[sid]
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def add(self, name: str, start: float, end: float | None, parent: int | None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "run_id": self.run_id,
                 "attrs": attrs}
            )
        return sid

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover (children
        clipped to the parent, overlaps counted once)."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            covered, cursor = 0.0, lo
            for a, b in sorted((max(c["start"], lo), min(c["end"], hi)) for c in kids.get(s["id"], ())):
                a = max(a, cursor)
                if b > a:
                    covered += b - a
                    cursor = b
            out[s["id"]] = max(0.0, hi - lo - covered)
        return out

    def layer_self_s(self, root: dict) -> dict[str, float]:
        """Self seconds per layer (span name without its last part) over
        the subtree under ``root``, ``root`` itself included."""
        selfs = self.self_times()
        inside = {root["id"]}
        totals: dict[str, float] = {}
        for s in self.spans:  # parents precede children
            if s["id"] in inside or s["parent"] in inside:
                inside.add(s["id"])
                layer = s["name"].rsplit(".", 1)[0]
                totals[layer] = totals.get(layer, 0.0) + selfs[s["id"]]
        return totals

    def dump(self, path: str, summary: dict) -> None:
        selfs = self.self_times()
        for s in self.spans:
            s["self_s"] = selfs[s["id"]]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "summary": summary, "spans": self.spans}, f)


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def batch_spans(tracer: Tracer, progress: list, parent: int, add_batch_layer: str) -> list[int]:
    """One ``streaming.sources.batch`` span per progress entry, with its
    phases laid end to end from the trigger start; ``addBatch`` is named
    after the operator's layer. Returns the add-batch span ids."""
    add_ids = []
    for p in progress:
        start = _epoch(p["timestamp"])
        d = p["durationMs"]
        bid = tracer.add(
            "streaming.sources.batch",
            start,
            start + d.get("triggerExecution", 0) / 1000,
            parent,
            batch_id=p["batchId"],
            rows=p["numInputRows"],
            state_commit_ms=sum(so.get("commitTimeMs", 0) for so in p.get("stateOperators", [])),
        )
        t = start
        for phase in BATCH_PHASES:
            ms = d.get(phase, 0)
            name = f"{add_batch_layer}.add_batch" if phase == "addBatch" else f"streaming.sources.{PHASE_METRIC[phase][:-3]}"
            sid = tracer.add(name, t, t + ms / 1000, bid)
            if phase == "addBatch":
                add_ids.append(sid)
            t += ms / 1000
    return add_ids


def attach_jobs(tracer: Tracer, jobs: list[tuple[int, float, float]], candidates: list[int]) -> None:
    """Add an ``exec.job`` span under the candidate span whose interval
    holds the job's midpoint (the innermost-first list wins)."""
    for job_id, start, end in jobs:
        mid = (start + end) / 2
        parent = next(
            (c for c in candidates if tracer.spans[c]["start"] <= mid <= tracer.spans[c]["end"]),
            None,
        )
        if parent is not None:
            tracer.add("exec.job", start, end, parent, job_id=job_id)


def _opt_s(opt) -> float | None:
    return opt.get().getTime() / 1000 if opt.isDefined() else None


def exec_counters(spark, group: str) -> tuple[dict[str, float], list[tuple[int, float, float]]]:
    """Job/stage totals of one job group and the (job id, start, end) of
    each job, from the status store (run and cpu times in seconds)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    totals = dict.fromkeys(EXEC_KEYS, 0.0)
    jobs = []
    seen_stages = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(job_id)
        start, end = _opt_s(jd.submissionTime()), _opt_s(jd.completionTime())
        if start is not None and end is not None:
            jobs.append((job_id, start, end))
        totals["jobs"] += 1
        stage_ids = jd.stageIds()
        for i in range(stage_ids.length()):
            sid = stage_ids.apply(i)
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                sd = store.stageAttempt(sid, 0, False, None, False, None)._1()
            except Py4JJavaError:  # stage skipped, or evicted from the store
                continue
            if str(sd.status()) != "COMPLETE":
                continue
            totals["stages"] += 1
            totals["tasks"] += sd.numCompleteTasks()
            totals["run_s"] += sd.executorRunTime() / 1000
            totals["cpu_s"] += sd.executorCpuTime() / 1e9
            totals["gc_s"] += sd.jvmGcTime() / 1000
            totals["input_bytes"] += sd.inputBytes()
            totals["shuffle_read_bytes"] += sd.shuffleReadBytes()
            totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            totals["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return totals, jobs


class ProcTree:
    """CPU seconds and peak RSS of this process's tree: the Python driver,
    the driver JVM and the ``pyspark.daemon`` worker subtree.

    The JVM counts as a process total (``/proc/<pid>/stat``), which keeps
    the CPU of threads that have exited, such as a finished stream's
    execution thread. Its JIT compiler threads are read apart (``jit``)
    and left out of ``work``: in a JVM this young they burn as much CPU as
    the work, and the amount swings from run to run. ``run.isolate`` turns
    off HotSpot's dynamic compiler-thread count, so no compiler thread
    exits and takes its CPU out of the per-thread reading."""

    TICK = os.sysconf("SC_CLK_TCK")
    COMPILER_THREADS = ("C1 Compiler", "C2 Compiler")

    def __init__(self) -> None:
        self.pid = os.getpid()

    @staticmethod
    def _stat(path: str) -> tuple[str, int, float, float] | None:
        """(name, ppid, own CPU s, reaped children's CPU s) from a stat file."""
        try:
            with open(path) as f:
                text = f.read()
        except OSError:
            return None
        name = text[text.index("(") + 1 : text.rindex(")")]
        # fields[0] is the state (stat field 3); utime..cstime are fields 14-17
        fields = text.rsplit(")", 1)[1].split()
        own = (int(fields[11]) + int(fields[12])) / ProcTree.TICK
        children = (int(fields[13]) + int(fields[14])) / ProcTree.TICK
        return name, int(fields[1]), own, children

    @staticmethod
    def _cmdline(pid: int) -> str:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                return f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            return ""

    def sample(self) -> dict:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = self._stat(f"/proc/{name}/stat")
                if st is not None:
                    procs[int(name)] = st
        kids: dict[int, list[int]] = {}
        for pid, (_, ppid, _, _) in procs.items():
            kids.setdefault(ppid, []).append(pid)

        def subtree(pid: int) -> list[int]:
            out, todo = [], [pid]
            while todo:
                p = todo.pop()
                out.append(p)
                todo.extend(kids.get(p, ()))
            return out

        def total(pid: int) -> float:
            return procs[pid][2] + procs[pid][3] if pid in procs else 0.0

        out = {"driver": total(self.pid), "workers": 0.0, "jvm": 0.0, "jit_threads": {}, "jvm_rss_mb": 0.0}
        tree = subtree(self.pid)
        cmds = {p: self._cmdline(p) for p in tree}
        for p in tree:
            if "pyspark.daemon" in cmds[p]:
                # forked workers keep the daemon's command line: count the
                # subtree once, at its top
                if "pyspark.daemon" not in cmds.get(procs[p][1], ""):
                    out["workers"] += sum(total(q) for q in subtree(p))
            elif cmds[p].split(" ", 1)[0].endswith("java"):
                out["jvm"] += total(p)
                out["jvm_rss_mb"] = max(out["jvm_rss_mb"], self._hwm_mb(p))
                for tid in os.listdir(f"/proc/{p}/task"):
                    st = self._stat(f"/proc/{p}/task/{tid}/stat")
                    if st is not None and st[0].startswith(self.COMPILER_THREADS):
                        out["jit_threads"][int(tid)] = st[2]
        return out

    @staticmethod
    def _hwm_mb(pid: int) -> float:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1]) / 1024
        except OSError:
            pass
        return 0.0

    @staticmethod
    def work(sample: dict) -> float:
        """CPU seconds of the tree so far, JIT compiler threads left out."""
        return sample["driver"] + sample["workers"] + sample["jvm"] - sum(sample["jit_threads"].values())

    @staticmethod
    def delta(before: dict, after: dict) -> dict[str, float]:
        """CPU used between two samples: per part, the JIT compiler
        threads' share (``jit``) and the rest (``work``)."""
        out = {k: after[k] - before[k] for k in ("driver", "workers", "jvm")}
        out["jit"] = sum(cpu - before["jit_threads"].get(tid, 0.0) for tid, cpu in after["jit_threads"].items())
        out["work"] = ProcTree.work(after) - ProcTree.work(before)
        return out


def process_age_s() -> float:
    """Wall seconds since this process started (from /proc, so interpreter
    start-up is included)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / ProcTree.TICK
