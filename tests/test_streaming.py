"""Streaming operator tests beyond the single-batch oracle checks:
state continuity across micro-batches (the FIXTURES.md B6 harness pattern —
PySpark analogue of OneInputStreamOperatorTestHarness), process-function
timers surface, CEP streaming parity with batch, side-input modes."""

from __future__ import annotations

import os
import tempfile

import pandas as pd
import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from proteus_engine_spark.streaming.cep import Pattern, match_pattern, match_pattern_stream
from proteus_engine_spark.streaming.side_inputs import (
    broadcast_side_input,
    forwarded_side_input,
    keyed_side_input,
)
from proteus_engine_spark.streaming.sources import run_to_completion
from proteus_engine_spark.streaming.stateful import count_window_agg, process_keyed
from tests.conftest import SF_DIR


def _two_batch_stream(spark, rows_a, rows_b, schema):
    """Write two parquet files and stream them one file per micro-batch —
    forces the operator to carry state across batch boundaries."""
    d = tempfile.mkdtemp(prefix="proteus_stream_")
    spark.createDataFrame(rows_a, schema).coalesce(1).write.parquet(f"{d}/b0")
    spark.createDataFrame(rows_b, schema).coalesce(1).write.parquet(f"{d}/b1")
    src_dir = f"{d}/src"
    os.makedirs(src_dir)
    # name files so b0 sorts (and is discovered) first
    for i, sub in enumerate(["b0", "b1"]):
        part = [f for f in os.listdir(f"{d}/{sub}") if f.endswith(".parquet")][0]
        os.rename(f"{d}/{sub}/{part}", f"{src_dir}/{i:02d}.parquet")
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )


EV_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"


def _ev(i, minute, user, etype, value=1.0):
    from datetime import datetime

    return (i, datetime(2024, 1, 1, 0, minute, 0), user, etype, value)


def test_count_window_spans_micro_batches(spark):
    # 7 events in batch 0, 5 in batch 1 → windows of 5: two complete windows,
    # the second one straddling the batch boundary (3 carried + 2 new).
    a = [_ev(i, i, 1, "x") for i in range(7)]
    b = [_ev(i, i, 1, "x") for i in range(7, 12)]
    stream = _two_batch_stream(spark, a, b, EV_SCHEMA)
    cw = count_window_agg(stream, "user_id", ["ts", "event_id"], "value", window_size=5)
    q = cw.writeStream.outputMode("append").format("memory").queryName("cw_test").start()
    q.processAllAvailable()
    q.stop()
    rows = {r["win_id"]: r for r in spark.table("cw_test").collect()}
    assert set(rows) == {0, 1}
    assert rows[0]["first_id"] == 0 and rows[0]["last_id"] == 4
    assert rows[1]["first_id"] == 5 and rows[1]["last_id"] == 9  # straddles batches
    assert all(r["n"] == 5 for r in rows.values())


def test_cep_stream_matches_batch(spark):
    """Streaming CEP over two micro-batches = batch CEP over the union —
    partial matches must survive the batch boundary."""
    a = [_ev(0, 1, 1, "signup"), _ev(1, 2, 1, "click")]
    b = [_ev(2, 4, 1, "purchase"), _ev(3, 20, 1, "purchase")]
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .within(600_000)
    )
    stream = _two_batch_stream(spark, a, b, EV_SCHEMA)
    out = match_pattern_stream(stream, pat, key_col="user_id")
    q = out.writeStream.outputMode("append").format("memory").queryName("cep_test").start()
    q.processAllAvailable()
    q.stop()
    stream_rows = [
        (r["user_id"], r["signup_id"], r["purchase_id"]) for r in spark.table("cep_test").collect()
    ]
    batch_df = spark.createDataFrame(a + b, EV_SCHEMA)
    batch_rows = [
        (r["user_id"], r["signup_id"], r["purchase_id"])
        for r in match_pattern(batch_df, pat, key_col="user_id").collect()
    ]
    assert sorted(stream_rows) == sorted(batch_rows) == [(1, 0, 2)]
    # the second purchase (t=20min) is outside within=10min → matched once only


def test_cep_next_strict_contiguity(spark):
    # signup NEXT purchase: a click in between kills the partial.
    rows = [_ev(0, 1, 1, "signup"), _ev(1, 2, 1, "click"), _ev(2, 3, 1, "purchase"),
            _ev(3, 10, 2, "signup"), _ev(4, 11, 2, "purchase")]
    df = spark.createDataFrame(rows, EV_SCHEMA)
    pat = Pattern.begin("signup", lambda r: r["event_type"] == "signup").next(
        "purchase", lambda r: r["event_type"] == "purchase"
    )
    got = [(r["user_id"], r["signup_id"]) for r in match_pattern(df, pat, key_col="user_id").collect()]
    assert got == [(2, 3)]  # user 1's strict match is broken by the click


def test_process_keyed_running_max(spark):
    rows = [_ev(0, 1, 1, "x", 5.0), _ev(1, 2, 1, "x", 3.0)]
    rows_b = [_ev(2, 3, 1, "x", 9.0), _ev(3, 4, 2, "x", 1.0)]
    stream = _two_batch_stream(spark, rows, rows_b, EV_SCHEMA)

    def running_max(key, batch, state):
        cur = state.get("max", float("-inf"))
        batch = batch.sort_values(["ts", "event_id"])
        out = []
        for _, r in batch.iterrows():
            cur = max(cur, r["value"])
            out.append((key[0], int(r["event_id"]), cur))
        return pd.DataFrame(out, columns=["user_id", "event_id", "run_max"]), {"max": cur}

    out = process_keyed(stream, ["user_id"], running_max, "user_id long, event_id long, run_max double")
    q = out.writeStream.outputMode("append").format("memory").queryName("pk_test").start()
    q.processAllAvailable()
    q.stop()
    got = {r["event_id"]: r["run_max"] for r in spark.table("pk_test").collect()}
    assert got == {0: 5.0, 1: 5.0, 2: 9.0, 3: 1.0}  # state carried 5.0 into batch 2


def test_forwarded_side_input_tags_and_aligns(spark):
    main = spark.createDataFrame([(1, "a")], "id long, payload string")
    side = spark.createDataFrame([(2, 9.5)], "id long, weight double")
    out = forwarded_side_input(main, side)
    rows = sorted(out.collect(), key=lambda r: r["id"])
    assert rows[0]["__side__"] is False and rows[0]["payload"] == "a" and rows[0]["weight"] is None
    assert rows[1]["__side__"] is True and rows[1]["weight"] == 9.5 and rows[1]["payload"] is None


SIDE_INPUTS = {"broadcast": broadcast_side_input, "keyed": keyed_side_input}
MAIN_SCHEMA = "id long, payload string"
MAIN_A = [(1, "a"), (2, "b"), (3, "c")]
MAIN_B = [(2, "d"), (4, "e"), (5, "f")]
SIDE_ROWS = {"id": [1, 2, 2, 4, 9], "weight": [0.5, 1.5, 2.5, 4.5, 9.5]}


def _write_side(path, name, cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path.mkdir(exist_ok=True)
    pq.write_table(pa.table(cols), path / name)


def _rows(df):
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


@pytest.mark.parametrize("how", ["left", "inner"])
@pytest.mark.parametrize("on", ["list", "column", "none"])
@pytest.mark.parametrize("mode", sorted(SIDE_INPUTS))
def test_side_input_matches_batch_join(spark, tmp_path, mode, on, how):
    """Over two micro-batches, a broadcast or keyed side input gives the
    rows of the same join run as one batch."""
    _write_side(tmp_path / "side", "side.parquet", SIDE_ROWS)
    side = spark.read.parquet(str(tmp_path / "side"))
    if on == "list":
        cond = ["id"]
    else:
        side = side.withColumnRenamed("id", "sid")
        cond = F.col("id") == F.col("sid") if on == "column" else None
    stream = _two_batch_stream(spark, MAIN_A, MAIN_B, MAIN_SCHEMA)
    out = SIDE_INPUTS[mode](stream, side, cond, how)
    got = run_to_completion(out, f"side_input_{mode}_{on}_{how}_sink", "append")
    want = spark.createDataFrame(MAIN_A + MAIN_B, MAIN_SCHEMA).join(side, cond, how)
    assert _rows(got) == _rows(want)


@pytest.mark.parametrize("mode", sorted(SIDE_INPUTS))
def test_side_input_is_drained_at_query_start(spark, tmp_path, mode):
    """A side input is a snapshot taken when the query is built: the side's
    parquet rewritten with new values, and the old file deleted, before the
    query runs change nothing it sees."""
    side_dir = tmp_path / "side"
    _write_side(side_dir, "v1.parquet", SIDE_ROWS)
    stream = _two_batch_stream(spark, MAIN_A, MAIN_B, MAIN_SCHEMA)
    out = SIDE_INPUTS[mode](stream, spark.read.parquet(str(side_dir)), ["id"], "inner")
    _write_side(side_dir, "v2.parquet", {"id": [1, 2, 3, 4, 5], "weight": [-1.0] * 5})
    (side_dir / "v1.parquet").unlink()
    got = run_to_completion(out, f"side_input_snapshot_{mode}_sink", "append")
    assert _rows(got) == [
        (1, "a", 0.5), (2, "b", 1.5), (2, "b", 2.5), (2, "d", 1.5), (2, "d", 2.5), (4, "e", 4.5)
    ]


@pytest.mark.parametrize("mode", sorted(SIDE_INPUTS))
def test_side_input_plan_has_no_side_scan(spark, tmp_path, mode):
    """The running query's micro-batch plan reads the drained rows, not the
    side's parquet: no FileScan is left over the side's path."""
    side_dir = tmp_path / "side"
    _write_side(side_dir, "side.parquet", SIDE_ROWS)
    stream = _two_batch_stream(spark, MAIN_A, MAIN_B, MAIN_SCHEMA)
    out = SIDE_INPUTS[mode](stream, spark.read.parquet(str(side_dir)), ["id"], "left")
    q = out.writeStream.format("memory").queryName(f"side_input_plan_{mode}_sink").start()
    try:
        q.processAllAvailable()
        plan = q._jsq.explainInternal(True)
    finally:
        q.stop()
    scans = [line for line in plan.splitlines() if "FileScan parquet" in line]
    assert scans, plan  # the stream's own micro-batch scan is planned
    assert not [line for line in scans if str(side_dir) in line], plan


def test_side_input_rejects_a_stream(spark):
    """A side input is bounded; a streaming side raises before any join."""
    main = _two_batch_stream(spark, MAIN_A, MAIN_B, MAIN_SCHEMA)
    side = _two_batch_stream(spark, MAIN_A, MAIN_B, MAIN_SCHEMA)
    for fn in SIDE_INPUTS.values():
        with pytest.raises(ValueError, match="a side input is a bounded dataset"):
            fn(main, side, ["id"])


def test_events_stream_schema(spark):
    from proteus_engine_spark.streaming.sources import events_stream

    ev = events_stream(spark, SF_DIR)
    assert ev.isStreaming
    assert dict(ev.dtypes)["ts"] == "timestamp"


def test_cep_prefilter_pushdown_preserves_semantics(spark):
    """With exprs declared on every relaxed step, the CEP input is
    pre-filtered JVM-side; the match set must be identical to the
    unfiltered NFA, and the filter must reach the parquet scan."""
    import os

    from tests.conftest import SF_DIR as _SF

    ev = spark.read.parquet(os.path.join(_SF, "events.parquet"))
    base = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .within(600_000)
    )
    pushed = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup",
                      expr="event_type = 'signup'")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase",
                     expr="event_type = 'purchase'")
        .within(600_000)
    )
    a = {tuple(r) for r in match_pattern(ev, base, key_col="user_id").collect()}
    df_pushed = match_pattern(ev, pushed, key_col="user_id")
    b = {tuple(r) for r in df_pushed.collect()}
    assert a == b
    plan = df_pushed._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "event_type" in plan.split("PushedFilters")[1][:300]


def test_cep_next_disables_prefilter(spark):
    """Strict contiguity must see every row — prefilter_expr is None when a
    `next` step exists even if exprs are declared."""
    p = (
        Pattern.begin("a", lambda r: True, expr="true")
        .next("b", lambda r: True, expr="true")
    )
    assert p.prefilter_expr() is None


def _fake_service_lookup(row):
    """Deterministic stand-in for an external service call."""
    return {"enriched": f"user-{row['user_id']}-{row['event_type']}"}


def test_async_enrich_ordered_and_unordered(spark):
    """AsyncDataStream parity: both modes produce the same enriched row
    multiset; ordered mode preserves input order within partitions."""
    import os

    from proteus_engine_spark.streaming.async_io import async_enrich
    from tests.conftest import SF_DIR as _SF

    ev = (
        spark.read.parquet(os.path.join(_SF, "events.parquet"))
        .select("event_id", "user_id", "event_type")
        .limit(200)
    )
    schema = "event_id long, user_id long, event_type string, enriched string"
    ordered = async_enrich(ev, _fake_service_lookup, schema, capacity=8, ordered=True)
    unordered = async_enrich(ev, _fake_service_lookup, schema, capacity=8, ordered=False)
    o = ordered.collect()
    u = unordered.collect()
    assert len(o) == len(u) == 200
    expect = {(r["event_id"], f"user-{r['user_id']}-{r['event_type']}") for r in ev.collect()}
    assert {(r["event_id"], r["enriched"]) for r in o} == expect
    assert {(r["event_id"], r["enriched"]) for r in u} == expect


def test_process_keyed_event_time_timer(spark):
    """EventTimeTimeout: user 1 goes idle; when the watermark passes its
    last event + gap, on_timeout fires with the accumulated state (the
    ProcessFunction.java:85 event-time onTimer shape)."""
    a = [_ev(0, 1, 1, "x", 2.0), _ev(1, 2, 1, "x", 3.0)]
    b = [_ev(2, 30, 2, "x", 1.0)]  # advances watermark past user 1's timer
    stream = _two_batch_stream(spark, a, b, EV_SCHEMA).withWatermark("ts", "0 seconds")

    def accumulate(key, batch, state):
        state = {"n": state.get("n", 0) + len(batch)}
        return None, state

    def session_close(key, state):
        return pd.DataFrame([(key[0], state.get("n", 0))], columns=["user_id", "n"])

    out = process_keyed(
        stream, ["user_id"], accumulate, "user_id long, n long",
        timeout="EventTimeTimeout", timeout_duration_ms=10 * 60 * 1000,
        on_timeout=session_close, event_time_col="ts",
    )
    q = out.writeStream.outputMode("append").format("memory").queryName("pk_et_test").start()
    q.processAllAvailable()
    q.stop()
    got = {r["user_id"]: r["n"] for r in spark.table("pk_et_test").collect()}
    # user 1's timer (last event 00:02 + 10min = 00:12) fired when the
    # watermark reached 00:30; user 2's timer (00:40) is still pending.
    assert got == {1: 2}


def test_process_keyed_event_time_timer_requires_args(spark):
    with pytest.raises(ValueError):
        process_keyed(
            spark.readStream.format("rate").load(), ["value"],
            lambda k, b, s: (None, s), "value long",
            timeout="EventTimeTimeout",
        )


def test_cep_stream_with_watermark_prunes_state(spark):
    """With watermark_delay set, streaming CEP arms an event-time timer to
    drop idle-key state; the match output is unchanged vs batch."""
    a = [_ev(0, 1, 1, "signup"), _ev(1, 2, 1, "click")]
    b = [_ev(2, 4, 1, "purchase"), _ev(3, 40, 2, "signup")]
    pat = (
        Pattern.begin("signup", lambda r: r["event_type"] == "signup")
        .followed_by("purchase", lambda r: r["event_type"] == "purchase")
        .within(600_000)
    )
    stream = _two_batch_stream(spark, a, b, EV_SCHEMA)
    out = match_pattern_stream(stream, pat, key_col="user_id", watermark_delay="0 seconds")
    q = out.writeStream.outputMode("append").format("memory").queryName("cep_wm_test").start()
    q.processAllAvailable()
    q.stop()
    got = [(r["user_id"], r["signup_id"], r["purchase_id"])
           for r in spark.table("cep_wm_test").collect()]
    assert sorted(got) == [(1, 0, 2)]


def test_checkpoint_restart_exactly_once(spark):
    """Exactly-once resumption from a checkpoint (CheckpointingMode.java:62
    parity): a file-source stream into stream_to_parquet is STOPPED
    mid-stream, three more files arrive, and a new query restarts from the
    same checkpointLocation — the final parquet must equal the batch union
    exactly once: no re-emission of pre-stop batches, no loss of files
    that arrived while the query was down."""
    from proteus_engine_spark.sources.sinks import stream_to_parquet

    d = tempfile.mkdtemp(prefix="proteus_ckpt_")
    src, out, ckpt = f"{d}/src", f"{d}/out", f"{d}/ckpt"
    os.makedirs(src)
    schema = "id long, v double"

    def add_file(i):
        rows = [(i * 10 + j, float(j)) for j in range(10)]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{d}/tmp{i}")
        part = [f for f in os.listdir(f"{d}/tmp{i}") if f.endswith(".parquet")][0]
        os.rename(f"{d}/tmp{i}/{part}", f"{src}/{i:02d}.parquet")

    def start():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return stream_to_parquet(stream, out, ckpt)

    for i in range(3):
        add_file(i)
    q = start()
    q.processAllAvailable()
    q.stop()  # the kill: offsets for files 0-2 are committed in ckpt
    assert sorted(r["id"] for r in spark.read.parquet(out).collect()) == list(range(30))

    for i in range(3, 6):
        add_file(i)
    q2 = start()  # restart from the same checkpoint
    q2.processAllAvailable()
    q2.stop()
    got = sorted(r["id"] for r in spark.read.parquet(out).collect())
    assert got == list(range(60))  # no dups (0-29 once), no loss (30-59 present)


def test_savepoint_fork_and_immutability(spark):
    """Savepoint parity (SavepointStore.java:47; `flink run -s`): stop with
    savepoint after 3 files, then restore TWICE — both forks replay the
    post-savepoint files into the SAME parquet sink, and the sink's
    batch-id transaction log keeps the result exactly-once (the second
    fork's replayed commits are recognized as already applied); the
    savepoint itself stays byte-identical through both restores."""
    from proteus_engine_spark.sources.sinks import stream_to_parquet
    from proteus_engine_spark.streaming.savepoints import (
        restore_from_savepoint,
        trigger_savepoint,
    )

    d = tempfile.mkdtemp(prefix="proteus_sp_")
    src, sp = f"{d}/src", f"{d}/sp"
    os.makedirs(src)
    schema = "id long, v double"

    def add_file(i):
        rows = [(i * 10 + j, float(j)) for j in range(10)]
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(f"{d}/tmp{i}")
        part = [f for f in os.listdir(f"{d}/tmp{i}") if f.endswith(".parquet")][0]
        os.rename(f"{d}/tmp{i}/{part}", f"{src}/{i:02d}.parquet")

    def start(out, ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        return stream_to_parquet(stream, out, ckpt)

    for i in range(3):
        add_file(i)
    q = start(f"{d}/out0", f"{d}/ckpt0")
    q.processAllAvailable()
    trigger_savepoint(f"{d}/ckpt0", sp, query=q)  # stop-with-savepoint

    def listing(root):
        return sorted(
            (os.path.relpath(os.path.join(r, f), root), os.path.getsize(os.path.join(r, f)))
            for r, _dirs, files in os.walk(root)
            for f in files
        )

    snap = listing(sp)
    for i in range(3, 6):
        add_file(i)

    for fork in ("a", "b"):  # one savepoint, two independent restarts
        ckpt = restore_from_savepoint(sp, f"{d}/ckpt_{fork}")
        out = f"{d}/out0"  # file sink state continues against the same output
        q2 = start(out, ckpt)
        q2.processAllAvailable()
        q2.stop()
        q2.awaitTermination()
        got = sorted(r["id"] for r in spark.read.parquet(out).collect())
        assert got == list(range(60)), f"fork {fork}: {len(got)} rows"

    assert listing(sp) == snap  # savepoint untouched by both restores
    import pytest as _pytest

    with _pytest.raises(ValueError, match="immutable"):
        trigger_savepoint(f"{d}/ckpt_a", sp)


def test_checkpoint_manager_refuses_overwrite(spark, tmp_path):
    """The session's checkpoint file manager is the FileSystem-based one,
    and its atomic create keeps the no-overwrite contract the metadata logs
    rely on: a second ``createAtomic(p, overwriteIfPossible=False)`` onto
    an existing file raises Hadoop's FileAlreadyExistsException (the
    exception HDFSMetadataLog handles) and leaves the first file intact."""
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert manager.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"

    def write(data):
        out = manager.createAtomic(jvm.org.apache.hadoop.fs.Path(str(tmp_path / "0")), False)
        out.write(bytearray(data))
        out.close()

    write(b"first")
    with pytest.raises(Py4JJavaError) as err:
        write(b"second")
    exists = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert exists.isInstance(err.value.java_exception)
    assert (tmp_path / "0").read_bytes() == b"first"


def test_stateful_restart_matches_uninterrupted_run(spark, tmp_path):
    """A keyed tumbling count over three one-file micro-batches, stopped
    after the first file and restarted from its checkpoint, emits the rows
    of one uninterrupted run: the window open across the stop is finished
    from the state delta and checksum files written before it. While the
    first run is active, a second start on its checkpoint is refused."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from proteus_engine_spark.sources.sinks import stream_to_parquet
    from proteus_engine_spark.streaming.sources import parquet_stream
    from proteus_engine_spark.streaming.windows import windowed_agg

    files = [  # (user_id, minute); 10-minute windows, no watermark delay
        [(1, 0), (2, 1), (1, 2)],
        [(1, 5), (2, 12)],  # closes [0, 10): user 1 counts rows of two files
        [(1, 25), (2, 31)],
    ]

    def stage(src, indices):
        os.makedirs(src, exist_ok=True)
        for i in indices:
            users, minutes = zip(*files[i])
            ts = [pd.Timestamp("2024-01-01", tz="UTC") + pd.Timedelta(minutes=m) for m in minutes]
            table = pa.table({"user_id": pa.array(users, pa.int64()), "ts": pa.array(ts, pa.timestamp("us", "UTC"))})
            path = f"{src}/{i:02d}.parquet"
            pq.write_table(table, path)
            os.utime(path, (1_700_000_000 + 60 * i,) * 2)  # arrival order = file order

    def start(src, out, ckpt):
        stream = parquet_stream(spark, src, "*.parquet", one_file_per_batch=True)
        counts = windowed_agg(stream, "ts", "0 seconds", "10 minutes", ["user_id"], [F.count("*").alias("n")])
        return stream_to_parquet(counts, out, ckpt)

    def drain(q):
        q.processAllAvailable()
        q.stop()

    def rows(out):
        return sorted(
            (r["user_id"], r["window_start"].minute, r["n"]) for r in spark.read.parquet(out).collect()
        )

    whole = tmp_path / "whole"
    stage(f"{whole}/src", range(3))
    drain(start(f"{whole}/src", f"{whole}/out", f"{whole}/ckpt"))
    expected = rows(f"{whole}/out")
    assert expected == [(1, 0, 3), (1, 20, 1), (2, 0, 1), (2, 10, 1)]

    split = tmp_path / "split"
    src, out, ckpt = f"{split}/src", f"{split}/out", f"{split}/ckpt"
    stage(src, [0])
    q = start(src, out, ckpt)
    q.processAllAvailable()
    # By default Spark stops an active run when the same query restarts;
    # with that off, the concurrent start must be refused outright.
    spark.conf.set("spark.sql.streaming.stopActiveRunOnRestart", "false")
    try:
        with pytest.raises(Exception, match="already active"):
            start(src, f"{split}/out2", ckpt)
        assert q.isActive
    finally:
        spark.conf.unset("spark.sql.streaming.stopActiveRunOnRestart")
    q.stop()
    assert rows(out) == []  # the open windows live only in the state store

    stage(src, [1, 2])
    drain(start(src, out, ckpt))
    assert rows(out) == expected


def test_scratch_sweep_removes_stale_tmp_keeps_staged_replays(tmp_path, monkeypatch):
    """Per-invocation and staging temp dirs all live under `.scratch/tmp/`,
    swept by age on the next `_scratch` call; staged replays sit directly
    under `.scratch/` and are never collected, however old."""
    import os
    import time

    from proteus_engine_spark.queries.surface_q import _scratch
    from proteus_engine_spark.streaming import sources

    monkeypatch.setattr(sources, "SCRATCH", str(tmp_path))
    old = time.time() - 3600
    stale = tmp_path / "tmp" / "stage_crashed"
    fresh = tmp_path / "tmp" / "csv_supplier_sf0_001_live"
    staged = tmp_path / "ooo_events_sf0_001_7200000_6"
    for d in (stale, fresh, staged):
        d.mkdir(parents=True)
    os.utime(stale, (old, old))
    os.utime(staged, (old, old))

    made = _scratch("bucketing_sink", "/data/sf0.001")
    assert os.path.dirname(made) == str(tmp_path / "tmp")
    assert os.path.basename(made).startswith("bucketing_sink_sf0_001_")
    assert not stale.exists()
    assert fresh.exists() and staged.exists()
