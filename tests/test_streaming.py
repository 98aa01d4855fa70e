"""Streaming-semantics tests (SURVEY.md §5 item 3): FIFO consume,
at-most-N-per-trigger, 8 MiB guard, checkpoint restart, watermarked
windows, and stateful last-write-wins with tombstones.

All tests use the file-drop source with availableNow/processAllAvailable
triggers so they drain deterministically and terminate.
"""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pulsar_internal_spark.streaming import (
    read_submission_stream,
    run_fifo_sink,
    streaming_lww_cache,
    windowed_event_counts,
)


def _drop(path: str, idx: int, body: str) -> None:
    # zero-padded names keep listing order == arrival order in one batch
    with open(os.path.join(path, f"{idx:06d}.txt"), "w") as f:
        f.write(body)


def _await(query, timeout=60):
    query.processAllAvailable()
    query.stop()
    query.awaitTermination(timeout)


def test_fifo_order_and_guard(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    for i in range(5):
        _drop(str(inbox), i, f"print('msg {i}')")
        time.sleep(0.05)  # distinct mod-times -> stable FIFO order

    seen: list[tuple[int, list[str]]] = []
    stream = read_submission_stream(spark, str(inbox), max_files_per_trigger=2)

    def collect(batch_df, batch_id):
        rows = batch_df.orderBy("submission_id").collect()
        seen.append((batch_id, [r.script for r in rows]))

    q = run_fifo_sink(
        stream, collect, str(tmp_path / "ckpt"), trigger={"availableNow": True}
    )
    _await(q)

    # at-most-2-per-trigger: 5 files -> 3 batches (2,2,1)
    sizes = [len(b) for _, b in seen if b]
    assert sizes == [2, 2, 1]
    flat = [s for _, b in seen for s in b]
    assert flat == [f"print('msg {i}')" for i in range(5)]


def test_oversized_messages_guarded(spark, tmp_path):
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    _drop(str(inbox), 0, "small payload")
    big = "x" * (1024 + 1)
    _drop(str(inbox), 1, big)

    # shrink the cap so the test doesn't write 8 MiB
    stream = read_submission_stream(
        spark, str(inbox), max_files_per_trigger=None, max_message_bytes=1024
    )
    got: list[str] = []

    def collect(batch_df, batch_id):
        got.extend(r.script for r in batch_df.collect())

    q = run_fifo_sink(
        stream, collect, str(tmp_path / "ckpt"), trigger={"availableNow": True}
    )
    _await(q)
    assert got == ["small payload"]


def test_checkpoint_restart_no_replay(spark, tmp_path):
    """The session-watchdog analogue (tphandler.cpp:34-76): a restarted
    stream resumes from the checkpoint instead of reprocessing."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    ckpt = str(tmp_path / "ckpt")
    _drop(str(inbox), 0, "first")

    got: list[str] = []

    def collect(batch_df, batch_id):
        got.extend(r.script for r in batch_df.collect())

    stream = read_submission_stream(spark, str(inbox), max_files_per_trigger=None)
    q = run_fifo_sink(stream, collect, ckpt, trigger={"availableNow": True})
    _await(q)
    assert got == ["first"]

    _drop(str(inbox), 1, "second")
    q2 = run_fifo_sink(
        read_submission_stream(spark, str(inbox), max_files_per_trigger=None),
        collect,
        ckpt,
        trigger={"availableNow": True},
    )
    _await(q2)
    assert got == ["first", "second"]  # "first" not replayed


def test_windowed_counts_with_watermark_streaming(spark, tmp_path):
    """Watermarked tumbling-window counts over a file-drop JSON stream."""
    inbox = tmp_path / "events"
    inbox.mkdir()
    rows = [
        {"ts": "2026-01-01T10:00:30", "event_type": "click"},
        {"ts": "2026-01-01T10:20:00", "event_type": "click"},
        {"ts": "2026-01-01T10:40:00", "event_type": "view"},
        {"ts": "2026-01-01T11:05:00", "event_type": "click"},
    ]
    with open(inbox / "batch0.json", "w") as f:
        f.write("\n".join(json.dumps(r) for r in rows))

    src = (
        spark.readStream.schema("ts STRING, event_type STRING")
        .json(str(inbox))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    counts = windowed_event_counts(
        src, ts_col="ts", keys=("event_type",), window="1 hour", watermark="30 minutes"
    )
    q = (
        counts.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await(q)
    out = {
        (r.window_start.hour, r.event_type): r.cnt
        for r in spark.table("win_counts").collect()
    }
    assert out == {(10, "click"): 2, (10, "view"): 1, (11, "click"): 1}


def test_streaming_lww_cache_replace_and_invalidate(spark, tmp_path):
    """cache.hpp semantics end-to-end: replace overwrites, invalidate
    (tombstone) deletes, state survives across micro-batches."""
    inbox = tmp_path / "writes"
    inbox.mkdir()

    def write_batch(name: str, recs: list[dict]) -> None:
        with open(inbox / name, "w") as f:
            f.write("\n".join(json.dumps(r) for r in recs))

    write_batch(
        "b0.json",
        [
            {"key": "a", "seq": 1, "value": "v1", "is_tombstone": False},
            {"key": "a", "seq": 2, "value": "v2", "is_tombstone": False},
            {"key": "b", "seq": 1, "value": "w1", "is_tombstone": False},
        ],
    )

    src = spark.readStream.schema(
        "key STRING, seq LONG, value STRING, is_tombstone BOOLEAN"
    ).json(str(inbox))
    out = streaming_lww_cache(src)
    q = (
        out.writeStream.format("memory")
        .queryName("lww")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    state = {r.key: r for r in spark.table("lww").collect()}
    assert state["a"].value == "v2" and state["a"].cached
    assert state["b"].value == "w1" and state["b"].cached

    # second micro-batch: invalidate "a" (state carried across batches)
    write_batch(
        "b1.json", [{"key": "a", "seq": 3, "value": None, "is_tombstone": True}]
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    latest = {}
    for r in spark.table("lww").collect():
        if r.key not in latest or r.seq > latest[r.key].seq:
            latest[r.key] = r
    assert latest["a"].cached is False and latest["a"].value is None
    assert latest["b"].cached is True


def test_batch_and_streaming_window_agree(spark):
    """windowed_event_counts is one definition for both engines modes —
    the batch form is what the hourly_event_windows oracle checks."""
    df = spark.createDataFrame(
        [
            Row(ts="2026-01-01T10:00:30", event_type="click"),
            Row(ts="2026-01-01T10:59:59", event_type="click"),
            Row(ts="2026-01-01T11:00:00", event_type="click"),
        ]
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        (r.window_start.hour, r.cnt)
        for r in windowed_event_counts(df, window="1 hour").collect()
    }
    assert out == {(10, 2), (11, 1)}


def test_yield_async_sideeffect_rejoin(spark, tmp_path):
    """D4 yield-queue shape end-to-end: blocking side effects run on a
    worker pool inside foreachBatch; their results rejoin the dataflow
    as a later streaming read (SURVEY.md §3C)."""
    from pulsar_internal_spark.streaming.yields import (
        make_yield_processor,
        read_yield_results,
    )

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    results_dir = str(tmp_path / "yields")
    for i in range(4):
        _drop(str(inbox), i, f"payload-{i}")
        time.sleep(0.02)

    def side_effect(script: str) -> str:  # the blocking host call
        return script.upper()

    stream = read_submission_stream(spark, str(inbox), max_files_per_trigger=2)
    q = run_fifo_sink(
        stream,
        make_yield_processor(side_effect, results_dir, max_workers=4),
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    _await(q)

    # rejoin: read the results back as a stream and drain it
    rq = (
        read_yield_results(spark, results_dir)
        .writeStream.format("memory")
        .queryName("yield_results")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    _await(rq)
    got = {r.result for r in spark.table("yield_results").collect() if r.ok}
    assert got == {f"PAYLOAD-{i}" for i in range(4)}


def test_socket_submissions_schema(spark):
    """The socket-source variant builds without a live server (lazy
    source); schema and guard column must match the file-drop source."""
    from pulsar_internal_spark.streaming.ingest import read_socket_submissions

    df = read_socket_submissions(spark, port=16969)
    assert df.isStreaming
    assert [f.name for f in df.schema.fields] == ["script", "bytes", "oversized"]


def test_lww_state_survives_query_restart(spark, tmp_path):
    """State checkpointing: a NEW query started from the same checkpoint
    must still know the keys folded by the old one (the reference loses
    its cache on re-init, tphandler.cpp:34-76 — the rebuild does not)."""
    inbox = tmp_path / "writes"
    inbox.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_batch(name, recs):
        with open(inbox / name, "w") as f:
            f.write("\n".join(json.dumps(r) for r in recs))

    emitted: list = []

    def start():
        src = spark.readStream.schema(
            "key STRING, seq LONG, value STRING, is_tombstone BOOLEAN"
        ).json(str(inbox))
        return (
            streaming_lww_cache(src)
            .writeStream.foreachBatch(
                lambda bdf, bid: emitted.extend(bdf.collect())
            )
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .start()
        )

    write_batch("b0.json", [{"key": "a", "seq": 5, "value": "v5", "is_tombstone": False}])
    q = start()
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)

    # restart; a LOWER-seq write for "a" must lose against restored state
    write_batch("b1.json", [{"key": "a", "seq": 3, "value": "stale", "is_tombstone": False}])
    q2 = start()
    q2.processAllAvailable()
    q2.stop()
    q2.awaitTermination(60)

    latest = {}
    for r in emitted:
        if r.key not in latest or r.seq > latest[r.key].seq:
            latest[r.key] = r
    assert latest["a"].seq == 5 and latest["a"].value == "v5"


def test_streaming_exact_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark: repeats of a doc id within the
    watermark horizon are emitted once, across micro-batches."""
    from pulsar_internal_spark.streaming.ingest import streaming_exact_dedup

    inbox = tmp_path / "docs"
    inbox.mkdir()

    def write_batch(name, recs):
        with open(inbox / name, "w") as f:
            f.write("\n".join(json.dumps(r) for r in recs))

    write_batch(
        "b0.json",
        [
            {"doc_id": 1, "ts": "2026-01-01T10:00:00", "text": "a"},
            {"doc_id": 1, "ts": "2026-01-01T10:00:05", "text": "a-dup"},
            {"doc_id": 2, "ts": "2026-01-01T10:00:10", "text": "b"},
        ],
    )
    src = (
        spark.readStream.schema("doc_id LONG, ts STRING, text STRING")
        .json(str(inbox))
        .withColumn("ts", F.to_timestamp("ts"))
    )
    out = streaming_exact_dedup(src, ["doc_id"], "ts", watermark="1 hour")
    emitted: list = []
    q = (
        out.writeStream.foreachBatch(lambda bdf, bid: emitted.extend(bdf.collect()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    # second batch: another duplicate of 1, plus a fresh id
    write_batch(
        "b1.json",
        [
            {"doc_id": 1, "ts": "2026-01-01T10:01:00", "text": "a-again"},
            {"doc_id": 3, "ts": "2026-01-01T10:01:05", "text": "c"},
        ],
    )
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    ids = sorted(r.doc_id for r in emitted)
    assert ids == [1, 2, 3]


def test_blocklist_filter_at_ingest(spark, tmp_path):
    """Unsafe-name hook at ingest: submissions whose first token is on
    the blocklist dimension are dropped by a stream-static anti join."""
    from pulsar_internal_spark.streaming.ingest import filter_blocklisted

    inbox = tmp_path / "inbox"
    inbox.mkdir()
    _drop(str(inbox), 0, "keypress evil args")
    _drop(str(inbox), 1, "print hello")
    blocklist = spark.createDataFrame(
        [("keypress",), ("setclipboard",)], ["blocked_name"]
    )
    stream = filter_blocklisted(
        read_submission_stream(spark, str(inbox), max_files_per_trigger=None),
        blocklist,
    )
    got: list[str] = []
    q = run_fifo_sink(
        stream,
        lambda bdf, bid: got.extend(r.script for r in bdf.collect()),
        str(tmp_path / "ckpt"),
        trigger={"availableNow": True},
    )
    _await(q)
    assert got == ["print hello"]


def test_close_sentinel_stops_stream(spark, tmp_path):
    """OnClose semantics: the sentinel message ends the stream after its
    batch's real rows are processed; the query terminates on its own."""
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    _drop(str(inbox), 0, "real work")
    time.sleep(0.05)
    _drop(str(inbox), 1, "__CLOSE__")

    got: list[str] = []
    q = run_fifo_sink(
        read_submission_stream(spark, str(inbox), max_files_per_trigger=None),
        lambda bdf, bid: got.extend(r.script for r in bdf.collect()),
        str(tmp_path / "ckpt"),
        trigger={"processingTime": "250 milliseconds"},
        close_sentinel="__CLOSE__",
    )
    assert q.awaitTermination(30), "stream must stop itself on the sentinel"
    assert got == ["real work"]


def test_stream_stream_rejoin_within_delay(spark, tmp_path):
    """rejoin_results_stream: a result matches only within max_delay of
    its submission (the HTTP-timeout range condition); late results
    produce no joined row."""
    from pulsar_internal_spark.streaming import rejoin_results_stream

    sub_dir, res_dir = tmp_path / "subs", tmp_path / "res"
    sub_dir.mkdir(), res_dir.mkdir()

    def put(d, name, rows):
        with open(os.path.join(d, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    put(sub_dir, "s.jsonl", [
        {"submission_id": "a", "submitted_at": "2024-01-01 00:00:00"},
        {"submission_id": "b", "submitted_at": "2024-01-01 00:00:10"},
        {"submission_id": "c", "submitted_at": "2024-01-01 00:00:20"},
    ])
    put(res_dir, "r.jsonl", [
        # a: completes in 30s -> joins
        {"submission_id": "a", "completed_at": "2024-01-01 00:00:30",
         "result": "ok-a", "ok": True},
        # b: completes 10 min later -> outside max_delay, no row
        {"submission_id": "b", "completed_at": "2024-01-01 00:10:10",
         "result": "late-b", "ok": True},
        # c: completes before submission (clock skew) -> no row
        {"submission_id": "c", "completed_at": "2023-12-31 23:59:00",
         "result": "early-c", "ok": True},
    ])

    subs = spark.readStream.schema(
        "submission_id STRING, submitted_at TIMESTAMP"
    ).json(str(sub_dir))
    res = spark.readStream.schema(
        "submission_id STRING, completed_at TIMESTAMP, result STRING, ok BOOLEAN"
    ).json(str(res_dir))

    joined = rejoin_results_stream(subs, res, max_delay="5 minutes")
    q = (
        joined.writeStream.format("memory")
        .queryName("rejoin_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _await(q)
    rows = {r.submission_id: r for r in spark.sql("SELECT * FROM rejoin_t").collect()}
    assert set(rows) == {"a"}
    assert rows["a"].result == "ok-a" and rows["a"].ok


def test_streaming_session_windows_merge(spark, tmp_path):
    """Streaming session windows: events within the gap merge into one
    session (even across micro-batches); events past the gap open a new
    one. Append mode emits only watermark-finalized sessions."""
    from pulsar_internal_spark.streaming.windows import session_windowed_counts

    src = tmp_path / "events"
    src.mkdir()

    def put(name, rows):
        with open(os.path.join(src, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    # user 1: a 3-event session then a separate late-hour session;
    # user 2: one singleton. The 12:00 row only advances the watermark.
    put("a.jsonl", [
        {"ts": "2024-01-01 00:00:00", "user_id": 1},
        {"ts": "2024-01-01 00:03:00", "user_id": 1},
        {"ts": "2024-01-01 00:06:00", "user_id": 1},
        {"ts": "2024-01-01 01:00:00", "user_id": 1},
        {"ts": "2024-01-01 00:00:30", "user_id": 2},
        {"ts": "2024-01-01 12:00:00", "user_id": 99},
    ])

    stream = spark.readStream.schema("ts TIMESTAMP, user_id BIGINT").json(str(src))
    out = session_windowed_counts(stream, gap="5 minutes", watermark="1 minute")
    q = (
        out.writeStream.format("memory")
        .queryName("sessions_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _await(q)
    rows = {
        (r.user_id, str(r.session_start)): (str(r.session_end), r.cnt)
        for r in spark.sql("SELECT * FROM sessions_t").collect()
        if r.user_id != 99
    }
    assert rows == {
        (1, "2024-01-01 00:00:00"): ("2024-01-01 00:11:00", 3),
        (1, "2024-01-01 01:00:00"): ("2024-01-01 01:05:00", 1),
        (2, "2024-01-01 00:00:30"): ("2024-01-01 00:05:30", 1),
    }


def test_stream_stream_rejoin_left_outer_timeout(spark, tmp_path):
    """left_outer rejoin: a submission whose result never arrives inside
    max_delay emerges with NULL result once the watermark passes its
    horizon — the observable-timeout row (http.hpp:124 30s timeout)."""
    from pulsar_internal_spark.streaming import rejoin_results_stream

    sub_dir, res_dir = tmp_path / "subs", tmp_path / "res"
    sub_dir.mkdir(), res_dir.mkdir()

    def put(d, name, rows):
        with open(os.path.join(d, name), "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    put(sub_dir, "00.jsonl", [
        {"submission_id": "a", "submitted_at": "2024-01-01 00:00:00"},
        {"submission_id": "b", "submitted_at": "2024-01-01 00:00:10"},
    ])
    put(res_dir, "00.jsonl", [
        {"submission_id": "a", "completed_at": "2024-01-01 00:00:30",
         "result": "ok-a", "ok": True},
    ])
    # later traffic on BOTH sides advances the watermark past b's horizon
    for i, h in ((1, 2), (2, 4)):
        put(sub_dir, f"0{i}.jsonl", [
            {"submission_id": f"zs{i}", "submitted_at": f"2024-01-01 0{h}:00:00"}])
        put(res_dir, f"0{i}.jsonl", [
            {"submission_id": f"zr{i}", "completed_at": f"2024-01-01 0{h}:00:00",
             "result": "x", "ok": True}])

    subs = (
        spark.readStream.schema("submission_id STRING, submitted_at TIMESTAMP")
        .option("maxFilesPerTrigger", 1).json(str(sub_dir))
    )
    res = (
        spark.readStream.schema(
            "submission_id STRING, completed_at TIMESTAMP, result STRING, ok BOOLEAN"
        )
        .option("maxFilesPerTrigger", 1).json(str(res_dir))
    )
    joined = rejoin_results_stream(
        subs, res, max_delay="5 minutes", watermark="1 minute", how="left_outer"
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("rejoin_lo_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    _await(q)
    rows = {
        r.submission_id: (r.result, r.ok)
        for r in spark.sql("SELECT * FROM rejoin_lo_t").collect()
    }
    assert rows["a"] == ("ok-a", True)
    assert rows["b"] == (None, None)  # the timeout row


def test_streaming_scd2_emits_closed_intervals(spark, tmp_path):
    """Streaming SCD2: each state change closes the superseded interval
    at the new event's timestamp and opens a new one; consecutive
    duplicates collapse; state carries across micro-batches; the final
    interval set equals what the batch LAG/LEAD build would produce."""
    from pulsar_internal_spark.streaming.scd2 import streaming_scd2

    inbox = tmp_path / "changes"
    inbox.mkdir()

    def write_batch(name, recs):
        with open(inbox / name, "w") as f:
            f.write("\n".join(json.dumps(r) for r in recs))

    # batch 0: u1 goes A -> B (with an out-of-order arrival inside the
    # batch: the B event is written before the A event but timestamped
    # later); u2 stays A (duplicate collapses)
    write_batch(
        "b0.json",
        [
            {"key": "u1", "ts_us": 2000, "seq": 1, "state": "B"},
            {"key": "u1", "ts_us": 1000, "seq": 0, "state": "A"},
            {"key": "u2", "ts_us": 1000, "seq": 0, "state": "A"},
            {"key": "u2", "ts_us": 3000, "seq": 1, "state": "A"},
        ],
    )
    src = spark.readStream.schema(
        "key STRING, ts_us LONG, seq LONG, state STRING"
    ).json(str(inbox))
    q = (
        streaming_scd2(src)
        .writeStream.format("memory")
        .queryName("scd2")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    rows = spark.table("scd2").collect()
    closed = {(r.key, r.state, r.valid_from_us, r.valid_to_us) for r in rows if not r.is_current}
    assert closed == {("u1", "A", 1000, 2000)}
    open_now = {(r.key, r.state, r.valid_from_us) for r in rows if r.is_current}
    assert open_now == {("u1", "B", 2000), ("u2", "A", 1000)}

    # batch 1: u2 changes A -> C across the batch boundary (state carried)
    write_batch("b1.json", [{"key": "u2", "ts_us": 5000, "seq": 2, "state": "C"}])
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    rows = spark.table("scd2").collect()
    closed = {(r.key, r.state, r.valid_from_us, r.valid_to_us) for r in rows if not r.is_current}
    assert ("u2", "A", 1000, 5000) in closed
    # final interval set == the batch LAG/LEAD build over the full log
    latest_open = {}
    for r in rows:
        if r.is_current and (
            r.key not in latest_open or r.valid_from_us > latest_open[r.key].valid_from_us
        ):
            latest_open[r.key] = r
    assert latest_open["u2"].state == "C" and latest_open["u2"].valid_from_us == 5000
    assert latest_open["u1"].state == "B"


def test_lpframes_to_lww_cache_end_to_end(spark, tmp_path):
    """The reference's full data path composed from our pieces: length-
    prefixed frames (D3 wire format, lpframes source) carrying JSON
    cache writes, parsed in-stream and folded into the stateful LWW
    cache (D5) — TCP ingest -> execution queue -> cache, as one
    Structured Streaming pipeline with checkpointed exactly-once
    offsets end to end."""
    from pyspark.sql import functions as F

    from pulsar_internal_spark.sources.lpframes import (
        LengthPrefixedFrames,
        write_frames,
    )
    from pulsar_internal_spark.streaming.state import streaming_lww_cache

    spark.dataSource.register(LengthPrefixedFrames)
    spool = tmp_path / "wire"
    spool.mkdir()

    def frame_batch(name, recs):
        write_frames(
            str(spool / name), [json.dumps(r).encode("utf-8") for r in recs]
        )

    frame_batch(
        "000.bin",
        [
            {"key": "a", "seq": 1, "value": "v1", "is_tombstone": False},
            {"key": "a", "seq": 2, "value": "v2", "is_tombstone": False},
            {"key": "b", "seq": 1, "value": "w1", "is_tombstone": False},
        ],
    )

    frames = spark.readStream.format("lpframes").load(str(spool))
    writes = frames.select(
        F.from_json(
            "payload", "key STRING, seq LONG, value STRING, is_tombstone BOOLEAN"
        ).alias("r")
    ).select("r.*")
    q = (
        streaming_lww_cache(writes)
        .writeStream.format("memory")
        .queryName("wire_lww")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    state = {r.key: r for r in spark.table("wire_lww").collect()}
    assert state["a"].value == "v2" and state["a"].cached
    assert state["b"].value == "w1"

    # a second wire file: tombstone for "a" — offsets advance, state folds
    frame_batch("001.bin", [{"key": "a", "seq": 3, "value": None, "is_tombstone": True}])
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    latest = {}
    for r in spark.table("wire_lww").collect():
        if r.key not in latest or r.seq > latest[r.key].seq:
            latest[r.key] = r
    assert latest["a"].cached is False and latest["b"].value == "w1"


def test_streaming_scd2_drops_cross_batch_late_events(spark, tmp_path):
    """A late event older than the open interval must be skipped (fail
    safe), never emitted as an inverted interval or a state rewind."""
    from pulsar_internal_spark.streaming.scd2 import streaming_scd2

    inbox = tmp_path / "late"
    inbox.mkdir()

    def write_batch(name, recs):
        with open(inbox / name, "w") as f:
            f.write("\n".join(json.dumps(r) for r in recs))

    write_batch("b0.json", [{"key": "u1", "ts_us": 2000, "seq": 0, "state": "B"}])
    src = spark.readStream.schema(
        "key STRING, ts_us LONG, seq LONG, state STRING"
    ).json(str(inbox))
    q = (
        streaming_scd2(src)
        .writeStream.format("memory")
        .queryName("scd2_late")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    q.processAllAvailable()
    # a late A@1500 arrives after B@2000 opened
    write_batch("b1.json", [{"key": "u1", "ts_us": 1500, "seq": 1, "state": "A"}])
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(60)
    rows = spark.table("scd2_late").collect()
    assert all(
        r.valid_to_us is None or r.valid_to_us >= r.valid_from_us for r in rows
    ), rows
    opens = [r for r in rows if r.is_current]
    assert {(r.state, r.valid_from_us) for r in opens} == {("B", 2000)}


# -- full-duplex framed socket client (WebSocket analogue) ----------------


def test_duplex_client_roundtrip_and_close(spark, tmp_path):
    """The WebSocket triangle over the 4-byte-BE frame wire: Send
    (client->server), OnMessage (server frames land in the lpframes
    spool, binary-exact), OnClose (marker committed exactly once when
    the peer closes; with_close_flag annotates the read)."""
    import socket
    import struct
    import threading

    from pulsar_internal_spark.sources.lpframes import LengthPrefixedFrames
    from pulsar_internal_spark.streaming.duplex import (
        CLOSE_MARKER,
        FrameSocketClient,
        stream_closed,
        with_close_flag,
    )

    received = []

    def serve(listener, n_expect):
        conn, _ = listener.accept()
        with conn:
            # read n_expect frames from the client (Send direction)...
            for _ in range(n_expect):
                hdr = b""
                while len(hdr) < 4:
                    hdr += conn.recv(4 - len(hdr))
                n = struct.unpack(">I", hdr)[0]
                body = b""
                while len(body) < n:
                    body += conn.recv(n - len(body))
                received.append(body)
            # ...then push 3 frames back (OnMessage direction), incl. binary
            for p in (b"event-1", b"\x00\xffbin", b"event-3"):
                conn.sendall(struct.pack(">I", len(p)) + p)
        # connection closes -> client must commit the OnClose marker

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    t = threading.Thread(target=serve, args=(srv, 2), daemon=True)
    t.start()

    spool = str(tmp_path / "duplex_spool")
    client = FrameSocketClient(
        "127.0.0.1", srv.getsockname()[1], spool, frames_per_file=2
    )
    client.send(b"hello")
    client.send(b"\x01\x02 binary out")
    assert client.closed.wait(timeout=10), "close event never fired"
    client.close()
    t.join(timeout=5)
    srv.close()

    assert received == [b"hello", b"\x01\x02 binary out"]

    import os

    assert os.path.exists(os.path.join(spool, CLOSE_MARKER))
    assert stream_closed(spool)

    spark.dataSource.register(LengthPrefixedFrames)
    df = with_close_flag(spark.read.format("lpframes").load(spool), spool)
    rows = sorted(
        (bytes(r.payload_bin) for r in df.collect()),
    )
    assert sorted([b"event-1", b"\x00\xffbin", b"event-3"]) == rows
    assert all(r.stream_closed for r in df.collect())


def test_duplex_sink_sends_streaming_batches(spark, tmp_path):
    """Send as a STREAMING sink: a foreachBatch query frames its rows
    out the socket; the peer receives every payload byte-exact."""
    import socket
    import struct
    import threading
    import time

    from pulsar_internal_spark.streaming.duplex import (
        FrameSocketClient,
        sink_to_socket,
    )

    got = []
    done = threading.Event()

    def serve(srv, n_expect):
        conn, _ = srv.accept()
        with conn:
            for _ in range(n_expect):
                hdr = b""
                while len(hdr) < 4:
                    hdr += conn.recv(4 - len(hdr))
                n = struct.unpack(">I", hdr)[0]
                body = b""
                while len(body) < n:
                    body += conn.recv(n - len(body))
                got.append(body)
        done.set()

    srv = socket.socket()
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    threading.Thread(target=serve, args=(srv, 5), daemon=True).start()

    spool = str(tmp_path / "sink_spool")
    client = FrameSocketClient("127.0.0.1", srv.getsockname()[1], spool)

    from pyspark.sql import functions as F

    inbox = tmp_path / "sink_inbox"
    inbox.mkdir()
    for i in range(5):
        (inbox / f"{i:03d}.txt").write_text(f"msg-{i}")
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "2")
        .load(str(inbox))
        .select(F.col("value").alias("payload"))
    )
    q = stream.writeStream.foreachBatch(sink_to_socket(client)).option(
        "checkpointLocation", str(tmp_path / "sink_ckpt")
    ).start()
    try:
        deadline = time.monotonic() + 60
        while len(got) < 5 and time.monotonic() < deadline:
            time.sleep(0.2)
    finally:
        q.stop()
        client.close()
        srv.close()
    assert sorted(got) == [f"msg-{i}".encode() for i in range(5)]


def test_duplex_sink_rejects_oversized_batch(spark):
    """The single-connection sink collects every batch to the driver, so
    it must fail fast — BEFORE the collect — when a batch exceeds the
    explicit row bound, mirroring the lpframes oversized-frame policy."""
    import pytest

    from pulsar_internal_spark.streaming.duplex import sink_to_socket

    sent = []

    class _StubClient:
        def send(self, payload):
            sent.append(payload)

    from pyspark.sql import functions as F

    big = spark.range(0, 50).select(F.col("id").cast("string").alias("payload"))
    sink = sink_to_socket(_StubClient(), max_rows_per_batch=10)
    with pytest.raises(ValueError, match="max_rows_per_batch"):
        sink(big, 0)
    assert sent == []  # nothing was pulled to the driver or written
    # under the bound, the same sink sends every row
    small = big.limit(3)
    sink(small, 1)
    assert len(sent) == 3


def test_streaming_minhash_dedup_matches_batch(spark, tmp_path):
    """Continuous near-dup dedup: docs arriving as streamed files must
    yield, across all micro-batches, exactly the one-shot LSH candidate
    set over the union — the streaming twin of the signature-store
    equivalence property — and the explicit-batch-id append must be
    idempotent (re-appending a batch id leaves the store unchanged)."""
    from pulsar_internal_spark.operators import dedup as D
    from pulsar_internal_spark.operators import signature_store as S

    base = [
        f"the quick brown fox jumps over the lazy dog number {i} "
        f"while carrying a basket of fresh green apples to market"
        for i in range(12)
    ]
    rows = []
    for i, text in enumerate(base):
        rows.append((2 * i, text))
        rows.append((2 * i + 1, text.replace("basket", "bundle")))

    inbox = tmp_path / "mh_inbox"
    inbox.mkdir()
    # two file-drops -> two (or more) micro-batches
    for half in (0, 1):
        chunk = rows[half * 12 : (half + 1) * 12]
        (inbox / f"{half}.csv").write_text(
            "\n".join(f"{i}\t{t}" for i, t in chunk)
        )

    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(inbox))
        .select(
            F.split("value", "\t").getItem(0).cast("long").alias("doc_id"),
            F.split("value", "\t").getItem(1).alias("text"),
        )
    )
    store = str(tmp_path / "mh_store")
    cands = str(tmp_path / "mh_cands")
    q = S.streaming_minhash_dedup(
        stream, store, cands, str(tmp_path / "mh_ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)

    got = {
        (r.id_a, r.id_b)
        for r in S.read_candidates_sink(spark, cands).select("id_a", "id_b").collect()
    }
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    want = {(r.id_a, r.id_b) for r in D.minhash_lsh_candidates(docs).collect()}
    assert got == want, f"missing={want - got} extra={got - want}"

    # idempotence: replaying the LAST batch id must not change the store
    import duckdb

    from pulsar_internal_spark.operators import store_fs

    root = store_fs.resolve_current(store)
    last_bid = max(
        int(r.batch_id)
        for r in spark.read.parquet(root).select("batch_id").distinct().collect()
    )
    replay = docs.filter(F.col("doc_id") >= 12)  # any subset; same bid
    S.append_signature_batch(spark, replay, store, batch_id=last_bid)
    S.append_signature_batch(spark, replay, store, batch_id=last_bid)
    after1 = duckdb.sql(f"SELECT COUNT(*) FROM '{root}/*/*.parquet'").fetchone()[0]
    S.append_signature_batch(spark, replay, store, batch_id=last_bid)
    after2 = duckdb.sql(f"SELECT COUNT(*) FROM '{root}/*/*.parquet'").fetchone()[0]
    assert after1 == after2, "explicit-batch-id append must be idempotent"


def test_streaming_dedup_releases_staged_blocks_per_batch(spark, tmp_path):
    """Cadence leak guard (ADVICE r10 medium): streaming_banded_dedup
    stages its candidates frame (and, past the Bloom min-history depth,
    the pruning path's batch frame) as localCheckpoints every
    micro-batch. DataFrame.unpersist cannot release those blocks, so
    process() must release them per batch via
    release_staged(keep=persistent_rdd_ids()) — otherwise a cadence
    stream pins one batch of blocks per tick forever. Drive enough
    batches to cross the prune depth and assert the block manager ends
    where it started."""
    from pulsar_internal_spark.operators import signature_store as S
    from pulsar_internal_spark.staging import persistent_rdd_ids

    rows = [
        (i, f"the quick brown fox jumps over the lazy dog {i} "
            f"carrying a basket of fresh green apples to market")
        for i in range(12)
    ]
    inbox = tmp_path / "leak_inbox"
    inbox.mkdir()
    for b in range(6):  # 6 file-drops -> 6 micro-batches, crossing depth 4
        chunk = rows[2 * b : 2 * b + 2]
        (inbox / f"{b}.csv").write_text(
            "\n".join(f"{i}\t{t}" for i, t in chunk)
        )

    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(inbox))
        .select(
            F.split("value", "\t").getItem(0).cast("long").alias("doc_id"),
            F.split("value", "\t").getItem(1).alias("text"),
        )
    )
    before = persistent_rdd_ids(spark)
    q = S.streaming_minhash_dedup(
        stream,
        str(tmp_path / "leak_store"),
        str(tmp_path / "leak_cands"),
        str(tmp_path / "leak_ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    leaked = persistent_rdd_ids(spark) - before
    assert not leaked, f"micro-batches leaked staged RDD blocks: {leaked}"


def test_streaming_minhash_dedup_bucketed_matches_batch(spark, tmp_path):
    """The RECOMMENDED cadence form: the streaming twin over the
    BUCKETED catalog store (store_table=...) must emit exactly the
    one-shot candidate set — same equivalence property as the path
    form, now on the zero-exchange history path the docs point
    production streams at."""
    import shutil

    from pulsar_internal_spark.operators import dedup as D
    from pulsar_internal_spark.operators import signature_store as S

    base = [
        f"the quick brown fox jumps over the lazy dog number {i} "
        f"while carrying a basket of fresh green apples to market"
        for i in range(12)
    ]
    rows = []
    for i, text in enumerate(base):
        rows.append((2 * i, text))
        rows.append((2 * i + 1, text.replace("basket", "bundle")))

    inbox = tmp_path / "mhb_inbox"
    inbox.mkdir()
    for half in (0, 1):
        chunk = rows[half * 12 : (half + 1) * 12]
        (inbox / f"{half}.csv").write_text(
            "\n".join(f"{i}\t{t}" for i, t in chunk)
        )

    from pyspark.sql import functions as F

    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(inbox))
        .select(
            F.split("value", "\t").getItem(0).cast("long").alias("doc_id"),
            F.split("value", "\t").getItem(1).alias("text"),
        )
    )
    table = "mh_stream_bkt"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{loc}/{table}", ignore_errors=True)
    cands = str(tmp_path / "mhb_cands")
    try:
        q = S.streaming_minhash_dedup(
            stream, None, cands, str(tmp_path / "mhb_ckpt"),
            trigger={"availableNow": True},
            store_table=table,
        )
        q.awaitTermination(120)

        got = {
            (r.id_a, r.id_b)
            for r in S.read_candidates_sink(spark, cands)
            .select("id_a", "id_b")
            .collect()
        }
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        want = {
            (r.id_a, r.id_b) for r in D.minhash_lsh_candidates(docs).collect()
        }
        assert got == want, f"missing={want - got} extra={got - want}"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")

    # exactly one of store_path / store_table
    with pytest.raises(ValueError, match="exactly one"):
        S.streaming_banded_dedup(
            stream, lambda df: df, None, cands, str(tmp_path / "x_ckpt")
        )
    with pytest.raises(ValueError, match="exactly one"):
        S.streaming_banded_dedup(
            stream, lambda df: df, "somewhere", cands,
            str(tmp_path / "x_ckpt"), store_table="sometable",
        )


def test_path_store_advisory_past_crossover_depth(tmp_path):
    """The path-based streaming store must emit ONE loud advisory per
    store once history reaches the measured crossover depth (the Bloom
    prune's min-history constant), recommending the bucketed catalog
    form — and stay silent below it."""
    import warnings

    from pulsar_internal_spark.operators.store_fs import (
        _ADVISED_STORES,
        _advise_bucketed_store,
    )

    store = str(tmp_path / "advise_store")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        _advise_bucketed_store(store, 3, "t")  # below depth 4
        assert not w
        _advise_bucketed_store(store, 4, "t")
        assert len(w) == 1 and "store_table" in str(w[0].message)
        _advise_bucketed_store(store, 5, "t")  # once per store
        assert len(w) == 1
    _ADVISED_STORES.discard(store)

    # persisted advisory state (VERDICT r10 #8): when the store dir
    # exists, a marker file beside the store suppresses the advisory
    # across PROCESS restarts (simulated by clearing the in-process set)
    store2 = tmp_path / "advise_store2"
    store2.mkdir()
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        _advise_bucketed_store(str(store2), 4, "t")
        assert len(w) == 1
        assert (store2 / "_ADVISED_BUCKETED").exists()
        _ADVISED_STORES.discard(str(store2))  # "new process"
        _advise_bucketed_store(str(store2), 5, "t")
        assert len(w) == 1, "restarting cadence job must not re-advise"
    _ADVISED_STORES.discard(str(store2))


def test_streaming_substring_dedup_bucketed_matches_batch(spark, tmp_path):
    """Bucketed catalog twin of test_streaming_substring_dedup: the
    store_table form must yield the identical non-owned span set."""
    import shutil

    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import dedup as D
    from pulsar_internal_spark.operators import span_store as SS

    planted = " ".join(f"shared{i}" for i in range(20))
    rows = []
    for i in range(8):
        filler = " ".join(f"u{i}x{j}" for j in range(15))
        text = filler + " " + planted if i % 2 else planted + " " + filler
        rows.append((i, text))

    inbox = tmp_path / "spanb_inbox"
    inbox.mkdir()
    for half in (0, 1):
        chunk = rows[half * 4 : (half + 1) * 4]
        (inbox / f"{half}.csv").write_text(
            "\n".join(f"{i}\t{t}" for i, t in chunk)
        )
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(inbox))
        .select(
            F.split("value", "\t").getItem(0).cast("long").alias("doc_id"),
            F.split("value", "\t").getItem(1).alias("text"),
        )
    )
    table = "span_stream_bkt"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    loc = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(f"{loc}/{table}", ignore_errors=True)
    spans = str(tmp_path / "spanb_out")
    try:
        q = SS.streaming_substring_dedup(
            stream, None, spans, str(tmp_path / "spanb_ckpt"),
            trigger={"availableNow": True},
            store_table=table,
        )
        q.awaitTermination(120)

        got = {
            (r.doc_id, r.span_start, r.span_end)
            for r in SS.read_span_sink(spark, spans)
            .select("doc_id", "span_start", "span_end")
            .collect()
        }
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        occ = D.dup_kgram_occurrences(
            docs.select("doc_id", D.tokenized("text").alias("w")), k=8
        )
        want = {
            (r.doc_id, r.span_start, r.span_end)
            for r in D.dup_span_intervals(
                occ.filter(F.col("owner_doc") != F.col("doc_id")), k=8
            ).collect()
        }
        assert got == want and got, f"missing={want - got} extra={got - want}"
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_streaming_substring_dedup_matches_batch(spark, tmp_path):
    """Continuous exact-substring dedup: docs streaming in doc-id order
    must yield, across micro-batches, exactly the one-shot NON-OWNED
    duplicated-span set (the spans keep-first scrub removes) — the
    fourth incremental store's streaming twin, same exactly-once
    contract (k-grams registered under the streaming batch id with
    dynamic partition overwrite)."""
    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import dedup as D
    from pulsar_internal_spark.operators import span_store as SS

    planted = " ".join(f"shared{i}" for i in range(20))
    rows = []
    for i in range(8):
        filler = " ".join(f"u{i}x{j}" for j in range(15))
        text = filler + " " + planted if i % 2 else planted + " " + filler
        rows.append((i, text))

    inbox = tmp_path / "span_inbox"
    inbox.mkdir()
    for half in (0, 1):
        chunk = rows[half * 4 : (half + 1) * 4]
        (inbox / f"{half}.csv").write_text(
            "\n".join(f"{i}\t{t}" for i, t in chunk)
        )
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(inbox))
        .select(
            F.split("value", "\t").getItem(0).cast("long").alias("doc_id"),
            F.split("value", "\t").getItem(1).alias("text"),
        )
    )
    store = str(tmp_path / "span_store")
    spans = str(tmp_path / "span_out")
    q = SS.streaming_substring_dedup(
        stream, store, spans, str(tmp_path / "span_ckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)

    got = {
        (r.doc_id, r.span_start, r.span_end)
        for r in SS.read_span_sink(spark, spans)
        .select("doc_id", "span_start", "span_end")
        .collect()
    }
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    occ = D.dup_kgram_occurrences(
        docs.select("doc_id", D.tokenized("text").alias("w")), k=8
    )
    want = {
        (r.doc_id, r.span_start, r.span_end)
        for r in D.dup_span_intervals(
            occ.filter(F.col("owner_doc") != F.col("doc_id")), k=8
        ).collect()
    }
    assert got == want and got, f"missing={want - got} extra={got - want}"


def test_streaming_substring_zero_span_batch_skips_write(spark, tmp_path):
    """A first micro-batch with NO duplicated spans must not leave an
    unreadable sink (a partitioned write with zero rows creates a dir
    with no data/schema files, so spark.read.parquet fails with
    'unable to infer schema' until a non-empty batch lands). The write
    is skipped instead, read_span_sink serves a TYPED empty frame
    before the sink exists, and a later duplicating batch creates the
    sink normally."""
    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import span_store as SS

    # batch 0: four docs with fully unique token streams (zero spans);
    # batch 1: four docs each embedding doc 0's filler -> spans vs history
    uniq = {
        i: " ".join(f"b0u{i}t{j}" for j in range(20)) for i in range(4)
    }
    rows0 = [(i, uniq[i]) for i in range(4)]
    rows1 = [
        (i, " ".join(f"b1u{i}t{j}" for j in range(12)) + " " + uniq[0])
        for i in range(4, 8)
    ]
    inbox = tmp_path / "zspan_inbox"
    inbox.mkdir()
    (inbox / "0.csv").write_text("\n".join(f"{i}\t{t}" for i, t in rows0))

    spans = str(tmp_path / "zspan_out")
    # before anything lands the sink does not exist: typed empty frame
    pre = SS.read_span_sink(spark, spans)
    assert pre.count() == 0
    assert [f.name for f in pre.schema.fields] == [
        "doc_id", "span_start", "span_end", "batch_id",
    ]

    store = str(tmp_path / "zspan_store")
    ckpt = str(tmp_path / "zspan_ckpt")
    stream_df = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(inbox))
        .select(
            F.split("value", "\t").getItem(0).cast("long").alias("doc_id"),
            F.split("value", "\t").getItem(1).alias("text"),
        )
    )
    q = SS.streaming_substring_dedup(
        stream_df, store, spans, ckpt, trigger={"availableNow": True}
    )
    q.awaitTermination(120)
    import os

    assert not os.path.exists(spans), "zero-span batch must skip the write"
    assert SS.read_span_sink(spark, spans).count() == 0

    # the duplicating batch then creates the sink with real spans
    (inbox / "1.csv").write_text("\n".join(f"{i}\t{t}" for i, t in rows1))
    q = SS.streaming_substring_dedup(
        stream_df, store, spans, ckpt, trigger={"availableNow": True}
    )
    q.awaitTermination(120)
    got = SS.read_span_sink(spark, spans)
    assert got.count() > 0
    assert {r.doc_id for r in got.select("doc_id").distinct().collect()} == {
        4, 5, 6, 7,
    }


def test_streaming_semantic_dedup_matches_batch(spark, tmp_path):
    """CONTINUOUS semantic dedup through the generalized banded store:
    an embedding stream banded with sign-LSH
    (embedding_banded_signatures) through streaming_banded_dedup must
    accumulate, across micro-batches, exactly the one-shot
    lsh_blocked_pairs candidate set — the store's batch-equivalence
    invariant holding for a second hash family, with the same
    exactly-once contract as the MinHash stream."""
    import numpy as np

    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import signature_store as S
    from pulsar_internal_spark.operators import similarity as sim

    rng = np.random.default_rng(23)
    dim = 64
    base = rng.normal(size=(10, dim))
    rows = []
    for i in range(10):
        rows.append((int(i), [float(x) for x in base[i]]))
        # a planted near-dup for each base vector, ids 100+
        rows.append(
            (int(100 + i), [float(x) for x in base[i] + 0.02 * rng.normal(size=dim)])
        )
    inbox = tmp_path / "sem_inbox"
    inbox.mkdir()
    for half in (0, 1):
        chunk = rows[half * 10 : (half + 1) * 10]
        (inbox / f"{half}.csv").write_text(
            "\n".join(f"{i}\t{','.join(str(x) for x in v)}" for i, v in chunk)
        )
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(inbox))
        .select(
            F.split("value", "\t").getItem(0).cast("long").alias("vec_id"),
            F.transform(
                F.split(F.split("value", "\t").getItem(1), ","),
                lambda x: x.cast("float"),
            ).alias("embedding"),
        )
    )
    store = str(tmp_path / "sem_store")
    cands = str(tmp_path / "sem_cands")
    # before any batch lands, the sink reader serves a typed empty frame
    pre = S.read_candidates_sink(spark, cands)
    assert pre.count() == 0
    assert [f.name for f in pre.schema.fields] == ["id_a", "id_b", "batch_id"]
    q = S.streaming_banded_dedup(
        stream, sim.embedding_banded_signatures, store, cands,
        str(tmp_path / "sem_ckpt"), trigger={"availableNow": True},
        query_name="semantic_dedup",
    )
    q.awaitTermination(120)

    got = {
        (r.id_a, r.id_b)
        for r in S.read_candidates_sink(spark, cands).select("id_a", "id_b").collect()
    }
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    want = {
        (r.id_a, r.id_b) for r in sim.lsh_blocked_pairs(corpus).collect()
    }
    assert got == want and got, f"missing={want - got} extra={got - want}"

    # end-to-end tail (VERDICT r6 #7): cosine-VERIFY the sink's
    # candidates against the corpus — the streaming mirror of
    # incremental_semantic_pairs' batch path. Verified streamed pairs
    # must equal the one-shot verified set, and every planted near-dup
    # (i, 100+i) must survive verification.
    v = corpus.select(
        "vec_id", "embedding", sim._norm(F.col("embedding")).alias("nrm")
    )

    def verify(pairs_df):
        ja = pairs_df.join(
            v.select(
                F.col("vec_id").alias("id_a"),
                F.col("embedding").alias("va"),
                F.col("nrm").alias("na"),
            ),
            "id_a",
        )
        jb = ja.join(
            v.select(
                F.col("vec_id").alias("id_b"),
                F.col("embedding").alias("vb"),
                F.col("nrm").alias("nb"),
            ),
            "id_b",
        )
        cos = F.round(
            sim._dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")), 6
        )
        return jb.select("id_a", "id_b", cos.alias("cos_sim")).filter(
            F.col("cos_sim") >= 0.35
        )

    sink_pairs = S.read_candidates_sink(spark, cands).select("id_a", "id_b")
    got_v = {(r.id_a, r.id_b, r.cos_sim) for r in verify(sink_pairs).collect()}
    want_v = {
        (r.id_a, r.id_b, r.cos_sim)
        for r in verify(
            sim.lsh_blocked_pairs(corpus).select("id_a", "id_b")
        ).collect()
    }
    assert got_v == want_v and got_v
    planted = {(i, 100 + i) for i in range(10)}
    assert planted <= {(a, b) for a, b, _ in got_v}, (
        "every planted near-dup must survive cosine verification"
    )


def test_streaming_ivf_append_matches_batch(spark, tmp_path):
    """Continuous IVF ingestion: embedding batches arriving as streamed
    files (first batch trains the quantizer, later batches append
    against the frozen centroids under their streaming batch id) must
    serve EXACTLY the same top-k as the one-shot build+append over the
    same split — the third incremental store's streaming twin,
    completing the exactly-once contract minhash and sketch already
    carry — and an explicit-batch-id replay must be idempotent."""
    import numpy as np

    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import similarity as sim

    rng = np.random.default_rng(11)
    dim = 8
    vecs = [(int(i), [float(x) for x in rng.normal(size=dim)]) for i in range(60)]
    half_a, half_b = vecs[:30], vecs[30:]

    inbox = tmp_path / "ivf_inbox"
    inbox.mkdir()
    for name, chunk in (("0.csv", half_a), ("1.csv", half_b)):
        (inbox / name).write_text(
            "\n".join(f"{i}\t{','.join(str(x) for x in v)}" for i, v in chunk)
        )
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(inbox))
        .select(
            F.split("value", "\t").getItem(0).cast("long").alias("vec_id"),
            F.transform(
                F.split(F.split("value", "\t").getItem(1), ","),
                lambda x: x.cast("float"),
            ).alias("embedding"),
        )
    )
    streamed = str(tmp_path / "ivf_streamed")
    q = sim.streaming_ivf_append(
        stream, streamed, str(tmp_path / "ivf_ckpt"),
        num_centroids=4, trigger={"availableNow": True},
    )
    q.awaitTermination(120)

    batch = str(tmp_path / "ivf_batch")
    df_a = spark.createDataFrame(half_a, "vec_id long, embedding array<float>")
    df_b = spark.createDataFrame(half_b, "vec_id long, embedding array<float>")
    sim.build_ivf_index(df_a, batch, num_centroids=4)
    bid = sim.ivf_index_append(spark, df_b, batch)
    assert bid == 1

    queries = df_a.limit(5)
    got = {(r.query_id, r.neighbor_id, r.rank)
           for r in sim.ivf_index_topk(spark, streamed, queries, k=3, nprobe=2).collect()}
    want = {(r.query_id, r.neighbor_id, r.rank)
            for r in sim.ivf_index_topk(spark, batch, queries, k=3, nprobe=2).collect()}
    assert got == want and got

    # exactly-once: replaying an explicit batch id must not grow the index
    import os

    from pulsar_internal_spark.operators import store_fs

    cells = store_fs.resolve_current(os.path.join(streamed, "cells"))
    n1 = spark.read.parquet(cells).count()
    sim.ivf_index_append(spark, df_b, streamed, batch_id=1)
    sim.ivf_index_append(spark, df_b, streamed, batch_id=1)
    n2 = spark.read.parquet(cells).count()
    assert n1 == n2, "explicit-batch-id IVF append must be idempotent"

    # URI index path: the build-vs-append probe must run on the index's
    # own filesystem (store_fs). With the old os.path.isdir probe a
    # file://-prefixed path was always "absent", so EVERY micro-batch
    # retrained the quantizer and full-overwrote the index — the second
    # batch would silently discard the first. Both batches must survive.
    uri_index = "file://" + str(tmp_path / "ivf_uri")
    q2 = sim.streaming_ivf_append(
        stream, uri_index, str(tmp_path / "ivf_uri_ckpt"),
        num_centroids=4, trigger={"availableNow": True},
    )
    q2.awaitTermination(120)
    got_uri = spark.read.parquet(store_fs.resolve_current(uri_index + "/cells"))
    assert got_uri.select("vec_id").distinct().count() == 60
    assert {r.batch_id for r in got_uri.select("batch_id").distinct().collect()} == {0, 1}


def test_streaming_ivfpq_append_matches_batch(spark, tmp_path):
    """Streaming ingestion into a PQ-CARRYING index (round 7): when the
    first micro-batch builds with codebooks, they become index state,
    every later streamed batch auto-encodes against them (the appender
    has no codebook argument to drift with), and the persisted ADC
    probe serves EXACTLY what the one-shot build+append twin serves
    over the same split — the PQ layer inherits the IVF stream's
    exactly-once contract with zero new streaming machinery."""
    import numpy as np

    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import similarity as sim
    from pulsar_internal_spark.operators.pq_frozen import CODEBOOKS

    rng = np.random.default_rng(13)

    def unit(v):
        return [float(x) for x in v / np.linalg.norm(v)]

    vecs = [(int(i), unit(v)) for i, v in enumerate(rng.normal(size=(80, 64)))]
    half_a, half_b = vecs[:40], vecs[40:]

    inbox = tmp_path / "ivfpq_inbox"
    inbox.mkdir()
    for name, chunk in (("0.csv", half_a), ("1.csv", half_b)):
        (inbox / name).write_text(
            "\n".join(f"{i}\t{','.join(str(x) for x in v)}" for i, v in chunk)
        )
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(inbox))
        .select(
            F.split("value", "\t").getItem(0).cast("long").alias("vec_id"),
            F.transform(
                F.split(F.split("value", "\t").getItem(1), ","),
                lambda x: x.cast("float"),
            ).alias("embedding"),
        )
    )
    streamed = str(tmp_path / "ivfpq_streamed")
    q = sim.streaming_ivf_append(
        stream, streamed, str(tmp_path / "ivfpq_ckpt"),
        num_centroids=4, trigger={"availableNow": True},
        codebooks=CODEBOOKS,
    )
    q.awaitTermination(120)

    batch = str(tmp_path / "ivfpq_batch")
    df_a = spark.createDataFrame(half_a, "vec_id long, embedding array<float>")
    df_b = spark.createDataFrame(half_b, "vec_id long, embedding array<float>")
    sim.build_ivf_index(df_a, batch, num_centroids=4, codebooks=CODEBOOKS)
    assert sim.ivf_index_append(spark, df_b, batch) == 1

    queries = df_a.limit(5)
    got = {(r.query_id, r.neighbor_id, r.cos_sim, r.rank)
           for r in sim.ivf_index_adc_topk(
               spark, streamed, queries, k=3, nprobe=2, shortlist=20
           ).collect()}
    want = {(r.query_id, r.neighbor_id, r.cos_sim, r.rank)
            for r in sim.ivf_index_adc_topk(
                spark, batch, queries, k=3, nprobe=2, shortlist=20
            ).collect()}
    assert got == want and got, f"missing={want - got} extra={got - want}"
    # vectors from BOTH streamed batches must be servable
    served = {r.neighbor_id for r in sim.ivf_index_adc_topk(
        spark, streamed, queries, k=80, nprobe=4, shortlist=200
    ).collect()}
    assert any(n >= 40 for n in served) and any(n < 40 for n in served)


def test_streaming_ivf_skips_empty_first_batch(spark, tmp_path):
    """An EMPTY first micro-batch (empty file / idle source on the
    first trigger) must not train the quantizer — kmeans over zero
    vectors would either fail the query or freeze degenerate centroids
    forever. The build must happen on the first NON-EMPTY batch and
    the index must serve every vector that arrived."""
    import numpy as np

    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import similarity as sim

    rng = np.random.default_rng(31)
    dim = 8
    vecs = [(int(i), [float(x) for x in rng.normal(size=dim)]) for i in range(20)]
    inbox = tmp_path / "ivf_empty_inbox"
    inbox.mkdir()
    (inbox / "0.csv").write_text("")  # empty first trigger
    (inbox / "1.csv").write_text(
        "\n".join(f"{i}\t{','.join(str(x) for x in v)}" for i, v in vecs)
    )
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(inbox))
        .select(
            F.split("value", "\t").getItem(0).cast("long").alias("vec_id"),
            F.transform(
                F.split(F.split("value", "\t").getItem(1), ","),
                lambda x: x.cast("float"),
            ).alias("embedding"),
        )
    )
    idx = str(tmp_path / "ivf_empty_idx")
    q = sim.streaming_ivf_append(
        stream, idx, str(tmp_path / "ivf_empty_ckpt"),
        num_centroids=4, trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    from pulsar_internal_spark.operators import store_fs

    served = {
        r.vec_id
        for r in spark.read.parquet(
            store_fs.resolve_current(idx + "/cells")
        )
        .select("vec_id")
        .collect()
    }
    assert served == {v[0] for v in vecs}


def test_duplex_client_resumes_epoch_after_restart(tmp_path):
    """A restarted client must publish spool files that sort AFTER every
    file from its previous life — otherwise the streaming reader's name
    watermark silently ignores all new frames (and old files could be
    clobbered)."""
    import os
    import socket
    import struct
    import threading

    from pulsar_internal_spark.streaming.duplex import FrameSocketClient

    spool = str(tmp_path / "resume_spool")

    def one_session(payloads):
        srv = socket.socket()
        srv.bind(("127.0.0.1", 0))
        srv.listen(1)

        def serve():
            conn, _ = srv.accept()
            with conn:
                for p in payloads:
                    conn.sendall(struct.pack(">I", len(p)) + p)

        t = threading.Thread(target=serve, daemon=True)
        t.start()
        c = FrameSocketClient(
            "127.0.0.1", srv.getsockname()[1], spool, frames_per_file=1
        )
        assert c.closed.wait(timeout=10)
        c.close()
        srv.close()

    one_session([b"first-life-1", b"first-life-2"])
    gen1 = sorted(f for f in os.listdir(spool) if f.endswith("-rx.bin"))
    # the close marker from life 1 is fine; life 2 reuses the spool
    one_session([b"second-life-1"])
    gen2 = sorted(f for f in os.listdir(spool) if f.endswith("-rx.bin"))
    new = [f for f in gen2 if f not in gen1]
    assert len(gen2) == 3, "restart must never clobber earlier spool files"
    assert len(new) == 1 and new[0] > max(gen1), (gen1, new)


def test_streaming_sketch_matches_batch(spark, tmp_path):
    """Continuous sketching: token files arriving as micro-batches,
    each appended to the count-min store by batch id inside
    foreachBatch, must serve EXACTLY the one-shot sketch of the union
    — the mergeability property carried through the streaming path
    with the same exactly-once (batch-id partition overwrite) contract
    as the signature store."""
    from pyspark.sql import functions as F

    from pulsar_internal_spark.operators import sketches

    inbox = tmp_path / "cms_inbox"
    inbox.mkdir()
    words = [f"tok{i % 7}" for i in range(60)]
    for half in (0, 1):
        (inbox / f"{half}.txt").write_text(
            "\n".join(words[half * 30 : (half + 1) * 30])
        )

    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(str(inbox))
        .select(F.col("value").alias("w"))
    )
    store = str(tmp_path / "cms_store")

    def sink(bdf, bid):
        sketches.append_sketch_batch(bdf.sparkSession, bdf, store, batch_id=bid)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    served = {
        (r.r, r.bucket): r.cell
        for r in sketches.serve_sketch(spark, store).collect()
    }
    oneshot = {
        (r.r, r.bucket): r.cell
        for r in sketches.countmin_cells(
            spark.createDataFrame([(w,) for w in words], ["w"])
        ).collect()
    }
    assert served == oneshot
