"""Script-submission ingest stream.

Reference lifecycle (SURVEY.md §3A): a TCP server (reference:
misc/server/server.cpp:18-106) receives 4-byte-length-framed UTF-8
messages (8 MiB cap at server.cpp:84-85), enqueues them FIFO
(globals.hpp:75), and a render-tick handler pops ONE message per tick
(scheduler.cpp:81-128).

Spark restatement: each message is one dropped file (the file boundary
replaces the length frame — self-describing, splittable, replayable);
``readStream`` with ``latestFirst=false`` preserves arrival order,
``maxFilesPerTrigger`` reproduces at-most-N-per-tick, the trigger
interval is the RenderStepped tick, and checkpointing replaces the
session-watchdog re-init (tphandler.cpp:34-76) — a restarted stream
resumes from the last committed batch instead of replaying the world.

At scale the file-drop source is the standard landing-zone pattern: the
directory listing is driver-side but incremental, and each micro-batch
is a normal distributed read.
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DEFAULT_MAX_MESSAGE_BYTES = 8 * 1024 * 1024  # server.cpp:84-85


def read_submission_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = 1,
    max_message_bytes: int = DEFAULT_MAX_MESSAGE_BYTES,
) -> DataFrame:
    """Streaming DataFrame of submissions: (submission_id, script, bytes,
    oversized). One file == one message; FIFO by file-modification order.

    ``max_files_per_trigger=1`` is the reference's one-pop-per-tick
    (scheduler.cpp:92-99); raise it for throughput. Oversized messages are
    flagged, not dropped — the guard filter is explicit downstream so the
    rejection is observable (the reference silently closes the socket).
    """
    reader = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .option("latestFirst", "false")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(path)
    return raw.select(
        F.input_file_name().alias("submission_id"),
        F.col("value").alias("script"),
        F.octet_length("value").alias("bytes"),
        (F.octet_length("value") > F.lit(max_message_bytes)).alias("oversized"),
    )


def guard_filter(submissions: DataFrame) -> DataFrame:
    """Drop oversized messages (the 8 MiB cap, applied declaratively)."""
    return submissions.filter(~F.col("oversized"))


def read_socket_submissions(
    spark: SparkSession,
    host: str = "127.0.0.1",
    port: int = 6969,
    max_message_bytes: int = DEFAULT_MAX_MESSAGE_BYTES,
) -> DataFrame:
    """TCP ingest, literally: Spark's socket source on the reference's
    loopback endpoint (server.cpp:18-22 listens on 127.0.0.1:6969).

    Framing difference, by design: the reference uses a 4-byte big-endian
    length prefix (server.cpp:39-67); the socket source is line-delimited
    (one message per \\n). Same stream semantics, self-describing frames.
    Returns the same schema as ``read_submission_stream`` minus the file
    id: (script, bytes, oversized). The socket source is dev/test-grade
    (no replay); production ingest is the file-drop landing zone or a
    durable bus behind it.
    """
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", str(port))
        .load()
    )
    return raw.select(
        F.col("value").alias("script"),
        F.octet_length("value").alias("bytes"),
        (F.octet_length("value") > F.lit(max_message_bytes)).alias("oversized"),
    )


def filter_blocklisted(
    submissions: DataFrame,
    blocklist: DataFrame,
    key_expr=None,
    blocked_col: str = "blocked_name",
) -> DataFrame:
    """The unsafe-name blocklist hook (env.cpp:29-119) applied at ingest:
    drop submissions whose first token is on the blocklist dimension —
    a stream-static broadcast LEFT ANTI join (the static side broadcasts;
    the stream never shuffles)."""
    if key_expr is None:
        key_expr = F.element_at(F.split(F.trim("script"), r"\s+"), 1)
    keyed = submissions.withColumn("_key", key_expr)
    return keyed.join(
        F.broadcast(blocklist),
        keyed["_key"] == blocklist[blocked_col],
        "left_anti",
    ).drop("_key")


def streaming_exact_dedup(
    df: DataFrame,
    id_cols: Sequence[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup: drop records whose ``id_cols`` were already
    seen, with state bounded by the watermark horizon
    (``dropDuplicatesWithinWatermark``) — the continuous form of the
    batch content-hash dedup in operators/dedup.py. At 100 TB the state
    store only holds keys inside the watermark window, so memory is
    bounded by ingest rate x horizon, not corpus size."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(id_cols)
    )


def run_fifo_sink(
    submissions: DataFrame,
    process_batch: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger: dict | None = None,
    query_name: str = "submission_fifo",
    close_sentinel: str | None = None,
):
    """Drive the submission stream through ``foreachBatch``.

    ``process_batch(batch_df, batch_id)`` must be idempotent on
    ``batch_id`` — Spark may re-run a batch after failure; keying every
    side effect by batch id gives the exactly-once ingest the reference's
    mutex-guarded queue only approximates (it loses in-flight messages on
    crash; a checkpointed stream does not).

    ``trigger`` forwards to ``DataStreamWriter.trigger`` (e.g.
    ``{"processingTime": "1 second"}`` — the RenderStepped tick — or
    ``{"availableNow": True}`` for drain-and-stop in tests).

    ``close_sentinel``: the OnClose event (websocket.hpp:211-254 — fired
    once, unrefs the stream state). A message whose script equals the
    sentinel ends the stream: rows in its batch are processed (sentinel
    excluded), then a watcher thread stops the query. The returned query
    still ends via the normal stop path, so the checkpoint stays valid
    for a later reconnect.
    """
    import threading

    closed = threading.Event()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if close_sentinel is not None:
            has_close = (
                batch_df.filter(F.col("script") == close_sentinel).limit(1).count() > 0
            )
            batch_df = batch_df.filter(F.col("script") != close_sentinel)
            process_batch(batch_df, batch_id)
            if has_close:
                closed.set()
        else:
            process_batch(batch_df, batch_id)

    writer = (
        guard_filter(submissions)
        .writeStream.queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(process)
    )
    if trigger:
        writer = writer.trigger(**trigger)
    query = writer.start()

    if close_sentinel is not None:
        def watch():
            closed.wait()
            query.stop()

        threading.Thread(target=watch, daemon=True).start()
    return query
