"""Structured Streaming surfaces.

The reference is a batch library (no streaming, SURVEY.md §2.5); these are
the engineered streaming counterparts a crawl pipeline needs:

- ``stream_events_hourly``: watermarked event-time windowed aggregation
  (late data tolerated up to the watermark), the streaming twin of the
  batch ``events_hourly`` query.
- ``stream_convert_pages``: continuous extraction — new page files landing
  in a directory are converted incrementally via ``foreachBatch`` running
  the same Arrow-batched convert stage, with exactly-once file-sink
  semantics from the checkpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from extractor_spark.spark.stages import (
    convert_extract_stage,
    convert_stage,
    with_typed_data,
)
from extractor_spark.spark.synth import PAGES_SCHEMA

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


def stream_events_hourly(
    spark: SparkSession, events_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """readStream → watermark → 1-hour tumbling window agg (append-mode
    compatible: the watermark bounds state and late data)."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )


def stream_stream_event_pairs(
    spark: SparkSession,
    clicks_dir: str,
    views_dir: str,
    watermark: str = "2 hours",
    join_window: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: click events joined to view events of the
    SAME user within ``join_window`` after the view — the streaming
    attribution primitive.  Both sides are watermarked so Spark bounds the
    join state buffers (a side's rows are dropped once the other side's
    watermark passes their window); without the time-range condition a
    stream-stream join would buffer forever.  Batch twin: the
    events_within_7d_of_order interval join."""
    def side(d: str, alias: str) -> DataFrame:
        return (
            spark.readStream.schema(EVENTS_SCHEMA)
            .parquet(d)
            .select(
                F.col("event_id").alias(f"{alias}_id"),
                F.col("user_id").alias(f"{alias}_user"),
                F.col("ts").cast("timestamp").alias(f"{alias}_ts"),
            )
            .withWatermark(f"{alias}_ts", watermark)
        )

    clicks = side(clicks_dir, "click")
    views = side(views_dir, "view")
    return clicks.join(
        views,
        F.expr(
            f"""
            click_user = view_user AND
            click_ts >= view_ts AND
            click_ts <= view_ts + INTERVAL {join_window}
            """
        ),
        "inner",
    )


def stream_dedup_events(
    spark: SparkSession, events_dir: str, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming exact dedup via ``dropDuplicatesWithinWatermark``: keeps one
    row per event_id while holding dedup state only within the watermark
    horizon — the bounded-state answer to at-least-once redelivery (a crawl
    frontier re-emitting a url, a log shipper replaying a segment).  Plain
    ``dropDuplicates`` on a stream accumulates state forever; the
    within-watermark variant is what survives a year-long run.  Batch twin:
    the exact_dup_groups / dedup_latest_event queries."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(events_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id bigint, session_start_us bigint, session_end_us bigint, "
    "n_events bigint, closed boolean"
)
_SESSION_STATE_SCHEMA = "start_us bigint, end_us bigint, n bigint"
SESSION_GAP_US = 30 * 60 * 1_000_000


_SESSION_COLS = ["user_id", "session_start_us", "session_end_us", "n_events", "closed"]


def _make_session_func(emit_open_tails: bool):
    """applyInPandasWithState body factory: 30-minute-gap sessionization.

    Always emits a row per session CLOSED by an observed gap.  An EVENT-TIME
    timeout of one gap finalizes idle users: when the watermark passes a
    session's end + gap, the stored session is emitted with ``closed=true``
    and its state cleared — long-running streams never hold a tail session
    forever, and state size stays watermark-bounded.  (A processing-time
    timeout would keep an availableNow drain alive until the wall-clock gap
    elapsed; event-time timeouts advance with the data and terminate.)

    ``emit_open_tails=True`` additionally emits the still-open tail with
    ``closed=false`` whenever the group sees data, so a single availableNow
    drain of a static source yields the COMPLETE sessionization (the batch
    twin).  On a multi-batch stream this re-emits a growing tail per batch
    in append mode — consumers must then keep, per (user_id,
    session_start_us), the row with the greatest session_end_us (or prefer
    closed=true).  Use ``emit_open_tails=False`` for continuous streams to
    get exactly-one-row-per-session semantics from the timeout alone.
    """

    def session_func(key, pdf_iter, state):
        import pandas as pd

        (user_id,) = key

        if state.hasTimedOut:
            # watermark passed end + gap with no new data: finalize
            start_us, end_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                [(user_id, start_us, end_us, n, True)], columns=_SESSION_COLS
            )
            return

        if state.exists:
            start_us, end_us, n = state.get
        else:
            start_us = end_us = None
            n = 0

        out_rows = []
        for pdf in pdf_iter:
            ts_us = sorted(int(v) for v in pdf["ts_us"])
            for t in ts_us:
                if start_us is None:
                    start_us, end_us, n = t, t, 1
                elif t - end_us > SESSION_GAP_US:
                    out_rows.append((user_id, start_us, end_us, n, True))
                    start_us, end_us, n = t, t, 1
                else:
                    end_us = max(end_us, t)
                    n += 1

        if start_us is not None:
            state.update((start_us, end_us, n))
            # fire once the watermark passes the session's close boundary;
            # must be strictly beyond the current watermark for late data
            close_ms = end_us // 1000 + SESSION_GAP_US // 1000
            state.setTimeoutTimestamp(max(close_ms, state.getCurrentWatermarkMs() + 1))
            if emit_open_tails:
                out_rows.append((user_id, start_us, end_us, n, False))

        yield pd.DataFrame(out_rows, columns=_SESSION_COLS)

    return session_func


def stream_user_sessions(
    spark: SparkSession,
    events_dir: str,
    emit_open_tails: bool = True,
    watermark: str = "30 minutes",
    max_files_per_trigger: int | None = None,
):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user 30-minute-gap sessionization with explicit state and an
    event-time timeout that closes idle tails once the watermark passes
    end + gap (see _make_session_func for the emit_open_tails contract).
    Returns the streaming DataFrame; attach a sink and drain.

    ``max_files_per_trigger`` bounds each micro-batch (also makes an
    availableNow drain multi-batch, advancing the watermark between files)."""
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(events_dir)
    events = stream.select(
        F.col("ts").cast("timestamp").alias("ts"),
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    ).withWatermark("ts", watermark)
    return events.groupBy("user_id").applyInPandasWithState(
        _make_session_func(emit_open_tails),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="EventTimeTimeout",
    )


def stream_convert_pages(
    spark: SparkSession,
    pages_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: dict | None = None,
    custom_prompt: str | None = None,
):
    """Continuous extraction pipeline: each micro-batch of newly-landed page
    files runs the batch convert stage — plus schema-guided structured
    extraction when ``schema`` is given — and appends to the output table.
    Returns the StreamingQuery (caller stops it)."""

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        # DataFrame.isEmpty: no RDD conversion, one cheap limit-1 job
        if batch_df.isEmpty():
            return
        pages = batch_df.select("url", "warc_ts", "html", "lang")
        if schema is None:
            out = convert_stage(pages)
        else:
            out = with_typed_data(
                convert_extract_stage(pages, schema, custom_prompt=custom_prompt), schema
            ).drop("data_json")
        out.write.mode("append").parquet(output_dir)

    stream = spark.readStream.schema(PAGES_SCHEMA).parquet(pages_dir)
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
