"""Structured Streaming + multimodal plumbing tests."""

import pytest

from pyspark.sql import functions as F

pytestmark = pytest.mark.spark


def test_stream_events_hourly_matches_batch(spark, tmp_path):
    """The streaming windowed agg over a static directory must equal the
    batch rollup once the stream is drained (availableNow semantics)."""
    from extractor_spark.spark.streaming import stream_events_hourly

    import shutil

    # FileStreamSource requires a directory; the driver table is one file.
    events_dir = str(tmp_path / "events")
    (tmp_path / "events").mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", f"{events_dir}/events.parquet"
    )
    agg = stream_events_hourly(spark, events_dir)
    query = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("hourly_out")
        .trigger(availableNow=True)
        .start()
    )
    query.processAllAvailable()
    query.stop()

    streamed = spark.sql(
        "SELECT window.start AS hour, event_type, n, value_cents FROM hourly_out"
    )
    batch = (
        spark.read.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .parquet(f"{events_dir}/events.parquet")
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
    )
    s = {tuple(r) for r in streamed.collect()}
    b = {tuple(r) for r in batch.collect()}
    assert s == b
    assert len(s) > 0


def test_stream_convert_pages_incremental(spark, tmp_path):
    """New page files are converted incrementally; output matches the batch
    stage; a second drain with no new files adds nothing."""
    from extractor_spark.spark.stages import convert_stage
    from extractor_spark.spark.streaming import stream_convert_pages
    from extractor_spark.spark.synth import build_pages_df

    pages_dir = str(tmp_path / "pages_stream")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    first = build_pages_df(spark, 10, include_fixtures=False, dup_every=0)
    first.write.mode("overwrite").parquet(pages_dir)

    q = stream_convert_pages(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination(120)

    got1 = spark.read.parquet(out_dir).count()
    assert got1 == 10

    # second batch of files lands
    more = build_pages_df(spark, 30, include_fixtures=False, dup_every=0).filter(
        "url like '%/article/2%'"
    )
    n_more = more.count()
    more.write.mode("append").parquet(pages_dir)

    q = stream_convert_pages(spark, pages_dir, out_dir, ckpt)
    q.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    # incremental: only genuinely new files processed (the 10 originals are
    # not re-emitted; appended files include the first 10 ids again under
    # new filenames, which ARE new to the stream)
    assert out.count() >= got1 + n_more - 10
    assert "markdown" in out.columns
    sample = out.filter(F.col("markdown").isNotNull()).count()
    assert sample > 0


def test_stateful_sessionization_matches_batch(spark, tmp_path):
    """The applyInPandasWithState sessionizer, drained over a static source,
    must reproduce the batch lag+cumsum sessionization exactly (closed
    sessions + open tails together = all sessions)."""
    import shutil

    from extractor_spark.spark.queries import QUERIES
    from extractor_spark.spark.streaming import stream_user_sessions

    events_dir = str(tmp_path / "events")
    (tmp_path / "events").mkdir()
    shutil.copy(
        "/root/testdata/sf0.001/events.parquet", f"{events_dir}/events.parquet"
    )

    q = (
        stream_user_sessions(spark, events_dir)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    streamed = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in spark.sql("SELECT * FROM sessions_out").collect()
    }

    batch_fn, _ = QUERIES["user_sessions"]
    batch = {
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in batch_fn(spark, "/root/testdata/sf0.001").collect()
    }
    assert streamed == batch
    assert len(batch) > 0


def test_multimodal_sniff_and_features(spark):
    import pandas as pd

    from extractor_spark.spark.multimodal import (
        MEDIA_SCHEMA,
        fake_features,
        feature_extract_stage,
        payload_stats,
        with_sniffed_mime,
    )

    rows = [
        {
            "media_id": 1,
            "url": "https://x.test/a.png",
            "payload": b"\x89PNG\r\n\x1a\nrest-of-png",
            "meta": {"content_type": "image/png", "width": 4, "height": 4},
        },
        {
            "media_id": 2,
            "url": "https://x.test/b.jpg",
            "payload": b"\xff\xd8\xff\xe0JFIFdata",
            "meta": {"content_type": "image/jpeg", "width": 2, "height": 2},
        },
        {
            "media_id": 3,
            "url": "https://x.test/c.bin",
            "payload": b"plain-bytes",
            "meta": None,
        },
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=MEDIA_SCHEMA)

    sniffed = {r["media_id"]: r["sniffed_mime"] for r in with_sniffed_mime(df).collect()}
    assert sniffed[1] == "image/png"
    assert sniffed[2] == "image/jpeg"
    assert sniffed[3] is None

    feats = feature_extract_stage(df, dim=8).collect()
    by_id = {r["media_id"]: list(r["features"]) for r in feats}
    assert len(by_id[1]) == 8
    # deterministic: matches the local fake extractor
    expected = fake_features(b"\x89PNG\r\n\x1a\nrest-of-png", 8)
    assert by_id[1] == pytest.approx(expected)

    stats = {r["media_id"]: r["n_bytes"] for r in payload_stats(df).collect()}
    assert stats[3] == len(b"plain-bytes")


def test_decode_image_stub_raises():
    from extractor_spark.spark.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG....")


def test_sessionization_event_time_timeout_closes_idle_tails(spark, tmp_path):
    """Multi-batch stream with emit_open_tails=False: a user idle past the
    gap must have their session finalized by the event-time timeout once
    later data advances the watermark (ADVICE r1: tails used to never close
    and open sessions duplicated across micro-batches)."""
    import datetime

    import pandas as pd

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def write_file(name, rows):
        pdf = pd.DataFrame(
            [
                {
                    "event_id": i,
                    "ts": ts,
                    "user_id": uid,
                    "event_type": "view",
                    "value": 1.0,
                    "props": None,
                }
                for i, (uid, ts) in enumerate(rows)
            ]
        )
        spark.createDataFrame(
            pdf,
            schema="event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string",
        ).coalesce(1).write.mode("overwrite").parquet(str(events_dir / name))

    # batch 1: user 1 has a two-event session ending at t0+5min
    write_file("f1", [(1, t0), (1, t0 + datetime.timedelta(minutes=5))])
    # batch 2: user 2 events three hours later -> watermark (max_ts - 30min)
    # passes user 1's close boundary (t0+35min), firing the timeout
    write_file("f2", [(2, t0 + datetime.timedelta(hours=3))])

    from extractor_spark.spark.streaming import stream_user_sessions

    q = (
        stream_user_sessions(
            spark,
            str(events_dir / "*"),
            emit_open_tails=False,
            max_files_per_trigger=1,
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sessions_timeout_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    rows = spark.sql("SELECT * FROM sessions_timeout_out").collect()
    by_user = {r["user_id"]: r for r in rows}
    # user 1's session was closed by the timeout, exactly once
    assert 1 in by_user, f"idle tail never closed: {rows}"
    u1 = [r for r in rows if r["user_id"] == 1]
    assert len(u1) == 1 and u1[0]["closed"] is True
    assert u1[0]["n_events"] == 2
    # user 2's tail is still open (watermark never passed it) -> no row
    assert 2 not in by_user


def test_resize_and_frame_sample_stages(spark):
    import pandas as pd

    from extractor_spark.spark.multimodal import (
        MEDIA_SCHEMA,
        fake_resize,
        pil_resize,
        resize_stage,
        sample_frames_stage,
        with_sniffed_mime,
    )

    rows = [
        {
            "media_id": 1,
            "url": "https://x.test/a.png",
            "payload": b"\x89PNG\r\n\x1a\n" + bytes(range(200)),
            "meta": {"content_type": "image/png", "width": 100, "height": 80},
        },
        {
            "media_id": 2,
            "url": "https://x.test/v.bin",
            "payload": bytes(range(64)) * 4,
            "meta": None,
        },
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=MEDIA_SCHEMA)

    resized = {r["media_id"]: r for r in resize_stage(df, 32, 32).collect()}
    assert resized[1]["meta"]["width"] == 32 and resized[1]["meta"]["height"] == 32
    # deterministic fake + magic bytes preserved so downstream sniff works
    assert bytes(resized[1]["payload"]) == fake_resize(rows[0]["payload"], 32, 32)
    sniffed = {
        r["media_id"]: r["sniffed_mime"]
        for r in with_sniffed_mime(resize_stage(df, 32, 32)).collect()
    }
    assert sniffed[1] == "image/png"

    frames = sample_frames_stage(df, n_frames=4).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r)
    assert len(by_media[2]) == 4
    assert sorted(r["frame_idx"] for r in by_media[2]) == [0, 1, 2, 3]
    joined = b"".join(bytes(r["frame"]) for r in sorted(by_media[2], key=lambda r: r["frame_idx"]))
    assert joined == rows[1]["payload"]  # equal slices cover the payload

    with pytest.raises(NotImplementedError):
        pil_resize(b"\x89PNG....", 8, 8)


def test_stream_structured_extraction(spark, tmp_path):
    """foreachBatch extraction: streamed pages get convert + schema-guided
    extraction with a typed data struct, matching the batch pipeline."""
    from pyspark.sql import functions as F

    from extractor_spark.spark.streaming import stream_convert_pages
    from extractor_spark.spark.synth import build_pages_df

    pages_dir = str(tmp_path / "pages")
    build_pages_df(spark, 6).write.parquet(pages_dir)
    schema = {
        "type": "object",
        "required": ["title"],
        "properties": {"title": {"type": "string"}},
    }
    q = stream_convert_pages(
        spark, pages_dir, str(tmp_path / "out"), str(tmp_path / "ckpt"), schema=schema
    )
    q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out"))
    assert "data" in out.columns
    h1 = out.filter(F.col("url") == "https://fixtures.test/unit/simple-h1-p").collect()
    assert h1 and h1[0]["data"]["title"] == "Hello World"


def test_jsonl_sink(spark, tmp_path):
    import json

    from extractor_spark.spark.sources import write_output
    from extractor_spark.spark.synth import build_pages_df
    from extractor_spark.spark.stages import convert_stage

    out = convert_stage(build_pages_df(spark, 5, include_fixtures=False, dup_every=0))
    export = out.select("url", "markdown", "text", "markdown_chars")
    path = str(tmp_path / "export")
    write_output(export, path, fmt="jsonl", partition_col=None)
    lines = []
    for f in (tmp_path / "export").glob("*.json"):
        lines += [json.loads(l) for l in f.read_text().splitlines()]
    assert len(lines) == 5
    assert all(set(l) <= {"url", "markdown", "text", "markdown_chars"} for l in lines)
    assert all(l["markdown"] for l in lines)


def test_stream_dedup_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark must emit each event_id once across
    micro-batches whose duplicates fall inside the watermark horizon, and
    the surviving rows must be real input rows (batch-twin comparison)."""
    from extractor_spark.spark.streaming import stream_dedup_events

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    base = (
        spark.read.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .parquet("/root/testdata/sf0.001/events.parquet")
        .limit(400)
    )
    # file 1: first 300; file 2: rows 200-400 (100 redelivered duplicates).
    # FileStreamSource lists FLAT files — write each chunk to a scratch dir
    # and copy its part file into the stream directory.
    import glob
    import shutil

    from pyspark.sql.window import Window

    tail = (
        base.withColumn("_rn", F.row_number().over(Window.orderBy("event_id")))
        .filter("_rn > 200")
        .drop("_rn")
    )
    for name, chunk in (("f1", base.limit(300)), ("f2", tail)):
        scratch = str(tmp_path / f"scratch_{name}")
        chunk.coalesce(1).write.parquet(scratch)
        (part,) = glob.glob(f"{scratch}/part-*.parquet")
        shutil.copy(part, str(events_dir / f"{name}.parquet"))

    deduped = stream_dedup_events(spark, str(events_dir))
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()

    got = spark.sql("SELECT event_id FROM dedup_out").collect()
    ids = [r[0] for r in got]
    assert len(ids) == len(set(ids)), "a duplicate event_id survived"
    assert set(ids) == {r[0] for r in base.select("event_id").collect()}


def test_stream_stream_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join over static directories must
    equal the equivalent batch join once drained."""
    import glob
    import shutil

    from extractor_spark.spark.streaming import stream_stream_event_pairs

    schema = (
        "event_id bigint, ts timestamp, user_id bigint, event_type string, "
        "value double, props string"
    )
    base = spark.read.schema(schema).parquet("/root/testdata/sf0.001/events.parquet")
    clicks_src = base.filter("event_type = 'click'").limit(400)
    views_src = base.filter("event_type = 'view'").limit(400)

    dirs = {}
    for name, chunk in (("clicks", clicks_src), ("views", views_src)):
        d = tmp_path / name
        d.mkdir()
        scratch = str(tmp_path / f"scratch_{name}")
        chunk.coalesce(1).write.parquet(scratch)
        (part,) = glob.glob(f"{scratch}/part-*.parquet")
        shutil.copy(part, str(d / "data.parquet"))
        dirs[name] = str(d)

    joined = stream_stream_event_pairs(spark, dirs["clicks"], dirs["views"])
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ss_join_out")
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        tuple(r)
        for r in spark.sql("SELECT click_id, view_id FROM ss_join_out").collect()
    }

    clicks_src.createOrReplaceTempView("b_clicks")
    views_src.createOrReplaceTempView("b_views")
    want = {
        tuple(r)
        for r in spark.sql(
            """
            SELECT c.event_id AS click_id, v.event_id AS view_id
            FROM b_clicks c JOIN b_views v
              ON c.user_id = v.user_id
             AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
            """
        ).collect()
    }
    assert got == want
    assert len(want) > 0, "batch twin produced no pairs — test data too thin"


def test_pdf_text_stage_extracts_and_tolerates_non_pdf(spark):
    import pandas as pd

    from extractor_spark.engine.pdfwrite import text_to_pdf
    from extractor_spark.spark.multimodal import (
        MEDIA_SCHEMA,
        pdf_text_stage,
        with_sniffed_mime,
    )

    doc = "Title line\n\nBody paragraph line one.\nBody paragraph line two."
    rows = [
        {
            "media_id": 1,
            "url": "https://x.test/doc.pdf",
            "payload": text_to_pdf(doc),
            "meta": {"content_type": "application/pdf"},
        },
        {
            "media_id": 2,
            "url": "https://x.test/b.png",
            "payload": b"\x89PNG\r\n\x1a\nnot-a-pdf",
            "meta": None,
        },
        {
            "media_id": 3,
            "url": "https://x.test/broken.pdf",
            "payload": b"%PDF-1.4\ntruncated garbage",
            "meta": None,
        },
        {"media_id": 4, "url": "https://x.test/null", "payload": None, "meta": None},
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=MEDIA_SCHEMA)

    # sniffer routes PDFs (magic already in the JVM-side ladder)
    sniffed = {r["media_id"]: r["sniffed_mime"] for r in with_sniffed_mime(df).collect()}
    assert sniffed[1] == "application/pdf"

    out = {r["media_id"]: r["pdf_text"] for r in pdf_text_stage(df).collect()}
    assert out[1] == doc            # byte-identical layout roundtrip
    assert out[2] is None           # non-PDF -> null, no exception
    assert out[3] == ""             # parseable-but-empty PDF -> empty text
    assert out[4] is None


def _marker_resize(payload: bytes, width: int, height: int) -> bytes:
    # encodes (input, dims) into the output so each row proves its own
    # invocation — executor-side counters can't reach the driver
    return b"CUSTOM:" + bytes([width, height]) + bytes(payload[::-1])


def _marker_frame_decoder(payload: bytes, n_frames: int):
    return [b"F%d:" % i + bytes(payload[:4]) for i in range(n_frames)]


def test_custom_resizer_and_decoder_are_invoked_per_item(spark):
    """Pluggable-seam contract (r3 verdict item 6): a caller-supplied
    ``resizer``/``decoder`` callable must actually run inside the Arrow
    batch for EVERY row — not be silently ignored in favor of the fake.
    Stage UDFs execute in Python worker subprocesses, so instead of a mock
    counter the custom callables stamp their input into their output and
    every output row is checked against a local re-computation."""
    import pandas as pd

    from extractor_spark.spark.multimodal import (
        MEDIA_SCHEMA,
        resize_stage,
        sample_frames_stage,
    )

    rows = [
        {
            "media_id": i,
            "url": f"https://x.test/{i}.bin",
            "payload": bytes([i]) * (16 + i),
            "meta": None,
        }
        for i in range(5)
    ]
    df = spark.createDataFrame(pd.DataFrame(rows), schema=MEDIA_SCHEMA)

    resized = {r["media_id"]: r for r in resize_stage(df, 7, 9, resizer=_marker_resize).collect()}
    assert len(resized) == len(rows)
    for row in rows:
        got = bytes(resized[row["media_id"]]["payload"])
        assert got == _marker_resize(row["payload"], 7, 9), row["media_id"]

    frames = sample_frames_stage(df, n_frames=3, decoder=_marker_frame_decoder).collect()
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], {})[r["frame_idx"]] = bytes(r["frame"])
    assert set(by_media) == {row["media_id"] for row in rows}
    for row in rows:
        expect = _marker_frame_decoder(row["payload"], 3)
        got = [by_media[row["media_id"]][i] for i in range(3)]
        assert got == expect, row["media_id"]
