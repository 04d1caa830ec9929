"""Non-file streaming ingest end-to-end (BasicKafkaIT analog): the
rate source stands in for an embedded broker and feeds the snapshot-table
sink; the assertion recomputes every expected row (event ids distinct,
exactly-once, cell ids equal to the batch indexing expression's output)."""

import time

import pytest
from pyspark.sql import functions as F

from geowave_spark.index.native import cell_col
from geowave_spark.sources.icetable import IceTable
from geowave_spark.streaming.ingest import open_stream, stream_ingest_icetable

RES = 12


def test_rate_source_indexed_append(spark, tmp_path):
    table = IceTable(str(tmp_path / "tbl"))
    q = stream_ingest_icetable(
        spark,
        {"format": "rate", "options": {"rowsPerSecond": "500"}},
        table,
        str(tmp_path / "ckpt"),
        res=RES,
        available_now=False,
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if table.snapshots() and table.read(spark).count() >= 300:
                break
            time.sleep(1)
    finally:
        q.stop()
        q.awaitTermination(30)
    df = table.read(spark)
    n = df.count()
    assert n >= 300

    # exactly-once: event ids are distinct
    assert df.select("event_id").distinct().count() == n
    # indexed identically to the batch path: recompute the cell column
    mism = df.where(
        F.col("cell") != cell_col(F.col("x_u"), F.col("y_u"), RES)
    ).count()
    assert mism == 0
    # the derived coordinates follow the deterministic fixture formula
    from geowave_spark.sources.testgeo import xy_numpy
    import numpy as np

    rows = df.select("event_id", "x_u", "y_u").limit(200).collect()
    ids = np.array([r["event_id"] for r in rows])
    xs, ys = xy_numpy(ids)
    assert all(int(x) == r["x_u"] and int(y) == r["y_u"] for r, x, y in zip(rows, xs, ys))


def test_kafka_spec_builds_plan(spark):
    """The Kafka wiring is real (readStream.format('kafka') + JSON
    value parse) — no broker in the sandbox, so assert the spec
    produces the kafka source plan and fails only at connection/class
    resolution, not in our code."""
    try:
        df = open_stream(
            spark,
            {
                "format": "kafka",
                "options": {
                    "kafka.bootstrap.servers": "localhost:9",
                    "subscribe": "events",
                },
            },
            schema="event_id long, ts timestamp, user_id long, x_u long, y_u long",
        )
        # reaching here means the connector jar exists; the schema must
        # then match the event shape
        assert df.columns == ["event_id", "ts", "user_id", "x_u", "y_u"]
    except Exception as e:
        msg = str(e)
        assert (
            "kafka" in msg.lower() or "DATA_SOURCE_NOT_FOUND" in msg
        ), f"unexpected failure: {msg[:200]}"


def test_kafka_value_parse_roundtrip(spark):
    """The engine-owned half of the Kafka branch — value-JSON → typed
    event rows — verified on a batch frame with the kafka source's
    exact record shape (no broker needed; the connector is Spark's)."""
    import json as _json

    from geowave_spark.streaming.ingest import parse_kafka_events

    events = [
        {"event_id": 7, "ts": "2024-01-03 04:05:06", "user_id": 42,
         "x_u": -73_950_000, "y_u": 40_700_000},
        {"event_id": 8, "ts": "2024-01-03 04:05:07", "user_id": 43,
         "x_u": 2_350_000, "y_u": 48_850_000},
    ]
    rows = [
        (b"k", _json.dumps(e).encode(), "events", 0, i, None)
        for i, e in enumerate(events)
    ]
    raw = spark.createDataFrame(
        rows,
        "key binary, value binary, topic string, partition int, "
        "offset long, timestamp timestamp",
    )
    got = parse_kafka_events(
        raw, "event_id long, ts timestamp, user_id long, x_u long, y_u long"
    )
    assert got.columns == ["event_id", "ts", "user_id", "x_u", "y_u"]
    out = {r.event_id: r for r in got.collect()}
    assert out[7].user_id == 42 and out[7].x_u == -73_950_000
    assert out[8].y_u == 48_850_000
    assert str(out[7].ts) == "2024-01-03 04:05:06"


def test_streaming_image_thumbnails_match_batch(spark, tmp_path):
    """The image pipeline over Structured Streaming: a file stream of
    image+caption parquet flows through the SAME mapInPandas thumbnail
    stage as batch, and the streamed output matches the batch run
    hash-for-hash — the operator is source-agnostic by construction."""
    from geowave_spark.operators.multimodal import image_thumbnails
    from geowave_spark.sources.images import SCHEMA, images_table

    src = str(tmp_path / "img_src")
    images_table(spark, 90, w=32, h=32, partitions=3).write.parquet(src)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        image_thumbnails(stream, 16, 16)
        .writeStream.format("memory")
        .queryName("thumb_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.image_id: r.thumb_hash
        for r in spark.sql("SELECT image_id, thumb_hash FROM thumb_stream").collect()
    }
    batch = {
        r.image_id: r.thumb_hash
        for r in image_thumbnails(
            spark.read.parquet(src), 16, 16
        ).select("image_id", "thumb_hash").collect()
    }
    assert len(got) == 90
    assert got == batch


def test_kafka_wire_schema_stream_matches_batch(spark, tmp_path):
    """Round-4 Kafka evidence (BasicKafkaIT.java analog, strongest form
    available without the connector jar): a STREAMING run of everything
    the kafka branch does after .load() — parse_kafka_events over a
    stream with the kafka source's exact wire schema (key/value binary,
    topic, partition, offset, timestamp, timestampType), then the same
    indexed append sink — must equal the batch path row-for-row. Only
    Spark's own connector (absent jar) goes unexercised; the engine-owned
    code runs under a real StreamExecution."""
    import json as _json

    from geowave_spark.streaming.ingest import indexed_stream, parse_kafka_events

    wire_dir = str(tmp_path / "wire")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    event_schema = "event_id long, ts timestamp, user_id long, x_u long, y_u long"

    # build kafka-wire records deterministically (value = JSON event)
    rows = []
    for i in range(500):
        ev = {
            "event_id": i,
            "ts": f"2024-01-01 00:{i % 60:02d}:{(i * 7) % 60:02d}",
            "user_id": i % 97,
            "x_u": (i * 2654435761) % 360_000_000 - 180_000_000,
            "y_u": (i * 2246822519) % 170_000_000 - 85_000_000,
        }
        rows.append(
            (
                str(i).encode(),
                _json.dumps(ev).encode(),
                "events",
                i % 4,
                i,
            )
        )
    wire = spark.createDataFrame(
        rows, "key binary, value binary, topic string, partition int, offset long"
    ).select(
        "*",
        F.current_timestamp().alias("timestamp"),
        F.lit(0).alias("timestampType"),
    )
    wire.write.parquet(wire_dir)

    raw_stream = (
        spark.readStream.schema(spark.read.parquet(wire_dir).schema)
        .parquet(wire_dir)
    )
    indexed = indexed_stream(parse_kafka_events(raw_stream, event_schema), RES)
    q = (
        indexed.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = indexed_stream(
        parse_kafka_events(spark.read.parquet(wire_dir), event_schema), RES
    )
    assert got.count() == 500
    assert set(map(tuple, got.collect())) == set(map(tuple, want.collect()))


def test_streaming_caption_alignment_matches_batch(spark, tmp_path):
    """The pair-quality gate over Structured Streaming: a file stream
    of image+caption parquet flows through the SAME fused dual-tower
    mapInPandas + native-dot stage as batch, and the streamed scores
    match the batch run bit-for-bit — a training-data filter that can
    score pairs continuously on ingest."""
    from geowave_spark.operators.multimodal import caption_alignment
    from geowave_spark.sources.images import SCHEMA, images_table

    src = str(tmp_path / "align_src")
    images_table(spark, 80, w=16, h=16, partitions=2).write.parquet(src)

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        caption_alignment(stream, kernel="blockmean", grid=4)
        .writeStream.format("memory")
        .queryName("align_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r.image_id: r.align
        for r in spark.sql("SELECT image_id, align FROM align_stream").collect()
    }
    batch = {
        r.image_id: r.align
        for r in caption_alignment(
            spark.read.parquet(src), kernel="blockmean", grid=4
        ).collect()
    }
    assert len(got) == 80
    assert got == batch
