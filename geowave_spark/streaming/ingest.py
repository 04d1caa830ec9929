"""Structured-Streaming ingest into the cell-indexed snapshot table.

The reference ingests streams (Kafka plugins) through the same
adapter/index write path as batch files — each entry gets its SFC
insertion ids and is appended (core/ingest framework;
BasicKafkaIT.java). Engine equivalent: ``open_stream`` (file, Kafka or
rate source) → the *same* native cell-assignment expression used by
batch indexing → ``stream_ingest_icetable``, which commits each
micro-batch as one IceTable append snapshot.

At 100 TB/day the important properties are already in this shape:
cell assignment is pure JVM column arithmetic (no Python between the
source and the sink), each commit appends without touching old files,
and exactly-once comes from the checkpointLocation plus the batch id
recorded in the snapshot log.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from geowave_spark.index.native import cell_col


def indexed_stream(
    stream: DataFrame,
    res: int,
    x_col: str = "x_u",
    y_col: str = "y_u",
) -> DataFrame:
    """Apply the batch indexing transformation to a streaming DataFrame:
    materialize the Morton ``cell`` column (insertion-id computation,
    identical to operators.spatial_query.with_cell)."""
    return stream.withColumn("cell", cell_col(F.col(x_col), F.col(y_col), res))


# ------------------------------------------------------ source abstraction


def parse_kafka_events(raw: DataFrame, schema: StructType | str) -> DataFrame:
    """Kafka record frame (key, value, topic, partition, offset,
    timestamp — the fixed schema of Spark's kafka source) → typed event
    rows: value bytes parsed as JSON into ``schema``. Split out from
    open_stream so the engine-owned half of the Kafka branch is
    testable without a broker (the connector itself is Spark's; this
    transformation is identical on a batch frame of the same shape —
    tests/test_streaming_source.py)."""
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), schema).alias("_e")
    )
    return parsed.select("_e.*")


def open_stream(spark: SparkSession, source: dict, schema: StructType | str | None = None) -> DataFrame:
    """Open a streaming source from a spec dict — the reference's
    format-plugin seam (extensions/formats/*; BasicKafkaIT.java wires
    Kafka through the same adapter/index write path as files). The
    returned DataFrame always carries the EVENT schema, so every
    downstream stage (indexing, the snapshot-table sink) is
    source-agnostic:

      {"format": "file",  "path": dir, "ext": "parquet"}
      {"format": "kafka", "options": {"kafka.bootstrap.servers": ...,
                                      "subscribe": topic}}
          — value bytes parsed as JSON into ``schema``
      {"format": "rate",  "options": {"rowsPerSecond": "500"}}
          — the embedded test harness: the monotonically increasing
            ``value`` becomes the event key and the event fields are
            derived with the same deterministic integer arithmetic as
            the batch fixtures (sources.testgeo.xy_cols), so assertions
            can recompute every expected row
    """
    fmt = source["format"]
    opts = source.get("options", {})
    if fmt == "file":
        return (
            spark.readStream.schema(schema)
            .format(source.get("ext", "parquet"))
            .options(**opts)  # e.g. maxFilesPerTrigger for batch sizing
            .load(source["path"])
        )
    if fmt == "kafka":
        raw = spark.readStream.format("kafka").options(**opts).load()
        return parse_kafka_events(raw, schema)
    if fmt == "rate":
        from geowave_spark.sources.testgeo import xy_cols

        raw = spark.readStream.format("rate").options(**opts).load()
        x, y = xy_cols(F.col("value"))
        return raw.select(
            F.col("value").alias("event_id"),
            F.col("timestamp").alias("ts"),
            (F.col("value") % 97).alias("user_id"),
            x,
            y,
        )
    raise ValueError(f"unknown stream source format {fmt!r}")


def last_stream_batch(table) -> int | None:
    """Largest Structured Streaming batch id recorded in ``table``'s
    snapshot log (``stream_batch_id`` summary tag), or None. One
    metadata read — the idempotence check of the transactional sink."""
    ids = [
        int(s["summary"]["stream_batch_id"])
        for s in table.snapshots()
        if "stream_batch_id" in (s.get("summary") or {})
    ]
    return max(ids) if ids else None


def stream_ingest_icetable(
    spark: SparkSession,
    source: dict,
    table,
    checkpoint_dir: str,
    schema: StructType | str | None = None,
    res: int = 16,
    stats_cols: list[str] | None = None,
    occupancy: tuple[int, str, str] | None = None,
    sketch_cols: list[str] | None = None,
    available_now: bool = True,
):
    """Streaming ingest with a TRANSACTIONAL snapshot-table sink: each
    micro-batch is indexed (same native cell expression as batch) and
    committed as ONE atomic IceTable append snapshot — manifest footer
    stats, optional occupancy and field-sketch deltas all maintained
    per commit, exactly like batch writes — tagged with the Structured
    Streaming batch id in the snapshot summary.

    Exactly-once: after a crash, Structured Streaming replays the last
    batch whose sink-side effect it cannot prove; the sink checks the
    snapshot log (last_stream_batch) and SKIPS an already-committed
    batch id, so source-replay + idempotent-commit = exactly-once rows
    (Spark's documented foreachBatch transactional-sink contract; the
    reference gets the same effect from GeoWaveOutputFormat's
    idempotent KV puts — writing the same insertion id twice is one
    row). Batch ids are monotonic per checkpointLocation, so a single
    max suffices; the skip is also what makes a concurrent-commit
    RuntimeError retryable (restart replays, commit-or-skip resolves).

    At 100 TB/day this shape holds: the cell assignment is pure JVM
    column arithmetic, each commit touches only its own new files
    (append never rewrites), stats ride the write, and readers get
    snapshot isolation + incremental consumption (scan_appends) for
    free. Returns the started StreamingQuery."""
    indexed = indexed_stream(open_stream(spark, source, schema), res)

    def commit_batch(batch_df: DataFrame, batch_id: int) -> None:
        last = last_stream_batch(table)
        if last is not None and int(batch_id) <= last:
            return  # replayed batch: already durable, skip (idempotent)
        table.commit_write(
            batch_df,
            mode="append",
            stats_cols=stats_cols,
            occupancy=occupancy,
            sketch_cols=sketch_cols,
            summary={"stream_batch_id": int(batch_id)},
        )

    writer = indexed.writeStream.foreachBatch(commit_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
