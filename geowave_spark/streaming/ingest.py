"""Structured-Streaming ingest into the cell-indexed table.

The reference ingests streams (Kafka plugins) through the same
adapter/index write path as batch files — each entry gets its SFC
insertion ids and is appended (core/ingest framework;
BasicKafkaIT.java). Engine equivalent: ``readStream`` (file source
here; a Kafka source is the same one-line reader swap) → the *same*
native cell-assignment expression used by batch indexing → append sink
partitioned so downstream queries prune on the index layout.

At 100 TB/day the important properties are already in this shape:
cell assignment is pure JVM column arithmetic (no Python between the
source and the sink), the sink appends per micro-batch without
touching old files, and exactly-once comes from the checkpointLocation
+ file-sink manifest.

The stream-static joins (stream_spatial_join, stream_distance_join) are
the batch extent × point operators applied to a streaming point side:
the same skeleton (operators/spatial_join.extent_point_join), the same
packed BIGINT cell key, the same exact refine. The skeleton never
collects to the driver, so a stream plugs in unchanged and every
micro-batch is one broadcast-hash join against the static side.
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


def stream_ingest(
    spark: SparkSession,
    source_dir: str,
    schema: StructType,
    out_dir: str,
    checkpoint_dir: str,
    res: int = 16,
    fmt: str = "parquet",
    available_now: bool = True,
):
    """File-source ingest pipeline: watch ``source_dir``, index, append
    to ``out_dir``. ``available_now=True`` drains the current backlog
    and stops (deterministic for tests); False runs continuously.

    Returns the started StreamingQuery (caller awaits/stops it)."""
    stream = spark.readStream.schema(schema).format(fmt).load(source_dir)
    indexed = indexed_stream(stream, res)
    writer = (
        indexed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_cell_counts(
    stream: DataFrame,
    res: int,
    window: str = "1 hour",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    x_col: str = "x_u",
    y_col: str = "y_u",
) -> DataFrame:
    """Stateful streaming rollup: per (event-time window, cell) counts
    with a watermark bounding state for late data. The reference has no
    stream-query surface (Kafka is ingest-only, SURVEY §2.10) — this is
    the engine-side extension that keeps per-cell occupancy statistics
    (the TierIndexMetaData / RowRangeHistogram analogs that drive join
    pruning and split planning) CONTINUOUSLY maintained as data
    arrives, instead of recomputed by batch sweeps.

    Semantics are Spark's standard windowed aggregation: state for a
    window is finalized (and can be emitted in append mode) once the
    watermark passes its end, so executor state is bounded by
    (#active windows x #occupied cells) regardless of stream length —
    the property that matters at 100 TB/day.
    """
    keyed = indexed_stream(stream, res, x_col, y_col)
    # watermarks require TIMESTAMP (ltz); parquet sources often carry NTZ
    keyed = keyed.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        keyed.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col("cell"))
        .agg(F.count("*").alias("n"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "cell",
            "n",
        )
    )


def stream_spatial_join(
    stream_points: DataFrame,
    boxes: DataFrame,
    point_key: str = "event_id",
    box_key: str = "c_custkey",
    how: str = "inner",
) -> DataFrame:
    """Continuous indexed spatial join: a stream of points joined
    against a STATIC extent table. The inner form IS the batch operator
    (operators/spatial_join.box_point_join): the extent × point join
    skeleton has no driver round-trip — the distinct-res dimension is a
    broadcast stream-static cross join, the packed-key join a
    stream-static broadcast equi-join — so it is natively incremental
    in Structured Streaming (no state store: the static side is fixed,
    so each micro-batch joins independently) and pair-for-pair equal to
    the batch join by construction.

    The reference has no streaming query surface (SURVEY §2.10); this
    is the engine-side extension that turns the batch join into a
    continuous enrichment operator (geofencing / region tagging at
    ingest).

    Output forms mirror the batch operator (per-side semi/anti,
    TieredSpatialJoin.java:362-378): ``how='leftsemi'`` emits arriving
    points inside ≥1 extent (each point exactly once), ``'leftanti'``
    points inside none — stateless per micro-batch, since membership
    depends only on the static side. The batch shape (inner pairs →
    semi/anti join back) would read as a stream-stream join to the
    analyzer, so semi/anti go directly against the broadcast extent
    table with the containment predicate: a broadcast nested-loop
    probe, exact and short-circuiting, sized for dimension-scale fence
    sets (for huge extent tables, run the indexed ``'inner'`` form and
    reduce downstream)."""
    from geowave_spark.operators.spatial_join import _in_box, box_point_join

    if how == "inner":
        return box_point_join(stream_points, boxes, "inner", point_key, box_key)
    if how in ("leftsemi", "leftanti"):
        return stream_points.join(F.broadcast(boxes), _in_box(), how)
    raise ValueError(how)


def stream_distance_join(
    stream_points: DataFrame,
    right_points: DataFrame,
    radius_u: int,
    point_key: str = "event_id",
    right_key: str = "c_custkey",
) -> DataFrame:
    """Continuous within-distance join (GeomWithinDistance as a stream
    operator): each arriving point is paired with every static right
    point within ``radius_u``. Like stream_spatial_join, this IS the
    batch operator (operators/distance_join.point_distance_join: radius
    boxes through the extent × point join skeleton, exact integer
    squared-distance refine) applied to a streaming left side.
    Returns (point_key, right_key, dist2)."""
    from geowave_spark.operators.distance_join import point_distance_join

    return point_distance_join(stream_points, right_points, radius_u, point_key, right_key)


def stream_dedupe(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "1 day",
) -> DataFrame:
    """Streaming DedupeFilter (core/store/.../query/filter/DedupeFilter.java:23-62):
    drop repeats of the logical key across micro-batches. In the
    reference, duplicated index writes are collapsed per query by a
    client-side filter; on a stream the engine collapses them at ingest
    with Spark's stateful dropDuplicatesWithinWatermark — state is
    bounded by the watermark horizon (keys older than the watermark are
    evicted), so at 100 TB/day the dedupe state holds one key per
    logical entry per horizon, not per duplicate."""
    keyed = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def stateful_user_stats(
    stream: DataFrame,
    res: int = 8,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState:
    per-key running statistics (event count, value sum, distinct-cell
    count, last event time) maintained ACROSS micro-batches in explicit
    group state — the shape to reach for when built-in windowed
    aggregation can't express the semantics (here: an unbounded
    running distinct-cell set per key). Output mode: update — one
    refreshed summary row per key per micro-batch it appears in.

    State per key is a bounded scalar tuple + the distinct cell-id list
    at ``res`` (≤ 4^res entries, in practice the key's visited
    neighborhood) — the per-key state GeoWave has no analog for, since
    its statistics are global per index/adapter (SURVEY §2.9)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    keyed = indexed_stream(
        stream.withColumn(ts_col, F.col(ts_col).cast("timestamp")), res
    )

    out_schema = (
        f"{key_col} long, n_events long, sum_value double, "
        "n_cells int, last_ts timestamp"
    )
    state_schema = "n long, s double, cells array<long>, last_ts timestamp"

    def update(key, pdfs, state: GroupState):
        n, s, cells, last_ts = (
            state.get if state.exists else (0, 0.0, [], None)
        )
        cell_set = set(cells)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
            cell_set.update(int(c) for c in pdf["cell"])
            m = pdf[ts_col].max()
            last_ts = m if last_ts is None else max(last_ts, m)
        state.update((n, s, sorted(cell_set), last_ts))
        yield pd.DataFrame(
            [(key[0], n, s, len(cell_set), last_ts)],
            columns=[key_col, "n_events", "sum_value", "n_cells", "last_ts"],
        )

    return keyed.groupBy(key_col).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


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
    downstream stage (indexing, windowing, dedupe, sinks) is
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


def stream_ingest_source(
    spark: SparkSession,
    source: dict,
    out_dir: str,
    checkpoint_dir: str,
    schema: StructType | str | None = None,
    res: int = 16,
    available_now: bool = True,
):
    """Source-agnostic indexed append ingest: open_stream → the same
    native cell-assignment expression as batch indexing → parquet
    append sink. With a Kafka spec this is BasicKafkaIT end-to-end;
    with the rate spec it is the embedded-broker stand-in the tests
    drive."""
    indexed = indexed_stream(open_stream(spark, source, schema), res)
    writer = (
        indexed.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
