"""Ingest-format plugins — the `extensions/formats/*` surface, Spark-first.

The reference ships one ingest plugin per raw format, each a line/XML/JSON
parser emitting SimpleFeatures:

- GDELT   extensions/formats/gdelt/.../GDELTIngestPlugin.java:161-300,
          GDELTUtils.java:41-150 (57/58 tab-separated columns, skip rules)
- T-Drive extensions/formats/tdrive/.../TdriveIngestPlugin.java:90-115,
          TdriveUtils.java:42-63 (4-column CSV trajectories)
- GeoLife extensions/formats/geolife/.../GeoLifeIngestPlugin.java:147-215,
          GeoLifeUtils.java:40-90 (PLT: 6 header lines + 7-field rows;
          per-file point features plus one aggregated track feature)
- GPX     extensions/formats/gpx/.../GPXConsumer.java:486-600,
          GpxUtils.java:200-360 (wpt/trkpt/trk → waypoint/point/track)
- Twitter extensions/formats/twitter/.../TwitterIngestPlugin.java:150-250
          (JSON-per-line, coordinates/created_at required, skips on miss)

Here every reader is a declarative Spark plan: `spark.read.text/csv/json`
plus native split/cast/filter projections that stay inside whole-stage
codegen. Malformed-input semantics mirror the reference's `continue`
statements as null-rejecting filters (a failed cast IS the skipped line).
Only GPX — an XML format — drops to an Arrow-batched mapInPandas over
whole files; there is no per-row Python anywhere else.

Scale shape: parsing is embarrassingly parallel (one task per file
split); the only shuffle any reader performs is the per-trajectory
window/groupBy that the reference's per-file sequential counters imply
(`pointinstance`), expressed as row_number over the trajectory key so a
1000-executor cluster orders each trajectory independently.

Fixtures are deterministic derivations of the driver testdata (TESTDATA.md)
via the same integer micro-degree scatter the rest of the engine uses
(sources/testgeo.py) — no external data; the DuckDB oracle reconstructs
every expected row from `events` with pure SQL arithmetic.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from geowave_spark.plans.store import CACHE_ROOT

# ---------------------------------------------------------------- helpers

MICRO = 1_000_000


def _udeg(col):
    """Micro-degree engine key for a parsed degree column (exact: fixture
    text carries 6 decimals, so degrees*1e6 rounds to the original int)."""
    return F.round(col * MICRO).cast("long")


# ------------------------------------------------------------------ GDELT

GDELT_MIN_COLUMNS = 57  # GDELTUtils.java:41
GDELT_MAX_COLUMNS = 58

# 0-based column ids (GDELTUtils.java:49-95)
_G_EVENT_ID = 0
_G_DATE = 1
_G_ACTOR1 = 6
_G_ACTOR2 = 16
_G_NUM_MENTIONS = 31
_G_NUM_SOURCES = 32
_G_NUM_ARTICLES = 33
_G_AVG_TONE = 34
_G_A1_CC = 37
_G_A2_CC = 44
_G_GEO_TYPE = 49
_G_CC = 51
_G_LAT = 53
_G_LON = 54
_G_URL = 57


def read_gdelt(
    spark: SparkSession, path: str, include_supplemental: bool = True
) -> DataFrame:
    """GDELT event files → gdeltevent features (GDELTIngestPlugin.java:161).

    Skip rules, each the reference's `continue` re-expressed as a filter:
    token count outside [57, 58]; actionGeoType (col 49) equal to 0 or
    unparseable; empty or unparseable lat/lon (cols 53/54); unparseable
    date (col 1). Empty strings for the nullable text fields become
    null (the reference leaves the attribute unset)."""

    return gdelt_project(spark.read.text(path), include_supplemental)


def gdelt_project(
    lines: DataFrame, include_supplemental: bool = True
) -> DataFrame:
    """The GDELT parse as a pure projection over a `value: string`
    frame — shared by the batch reader above and streaming ingest
    (spark.readStream.text through the SAME skip rules; the
    reference's Kafka path runs the identical plugin parse on
    streamed file payloads, KafkaToGeoWaveCommand → ingest plugin)."""

    def col(i):  # 1-based element_at over the split array
        return F.element_at("v", i + 1)

    df = (
        lines.select(F.split("value", "\t").alias("v"))
        .where(F.size("v").between(GDELT_MIN_COLUMNS, GDELT_MAX_COLUMNS))
        .where(col(_G_GEO_TYPE).try_cast("int").isNotNull())
        .where(col(_G_GEO_TYPE).try_cast("int") != 0)
    )
    lat = F.trim(col(_G_LAT)).try_cast("double")
    lon = F.trim(col(_G_LON)).try_cast("double")
    ts = F.try_to_timestamp(col(_G_DATE), F.lit("yyyyMMdd"))

    def text_attr(i, name):
        c = col(i)
        return F.when(c.isNotNull() & (c != ""), c).alias(name)

    out = [
        col(_G_EVENT_ID).try_cast("int").alias("eventid"),
        ts.alias("Timestamp"),
        lat.alias("Latitude"),
        lon.alias("Longitude"),
        text_attr(_G_ACTOR1, "actor1Name"),
        text_attr(_G_ACTOR2, "actor2Name"),
        text_attr(_G_CC, "countryCode"),
        # col 57 only exists on 58-token lines (GDELTIngestPlugin.java:253)
        F.when(
            (F.size("v") > _G_URL) & (col(_G_URL) != ""), col(_G_URL)
        ).alias("sourceUrl"),
    ]
    if include_supplemental:
        out += [
            text_attr(_G_A1_CC, "actor1CountryCode"),
            text_attr(_G_A2_CC, "actor2CountryCode"),
            col(_G_NUM_MENTIONS).try_cast("int").alias("numMentions"),
            col(_G_NUM_SOURCES).try_cast("int").alias("numSources"),
            col(_G_NUM_ARTICLES).try_cast("int").alias("numArticles"),
            col(_G_AVG_TONE).try_cast("double").alias("avgTone"),
        ]
    return (
        df.where(lat.isNotNull() & lon.isNotNull() & ts.isNotNull())
        .select(*out)
        .withColumn("x_u", _udeg(F.col("Longitude")))
        .withColumn("y_u", _udeg(F.col("Latitude")))
    )


# ---------------------------------------------------------------- T-Drive


def read_tdrive(spark: SparkSession, path: str) -> DataFrame:
    """T-Drive taxi CSVs → tdrivepoint features (TdriveIngestPlugin.java:90).

    Line format `taxiid,yyyy-MM-dd HH:mm:ss,lon,lat`; `pointinstance` is
    the reference's per-file 0-based counter (TdriveIngestPlugin.java:108),
    re-expressed as row_number over the trajectory ordered by timestamp —
    identical on T-Drive's time-ordered files, and shuffle-partitioned by
    taxi so each trajectory numbers independently at cluster scale.
    taxiid/pointinstance are doubles per the reference schema bindings
    (TdriveUtils.java:52-54)."""
    df = spark.read.csv(
        path, schema="taxiid INT, ts_s STRING, Longitude DOUBLE, Latitude DOUBLE"
    )
    ts = F.try_to_timestamp("ts_s", F.lit("yyyy-MM-dd HH:mm:ss"))
    # absolute epoch 0 (new Date(0)), not a session-tz string cast
    ts0 = F.coalesce(ts, F.timestamp_seconds(F.lit(0)))
    w = Window.partitionBy("taxiid").orderBy(ts0, "Longitude", "Latitude")
    return (
        df.where(
            F.col("taxiid").isNotNull()
            & F.col("Longitude").isNotNull()
            & F.col("Latitude").isNotNull()
        )
        # a bad date is NOT a skip in the reference: it warns and
        # stores timestamp 0 (TdriveIngestPlugin.java:101-104). NOTE a
        # documented divergence: the reference numbers pointinstance in
        # FILE order, so a mid-file bad date keeps its slot; here the
        # epoch-0 sentinel sorts first in the time-ordered window. On
        # T-Drive's time-ordered, well-formed files the two agree.
        .withColumn("Timestamp", ts0)
        .withColumn("pointinstance", (F.row_number().over(w) - 1).cast("double"))
        .select(
            F.col("taxiid").cast("double").alias("taxiid"),
            "pointinstance",
            "Timestamp",
            "Latitude",
            "Longitude",
            _udeg(F.col("Longitude")).alias("x_u"),
            _udeg(F.col("Latitude")).alias("y_u"),
        )
    )


# ---------------------------------------------------------------- GeoLife

_GEOLIFE_DATA_FIELDS = 7  # lat,lon,0,alt_ft,days,date,time


def _geolife_lines(spark: SparkSession, path: str) -> DataFrame:
    """PLT data rows with their source file name; the 6 header lines fail
    the 7-field/castable-latitude predicate and drop out — the same rows
    the reference's fixed 6-line skip discards (GeoLifeIngestPlugin.java:
    155-158), but robust to header-length variants."""
    lines = spark.read.text(path).select(
        F.split("value", ",").alias("v"),
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("trackid"),
    )
    return lines.where(
        (F.size("v") == _GEOLIFE_DATA_FIELDS)
        & F.element_at("v", 1).try_cast("double").isNotNull()
    )


def read_geolife_points(spark: SparkSession, path: str) -> DataFrame:
    """GeoLife PLT → geolifepoint features (GeoLifeUtils.java:63-88):
    trackid = file name, 0-based pointinstance, timestamp from the
    date+time fields, elevation in feet kept raw (the reference parses
    vals[3] unconverted)."""
    df = _geolife_lines(spark, path)
    ts = F.try_to_timestamp(
        F.concat(F.element_at("v", 6), F.lit(" "), F.element_at("v", 7)),
        F.lit("yyyy-MM-dd HH:mm:ss"),
    )
    # tie-break by the remaining fields so rows identical on the order key
    # are fully identical rows — pointinstance assignment is then
    # permutation-invariant and the output is deterministic
    w = Window.partitionBy("trackid").orderBy(
        "Timestamp", "Latitude", "Longitude", "Elevation"
    )
    return (
        df.select(
            "trackid",
            F.element_at("v", 1).try_cast("double").alias("Latitude"),
            F.element_at("v", 2).try_cast("double").alias("Longitude"),
            F.element_at("v", 4).try_cast("double").alias("Elevation"),
            ts.alias("Timestamp"),
        )
        .where(F.col("Timestamp").isNotNull())
        .withColumn("pointinstance", (F.row_number().over(w) - 1).cast("int"))
        .withColumn("x_u", _udeg(F.col("Longitude")))
        .withColumn("y_u", _udeg(F.col("Latitude")))
    )


def read_geolife_tracks(spark: SparkSession, path: str) -> DataFrame:
    """GeoLife PLT → geolifetrack features (GeoLifeIngestPlugin.java:198-211):
    one row per file with StartTimeStamp/EndTimeStamp/Duration(ms)/
    NumberPoints and the trajectory LineString (time-ordered points,
    built in one Arrow batch per track)."""
    pts = read_geolife_points(spark, path)
    agg = pts.groupBy(F.col("trackid").alias("TrackId")).agg(
        F.min("Timestamp").alias("StartTimeStamp"),
        F.max("Timestamp").alias("EndTimeStamp"),
        (
            F.unix_millis(F.max("Timestamp")) - F.unix_millis(F.min("Timestamp"))
        ).alias("Duration"),
        F.count("*").cast("long").alias("NumberPoints"),
        F.array_sort(
            F.collect_list(F.struct("pointinstance", "Longitude", "Latitude"))
        ).alias("pts"),
    )

    @F.pandas_udf("binary")
    def line_wkb(pts: pd.Series) -> pd.Series:
        from geowave_spark.geom.wkb import linestring, point, wkb_dumps

        out = []
        for arr in pts:
            coords = [(p["Longitude"], p["Latitude"]) for p in arr]
            if len(coords) == 1:
                out.append(wkb_dumps(point(*coords[0])))
            else:
                out.append(wkb_dumps(linestring(coords)))
        return pd.Series(out)

    return agg.select(
        line_wkb("pts").alias("geometry"),
        "StartTimeStamp",
        "EndTimeStamp",
        "Duration",
        "NumberPoints",
        "TrackId",
    )


# -------------------------------------------------------------------- GPX


def _strip_ns(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _gpx_text(el, name):
    for c in el:
        if _strip_ns(c.tag) == name:
            return c.text
    return None


def _gpx_time(txt):
    """GPX/ISO-8601 time text → naive UTC Timestamp; a malformed time is
    null, not fatal (the line readers' try_to_timestamp policy)."""
    if not txt:
        return None
    try:
        t = pd.Timestamp(txt)
    except (ValueError, OverflowError):
        return None
    if t is pd.NaT:
        return None
    if t.tzinfo is not None:
        t = t.tz_convert("UTC").tz_localize(None)
    return t


def _gpx_frames(spark: SparkSession, path: str):
    """Whole-file GPX XML parse in mapInPandas (stdlib ElementTree —
    namespace-agnostic), shared by the three GPX readers. One task per
    file; the XML never leaves the executor."""
    files = spark.read.text(path, wholetext=True).select(
        F.col("value").alias("xml"),
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
    )
    return files


_GPX_WPT_SCHEMA = (
    "file string, Latitude double, Longitude double, Elevation double, "
    "Name string, Comment string, Description string, Symbol string"
)
_GPX_PT_SCHEMA = (
    "file string, track string, pointinstance int, Latitude double, "
    "Longitude double, Elevation double, Timestamp timestamp"
)
_GPX_TRK_SCHEMA = (
    "file string, Name string, StartTimeStamp timestamp, "
    "EndTimeStamp timestamp, Duration long, NumberPoints long"
)


def _gpx_parse(xml: str, file: str):
    """Yield ('wpt'|'pt'|'trk', dict) records for one GPX document
    (GPXConsumer.java wpt/trkpt/trk handling; missing child elements
    become nulls exactly where the reference leaves attributes unset)."""
    import xml.etree.ElementTree as ET

    root = ET.fromstring(xml)
    for el in root:
        kind = _strip_ns(el.tag)
        if kind == "wpt":
            if el.get("lat") is None or el.get("lon") is None:
                continue  # malformed waypoint: skipped, not fatal
            ele = _gpx_text(el, "ele")
            yield "wpt", {
                "file": file,
                "Latitude": float(el.get("lat")),
                "Longitude": float(el.get("lon")),
                "Elevation": float(ele) if ele is not None else None,
                "Name": _gpx_text(el, "name"),
                "Comment": _gpx_text(el, "cmt"),
                "Description": _gpx_text(el, "desc"),
                "Symbol": _gpx_text(el, "sym"),
            }
        elif kind == "trk":
            name = _gpx_text(el, "name")
            n = 0
            tmin = tmax = None
            for seg in el:
                if _strip_ns(seg.tag) != "trkseg":
                    continue
                for pt in seg:
                    if _strip_ns(pt.tag) != "trkpt":
                        continue
                    if pt.get("lat") is None or pt.get("lon") is None:
                        continue  # malformed trackpoint: skipped
                    ele = _gpx_text(pt, "ele")
                    t = _gpx_time(_gpx_text(pt, "time"))
                    yield "pt", {
                        "file": file,
                        "track": name,
                        "pointinstance": n,
                        "Latitude": float(pt.get("lat")),
                        "Longitude": float(pt.get("lon")),
                        "Elevation": float(ele) if ele is not None else None,
                        "Timestamp": t,
                    }
                    n += 1
                    if t is not None:
                        tmin = t if tmin is None else min(tmin, t)
                        tmax = t if tmax is None else max(tmax, t)
            dur = (
                int((tmax - tmin).total_seconds() * 1000)
                if tmin is not None
                else None
            )
            yield "trk", {
                "file": file,
                "Name": name,
                "StartTimeStamp": tmin,
                "EndTimeStamp": tmax,
                "Duration": dur,
                "NumberPoints": n,
            }


def _gpx_reader(kind: str, schema: str):
    def read(spark: SparkSession, path: str) -> DataFrame:
        cols = [c.split()[0] for c in schema.split(", ")]

        def parse(batches):
            for pdf in batches:
                rows = []
                for xml, file in zip(pdf["xml"], pdf["file"]):
                    rows.extend(
                        rec for k, rec in _gpx_parse(xml, file) if k == kind
                    )
                yield pd.DataFrame(rows, columns=cols)

        return _gpx_frames(spark, path).mapInPandas(parse, schema)

    return read


read_gpx_waypoints = _gpx_reader("wpt", _GPX_WPT_SCHEMA)
read_gpx_points = _gpx_reader("pt", _GPX_PT_SCHEMA)
read_gpx_tracks = _gpx_reader("trk", _GPX_TRK_SCHEMA)


# ------------------------------------------------------------ STANAG 4676

_STANAG_SCHEMA = (
    "file string, track_uuid string, track_number string, status string, "
    "mission string, point_uuid string, Timestamp timestamp, "
    "Latitude double, Longitude double, Elevation double, "
    "speed double, course double"
)
_XSI = "{http://www.w3.org/2001/XMLSchema-instance}type"


def _stanag_parse(xml: str, file: str):
    """TrackMessage → per-trackPoint records (NATO4676Decoder.java:
    readTrackMessage 204 → readTrackEvent 277 → readTrackPoint 357 →
    readGeodeticPosition 686). `items` children dispatch on
    xsi:type="TrackPoint"; untyped items are read as track points,
    exactly the decoder's fallback branch; other item types
    (identity/classification/management/imagery) are skipped as
    non-spatial, matching the ingest plugin's feature selection."""
    import xml.etree.ElementTree as ET

    root = ET.fromstring(xml)
    if _strip_ns(root.tag) != "TrackMessage":
        return
    for tracks in root:
        if _strip_ns(tracks.tag) != "tracks":
            continue
        t_uuid = _gpx_text(tracks, "trackUUID")
        t_num = _gpx_text(tracks, "trackNumber")
        status = _gpx_text(tracks, "trackStatus")
        mission = _gpx_text(tracks, "missionID")
        for item in tracks:
            if _strip_ns(item.tag) != "items":
                continue
            xsi = item.get(_XSI)
            if xsi is not None and xsi != "TrackPoint":
                continue
            pos = None
            for c in item:
                if _strip_ns(c.tag) == "trackPointPosition":
                    pos = c
            def num(el, name):
                v = _gpx_text(el, name) if el is not None else None
                try:
                    return float(v) if v is not None else None
                except ValueError:
                    return None  # decoder's NumberFormatException → null
            ts = _gpx_text(item, "trackItemTime")
            yield {
                "file": file,
                "track_uuid": t_uuid,
                "track_number": t_num,
                "status": status,
                "mission": mission,
                "point_uuid": _gpx_text(item, "trackItemUUID"),
                "Timestamp": _gpx_time(ts),
                "Latitude": num(pos, "latitude"),
                "Longitude": num(pos, "longitude"),
                "Elevation": num(pos, "elevation"),
                "speed": num(item, "trackPointSpeed"),
                "course": num(item, "trackPointCourse"),
            }


def read_stanag4676(spark: SparkSession, path) -> DataFrame:
    """STANAG 4676 track-message XML → track-point features
    (Stanag4676IngestPlugin.java + NATO4676Decoder.java). Same
    whole-file Arrow-batched XML pattern as GPX."""
    cols = [c.split(" ")[0] for c in _STANAG_SCHEMA.split(", ")]

    def parse(batches):
        for pdf in batches:
            rows = []
            for xml, file in zip(pdf["xml"], pdf["file"]):
                rows.extend(_stanag_parse(xml, file))
            yield pd.DataFrame(rows, columns=cols)

    return _gpx_frames(spark, path).mapInPandas(parse, _STANAG_SCHEMA)


def read_stanag4676_tracks(spark: SparkSession, path) -> DataFrame:
    """STANAG 4676 per-track features (Stanag4676IngestPlugin.java:
    ~500-540 builds a track LINE feature with start/end/duration/
    NumberPoints alongside the points): aggregated from the point
    parse, trajectory LineString in one Arrow batch per track —
    the same shape as read_geolife_tracks."""
    pts = read_stanag4676(spark, path)
    agg = pts.groupBy("track_uuid", "track_number", "mission").agg(
        F.min("Timestamp").alias("StartTimeStamp"),
        F.max("Timestamp").alias("EndTimeStamp"),
        (
            F.unix_millis(F.max("Timestamp")) - F.unix_millis(F.min("Timestamp"))
        ).alias("Duration"),
        F.count("*").cast("long").alias("NumberPoints"),
        F.array_sort(
            F.collect_list(F.struct("Timestamp", "Longitude", "Latitude"))
        ).alias("pts"),
    )

    @F.pandas_udf("binary")
    def line_wkb(pts: pd.Series) -> pd.Series:
        from geowave_spark.geom.wkb import linestring, point, wkb_dumps

        out = []
        for arr in pts:
            coords = [(p["Longitude"], p["Latitude"]) for p in arr]
            if len(coords) == 1:
                out.append(wkb_dumps(point(*coords[0])))
            else:
                out.append(wkb_dumps(linestring(coords)))
        return pd.Series(out)

    return agg.select(
        line_wkb("pts").alias("geometry"),
        "track_uuid",
        "track_number",
        "mission",
        "StartTimeStamp",
        "EndTimeStamp",
        "Duration",
        "NumberPoints",
    )


# ---------------------------------------------------------------- Twitter

_TWITTER_SCHEMA = (
    "created_at string, id_str string, text string, retweet_count int, "
    "lang string, in_reply_to_user_id_str string, "
    "in_reply_to_status_id_str string, "
    "user struct<id_str:string, name:string>, "
    "coordinates struct<type:string, coordinates:array<double>>"
)
# Java SimpleDateFormat "EEE MMM dd HH:mm:ss Z yyyy" (TwitterUtils); Spark's
# post-3.0 parser rejects day-of-week as a *parse* field, so the weekday
# token is stripped first — it is redundant with the date anyway
_TWITTER_TS = "MMM dd HH:mm:ss X yyyy"


def read_twitter(spark: SparkSession, path: str) -> DataFrame:
    """Twitter JSON-per-line → tweet features (TwitterIngestPlugin.java:
    150-250): rows without coordinates or an unparseable created_at are
    skipped; null in_reply_*/lang become empty strings (the reference's
    explicit defaults); dtg/geom are required."""
    df = spark.read.schema(_TWITTER_SCHEMA).json(path)
    lon = F.element_at(F.col("coordinates.coordinates"), 1)
    lat = F.element_at(F.col("coordinates.coordinates"), 2)
    dtg = F.try_to_timestamp(
        F.regexp_replace("created_at", r"^[A-Za-z]{3} ", ""), F.lit(_TWITTER_TS)
    )
    return (
        df.where(
            F.col("coordinates").isNotNull()
            & lon.isNotNull()
            & lat.isNotNull()
            & dtg.isNotNull()
            & F.col("id_str").isNotNull()
        )
        .select(
            F.col("id_str").alias("tweet_id"),
            F.col("user.id_str").alias("user_id"),
            F.col("user.name").alias("user_name"),
            F.col("text").alias("text"),
            F.coalesce("in_reply_to_user_id_str", F.lit("")).alias(
                "in_reply_to_user_id"
            ),
            F.coalesce("in_reply_to_status_id_str", F.lit("")).alias(
                "in_reply_to_status_id"
            ),
            F.col("retweet_count").alias("retweet_count"),
            F.coalesce("lang", F.lit("")).alias("lang"),
            dtg.alias("dtg"),
            lon.alias("Longitude"),
            lat.alias("Latitude"),
        )
        .withColumn("x_u", _udeg(F.col("Longitude")))
        .withColumn("y_u", _udeg(F.col("Latitude")))
    )


# ---------------------------------------------------------------- GeoTIFF

_GEOTIFF_SCHEMA = (
    "file string, w long, h long, bands long, x0 double, y0 double, "
    "sx double, sy double, crs long, compression long, px_sum long, "
    "pixels binary"
)


def read_geotiff(spark: SparkSession, path) -> DataFrame:
    """GeoTIFF → raster rows (the geotools-raster/GDAL ingest analog —
    extensions/formats/geotools-raster/.../GeoToolsRasterDataStoreIngestPlugin.java
    reads GridCoverages; GeoTIFF is their standard carrier).

    Whole-file binaryFile tasks; the from-scratch TIFF 6.0 + GeoTIFF 1.1
    strip decoder (raster/geotiff.py) runs in Arrow-batched mapInPandas;
    pixels are re-emitted in the engine's typed RAW container so
    operators/tiling.py can cut/merge/retile them directly."""
    files = spark.read.format("binaryFile").load(path)

    def parse(batches):
        from geowave_spark.raster.codec import encode_raw_typed
        from geowave_spark.raster.geotiff import geotiff_decode

        cols = [c.split()[0] for c in _GEOTIFF_SCHEMA.split(", ")]
        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                g = geotiff_decode(bytes(content))
                px = g.pixels if g.pixels.ndim == 3 else g.pixels[:, :, None]
                rows.append(
                    {
                        "file": p.rsplit("/", 1)[-1],
                        "w": px.shape[1],
                        "h": px.shape[0],
                        "bands": px.shape[2],
                        "x0": g.origin[0],
                        "y0": g.origin[1],
                        "sx": g.scale[0],
                        "sy": g.scale[1],
                        "crs": g.crs_code,
                        "compression": g.compression,
                        "px_sum": int(px.astype(np.int64).sum()),
                        "pixels": encode_raw_typed(px),
                    }
                )
            yield pd.DataFrame(rows, columns=cols)

    return files.select("path", "content").mapInPandas(parse, _GEOTIFF_SCHEMA)


# ---------------------------------------------------------------- GeoJSON

_GEOJSON_SCHEMA = (
    "file string, fid string, gtype string, geometry binary, "
    "props map<string,string>"
)


def read_geojson(spark: SparkSession, path) -> DataFrame:
    """GeoJSON → feature rows (with sources/shapefile.py, the
    geotools-vector ingest analog — GeoToolsVectorDataStoreIngestPlugin
    reads any GeoTools DataStore; GeoJSON is its other common carrier).

    Accepts whole-file FeatureCollection / single Feature documents AND
    feature-per-line ndjson; geometries (Point / MultiPoint /
    LineString / Polygon / MultiPolygon) become the engine's WKB.
    Malformed input never fails the job: an unparseable ndjson line or
    a JSON value that is not an object is skipped, and a feature whose
    geometry is unsupported (e.g. GeometryCollection) or malformed
    keeps its row with ``gtype`` set and ``geometry`` null.
    Property values keep their JSON text form in a map<string,string>
    column — the same schema-on-read stance as read_shapefile; callers
    cast with element_at + try_cast."""
    files = spark.read.text(path, wholetext=True).select(
        F.col("value").alias("doc"),
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file"),
    )

    def parse(batches):
        import json

        from geowave_spark.geom.wkb import (
            Geometry,
            linestring,
            multipolygon,
            point,
            polygon,
            wkb_dumps,
        )

        def xy(coords):
            # RFC 7946 positions may carry a third (altitude) element —
            # per POSITION, so the array can be ragged; keep x/y only
            a = np.asarray([p[:2] for p in coords], float)
            if a.ndim != 2 or a.shape[1] != 2:
                raise ValueError("GeoJSON positions need x and y")
            return a

        def to_wkb(geom):
            t, c = geom["type"], geom["coordinates"]
            if t == "Point":
                return wkb_dumps(point(c[0], c[1]))
            if t == "MultiPoint":
                return wkb_dumps(Geometry("MultiPoint", [xy(c)]))
            if t == "LineString":
                return wkb_dumps(linestring(xy(c)))
            if t == "Polygon":
                return wkb_dumps(polygon(xy(c[0]), [xy(h) for h in c[1:]]))
            if t == "MultiPolygon":
                return wkb_dumps(
                    multipolygon(
                        [polygon(xy(p[0]), [xy(h) for h in p[1:]]) for p in c]
                    )
                )
            return None  # unsupported type (e.g. GeometryCollection)

        def geometry(geom):
            """(gtype, WKB): an unsupported or malformed geometry keeps
            its row with the geometry null."""
            if not isinstance(geom, dict) or geom.get("type") is None:
                return None, None
            try:
                wkb = to_wkb(geom)
            except (LookupError, TypeError, ValueError):
                wkb = None  # malformed coordinates
            return str(geom["type"]), wkb

        def features(doc):
            doc = doc.strip()
            try:
                objs = [json.loads(doc)]
            except json.JSONDecodeError:
                # feature-per-line ndjson; an unparseable line is skipped
                objs = []
                for ln in doc.splitlines():
                    try:
                        objs.append(json.loads(ln))
                    except json.JSONDecodeError:
                        continue
            for obj in objs:
                if not isinstance(obj, dict):
                    continue  # a JSON value that is no feature object
                if obj.get("type") != "FeatureCollection":
                    yield obj
                elif isinstance(obj.get("features"), list):
                    yield from (f for f in obj["features"] if isinstance(f, dict))

        cols = [c.split(" ")[0] for c in _GEOJSON_SCHEMA.split(", ")]
        for pdf in batches:
            rows = []
            for doc, fname in zip(pdf["doc"], pdf["file"]):
                for feat in features(doc):
                    gtype, wkb = geometry(feat.get("geometry"))
                    props = feat.get("properties")
                    if not isinstance(props, dict):
                        props = {}
                    rows.append(
                        {
                            "file": fname,
                            "fid": str(feat.get("id", "")),
                            "gtype": gtype,
                            "geometry": wkb,
                            "props": {
                                k: v if isinstance(v, str) else json.dumps(v)
                                for k, v in props.items()
                            },
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(parse, _GEOJSON_SCHEMA)


# ------------------------------------------------- plugin detect / ingest

#: name → (file predicate, reader). Mirrors the reference's per-plugin
#: `validate(URL)` + extension filters (LocalFileIngestDriver plugin
#: selection): GDELT by its dated-export file name (GDELTUtils.java:171),
#: T-Drive by a 4-comma-field first line (TdriveUtils.java:66), the rest
#: by extension.
def _read_shapefile(spark, path):
    from geowave_spark.sources.shapefile import read_shapefile

    return read_shapefile(spark, path)


def _read_avro(spark, path):
    from geowave_spark.sources.avro import read_avro

    return read_avro(spark, path)


FORMATS = {
    "avro": (lambda p: p.endswith(".avro"), _read_avro),
    "stanag4676": (lambda p: p.endswith(".xml"), read_stanag4676),
    "gdelt": (lambda p: _fname(p).endswith(".export.csv"), read_gdelt),
    "geojson": (lambda p: p.endswith(".geojson"), read_geojson),
    "geolife": (lambda p: p.endswith(".plt"), read_geolife_points),
    "geotiff": (lambda p: p.endswith((".tif", ".tiff")), read_geotiff),
    "gpx": (lambda p: p.endswith(".gpx"), read_gpx_points),
    "shapefile": (lambda p: p.endswith(".shp"), _read_shapefile),
    "twitter": (lambda p: p.endswith(".json"), read_twitter),
    "tdrive": (lambda p: p.endswith(".txt") and _tdrive_validate(p), read_tdrive),
}


def _fname(p: str) -> str:
    return os.path.basename(p).lower()


def _tdrive_validate(p: str) -> bool:
    """TdriveUtils.validate: first line splits to exactly 4 comma fields."""
    try:
        with open(p, "r", encoding="utf-8", errors="replace") as f:
            return len(f.readline().rstrip("\n").split(",")) == 4
    except OSError:
        return False


def detect_format(path: str) -> str | None:
    for name, (pred, _) in FORMATS.items():
        if pred(path):
            return name
    return None


def ingest_directory(
    spark: SparkSession, root: str, formats: list[str] | None = None
) -> dict[str, DataFrame]:
    """Walk a directory, route each file to its detected plugin, and
    return one DataFrame per matched format — `geowave ingest localToGW`'s
    local-file driver (core/ingest LocalFileIngestDriver) minus the store
    write, which callers compose via plans/store / sources/icetable.

    Only the file *listing* is driver-side (cheap metadata); each
    format's files are handed to Spark as one multi-path read, so
    parsing stays fully distributed."""
    by_format: dict[str, list[str]] = {}
    for dirpath, _dirs, files in sorted(os.walk(root)):
        for fn in sorted(files):
            p = os.path.join(dirpath, fn)
            fmt = detect_format(p)
            if fmt and (formats is None or fmt in formats):
                by_format.setdefault(fmt, []).append(p)
    return {
        fmt: FORMATS[fmt][1](spark, paths)
        for fmt, paths in sorted(by_format.items())
    }


# ------------------------------------------------------ fixture generator


def build_dir_once(path: str, write) -> str:
    """Build the raw file tree at ``path`` once: ``write(tmp)`` fills a
    private temp dir, a ``_SUCCESS`` marker seals it and a rename
    publishes it whole. A builder that loses the rename to a concurrent
    one drops its copy (the trees are deterministic). Returns ``path``."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        write(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent winner
    return path


def formats_fixture_dir(sf_dir: str) -> str:
    """Build-once deterministic raw-format fixture tree for a testdata
    scale."""
    digest = hashlib.md5(f"formats:v5:{sf_dir}".encode()).hexdigest()[:12]
    return build_dir_once(
        os.path.join(CACHE_ROOT, f"formats_{digest}"),
        lambda tmp: write_format_fixtures(sf_dir, tmp),
    )


def _fixture_rows(sf_dir: str) -> pd.DataFrame:
    """events + the engine's micro-degree scatter, via DuckDB so the
    arithmetic is literally the oracle's (sources/testgeo.xy_sql)."""
    import duckdb

    from geowave_spark.sources.testgeo import xy_sql

    x, y = xy_sql("event_id")
    con = duckdb.connect()
    df = con.sql(
        f"SELECT event_id AS e, user_id AS u, "
        f"date_trunc('second', ts) AS ts, {x} AS x_u, {y} AS y_u "
        f"FROM '{sf_dir}/events.parquet' ORDER BY e"
    ).df()
    con.close()
    return df


def _deg(u: pd.Series) -> pd.Series:
    """Exact 6-decimal degree text for integer micro-degrees: the parsed
    double equals CAST(u AS DOUBLE)/1000000 bit-for-bit (both are the
    correctly-rounded value of the same rational)."""
    sign = np.where(u < 0, "-", "")
    a = np.abs(u.to_numpy(dtype=np.int64))
    return pd.Series(
        [f"{s}{q}.{r:06d}" for s, q, r in zip(sign, a // MICRO, a % MICRO)],
        index=u.index,
    )


def write_format_fixtures(sf_dir: str, out: str) -> None:
    """Write the raw-format fixture tree: gdelt/ tdrive/ geolife/ gpx/
    twitter/ — every value a pure function of (event_id, user_id, ts)
    so the DuckDB oracle can reconstruct the expected parse output.
    Deliberately includes every skip path each reference plugin has."""
    import json

    d = _fixture_rows(sf_dir)
    e, u = d["e"].to_numpy(np.int64), d["u"].to_numpy(np.int64)
    lon_t, lat_t = _deg(d["x_u"]), _deg(d["y_u"])
    ts = pd.DatetimeIndex(d["ts"])

    # ---- GDELT: 4 daily files, 58 (or 57 when e%5==0) tab-sep columns
    gd = os.path.join(out, "gdelt")
    os.makedirs(gd, exist_ok=True)
    date_s = ts.strftime("%Y%m%d")
    files = {k: [] for k in range(4)}
    for i in range(len(d)):
        ei, ui = int(e[i]), int(u[i])
        vals = [""] * 58
        vals[_G_EVENT_ID] = str(ei)
        vals[_G_DATE] = date_s[i]
        vals[_G_ACTOR1] = "" if ei % 7 == 0 else f"ACTOR{ui % 50}"
        vals[_G_ACTOR2] = "" if ei % 11 == 0 else f"B{ui % 37}"
        vals[_G_NUM_MENTIONS] = str(ei % 100)
        vals[_G_NUM_SOURCES] = str(ei % 10)
        vals[_G_NUM_ARTICLES] = str(ei % 50)
        vals[_G_AVG_TONE] = f"{ei % 200}.5"
        vals[_G_A1_CC] = "" if ei % 17 == 0 else f"A{ui % 26}"
        vals[_G_A2_CC] = f"B{ui % 26}"
        vals[_G_GEO_TYPE] = "0" if ei % 97 == 0 else str(1 + ei % 4)
        vals[_G_CC] = "" if ei % 13 == 0 else f"C{ui % 26}"
        if ei % 89 == 0:  # parseLatLon null → skipped
            vals[_G_LAT] = vals[_G_LON] = ""
        else:
            vals[_G_LAT] = lat_t[i]
            vals[_G_LON] = lon_t[i]
        vals[_G_URL] = f"http://example.com/{ei}"
        if ei % 5 == 0:  # 57-column line: no sourceUrl
            vals = vals[:57]
        files[ei % 4].append("\t".join(vals))
    for k, rows in files.items():
        with open(os.path.join(gd, f"2010010{k + 1}.export.csv"), "w") as f:
            f.write("\n".join(rows) + "\n")

    # ---- T-Drive: one file per taxi (u % 200), time-ordered
    td = os.path.join(out, "tdrive")
    os.makedirs(td, exist_ok=True)
    taxi = u % 200
    ts_s = ts.strftime("%Y-%m-%d %H:%M:%S")
    tdf = pd.DataFrame(
        {"taxi": taxi, "ts": ts_s, "lon": lon_t, "lat": lat_t, "e": e}
    ).sort_values(["taxi", "ts", "lon", "lat"])
    for t, grp in tdf.groupby("taxi", sort=True):
        lines = (
            grp["taxi"].astype(str)
            + ","
            + grp["ts"]
            + ","
            + grp["lon"]
            + ","
            + grp["lat"]
        )
        with open(os.path.join(td, f"{t}.txt"), "w") as f:
            f.write("\n".join(lines) + "\n")

    # ---- GeoLife: events with e%3==0 into 64 tracks keyed (u*8+e)%64
    gl = os.path.join(out, "geolife")
    os.makedirs(gl, exist_ok=True)
    m = e % 3 == 0
    gdf = pd.DataFrame(
        {
            "trk": (u[m] * 8 + e[m]) % 64,
            "ts": ts_s[m],
            "lat": lat_t[m].to_numpy(),
            "lon": lon_t[m].to_numpy(),
            "alt": e[m] % 5000,
            "date": ts[m].strftime("%Y-%m-%d"),
            "time": ts[m].strftime("%H:%M:%S"),
        }
    ).sort_values(["trk", "ts"])
    header = (
        "Geolife trajectory\nWGS 84\nAltitude is in Feet\nReserved 3\n"
        "0,2,255,My Track,0,0,2,8421376\n0\n"
    )
    for t, grp in gdf.groupby("trk", sort=True):
        lines = (
            grp["lat"]
            + ","
            + grp["lon"]
            + ",0,"
            + grp["alt"].astype(str)
            + ",0,"
            + grp["date"]
            + ","
            + grp["time"]
        )
        with open(os.path.join(gl, f"trk{t}.plt"), "w") as f:
            f.write(header + "\n".join(lines) + "\n")

    # ---- GPX: events with e%5==1 into 16 files; e%10==1 → waypoints
    gp = os.path.join(out, "gpx")
    os.makedirs(gp, exist_ok=True)
    gm = e % 5 == 1
    gpx = pd.DataFrame(
        {
            "g": e[gm] % 16,
            "e": e[gm],
            "lat": lat_t[gm].to_numpy(),
            "lon": lon_t[gm].to_numpy(),
            "iso": ts[gm].strftime("%Y-%m-%dT%H:%M:%SZ"),
        }
    ).sort_values(["g", "e"])
    for g, grp in gpx.groupby("g", sort=True):
        parts = ['<?xml version="1.0"?>']
        parts.append('<gpx xmlns="http://www.topografix.com/GPX/1/1">')
        trk = []
        for _, r in grp.iterrows():
            ei = int(r["e"])
            if ei % 10 == 1:
                ele = (
                    f"<ele>{ei % 900}</ele>" if ei % 20 == 1 else ""
                )  # missing-ele path
                parts.append(
                    f'<wpt lat="{r["lat"]}" lon="{r["lon"]}">{ele}'
                    f"<name>WP{ei}</name><cmt>c{ei % 9}</cmt>"
                    f"<sym>S{ei % 4}</sym></wpt>"
                )
            else:
                t = f"<time>{r['iso']}</time>" if ei % 15 != 2 else ""
                trk.append(
                    f'<trkpt lat="{r["lat"]}" lon="{r["lon"]}">'
                    f"<ele>{ei % 700}</ele>{t}</trkpt>"
                )
        parts.append(
            f"<trk><name>TRK{g}</name><trkseg>{''.join(trk)}</trkseg></trk>"
        )
        parts.append("</gpx>")
        with open(os.path.join(gp, f"route{g}.gpx"), "w") as f:
            f.write("\n".join(parts) + "\n")

    # ---- GeoTIFF: events with e%19==0; analytic pixel ramp, alternating
    # deflate/uncompressed, origin on the engine's micro-degree scatter
    from geowave_spark.raster.geotiff import geotiff_encode

    gt = os.path.join(out, "geotiff")
    os.makedirs(gt, exist_ok=True)
    for i in np.nonzero(e % 19 == 0)[0]:
        ei = int(e[i])
        w_, h_ = 16 + ei % 17, 16 + ei % 13
        r, c = np.mgrid[0:h_, 0:w_]
        img = ((ei * 7 + r * 13 + c * 31) % 256).astype(np.uint8)
        b = geotiff_encode(
            img,
            origin=(int(d["x_u"][i]) / 1e6, int(d["y_u"][i]) / 1e6),
            scale=(0.01, 0.01),
            compress=ei % 2 == 0,
            rows_per_strip=8,
        )
        with open(os.path.join(gt, f"img{ei}.tif"), "wb") as f:
            f.write(b)

    # ---- STANAG 4676: events with e%23==3 into 8 TrackMessage XMLs;
    # per-file tracks keyed u%5; plants the decoder's null paths
    # (missing speed, unparseable speed) + untyped-items fallback +
    # a skipped non-TrackPoint item per track
    st = os.path.join(out, "stanag")
    os.makedirs(st, exist_ok=True)
    stm = e % 23 == 3
    stf = pd.DataFrame(
        {
            "k": e[stm] % 8,
            "t": u[stm] % 5,
            "e": e[stm],
            "lat": lat_t[stm].to_numpy(),
            "lon": lon_t[stm].to_numpy(),
            "iso": ts[stm].strftime("%Y-%m-%dT%H:%M:%SZ"),
        }
    ).sort_values(["k", "t", "e"])
    xsi_ns = (
        'xmlns:xsi="http://www.w3.org/2001/XMLSchema-instance"'
    )
    for k, kg in stf.groupby("k", sort=True):
        parts = [
            '<?xml version="1.0"?>',
            f'<TrackMessage xmlns="urn:nato:stanag:4676" {xsi_ns}>',
            "<stanagVersion>1.0</stanagVersion>",
        ]
        for t, tg in kg.groupby("t", sort=True):
            parts.append("<tracks>")
            parts.append(f"<trackUUID>uuid-{k}-{t}</trackUUID>")
            parts.append(f"<trackNumber>TN{t}</trackNumber>")
            parts.append("<trackStatus>CONFIRMED</trackStatus>")
            parts.append(f"<missionID>M{k}</missionID>")
            parts.append(
                '<items xsi:type="TrackIdentityInformation">'
                "<identity>FRIEND</identity></items>"
            )
            for _, r in tg.iterrows():
                ei = int(r["e"])
                typed = ' xsi:type="TrackPoint"' if ei % 4 != 3 else ""
                if ei % 31 == 3:
                    speed = ""
                elif ei % 37 == 3:
                    speed = "<trackPointSpeed>fast</trackPointSpeed>"
                else:
                    speed = (
                        f"<trackPointSpeed>{ei % 90}.25</trackPointSpeed>"
                    )
                parts.append(
                    f"<items{typed}><trackItemUUID>p{ei}</trackItemUUID>"
                    f"<trackItemTime>{r['iso']}</trackItemTime>"
                    f"<trackPointPosition><latitude>{r['lat']}</latitude>"
                    f"<longitude>{r['lon']}</longitude>"
                    f"<elevation>{ei % 3000}</elevation>"
                    f"</trackPointPosition>{speed}"
                    f"<trackPointCourse>{ei % 360}</trackPointCourse>"
                    "</items>"
                )
            parts.append("</tracks>")
        parts.append("</TrackMessage>")
        with open(os.path.join(st, f"msg{k}.xml"), "w") as f:
            f.write("\n".join(parts) + "\n")

    # ---- Avro: events with e%17==2 into 4 container files, deflate on
    # even file ids; union-with-null name, array + map fields
    from geowave_spark.sources.avro import avro_write

    av = os.path.join(out, "avro")
    os.makedirs(av, exist_ok=True)
    am = e % 17 == 2
    aschema = {
        "type": "record",
        "name": "feature",
        "fields": [
            {"name": "event_id", "type": "long"},
            {"name": "lon", "type": "double"},
            {"name": "lat", "type": "double"},
            {"name": "name", "type": ["null", "string"]},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "weight", "type": "long"},
        ],
    }
    adf = pd.DataFrame(
        {
            "k": e[am] % 4,
            "e": e[am],
            "u": u[am],
            "lon": lon_t[am].to_numpy(),
            "lat": lat_t[am].to_numpy(),
        }
    ).sort_values(["k", "e"])
    for k, grp in adf.groupby("k", sort=True):
        recs = [
            {
                "event_id": int(r["e"]),
                "lon": float(r["lon"]),
                "lat": float(r["lat"]),
                "name": None if int(r["e"]) % 21 == 2 else f"n{int(r['u']) % 30}",
                "tags": [f"t{int(r['u']) % 7}", f"t{int(r['e']) % 11}"],
                "weight": int(r["e"]) % 997,
            }
            for _, r in grp.iterrows()
        ]
        avro_write(
            os.path.join(av, f"feat{k}.avro"),
            aschema,
            recs,
            codec="deflate" if k % 2 == 0 else "null",
        )

    # ---- Shapefile: events with e%13==6 into 8 point shapefiles; the
    # DBF carries EID plus the micro-degree coords so the oracle can
    # verify the positional shp↔dbf join; every shapefile also gets a
    # NULL-shape record (fid 1) to pin the Null handling
    from geowave_spark.sources.shapefile import SHAPE_NULL, SHAPE_POINT
    from geowave_spark.sources.shapefile import write_shapefile

    sh = os.path.join(out, "shape")
    os.makedirs(sh, exist_ok=True)
    sm = e % 13 == 6
    sdf = pd.DataFrame(
        {
            "k": e[sm] % 8,
            "e": e[sm],
            "u": u[sm],
            "x": d["x_u"][sm].to_numpy() / 1e6,
            "y": d["y_u"][sm].to_numpy() / 1e6,
            "xu": d["x_u"][sm].to_numpy(),
            "yu": d["y_u"][sm].to_numpy(),
        }
    ).sort_values(["k", "e"])
    fields = [("EID", "N", 12, 0), ("TAG", "C", 8, 0),
              ("XU", "N", 12, 0), ("YU", "N", 12, 0)]
    for k, grp in sdf.groupby("k", sort=True):
        shapes = [(SHAPE_NULL, [])]
        records = [[0, "none", 0, 0]]
        for _, r in grp.iterrows():
            shapes.append(
                (SHAPE_POINT, [np.array([[r["x"], r["y"]]], float)])
            )
            records.append(
                [int(r["e"]), f"T{int(r['u']) % 20}", int(r["xu"]), int(r["yu"])]
            )
        write_shapefile(os.path.join(sh, f"pts{k}"), shapes, fields, records)

    # ---- GeoJSON: events with e%11==5 into 8 FeatureCollections; one
    # Polygon feature (half-degree box on the event point) per file
    import json as _json

    gj = os.path.join(out, "geojson")
    os.makedirs(gj, exist_ok=True)
    jm = e % 11 == 5
    jdf = pd.DataFrame(
        {
            "k": e[jm] % 8,
            "e": e[jm],
            "u": u[jm],
            "lon": lon_t[jm].to_numpy(),
            "lat": lat_t[jm].to_numpy(),
        }
    ).sort_values(["k", "e"])
    for k, grp in jdf.groupby("k", sort=True):
        feats = []
        for _, r in grp.iterrows():
            feats.append(
                {
                    "type": "Feature",
                    "id": f"f{int(r['e'])}",
                    "geometry": {
                        "type": "Point",
                        "coordinates": [float(r["lon"]), float(r["lat"])],
                    },
                    "properties": {
                        "eid": int(r["e"]),
                        "tag": f"g{int(r['u']) % 20}",
                    },
                }
            )
        r0 = grp.iloc[0]
        x0, y0 = float(r0["lon"]), float(r0["lat"])
        feats.append(
            {
                "type": "Feature",
                "id": f"box{k}",
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [
                        [
                            [x0, y0],
                            [x0 + 0.5, y0],
                            [x0 + 0.5, y0 + 0.5],
                            [x0, y0 + 0.5],
                            [x0, y0],
                        ]
                    ],
                },
                "properties": {"eid": -1 - k, "tag": "box"},
            }
        )
        with open(os.path.join(gj, f"fc{k}.geojson"), "w") as f:
            _json.dump({"type": "FeatureCollection", "features": feats}, f)

    # ---- Twitter: events with e%2==1, 4 json files, with skip rows
    tw = os.path.join(out, "twitter")
    os.makedirs(tw, exist_ok=True)
    wm = e % 2 == 1
    langs = ["en", "es", "fr", "de", "ja"]
    created = ts[wm].strftime("%a %b %d %H:%M:%S +0000 %Y")
    lon_w, lat_w = lon_t[wm].to_numpy(), lat_t[wm].to_numpy()
    files = {k: [] for k in range(4)}
    for i, (ei, ui) in enumerate(zip(e[wm], u[wm])):
        ei, ui = int(ei), int(ui)
        obj = {
            "created_at": "not a date" if ei % 29 == 0 else created[i],
            "id_str": str(ei),
            "text": f'tweet {ei} "quoted" #tag{ei % 50}',
            "retweet_count": ei % 1000,
            "lang": None if ei % 19 == 0 else langs[ui % 5],
            "in_reply_to_user_id_str": str(ui + 1) if ei % 3 == 0 else None,
            "in_reply_to_status_id_str": str(ei - 2) if ei % 3 == 0 else None,
            "user": {"id_str": str(ui), "name": f"user{ui}"},
            "coordinates": None
            if ei % 23 == 0
            else {
                "type": "Point",
                "coordinates": [float(lon_w[i]), float(lat_w[i])],
            },
        }
        files[ei % 4].append(json.dumps(obj))
    for k, rows in files.items():
        with open(os.path.join(tw, f"tweets{k}.json"), "w") as f:
            f.write("\n".join(rows) + "\n")
