"""Ingest-format plugin tests (sources/formats.py vs extensions/formats/*).

Beyond the driver gate's events-arithmetic oracle, these tests re-parse
the raw fixture files through a SECOND independent parser (DuckDB
read_csv) and assert equality — a wrong column index or skip rule in
either parser breaks the match.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from geowave_spark.sources import formats as FM

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def root():
    return FM.formats_fixture_dir(SF)


def _sorted(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    return df.sort_values(list(df.columns)).reset_index(drop=True)


# ------------------------------------------------------------------ GDELT


def test_gdelt_vs_duckdb_reparse(spark, root):
    """Independent raw-file parse: DuckDB reads the same TSVs with its
    own CSV engine and applies the reference's skip rules."""
    got = (
        FM.read_gdelt(spark, root + "/gdelt")
        .select("eventid", "Latitude", "Longitude", "numMentions", "avgTone")
        .toPandas()
    )
    con = duckdb.connect()
    exp = con.sql(
        f"""
        SELECT CAST(column00 AS INT) AS eventid,
               CAST(column53 AS DOUBLE) AS Latitude,
               CAST(column54 AS DOUBLE) AS Longitude,
               CAST(column31 AS INT) AS numMentions,
               CAST(column34 AS DOUBLE) AS avgTone
        FROM read_csv('{root}/gdelt/*.export.csv', sep='\t', header=false,
                      all_varchar=true, null_padding=true)
        WHERE CAST(column49 AS INT) <> 0
          AND trim(column53) <> '' AND trim(column54) <> ''
        """
    ).df()
    con.close()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(exp))


def test_gdelt_skip_rules(spark, root):
    df = FM.read_gdelt(spark, root + "/gdelt").toPandas()
    # geoType==0 (e%97) and empty-latlon (e%89) rows are gone
    assert not (df["eventid"] % 97 == 0).any()
    assert not (df["eventid"] % 89 == 0).any()
    # 57-column lines have no sourceUrl; 58-column lines always do
    short = df["eventid"] % 5 == 0
    assert df.loc[short, "sourceUrl"].isna().all()
    assert df.loc[~short, "sourceUrl"].notna().all()
    # empty text fields became null, not ''
    assert df.loc[df["eventid"] % 7 == 0, "actor1Name"].isna().all()
    assert (df["actor1Name"].dropna() != "").all()


def test_gdelt_core_schema_excludes_supplemental(spark, root):
    cols = FM.read_gdelt(
        spark, root + "/gdelt", include_supplemental=False
    ).columns
    assert "avgTone" not in cols and "numMentions" not in cols
    assert "eventid" in cols and "sourceUrl" in cols


# ---------------------------------------------------------------- T-Drive


def test_tdrive_vs_duckdb_reparse(spark, root):
    got = (
        FM.read_tdrive(spark, root + "/tdrive")
        .select("taxiid", "pointinstance", "Latitude", "Longitude")
        .toPandas()
    )
    con = duckdb.connect()
    exp = con.sql(
        f"""
        WITH t AS (
          SELECT CAST(column0 AS DOUBLE) AS taxiid,
                 strptime(column1, '%Y-%m-%d %H:%M:%S') AS ts,
                 CAST(column2 AS DOUBLE) AS Longitude,
                 CAST(column3 AS DOUBLE) AS Latitude
          FROM read_csv('{root}/tdrive/*.txt', header=false, all_varchar=true))
        SELECT taxiid,
               CAST(row_number() OVER (PARTITION BY taxiid
                    ORDER BY ts, Longitude, Latitude) - 1 AS DOUBLE)
                 AS pointinstance,
               Latitude, Longitude
        FROM t
        """
    ).df()
    con.close()
    pd.testing.assert_frame_equal(_sorted(got), _sorted(exp))


def test_tdrive_pointinstance_dense_per_taxi(spark, root):
    df = FM.read_tdrive(spark, root + "/tdrive").toPandas()
    for _, grp in df.groupby("taxiid"):
        inst = sorted(grp["pointinstance"])
        assert inst == [float(i) for i in range(len(grp))]


# ---------------------------------------------------------------- GeoLife


def test_geolife_header_rejected(spark, root, tmp_path):
    """A PLT file that is ONLY header yields no rows — and a 7-field
    garbage line inside the header is rejected by the castable check."""
    p = tmp_path / "empty.plt"
    p.write_text(
        "Geolife trajectory\nWGS 84\nAltitude is in Feet\nReserved 3\n"
        "a,b,c,d,e,f,g\n0\n"
    )
    assert FM.read_geolife_points(spark, str(p)).count() == 0


def test_geolife_track_linestring(spark, root):
    from geowave_spark.geom.wkb import wkb_loads

    tr = FM.read_geolife_tracks(spark, root + "/geolife").toPandas()
    pts = FM.read_geolife_points(spark, root + "/geolife").toPandas()
    assert len(tr) == pts["trackid"].nunique()
    row = tr.loc[tr["NumberPoints"].idxmax()]
    g = wkb_loads(bytes(row["geometry"]))
    want = pts[pts["trackid"] == row["TrackId"]].sort_values("pointinstance")
    assert len(g.parts[0]) == len(want)
    assert g.parts[0][0][0] == pytest.approx(want["Longitude"].iloc[0])
    assert g.parts[0][-1][1] == pytest.approx(want["Latitude"].iloc[-1])
    # duration agrees with the min/max timestamps
    dur = (
        want["Timestamp"].max() - want["Timestamp"].min()
    ).total_seconds() * 1000
    assert row["Duration"] == int(dur)


# -------------------------------------------------------------------- GPX


def test_gpx_edge_cases(spark, tmp_path):
    """Handcrafted GPX exercising: namespace prefix, waypoint without
    ele, trkpt without time (NumberPoints counts it, Duration ignores
    it), empty trkseg, and multiple segments in one trk."""
    (tmp_path / "edge.gpx").write_text(
        '<?xml version="1.0"?>\n'
        '<gpx xmlns="http://www.topografix.com/GPX/1/0">'
        '<wpt lat="1.5" lon="-2.25"><name>A</name></wpt>'
        "<trk><name>T</name><trkseg/>"
        '<trkseg><trkpt lat="0.5" lon="0.5"><ele>10</ele>'
        "<time>2020-01-01T00:00:00Z</time></trkpt>"
        '<trkpt lat="0.6" lon="0.6"/>'
        '<trkpt lat="0.7" lon="0.7">'
        "<time>2020-01-01T01:00:00Z</time></trkpt></trkseg></trk></gpx>"
    )
    w = FM.read_gpx_waypoints(spark, str(tmp_path)).toPandas()
    assert len(w) == 1 and w["Name"][0] == "A" and pd.isna(w["Elevation"][0])
    p = FM.read_gpx_points(spark, str(tmp_path)).toPandas()
    assert list(p["pointinstance"]) == [0, 1, 2]
    assert p["Timestamp"].isna().tolist() == [False, True, False]
    t = FM.read_gpx_tracks(spark, str(tmp_path)).toPandas()
    assert t["NumberPoints"][0] == 3
    assert t["Duration"][0] == 3600_000


def test_gpx_fixture_counts(spark, root):
    w = FM.read_gpx_waypoints(spark, root + "/gpx").count()
    p = FM.read_gpx_points(spark, root + "/gpx").count()
    t = FM.read_gpx_tracks(spark, root + "/gpx").count()
    assert t == 16 and w + p == 200  # events with e%5==1 at sf0.001


# ---------------------------------------------------------------- Twitter


def test_twitter_skips_and_defaults(spark, root):
    df = FM.read_twitter(spark, root + "/twitter").toPandas()
    ids = df["tweet_id"].astype(int)
    assert not (ids % 23 == 0).any()  # no coordinates → skipped
    assert not (ids % 29 == 0).any()  # bad created_at → skipped
    assert (ids % 2 == 1).all()
    # null lang/reply became '' (reference defaults), never null
    assert df["lang"].notna().all() and df["in_reply_to_user_id"].notna().all()
    assert (df.loc[ids % 19 == 0, "lang"] == "").all()


def test_twitter_malformed_line_skipped(spark, tmp_path):
    (tmp_path / "t.json").write_text(
        '{"created_at": "Mon Jan 06 10:00:00 +0000 2020", "id_str": "1", '
        '"text": "ok", "retweet_count": 2, "lang": "en", '
        '"in_reply_to_user_id_str": null, "in_reply_to_status_id_str": null, '
        '"user": {"id_str": "7", "name": "n"}, '
        '"coordinates": {"type": "Point", "coordinates": [1.0, 2.0]}}\n'
        "this is not json\n"
        '{"id_str": "2", "text": "no coords", "retweet_count": 0}\n'
    )
    df = FM.read_twitter(spark, str(tmp_path)).toPandas()
    assert list(df["tweet_id"]) == ["1"]
    assert df["dtg"][0] == pd.Timestamp("2020-01-06 10:00:00")


# ------------------------------------------------- detection / framework


def test_detect_format(root):
    assert FM.detect_format(root + "/gdelt/20100101.export.csv") == "gdelt"
    assert FM.detect_format(root + "/gpx/route0.gpx") == "gpx"
    assert FM.detect_format(root + "/geolife/trk0.plt") == "geolife"
    assert FM.detect_format(root + "/twitter/tweets0.json") == "twitter"
    assert FM.detect_format(root + "/tdrive/0.txt") == "tdrive"
    assert FM.detect_format(root + "/geotiff/img0.tif") == "geotiff"
    assert FM.detect_format(root + "/_SUCCESS") is None


def test_tdrive_sniff_rejects_non_tdrive_txt(tmp_path):
    p = tmp_path / "notes.txt"
    p.write_text("just,three,fields\n")
    assert FM.detect_format(str(p)) is None


def test_ingest_directory_routes_all(spark, root):
    out = FM.ingest_directory(spark, root)
    assert sorted(out) == [
        "avro", "gdelt", "geojson", "geolife", "geotiff", "gpx",
        "shapefile", "stanag4676", "tdrive", "twitter",
    ]
    assert out["tdrive"].count() == 1000
    only = FM.ingest_directory(spark, root, formats=["gpx"])
    assert sorted(only) == ["gpx"]


def test_fixture_deterministic(tmp_path):
    """Two independent builds produce byte-identical trees."""
    import hashlib

    def tree_hash(d):
        h = hashlib.md5()
        for dirpath, _dirs, files in sorted(os.walk(d)):
            for fn in sorted(files):
                rel = os.path.relpath(os.path.join(dirpath, fn), d)
                h.update(rel.encode())
                h.update(open(os.path.join(dirpath, fn), "rb").read())
        return h.hexdigest()

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    FM.write_format_fixtures(SF, a)
    FM.write_format_fixtures(SF, b)
    assert tree_hash(a) == tree_hash(b)


def test_micro_degree_keys_match_events_scatter(spark, root):
    """x_u/y_u recovered from the 6-decimal text round-trip equal the
    engine's integer scatter for the same event — format rows join
    losslessly against every spatial operator."""
    from geowave_spark.sources.testgeo import xy_numpy

    df = (
        FM.read_tdrive(spark, root + "/tdrive")
        .select("x_u", "y_u")
        .toPandas()
        .sort_values(["x_u", "y_u"])
        .reset_index(drop=True)
    )
    import numpy as np
    import pyarrow.parquet as pq

    e = pq.read_table(SF + "/events.parquet", columns=["event_id"])
    x, y = xy_numpy(e["event_id"].to_numpy())
    exp = (
        pd.DataFrame({"x_u": x, "y_u": y})
        .sort_values(["x_u", "y_u"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(df, exp)


# -------------------------------------------------- shapefile / geojson


def test_shapefile_geometry_roundtrip(spark, tmp_path):
    """Polygon with a hole, multi-part polyline (one feature per part),
    and multipoint all round-trip through the .shp codec into engine
    WKB; a deleted DBF record drops its attributes but not the shape."""
    import numpy as np

    from geowave_spark.geom.wkb import wkb_loads
    from geowave_spark.sources.shapefile import (
        SHAPE_POLYGON,
        SHAPE_POLYLINE,
        write_shapefile,
    )

    ext = np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)
    hole = np.array([[4, 4], [4, 6], [6, 6], [6, 4], [4, 4]], float)
    l1 = np.array([[0, 0], [1, 1], [2, 0]], float)
    l2 = np.array([[5, 5], [6, 6]], float)
    write_shapefile(
        str(tmp_path / "mixed"),
        [(SHAPE_POLYGON, [ext, hole]), (SHAPE_POLYLINE, [l1, l2])],
        [("NAME", "C", 8, 0)],
        [["poly"], ["line"]],
    )
    from geowave_spark.sources.shapefile import read_shapefile

    df = read_shapefile(spark, str(tmp_path)).toPandas()
    assert len(df) == 3  # 1 polygon + 2 line parts
    poly = df[df["shape_type"] == 5].iloc[0]
    g = wkb_loads(bytes(poly["geometry"]))
    assert g.gtype == "Polygon" and len(g.parts) == 2
    assert poly["attrs"]["NAME"] == "poly"
    lines = df[df["shape_type"] == 3]
    assert len(lines) == 2 and set(lines["fid"]) == {2}
    got = sorted(len(wkb_loads(bytes(b)).parts[0]) for b in lines["geometry"])
    assert got == [2, 3]


def test_shapefile_multi_outer_ring_polygon(spark, tmp_path):
    """A Polygon record with two disjoint outer rings, one holding a
    hole, decodes as a MultiPolygon of two polygons (the hole under its
    own outer ring), not as one polygon whose second ring is a hole.
    Rings are classified by nesting, whatever their winding; an island
    inside a hole is an outer ring again."""
    import numpy as np

    from geowave_spark.geom.predicates import points_in_polygon
    from geowave_spark.geom.wkb import wkb_loads
    from geowave_spark.sources.shapefile import (
        SHAPE_POLYGON,
        read_shapefile,
        write_shapefile,
    )

    def square(x0, y0, side, cw=True):
        ring = [[x0, y0], [x0, y0 + side], [x0 + side, y0 + side],
                [x0 + side, y0], [x0, y0]]
        return np.array(ring if cw else ring[::-1], float)

    write_shapefile(
        str(tmp_path / "islands"),
        [
            # a hole listed before its outer ring, winding reversed
            (SHAPE_POLYGON, [square(24, 4, 2, cw=False), square(0, 0, 10),
                             square(20, 0, 10)]),
            (SHAPE_POLYGON, [square(0, 0, 10), square(2, 2, 6, cw=False),
                             square(4, 4, 2)]),
        ],
        [("NAME", "C", 8, 0)],
        [["two"], ["nested"]],
    )
    df = read_shapefile(spark, str(tmp_path)).toPandas().sort_values("fid")
    assert list(df["fid"]) == [1, 2]
    two, nested = (wkb_loads(bytes(b)) for b in df["geometry"])
    assert two.gtype == "MultiPolygon" and two.poly_ring_counts == [1, 2]
    xs, ys = np.array([5.0, 21.0, 25.0, 15.0]), np.array([5.0, 1.0, 5.0, 5.0])
    assert list(points_in_polygon(xs, ys, two)) == [True, True, False, False]
    assert nested.gtype == "MultiPolygon" and nested.poly_ring_counts == [2, 1]
    xs, ys = np.array([1.0, 3.0, 5.0]), np.array([1.0, 3.0, 5.0])
    assert list(points_in_polygon(xs, ys, nested)) == [True, False, True]


def test_shapefile_ring_nesting_is_linear_in_vertices():
    """Classifying a record's rings must not build vertex × segment
    arrays: a 5,000-vertex outline with a 5,000-vertex hole stays far
    under 32 MB of numpy memory (all-pairs arrays would take ~200 MB
    each), and 900 disjoint islands stay 900 polygons."""
    import tracemalloc

    import numpy as np

    from geowave_spark.sources.shapefile import polygon_from_rings

    def circle(n, r, cw=True):
        t = np.linspace(0.0, 2 * np.pi, n, endpoint=False)
        return np.c_[r * np.cos(-t if cw else t), r * np.sin(-t if cw else t)]

    outer, hole = circle(5000, 10.0), circle(5000, 5.0, cw=False)
    tracemalloc.start()
    try:
        g = polygon_from_rings([hole, outer])
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 32 << 20, peak
    assert g.gtype == "Polygon" and len(g.parts) == 2
    assert np.array_equal(g.parts[0][:-1], outer)

    islands = [
        np.array([[x, y], [x, y + 1], [x + 1, y + 1], [x + 1, y]], float)
        for x in range(0, 60, 2)
        for y in range(0, 60, 2)
    ]
    g = polygon_from_rings(islands)
    assert g.gtype == "MultiPolygon" and g.poly_ring_counts == [1] * 900


def test_shapefile_deleted_dbf_record(tmp_path, spark):
    import numpy as np

    from geowave_spark.sources.shapefile import (
        SHAPE_POINT,
        dbf_decode,
        read_shapefile,
        write_shapefile,
    )

    write_shapefile(
        str(tmp_path / "pts"),
        [(SHAPE_POINT, [np.array([[1.0, 2.0]])]),
         (SHAPE_POINT, [np.array([[3.0, 4.0]])])],
        [("ID", "N", 4, 0)],
        [[7], [8]],
    )
    # mark record 1 deleted in the dbf
    p = tmp_path / "pts.dbf"
    raw = bytearray(p.read_bytes())
    import struct

    hdr_size = struct.unpack_from("<H", raw, 8)[0]
    raw[hdr_size] = ord("*")
    p.write_bytes(bytes(raw))
    d = dbf_decode(bytes(raw))
    assert list(d["ID"]) == ["8"]
    # POSITIONAL alignment survives the deletion: the deleted record
    # keeps its slot, so shape 2 still gets ITS OWN attributes and the
    # deleted shape gets none (not record 2's, shifted)
    df = (
        read_shapefile(spark, str(tmp_path))
        .toPandas()
        .sort_values("fid")
        .reset_index(drop=True)
    )
    assert len(df) == 2
    assert df["attrs"][0] == {}
    assert df["attrs"][1] == {"ID": "8"}


def test_dbf_numeric_overflow_raises(tmp_path):
    import numpy as np

    from geowave_spark.sources.shapefile import SHAPE_POINT, write_shapefile

    with pytest.raises(ValueError, match="overflow"):
        write_shapefile(
            str(tmp_path / "o"),
            [(SHAPE_POINT, [np.array([[0.0, 0.0]])])],
            [("ID", "N", 4, 0)],
            [[123456]],
        )


def test_shapefile_single_file_path_keeps_dbf(spark, root):
    """A single-.shp call still finds its sibling .dbf (review fix:
    the str branch used to glob the FILE for *.dbf and lose attrs)."""
    from geowave_spark.sources.shapefile import read_shapefile

    df = read_shapefile(spark, root + "/shape/pts0.shp").toPandas()
    pts = df[df["shape_type"] == 1]
    assert len(pts) > 0 and all(("EID" in a) for a in pts["attrs"])


def test_geojson_ndjson_and_multipolygon(spark, tmp_path):
    from geowave_spark.geom.wkb import wkb_loads
    from geowave_spark.sources import formats as FM

    (tmp_path / "feats.geojson").write_text(
        '{"type": "Feature", "id": "a", "geometry": {"type": "MultiPolygon", '
        '"coordinates": [[[[0,0],[4,0],[4,4],[0,4],[0,0]]], '
        '[[[10,10],[12,10],[12,12],[10,12],[10,10]]]]}, '
        '"properties": {"n": 2}}\n'
        '{"type": "Feature", "id": "b", "geometry": null, '
        '"properties": {"note": "no geom", "flag": true}}\n'
    )
    df = FM.read_geojson(spark, str(tmp_path)).toPandas()
    df = df.sort_values("fid").reset_index(drop=True)
    g = wkb_loads(bytes(df["geometry"][0]))
    assert g.gtype == "MultiPolygon"
    assert df["props"][0]["n"] == "2"
    assert df["geometry"][1] is None and df["gtype"][1] is None
    assert df["props"][1] == {"note": "no geom", "flag": "true"}



def test_geojson_planted_corruption_is_skipped_not_fatal(spark, tmp_path):
    """Malformed GeoJSON never fails the ingest. Unparseable ndjson lines
    and JSON values that are not objects are skipped; a feature whose
    geometry is unsupported or malformed keeps its row, with its type
    and a null geometry."""
    import json

    from geowave_spark.geom.wkb import wkb_loads
    from geowave_spark.sources import formats as FM

    def feat(fid, geom, props=None):
        return {"type": "Feature", "id": fid, "geometry": geom, "properties": props}

    lines = [
        json.dumps(feat("ok", {"type": "Point", "coordinates": [1.5, 2.5]}, {"n": 1})),
        '{"type": "Feature", "id": "truncated", "geometry": {"type": "Po',
        "42",
        '["not", "a", "feature"]',
        json.dumps(feat("gc", {"type": "GeometryCollection", "geometries": []})),
        json.dumps(feat("short", {"type": "Point", "coordinates": [7]})),
        json.dumps(feat("ragged", {"type": "LineString", "coordinates": [[0, 0], [1]]})),
        json.dumps(feat("nocoords", {"type": "Polygon"}, ["not", "a", "map"])),
    ]
    (tmp_path / "corrupt.geojson").write_text("\n".join(lines) + "\n")
    (tmp_path / "fc.geojson").write_text(json.dumps({
        "type": "FeatureCollection",
        "features": [
            7,
            feat("emptyring", {"type": "Polygon", "coordinates": [[]]}),
            feat("line", {"type": "LineString", "coordinates": [[0, 0], [1, 1]]}),
        ],
    }))
    (tmp_path / "array.geojson").write_text("[1, 2, 3]")

    df = FM.read_geojson(spark, str(tmp_path)).toPandas().set_index("fid")
    assert sorted(df.index) == [
        "emptyring", "gc", "line", "nocoords", "ok", "ragged", "short",
    ]
    assert wkb_loads(bytes(df.loc["ok", "geometry"])).gtype == "Point"
    assert df.loc["ok", "props"] == {"n": "1"}
    assert wkb_loads(bytes(df.loc["line", "geometry"])).gtype == "LineString"
    for fid, gtype in [
        ("gc", "GeometryCollection"), ("short", "Point"), ("ragged", "LineString"),
        ("nocoords", "Polygon"), ("emptyring", "Polygon"),
    ]:
        assert df.loc[fid, "gtype"] == gtype and df.loc[fid, "geometry"] is None
    assert df.loc["nocoords", "props"] == {}

# ------------------------------------------------------------------- avro


def test_avro_codec_edge_cases(tmp_path):
    from geowave_spark.sources.avro import avro_read, avro_write

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "i", "type": "int"},
            {"name": "e", "type": {"type": "enum", "name": "col",
                                   "symbols": ["RED", "BLUE"]}},
            {"name": "fx", "type": {"type": "fixed", "name": "f4",
                                    "size": 4}},
            {"name": "m", "type": {"type": "map", "values": "double"}},
            {"name": "nested", "type": {
                "type": "record", "name": "inner",
                "fields": [{"name": "x", "type": "long"}]}},
        ],
    }
    recs = [
        {"i": -(2**31) + 1, "e": "BLUE", "fx": b"abcd",
         "m": {"a": 0.5, "b": -1.25}, "nested": {"x": 2**62}},
    ]
    p = str(tmp_path / "t.avro")
    avro_write(p, schema, recs, codec="deflate")
    s2, got = avro_read(open(p, "rb").read())
    assert got == recs
    # corrupted sync marker is detected
    raw = bytearray(open(p, "rb").read())
    raw[-1] ^= 0xFF
    with pytest.raises(ValueError, match="sync"):
        avro_read(bytes(raw))


def test_avro_export_timestamps_exact_in_any_timezone(spark, tmp_path, monkeypatch):
    """export_avro writes exact epoch micros: no float truncation (the
    pre-1970 and early-epoch values lost a microsecond through
    ``datetime.timestamp() * 1e6``) and no dependence on the driver's
    local timezone (both instants of a DST fold share one New York
    wall-clock time)."""
    import time

    from pyspark.sql import functions as F

    from geowave_spark.sources.avro import avro_read, export_avro

    micros = [
        1_704_067_199_999_999,  # 2023-12-31T23:59:59.999999Z
        1_636_263_059_999_999,  # 2021-11-07T05:30:59.999999Z = 01:30:59.999999 EDT
        1_636_266_659_999_999,  # 2021-11-07T06:30:59.999999Z = 01:30:59.999999 EST
        66_740_828_191,  # 1970-01-01T18:32:20.828191Z
        -500_001,  # 1969-12-31T23:59:59.499999Z
    ]
    df = spark.createDataFrame(list(enumerate(micros)), "id long, us long").select(
        "id", F.timestamp_micros("us").alias("ts")
    )
    p = str(tmp_path / "ts.avro")
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        assert export_avro(df, p) == len(micros)
    finally:
        monkeypatch.undo()
        time.tzset()
    _schema, recs = avro_read(open(p, "rb").read())
    assert sorted((r["id"], r["ts"]) for r in recs) == list(enumerate(micros))


def test_avro_spark_reader(spark, root):
    from geowave_spark.sources.avro import read_avro

    df = read_avro(spark, root + "/avro").toPandas()
    eid = df["event_id"]
    assert (eid % 17 == 2).all() and len(df) > 40
    assert df.loc[eid % 21 == 2, "name"].isna().all()
    assert df.loc[eid % 21 != 2, "name"].notna().all()
    # every tags array is [t<u%7>, t<e%11>] — second element is checkable
    # from event_id alone (the first needs user_id, pinned by the oracle)
    assert all(
        t[1] == f"t{e % 11}" for t, e in zip(df["tags"], eid)
    )
    assert (df["weight"] == eid % 997).all()


# ------------------------------------------------------------ STANAG 4676


def test_stanag_decoder_paths(spark, root):
    df = FM.read_stanag4676(spark, root + "/stanag").toPandas()
    eid = df["point_uuid"].str.removeprefix("p").astype(int)
    assert (eid % 23 == 3).all() and len(df) > 30
    # untyped items (e%4==3) parsed via the fallback branch — present
    assert (eid % 4 == 3).any()
    # speed null paths: missing element and NumberFormatException
    assert df.loc[(eid % 31 == 3) | (eid % 37 == 3), "speed"].isna().all()
    ok = ~((eid % 31 == 3) | (eid % 37 == 3))
    assert (df.loc[ok, "speed"] == (eid[ok] % 90) + 0.25).all()
    # non-TrackPoint items were skipped, not parsed as points
    assert not df["point_uuid"].isna().any()


def test_stanag_non_trackmessage_ignored(spark, tmp_path):
    (tmp_path / "other.xml").write_text(
        '<?xml version="1.0"?><SomethingElse><tracks/></SomethingElse>'
    )
    assert FM.read_stanag4676(spark, str(tmp_path)).count() == 0


# ------------------------------------------------ review-fix regressions


def test_geojson_altitude_positions(spark, tmp_path):
    """RFC 7946 3-element positions: altitude is dropped, x/y kept."""
    from geowave_spark.geom.wkb import wkb_loads
    from geowave_spark.sources import formats as FM

    (tmp_path / "alt.geojson").write_text(
        '{"type": "Feature", "id": "l", "geometry": {"type": "LineString", '
        '"coordinates": [[0, 0, 5], [1, 1, 6]]}, "properties": {}}\n'
        '{"type": "Feature", "id": "p", "geometry": {"type": "Polygon", '
        '"coordinates": [[[0,0,1],[2,0,1],[2,2,1],[0,2,1],[0,0,1]]]}, '
        '"properties": {}}\n'
    )
    df = FM.read_geojson(spark, str(tmp_path)).toPandas()
    df = df.sort_values("fid").reset_index(drop=True)
    line = wkb_loads(bytes(df["geometry"][0]))
    assert line.parts[0].shape == (2, 2)
    assert list(line.parts[0][1]) == [1.0, 1.0]
    poly = wkb_loads(bytes(df["geometry"][1]))
    assert poly.parts[0].shape[1] == 2


def test_gpx_missing_latlon_skipped(spark, tmp_path):
    from geowave_spark.sources import formats as FM

    (tmp_path / "bad.gpx").write_text(
        '<gpx><wpt lon="1.0"><name>nolat</name></wpt>'
        '<wpt lat="2.0" lon="3.0"><name>ok</name></wpt>'
        '<trk><trkseg><trkpt lat="0.5"/>'
        '<trkpt lat="0.6" lon="0.6"/></trkseg></trk></gpx>'
    )
    w = FM.read_gpx_waypoints(spark, str(tmp_path)).toPandas()
    assert list(w["Name"]) == ["ok"]
    p = FM.read_gpx_points(spark, str(tmp_path)).toPandas()
    assert len(p) == 1 and p["Longitude"][0] == 0.6
    t = FM.read_gpx_tracks(spark, str(tmp_path)).toPandas()
    assert t["NumberPoints"][0] == 1  # skipped point not counted


def test_gpx_bad_time_is_null(spark, tmp_path):
    """One malformed <time> nulls that point's timestamp; the job and
    every other point survive."""
    (tmp_path / "badtime.gpx").write_text(
        '<gpx><trk><name>T</name><trkseg>'
        '<trkpt lat="0.5" lon="0.5"><time>2020-01-01T00:00:00Z</time></trkpt>'
        '<trkpt lat="0.6" lon="0.6"><time>not-a-time</time></trkpt>'
        '<trkpt lat="0.7" lon="0.7"><time>2020-01-01T02:00:00Z</time></trkpt>'
        "</trkseg></trk></gpx>"
    )
    p = FM.read_gpx_points(spark, str(tmp_path)).toPandas()
    assert list(p["Longitude"]) == [0.5, 0.6, 0.7]
    assert p["Timestamp"].isna().tolist() == [False, True, False]
    t = FM.read_gpx_tracks(spark, str(tmp_path)).toPandas()
    assert t["NumberPoints"][0] == 3 and t["Duration"][0] == 7200_000


def test_tdrive_bad_date_is_epoch_zero(spark, tmp_path):
    """TdriveIngestPlugin.java:101-104: a bad date stores timestamp 0,
    it does not skip the row."""
    import pandas as pd

    from geowave_spark.sources import formats as FM

    # bad row placed MID-FILE: the documented divergence is that the
    # epoch-0 sentinel sorts FIRST in the time-ordered window (the
    # reference's file-order counter would keep it in place)
    (tmp_path / "9.txt").write_text(
        "9,2020-01-01 00:00:01,116.6,39.8\n9,garbage,116.5,39.9\n"
    )
    df = (
        FM.read_tdrive(spark, str(tmp_path))
        .toPandas()
        .sort_values("pointinstance")
        .reset_index(drop=True)
    )
    assert len(df) == 2
    assert df["Timestamp"][0] == pd.Timestamp("1970-01-01")
    assert df["pointinstance"].tolist() == [0.0, 1.0]


def test_tdrive_sniff_tolerates_binary(tmp_path):
    p = tmp_path / "blob.txt"
    p.write_bytes(b"\xff\xfe\x00\x01 not utf8 at all")
    from geowave_spark.sources.formats import detect_format

    assert detect_format(str(p)) is None


def test_geolife_bad_date_skipped(spark, tmp_path):
    from geowave_spark.sources import formats as FM

    (tmp_path / "t.plt").write_text(
        "header\n1.5,2.5,0,100,0,NOT-A-DATE,xx:yy:zz\n"
        "1.6,2.6,0,101,0,2020-01-01,00:00:05\n"
    )
    df = FM.read_geolife_points(spark, str(tmp_path)).toPandas()
    assert len(df) == 1 and df["Elevation"][0] == 101.0
    assert df["pointinstance"][0] == 0


def test_gdelt_stream_equals_batch(spark, root, tmp_path):
    """Streaming format ingest: readStream.text through the SAME gdelt
    projection (gdelt_project) produces exactly the batch parse — the
    engine's file-stream analog of the reference's Kafka-to-plugin
    path (KafkaToGeoWaveCommand runs the identical plugin parse on
    streamed payloads)."""
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 2)
        .load(root + "/gdelt")
    )
    out = FM.gdelt_project(stream)
    q = (
        out.writeStream.format("memory")
        .queryName("gdelt_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM gdelt_stream").toPandas()
    want = FM.read_gdelt(spark, root + "/gdelt").toPandas()
    assert len(got) == len(want)
    g = _sorted(got.drop(columns=["Timestamp"]))
    w = _sorted(want.drop(columns=["Timestamp"]))
    pd.testing.assert_frame_equal(g, w)
    assert sorted(got["Timestamp"]) == sorted(want["Timestamp"])


def test_stanag_track_linestring(spark, root):
    from geowave_spark.geom.wkb import wkb_loads

    tr = FM.read_stanag4676_tracks(spark, root + "/stanag").toPandas()
    pts = FM.read_stanag4676(spark, root + "/stanag").toPandas()
    assert len(tr) == pts.groupby(["track_uuid"]).ngroups
    row = tr.loc[tr["NumberPoints"].idxmax()]
    g = wkb_loads(bytes(row["geometry"]))
    want = pts[pts["track_uuid"] == row["track_uuid"]].sort_values("Timestamp")
    assert len(g.parts[0]) == len(want)
    dur = (
        want["Timestamp"].max() - want["Timestamp"].min()
    ).total_seconds() * 1000
    assert row["Duration"] == int(dur)
