"""Octagon polygon join (brute-force oracle) + streaming ingest +
SQL function registry."""

from __future__ import annotations

from pyspark.sql import functions as F

from geowave_spark.functions import register_all
from geowave_spark.operators.poly_join import (
    convex_contains_pred,
    octagon_point_join,
)
from geowave_spark.sources.testgeo import (
    events_points,
    octagon_vertices,
    supplier_octagons,
)


def test_octagon_join_matches_bruteforce(spark, sf_dir):
    """The reference's own correctness bar: indexed join ≡ cross join +
    same predicate (GeoWaveSparkSpatialJoinIT.java:104-172)."""
    pts = events_points(spark, sf_dir)
    octs = supplier_octagons(spark, sf_dir)
    got = octagon_point_join(pts, octs)

    verts = octagon_vertices(F.col("cx"), F.col("cy"), F.col("r"), F.col("a"))
    brute = (
        pts.crossJoin(octs)
        .where(convex_contains_pred(verts, F.col("x_u"), F.col("y_u")))
        .select("event_id", "s_suppkey")
    )
    assert got.exceptAll(brute).count() == 0
    assert brute.exceptAll(got).count() == 0
    assert got.count() > 0


def test_octagon_contains_center_not_far_corner(spark, sf_dir):
    octs = supplier_octagons(spark, sf_dir).limit(5)
    verts = octagon_vertices(F.col("cx"), F.col("cy"), F.col("r"), F.col("a"))
    inside = octs.where(
        convex_contains_pred(verts, F.col("cx"), F.col("cy"))
    ).count()
    outside = octs.where(
        convex_contains_pred(verts, F.col("cx") + F.col("r"), F.col("cy") + F.col("r"))
    ).count()
    assert inside == 5 and outside == 0


def test_stream_ingest_matches_batch_index(spark, sf_dir, tmp_path):
    """A file stream ingested into the snapshot table carries the cell
    the batch index assigns (operators.spatial_query.with_cell)."""
    from geowave_spark.operators.spatial_query import with_cell
    from geowave_spark.sources.icetable import IceTable
    from geowave_spark.streaming.ingest import stream_ingest_icetable

    src = str(tmp_path / "src")
    pts = events_points(spark, sf_dir).limit(500)
    pts.write.parquet(src)

    table = IceTable(str(tmp_path / "tbl"))
    q = stream_ingest_icetable(
        spark, {"format": "file", "path": src}, table, str(tmp_path / "cp"),
        schema=pts.schema, res=12,
    )
    q.awaitTermination(120)

    streamed = table.read(spark)
    batch = with_cell(pts, 12)
    assert streamed.count() == 500
    sk = {(r.event_id, r.cell) for r in streamed.select("event_id", "cell").collect()}
    bk = {(r.event_id, r.cell) for r in batch.select("event_id", "cell").collect()}
    assert sk == bk


def test_sql_function_registry(spark, sf_dir):
    register_all(spark)
    from geowave_spark.geom.wkb import point, polygon, wkb_dumps

    poly = wkb_dumps(polygon([[0, 0], [10, 0], [10, 10], [0, 10]]))
    pt_in = wkb_dumps(point(5, 5))
    pt_out = wkb_dumps(point(20, 20))
    df = spark.createDataFrame(
        [(1, pt_in, poly), (2, pt_out, poly)], "id int, g binary, p binary"
    )
    df.createOrReplaceTempView("t_geom")
    rows = spark.sql(
        "SELECT id FROM t_geom WHERE GeomIntersects(g, p)"
    ).collect()
    assert [r.id for r in rows] == [1]
    rows = spark.sql(
        "SELECT id FROM t_geom WHERE GeomWithin(g, p) AND GeomDistance(g, p) = 0.0"
    ).collect()
    assert [r.id for r in rows] == [1]
    wkt = spark.sql(
        "SELECT GeomFromWKT('POINT (5 5)') AS g"
    ).first()
    assert bytes(wkt.g) == pt_in

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs.createOrReplaceTempView("t_docs")
    n_sql = spark.sql(
        "SELECT count(*) AS n FROM t_docs WHERE strStartsWith(text, 'key')"
    ).first().n
    n_col = docs.where(F.col("text").startswith("key")).count()
    assert n_sql == n_col


def test_bbox_loose_superset(spark, sf_dir):
    """BBOXLOOSE widens the box to its enclosing cell bounds
    (spatial_query.loose_bounds), so it keeps every exact match."""
    from geowave_spark.functions.registry import bbox
    from geowave_spark.operators.spatial_query import loose_bounds

    pts = events_points(spark, sf_dir)
    x0, y0, x1, y1 = -60_000_000, -40_000_000, 70_000_000, 55_000_000
    exact = pts.where(bbox(F.col("x_u"), F.col("y_u"), x0, y0, x1, y1))
    (bx0, bx1), (by0, by1) = loose_bounds(x0, x1, 8), loose_bounds(y0, y1, 8)
    loose = pts.where(bbox(F.col("x_u"), F.col("y_u"), bx0, by0, bx1, by1))
    assert exact.exceptAll(loose).count() == 0  # loose ⊇ exact
    assert loose.count() >= exact.count()


def test_geom_udfs_null_inputs_yield_null(spark):
    """Regression: a NULL on the GROUPED side of the Geom* pandas UDFs
    kept the zeros() initializer (GeomDistance(g, NULL) = 0.0, so a
    <= r filter matched every null row as coincident) and a NULL on
    the varying side crashed the task on bytes(None). SQL semantics:
    a null input yields a NULL result (falsy in WHERE)."""
    register_all(spark)
    from geowave_spark.geom.wkb import point, polygon, wkb_dumps

    poly = wkb_dumps(polygon([[0, 0], [10, 0], [10, 10], [0, 10]]))
    pt = wkb_dumps(point(5, 5))
    df = spark.createDataFrame(
        [(1, pt, poly), (2, None, poly), (3, pt, None), (4, None, None)],
        "id int, g binary, p binary",
    )
    df.createOrReplaceTempView("t_geom_null")
    rows = spark.sql(
        "SELECT id, GeomDistance(g, p) AS d, GeomIntersects(g, p) AS i, "
        "GeomWithinDistance(g, p, 1.0) AS w FROM t_geom_null ORDER BY id"
    ).collect()
    assert rows[0]["d"] == 0.0 and rows[0]["i"] is True and rows[0]["w"] is True
    for r in rows[1:]:
        assert r["d"] is None and r["i"] is None and r["w"] is None
    # null rows are filtered out of WHERE, not matched
    kept = spark.sql(
        "SELECT id FROM t_geom_null WHERE GeomWithinDistance(g, p, 1.0)"
    ).collect()
    assert [r.id for r in kept] == [1]
