"""Planar geospatial core (functions/geo.py) against the reference's own
test vectors (TestBingTileFunctions.java, TestGeoFunctions.java), plus the
grid-blocked spatial-join plan shape."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from lyft_presto_spark.functions import geo as G
from lyft_presto_spark.plans.inspect import assert_no_cartesian
from lyft_presto_spark.queries import all_queries


def _one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0].v


class TestBingTileVectors:
    """Vectors from TestBingTileFunctions.java:79-105."""

    def test_bing_tile_at(self, spark):
        t = _one(spark, G.bing_tile_at(F.lit(30.12), F.lit(60.0), 15))
        assert (t.x, t.y, t.zoom) == (21845, 13506, 15)
        t = _one(spark, G.bing_tile_at(F.lit(0.0), F.lit(-0.002), 1))
        assert (t.x, t.y) == (0, 1)
        t = _one(spark, G.bing_tile_at(F.lit(1.0 / 512), F.lit(0.0), 1))
        assert (t.x, t.y) == (1, 0)
        t = _one(spark, G.bing_tile_at(F.lit(1.0 / 512), F.lit(0.0), 9))
        assert (t.x, t.y) == (256, 255)

    def test_quadkey_encode(self, spark):
        tile = F.struct(F.lit(3).alias("x"), F.lit(5).alias("y"), F.lit(3).alias("zoom"))
        assert _one(spark, G.bing_tile_quadkey(tile, 3)) == "213"
        tile = F.struct(F.lit(21845).alias("x"), F.lit(13506).alias("y"), F.lit(15).alias("zoom"))
        assert _one(spark, G.bing_tile_quadkey(tile, 15)) == "123030123010121"

    def test_quadkey_decode_roundtrip(self, spark):
        t = _one(spark, G.bing_tile_from_quadkey(F.lit("123030123010121"), 15))
        assert (t.x, t.y, t.zoom) == (21845, 13506, 15)
        t = _one(spark, G.bing_tile_from_quadkey(F.lit("213"), 3))
        assert (t.x, t.y) == (3, 5)

    def test_zoom_bounds(self):
        with pytest.raises(ValueError):
            G.bing_tile_at(F.lit(0.0), F.lit(0.0), 0)
        with pytest.raises(ValueError):
            G.bing_tile_at(F.lit(0.0), F.lit(0.0), 24)

    def test_corner_inverts_tile(self, spark):
        # The upper-left corner of tile(x, y) maps back into that tile (or
        # its boundary neighbor); spot-check the reference formula's shape:
        # corner of tile y=0 is the max latitude, x=0 is lon -180.
        c = _one(
            spark,
            G.bing_tile_corner(
                F.struct(F.lit(0).alias("x"), F.lit(0).alias("y"), F.lit(3).alias("zoom")), 3
            ),
        )
        assert c.lon == -180.0
        assert abs(c.lat - 85.05112878) < 1e-6  # the Mercator clip latitude


class TestBingTilesAround:
    """Vectors from TestBingTileFunctions.java:245-293 (quadkey renderings
    of the 3x3 neighborhood, edge-clipped)."""

    def _around_quadkeys(self, spark, lat, lon, zoom):
        arr = _one(spark, G.bing_tiles_around(F.lit(lat), F.lit(lon), zoom))
        return [
            _one(
                spark,
                G.bing_tile_quadkey(
                    F.struct(F.lit(t.x).alias("x"), F.lit(t.y).alias("y"), F.lit(zoom).alias("zoom")),
                    zoom,
                ),
            )
            for t in arr
        ]

    def test_interior_point(self, spark):
        assert self._around_quadkeys(spark, 30.12, 60.0, 1) == ["0", "2", "1", "3"]
        assert self._around_quadkeys(spark, 30.12, 60.0, 15) == [
            "123030123010102", "123030123010120", "123030123010122",
            "123030123010103", "123030123010121", "123030123010123",
            "123030123010112", "123030123010130", "123030123010132",
        ]

    def test_corner_clipping(self, spark):
        assert self._around_quadkeys(spark, -85.05112878, -180.0, 1) == ["0", "2", "1", "3"]
        assert self._around_quadkeys(spark, -85.05112878, -180.0, 3) == [
            "220", "222", "221", "223",
        ]


class TestWktPoint:
    def test_parse_reference_vector(self, spark):
        # TestGeoFunctions.java:430 — ST_X/ST_Y of 'POINT (1.5 2.5)'
        p = G.st_point_from_wkt(F.lit("POINT (1.5 2.5)"))
        assert _one(spark, G.st_x(p)) == 1.5
        assert _one(spark, G.st_y(p)) == 2.5

    def test_roundtrip_and_nonpoint(self, spark):
        p = G.st_point(F.lit(-122.3321), F.lit(47.6062))
        back = G.st_point_from_wkt(G.st_as_text(p))
        assert _one(spark, G.st_x(back)) == -122.3321
        assert _one(spark, G.st_y(back)) == 47.6062
        bad = G.st_point_from_wkt(F.lit("LINESTRING (0 0, 1 1)"))
        assert _one(spark, G.st_x(bad)) is None


class TestGreatCircle:
    """Vectors from TestGeoFunctions.java:814-817 (Nashville-LA, Boston pair)."""

    def test_reference_vectors(self, spark):
        d = _one(
            spark,
            G.great_circle_distance(F.lit(36.12), F.lit(-86.67), F.lit(33.94), F.lit(-118.40)),
        )
        assert d == pytest.approx(2886.448973436703, rel=1e-12)
        # symmetric
        d2 = _one(
            spark,
            G.great_circle_distance(F.lit(33.94), F.lit(-118.40), F.lit(36.12), F.lit(-86.67)),
        )
        assert d2 == pytest.approx(d, rel=1e-12)
        d3 = _one(
            spark,
            G.great_circle_distance(F.lit(42.3601), F.lit(-71.0589), F.lit(42.4430), F.lit(-71.2290)),
        )
        assert d3 == pytest.approx(16.73469743457461, rel=1e-12)
        assert _one(
            spark, G.great_circle_distance(F.lit(36.12), F.lit(-86.67), F.lit(36.12), F.lit(-86.67))
        ) == 0.0


class TestPointOps:
    def test_point_xy_distance(self, spark):
        p1 = G.st_point(F.lit(1.5), F.lit(2.5))
        p2 = G.st_point(F.lit(4.5), F.lit(6.5))
        assert _one(spark, G.st_x(p1)) == 1.5
        assert _one(spark, G.st_y(p1)) == 2.5
        assert _one(spark, G.st_distance(p1, p2)) == 5.0  # 3-4-5

    def test_contains_strict_interior(self, spark):
        env = G.st_envelope(F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0))
        inside = G.st_point(F.lit(5.0), F.lit(5.0))
        boundary = G.st_point(F.lit(0.0), F.lit(5.0))
        outside = G.st_point(F.lit(-1.0), F.lit(5.0))
        assert _one(spark, G.st_contains_envelope(env, inside)) is True
        # OGC/reference rule: a boundary point is NOT contained
        assert _one(spark, G.st_contains_envelope(env, boundary)) is False
        assert _one(spark, G.st_contains_envelope(env, outside)) is False


class TestSqlGeneratorsAgree:
    """The dual-dialect SQL snippets must equal the Column API on Spark (the
    DuckDB side is proven by the oracle gate)."""

    def test_tile_and_quadkey_sql(self, spark):
        row = spark.sql(
            f"""
            SELECT {G.bing_tile_x_sql("60.0", 15, "spark")} AS x,
                   {G.bing_tile_y_sql("30.12", 15, "spark")} AS y
            """
        ).collect()[0]
        assert (row.x, row.y) == (21845, 13506)
        qk = spark.sql(
            f"SELECT {G.quadkey_sql('21845', '13506', 15, 'spark')} AS qk"
        ).collect()[0].qk
        assert qk == "123030123010121"
        qk_lit = "'123030123010121'"
        dx = spark.sql(
            f"SELECT {G.quadkey_decode_sql(qk_lit, 15, 'x', 'spark')} AS v"
        ).collect()[0].v
        assert dx == 21845

    def test_great_circle_sql(self, spark):
        d = spark.sql(
            f"SELECT {G.great_circle_sql('36.12', '-86.67', '33.94', '-118.40')} AS d"
        ).collect()[0].d
        assert d == pytest.approx(2886.448973436703, rel=1e-12)


class TestBingTileExtras:
    """bing_tile constructor/accessors, tile polygon, envelope cover
    (BingTileFunctions.java bingTile/bingTileCoordinates/bingTileZoomLevel/
    bingTilePolygon/geometryToBingTiles)."""

    def test_constructor_and_accessors(self, spark):
        t = G.bing_tile(21845, 13506, 15)
        c = _one(spark, G.bing_tile_coordinates(t))
        assert (c.x, c.y) == (21845, 13506)
        assert _one(spark, G.bing_tile_zoom_level(t)) == 15

    def test_tile_polygon_closed_and_contains_center(self, spark):
        tile = G.bing_tile_at(F.lit(30.12), F.lit(60.0), 8)
        poly = G.bing_tile_polygon(tile, 8)
        assert _one(spark, G.st_is_closed(poly)) is True
        assert _one(spark, G.st_num_points(poly)) == 5
        # The generating point is interior to its own tile's footprint.
        assert _one(
            spark, G.st_contains_ring(poly, G.st_point(F.lit(60.0), F.lit(30.12)))
        ) is True
        # NW vertex equals the tile corner.
        corner = _one(spark, G.bing_tile_corner(tile, 8))
        start = _one(spark, G.st_start_point(poly))
        assert (start.x, start.y) == (corner.lon, corner.lat)

    def test_envelope_cover(self, spark):
        # An envelope strictly inside one tile covers exactly that tile.
        tiles = _one(
            spark,
            G.geometry_to_bing_tiles(F.lit(59.9), F.lit(30.0), F.lit(60.1), F.lit(30.2), 4),
        )
        assert len(tiles) == 1
        # A wider envelope covers a contiguous x/y range incl. the corners'
        # own tiles, each exactly once.
        tiles = _one(
            spark,
            G.geometry_to_bing_tiles(F.lit(0.1), F.lit(0.1), F.lit(44.9), F.lit(40.0), 4),
        )
        coords = {(t.x, t.y) for t in tiles}
        assert len(coords) == len(tiles)
        xs = {x for x, _ in coords}
        ys = {y for _, y in coords}
        assert len(tiles) == len(xs) * len(ys)
        nw = _one(spark, G.bing_tile_at(F.lit(40.0), F.lit(0.1), 4))
        se = _one(spark, G.bing_tile_at(F.lit(0.1), F.lit(44.9), 4))
        assert (nw.x, nw.y) in coords and (se.x, se.y) in coords


class TestPolygonOps:
    """Polygon/linestring vectors from TestGeoFunctions.java (stArea:245,
    stCentroid:208, stLength:330, stNumPoints/stIsClosed/stPointN)."""

    def _square(self):
        # Reference vector: ST_Area(POLYGON ((2 2, 2 6, 6 6, 6 2))) = 16 —
        # note the open ring, auto-closed by the reader.
        return G.st_line_from_wkt(F.lit("POLYGON ((2 2, 2 6, 6 6, 6 2))"), "POLYGON")

    def test_area_reference_vectors(self, spark):
        assert _one(spark, G.st_area(self._square())) == 16.0
        # Closed spelling gives the same answer.
        closed = G.st_line_from_wkt(
            F.lit("POLYGON ((2 2, 2 6, 6 6, 6 2, 2 2))"), "POLYGON"
        )
        assert _one(spark, G.st_area(closed)) == 16.0

    def test_centroid_triangle(self, spark):
        # stCentroid of POLYGON ((1 1, 5 1, 3 4)) = POINT (3 2)
        tri = G.st_line_from_wkt(F.lit("POLYGON ((1 1, 5 1, 3 4))"), "POLYGON")
        c = _one(spark, G.st_centroid_ring(tri))
        assert c.x == pytest.approx(3.0, abs=1e-12)
        assert c.y == pytest.approx(2.0, abs=1e-12)

    def test_length_and_accessors(self, spark):
        # stLength(LINESTRING (0 0, 3 4)) = 5; accessors are 1-based.
        line = G.st_line_from_wkt(F.lit("LINESTRING (0 0, 3 4, 3 9)"))
        assert _one(spark, G.st_length(line)) == 10.0
        assert _one(spark, G.st_num_points(line)) == 3
        assert _one(spark, G.st_is_closed(line)) is False
        assert _one(spark, G.st_x(G.st_start_point(line))) == 0.0
        assert _one(spark, G.st_y(G.st_end_point(line))) == 9.0
        assert _one(spark, G.st_x(G.st_point_n(line, 2))) == 3.0

    def test_envelope_of(self, spark):
        env = _one(spark, G.st_envelope_of(self._square()))
        assert (env.xmin, env.ymin, env.xmax, env.ymax) == (2.0, 2.0, 6.0, 6.0)

    def test_contains_ring_convex_and_concave(self, spark):
        sq = self._square()
        assert _one(spark, G.st_contains_ring(sq, G.st_point(F.lit(3.0), F.lit(3.0)))) is True
        assert _one(spark, G.st_contains_ring(sq, G.st_point(F.lit(7.0), F.lit(3.0)))) is False
        # Concave "C" shape: the notch interior is OUTSIDE.
        c_shape = G.st_line_from_wkt(
            F.lit("POLYGON ((0 0, 10 0, 10 2, 2 2, 2 8, 10 8, 10 10, 0 10))"), "POLYGON"
        )
        assert _one(spark, G.st_contains_ring(c_shape, G.st_point(F.lit(1.0), F.lit(5.0)))) is True
        assert _one(spark, G.st_contains_ring(c_shape, G.st_point(F.lit(6.0), F.lit(5.0)))) is False
        assert _one(spark, G.st_contains_ring(c_shape, G.st_point(F.lit(6.0), F.lit(1.0)))) is True

    def test_wkt_roundtrip_and_reject(self, spark):
        line = G.st_line_from_wkt(F.lit("LINESTRING (0.5 1.5, 2.5 3.5)"))
        back = G.st_line_from_wkt(G.st_line_as_text(line))
        assert _one(spark, G.st_length(back)) == _one(spark, G.st_length(line))
        bad = G.st_line_from_wkt(F.lit("POINT (1 2)"))
        assert _one(spark, G.st_num_points(bad)) is None

    def test_multi_ring_and_malformed_wkt_degrade_to_null(self, spark):
        # A polygon with a hole must NOT half-match (the lazy-regex bug made
        # vertex tokens like '0)' and the ANSI cast killed the job).
        holed = G.st_line_from_wkt(
            F.lit("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (2 2, 3 2, 3 3, 2 2))"),
            "POLYGON",
        )
        assert _one(spark, G.st_num_points(holed)) is None
        multi = G.st_line_from_wkt(F.lit("LINESTRING (0 0, (1 1))"))
        assert _one(spark, G.st_num_points(multi)) is None
        # Non-numeric coordinates: ANSI session must not throw; the parse
        # degrades (NULL coordinates) instead of CAST_INVALID_INPUT.
        junk = G.st_line_from_wkt(F.lit("LINESTRING (a b, 1 1)"))
        got = _one(spark, F.element_at(junk, 1))
        assert got.x is None and got.y is None

    def test_measures_on_empty_geometry(self, spark):
        # Empty (non-NULL) vertex array is a valid state (st_is_empty): the
        # measures must return 0, not raise INVALID_PARAMETER_VALUE.
        empty = F.expr("CAST(array() AS array<struct<x:double,y:double>>)")
        assert _one(spark, G.st_length(empty)) == 0.0
        assert _one(spark, G.st_area(empty)) == 0.0
        assert _one(spark, G.st_num_points(empty)) == 0

    def test_buffer_point(self, spark):
        import math

        buf = G.st_buffer_point(G.st_point(F.lit(10.0), F.lit(20.0)), F.lit(2.0), 64)
        # 64-gon area/perimeter within 0.2% of the circle's.
        assert _one(spark, G.st_area(buf)) == pytest.approx(math.pi * 4, rel=2e-3)
        assert _one(spark, G.st_length(buf)) == pytest.approx(2 * math.pi * 2, rel=2e-3)
        assert _one(spark, G.st_is_closed(buf)) is True
        assert _one(spark, G.st_within(G.st_point(F.lit(10.5), F.lit(20.5)), buf)) is True
        assert _one(spark, G.st_within(G.st_point(F.lit(13.0), F.lit(20.0)), buf)) is False
        env = _one(spark, G.st_envelope_of(buf))
        assert (env.xmin, env.ymin, env.xmax, env.ymax) == (8.0, 18.0, 12.0, 22.0)

    def test_envelope_predicates(self, spark):
        a = G.st_envelope(F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0))
        b = G.st_envelope(F.lit(5.0), F.lit(5.0), F.lit(15.0), F.lit(15.0))
        c = G.st_envelope(F.lit(11.0), F.lit(0.0), F.lit(20.0), F.lit(10.0))
        touch = G.st_envelope(F.lit(10.0), F.lit(0.0), F.lit(20.0), F.lit(10.0))
        assert _one(spark, G.st_intersects_envelopes(a, b)) is True
        assert _one(spark, G.st_intersects_envelopes(a, c)) is False
        assert _one(spark, G.st_disjoint_envelopes(a, c)) is True
        # OGC intersects: boundary contact counts.
        assert _one(spark, G.st_intersects_envelopes(a, touch)) is True
        p, q = G.st_point(F.lit(1.5), F.lit(2.5)), G.st_point(F.lit(1.5), F.lit(2.5))
        assert _one(spark, G.st_equals_points(p, q)) is True

    def test_envelope_intersection_and_empty(self, spark):
        a = G.st_envelope(F.lit(0.0), F.lit(0.0), F.lit(10.0), F.lit(10.0))
        b = G.st_envelope(F.lit(5.0), F.lit(5.0), F.lit(15.0), F.lit(15.0))
        c = G.st_envelope(F.lit(11.0), F.lit(0.0), F.lit(20.0), F.lit(10.0))
        got = _one(spark, G.st_intersection_envelopes(a, b))
        assert (got.xmin, got.ymin, got.xmax, got.ymax) == (5.0, 5.0, 10.0, 10.0)
        assert _one(spark, G.st_intersection_envelopes(a, c)) is None
        assert _one(spark, G.st_is_empty(G.st_line_from_wkt(F.lit("POINT (1 2)")))) is True
        assert _one(spark, G.st_is_empty(G.st_line_from_wkt(F.lit("LINESTRING (0 0, 1 1)")))) is False

    def test_line_locate_point(self, spark):
        # Vectors mirror TestGeoFunctions.java lineLocatePoint cases.
        line = G.st_line_from_wkt(F.lit("LINESTRING (0 0, 10 0, 10 10)"))
        lp = lambda x, y: _one(  # noqa: E731
            spark, G.line_locate_point(line, G.st_point(F.lit(x), F.lit(y)))
        )
        assert lp(0.0, 0.0) == 0.0
        assert lp(10.0, 10.0) == 1.0
        assert lp(5.0, 1.0) == pytest.approx(0.25)  # projects onto (5, 0)
        assert lp(10.0, 5.0) == pytest.approx(0.75)
        assert lp(-3.0, -4.0) == 0.0  # clamped before the start
        # Equidistant from both edges (corner region): earliest edge wins.
        assert lp(11.0, -1.0) == pytest.approx(0.5)
        degenerate = G.st_line_from_wkt(F.lit("LINESTRING (2 3, 2 3)"))
        assert _one(
            spark, G.line_locate_point(degenerate, G.st_point(F.lit(0.0), F.lit(0.0)))
        ) is None

    def test_signed_area_orientation(self, spark):
        ccw = G.st_line_from_wkt(F.lit("POLYGON ((0 0, 4 0, 4 4, 0 4))"), "POLYGON")
        cw = G.st_line_from_wkt(F.lit("POLYGON ((0 0, 0 4, 4 4, 4 0))"), "POLYGON")
        assert _one(spark, G.st_signed_area(ccw)) == 16.0
        assert _one(spark, G.st_signed_area(cw)) == -16.0


class TestSpatialJoinShape:
    def test_spatial_joins_have_no_cartesian(self, spark, sf_dir):
        """Both spatial joins must be cell equi-joins, never cross products —
        the shape that survives 1M zones x 10B points (SCALE.md discipline)."""
        qs = all_queries()
        assert_no_cartesian(qs["op_spatial_bbox_join"].spark(spark, sf_dir))
        assert_no_cartesian(qs["op_spatial_distance_join"].spark(spark, sf_dir))
        assert_no_cartesian(qs["op_spatial_polygon_join"].spark(spark, sf_dir))
        assert_no_cartesian(qs["op_spatial_kdb_join"].spark(spark, sf_dir))
        assert_no_cartesian(qs["op_spatial_polygon_pair_join"].spark(spark, sf_dir))

    def test_polygon_pair_join_matches_naive(self, spark, sf_dir):
        """Corner-cell blocking must be lossless for the polygon-polygon
        join: same hit groups as brute-force all-pairs through the SAME
        exact predicate (isolating the blocking from the predicate, which
        the DuckDB closed-form oracle checks independently)."""
        from pyspark.sql import functions as F

        from lyft_presto_spark.queries.geo_queries import (
            _PAIR_DI_SRC,
            _PAIR_SQ_SRC,
        )
        from lyft_presto_spark.queries.registry import sql_over

        qs = all_queries()
        blocked = {
            (r.sq_id, r.n_hits, r.sum_di)
            for r in qs["op_spatial_polygon_pair_join"].spark(spark, sf_dir).collect()
        }
        sq = sql_over(spark, sf_dir, _PAIR_SQ_SRC, ("customer",))
        di = sql_over(spark, sf_dir, _PAIR_DI_SRC, ("supplier",))
        sq_ring = F.array(
            G.st_point(F.col("x0"), F.col("y0")),
            G.st_point(F.col("x0") + F.col("s"), F.col("y0")),
            G.st_point(F.col("x0") + F.col("s"), F.col("y0") + F.col("s")),
            G.st_point(F.col("x0"), F.col("y0") + F.col("s")),
            G.st_point(F.col("x0"), F.col("y0")),
        )
        di_ring = F.array(
            G.st_point(F.col("cx") + F.col("r"), F.col("cy")),
            G.st_point(F.col("cx"), F.col("cy") + F.col("r")),
            G.st_point(F.col("cx") - F.col("r"), F.col("cy")),
            G.st_point(F.col("cx"), F.col("cy") - F.col("r")),
            G.st_point(F.col("cx") + F.col("r"), F.col("cy")),
        )
        naive = (
            sq.crossJoin(di)
            .where(G.st_intersects_polygons(sq_ring, di_ring))
            .groupBy("sq_id")
            .agg(
                F.count("*").alias("n_hits"),
                F.sum("di_id").cast("long").alias("sum_di"),
            )
        )
        assert blocked == {(r.sq_id, r.n_hits, r.sum_di) for r in naive.collect()}

    def test_polygon_join_matches_naive(self, spark, sf_dir):
        """Grid blocking must be lossless for the polygon join too: same
        result as ray-casting every (point, polygon) pair."""
        from lyft_presto_spark.queries.geo_queries import _POINTS, _edges_cte
        from lyft_presto_spark.queries.registry import sql_over

        qs = all_queries()
        blocked = {
            (r.poly_id, r.n_inside, r.sum_custkey)
            for r in qs["op_spatial_polygon_join"].spark(spark, sf_dir).collect()
        }
        naive = sql_over(
            spark,
            sf_dir,
            f"""
            WITH {_edges_cte("spark")},
            pts AS ({_POINTS}),
            crossings AS (
                SELECT e.poly_id, p.c_custkey,
                       sum(CASE WHEN ((e.y > p.lat) <> (e.y2 > p.lat))
                                 AND p.lon < (e.x2 - e.x) * (p.lat - e.y) / (e.y2 - e.y) + e.x
                            THEN 1 ELSE 0 END) AS k
                FROM pts p CROSS JOIN edges e
                GROUP BY e.poly_id, p.c_custkey
            )
            SELECT poly_id, count(*) AS n_inside, CAST(sum(c_custkey) AS BIGINT) AS sum_custkey
            FROM crossings WHERE k % 2 = 1
            GROUP BY poly_id
            """,
            ("customer", "nation"),
        )
        assert blocked == {(r.poly_id, r.n_inside, r.sum_custkey) for r in naive.collect()}

    def test_bbox_join_matches_naive(self, spark, sf_dir):
        """Grid blocking must be lossless: same pairs as the naive all-pairs
        containment (small-scale exhaustive check)."""
        qs = all_queries()
        blocked = {
            (r.zone_id, r.n_points, r.sum_custkey)
            for r in qs["op_spatial_bbox_join"].spark(spark, sf_dir).collect()
        }
        from lyft_presto_spark.queries.geo_queries import (
            _POINTS,
            _ZONES,
            ZONE_HALF_H,
            ZONE_HALF_W,
        )
        from lyft_presto_spark.queries.registry import sql_over

        naive = sql_over(
            spark,
            sf_dir,
            f"""
            WITH pts AS ({_POINTS}), zones AS ({_ZONES})
            SELECT zone_id, count(*) AS n_points, CAST(sum(c_custkey) AS BIGINT) AS sum_custkey
            FROM zones JOIN pts
              ON pts.lon > zones.cx - {ZONE_HALF_W} AND pts.lon < zones.cx + {ZONE_HALF_W}
             AND pts.lat > zones.cy - {ZONE_HALF_H} AND pts.lat < zones.cy + {ZONE_HALF_H}
            GROUP BY zone_id
            """,
            ("customer", "nation"),
        )
        assert blocked == {(r.zone_id, r.n_points, r.sum_custkey) for r in naive.collect()}


class TestWkbCodecs:
    """WKB byte format pinned against public OGC vectors (the same bytes
    GeoFunctions.java stAsBinary emits: little-endian, byte-order mark 01)."""

    def test_point_known_vector(self, spark):
        wkb = G.st_as_binary(G.st_point(F.lit(1.0), F.lit(2.0)), "POINT")
        assert (
            _one(spark, F.hex(wkb))
            == "0101000000000000000000F03F0000000000000040"
        )
        back = G.st_point_from_binary(wkb)
        assert _one(spark, back["x"]) == 1.0
        assert _one(spark, back["y"]) == 2.0

    def test_point_negative_and_fractional(self, spark):
        p = G.st_point(F.lit(-122.3321), F.lit(47.6062))
        back = G.st_point_from_binary(G.st_as_binary(p, "POINT"))
        assert _one(spark, back["x"]) == -122.3321
        assert _one(spark, back["y"]) == 47.6062

    def test_linestring_roundtrip_and_header(self, spark):
        line = G.st_line_from_wkt(F.lit("LINESTRING (0 0, 3 4, 3 9)"))
        wkb = G.st_as_binary(line, "LINESTRING")
        assert _one(spark, F.length(wkb)) == 9 + 16 * 3
        assert _one(spark, F.substring(F.hex(wkb), 1, 18)) == "010200000003000000"
        back = G.st_line_from_binary(wkb)
        assert _one(spark, G.st_length(back)) == _one(spark, G.st_length(line))
        assert _one(spark, G.st_num_points(back)) == 3

    def test_polygon_roundtrip(self, spark):
        ring = G.st_line_from_wkt(F.lit("POLYGON ((0 0, 4 0, 4 4, 0 4))"), "POLYGON")
        wkb = G.st_as_binary(ring, "POLYGON")
        # auto-closed ring: 5 vertices; 1 + 4 + 4 (nrings) + 4 (n) + 5*16
        assert _one(spark, F.length(wkb)) == 13 + 16 * 5
        assert _one(spark, F.substring(F.hex(wkb), 1, 26)) == "01030000000100000005000000"
        back = G.st_line_from_binary(wkb)
        assert _one(spark, G.st_area(back)) == 16.0
        assert _one(spark, G.st_is_closed(back)) is True

    def test_malformed_wkb_degrades_to_null(self, spark):
        # Big-endian mark, lying header count, truncated buffer, wrong type.
        assert _one(spark, G.st_point_from_binary(F.unhex(F.lit("00" * 21)))) is None
        lying = "0102000000" + "99000000" + "0" * 32  # header says 153 points, has 1
        assert _one(spark, G.st_line_from_binary(F.unhex(F.lit(lying)))) is None
        truncated = "0101000000" + "00" * 8
        assert _one(spark, G.st_point_from_binary(F.unhex(F.lit(truncated)))) is None
        multiring = "0103000000" + "02000000" + "00" * 16
        assert _one(spark, G.st_line_from_binary(F.unhex(F.lit(multiring)))) is None
        assert _one(spark, G.st_line_from_binary(F.lit(None).cast("binary"))) is None

    def test_wkb_is_codegen_no_python(self, spark):
        df = spark.range(4).select((F.col("id") * 1.0).alias("x"), (F.col("id") * 2.0).alias("y"))
        out = df.select(
            G.st_point_from_binary(G.st_as_binary(G.st_point(F.col("x"), F.col("y")), "POINT")).alias("p")
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


class TestLineLinePredicates:
    """ST_Intersects/ST_Crosses for linestring pairs (stIntersects:1050,
    stCrosses:1081) — exact orientation arithmetic, every OGC case class."""

    def _pred(self, spark, w1, w2):
        l1 = G.st_line_from_wkt(F.lit(w1))
        l2 = G.st_line_from_wkt(F.lit(w2))
        return (
            _one(spark, G.st_intersects_lines(l1, l2)),
            _one(spark, G.st_crosses_lines(l1, l2)),
        )

    def test_proper_cross(self, spark):
        assert self._pred(
            spark, "LINESTRING (0 0, 10 0)", "LINESTRING (5 -5, 5 5)"
        ) == (True, True)

    def test_t_junction_touch(self, spark):
        # Endpoint of one line ON the other's interior: intersects, not crosses.
        assert self._pred(
            spark, "LINESTRING (0 0, 10 0)", "LINESTRING (5 -5, 5 0)"
        ) == (True, False)

    def test_endpoint_to_endpoint_touch(self, spark):
        assert self._pred(
            spark, "LINESTRING (0 0, 10 0)", "LINESTRING (10 0, 20 5)"
        ) == (True, False)

    def test_collinear_overlap(self, spark):
        # Dimension-1 intersection: intersects, and NOT crosses per OGC.
        assert self._pred(
            spark, "LINESTRING (0 0, 10 0)", "LINESTRING (5 0, 15 0)"
        ) == (True, False)

    def test_disjoint_parallel_and_far(self, spark):
        assert self._pred(
            spark, "LINESTRING (0 0, 10 0)", "LINESTRING (0 1, 10 1)"
        ) == (False, False)
        assert self._pred(
            spark, "LINESTRING (0 0, 10 0)", "LINESTRING (20 20, 30 30)"
        ) == (False, False)

    def test_multi_edge_zigzag(self, spark):
        zig = "LINESTRING (0 0, 3 4, 6 0)"
        assert self._pred(spark, zig, "LINESTRING (0 2, 6 2)") == (True, True)
        assert self._pred(spark, zig, "LINESTRING (0 4, 6 4)") == (True, False)  # apex touch
        assert self._pred(spark, zig, "LINESTRING (0 5, 6 5)") == (False, False)


class TestPolygonWithHoles:
    """Multi-ring polygons (stGeometryFromText holed case,
    stNumInteriorRing/stInteriorRingN:520, stArea hole subtraction)."""

    DONUT = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (3 3, 7 3, 7 7, 3 7, 3 3))"

    def test_parse_and_accessors(self, spark):
        rings = G.st_polygon_from_wkt(F.lit(self.DONUT))
        assert _one(spark, F.size(rings)) == 2
        assert _one(spark, G.st_num_interior_rings(rings)) == 1
        hole = G.st_interior_ring_n(rings, 1)
        assert _one(spark, G.st_area(hole)) == 16.0

    def test_area_and_perimeter(self, spark):
        rings = G.st_polygon_from_wkt(F.lit(self.DONUT))
        assert _one(spark, G.st_polygon_area(rings)) == 100.0 - 16.0
        assert _one(spark, G.st_polygon_perimeter(rings)) == 40.0 + 16.0

    def test_contains_respects_holes(self, spark):
        rings = G.st_polygon_from_wkt(F.lit(self.DONUT))
        probe = lambda x, y: _one(  # noqa: E731
            spark, G.st_polygon_contains(rings, G.st_point(F.lit(x), F.lit(y)))
        )
        assert probe(1.0, 1.0) is True  # in shell, outside hole
        assert probe(5.0, 5.0) is False  # inside the hole
        assert probe(11.0, 5.0) is False  # outside the shell

    def test_multi_hole_and_open_rings(self, spark):
        # Two holes; rings left open (auto-closed like the Esri reader).
        wkt = "POLYGON ((0 0, 12 0, 12 12, 0 12), (1 1, 3 1, 3 3, 1 3), (8 8, 10 8, 10 10, 8 10))"
        rings = G.st_polygon_from_wkt(F.lit(wkt))
        assert _one(spark, G.st_num_interior_rings(rings)) == 2
        assert _one(spark, G.st_polygon_area(rings)) == 144.0 - 4.0 - 4.0

    def test_single_ring_degenerates_gracefully(self, spark):
        rings = G.st_polygon_from_wkt(F.lit("POLYGON ((0 0, 4 0, 4 4, 0 4))"))
        assert _one(spark, G.st_num_interior_rings(rings)) == 0
        assert _one(spark, G.st_polygon_area(rings)) == 16.0
        assert _one(
            spark, G.st_polygon_contains(rings, G.st_point(F.lit(2.0), F.lit(2.0)))
        ) is True

    def test_roundtrip_wkt(self, spark):
        rings = G.st_polygon_from_wkt(F.lit(self.DONUT))
        back = G.st_polygon_from_wkt(G.st_polygon_as_wkt(rings))
        assert _one(spark, G.st_polygon_area(back)) == 84.0
        assert _one(spark, G.st_num_interior_rings(back)) == 1

    def test_malformed_yields_null(self, spark):
        for bad in (
            "LINESTRING (0 0, 1 1)",
            "MULTIPOLYGON (((0 0, 1 0, 1 1)), ((2 2, 3 2, 3 3)))",
            "POLYGON ()",
        ):
            assert _one(spark, F.size(G.st_polygon_from_wkt(F.lit(bad)))) in (None, -1)


class TestSimpleRingAndCrossings:
    """stIsSimple (:472), stIsRing (:829), and proper-crossing points
    (stIntersection point case)."""

    def _line(self, w):
        return G.st_line_from_wkt(F.lit(w))

    def test_simple_polyline(self, spark):
        assert _one(spark, G.st_is_simple_line(self._line("LINESTRING (0 0, 5 0, 5 5)"))) is True

    def test_self_crossing_bowtie(self, spark):
        bow = self._line("LINESTRING (0 0, 4 4, 4 0, 0 4)")
        assert _one(spark, G.st_is_simple_line(bow)) is False

    def test_backtracking_is_not_simple(self, spark):
        back = self._line("LINESTRING (0 0, 5 0, 3 0)")
        assert _one(spark, G.st_is_simple_line(back)) is False
        # A sharp-but-noncollinear turn IS simple.
        sharp = self._line("LINESTRING (0 0, 5 0, 3 1)")
        assert _one(spark, G.st_is_simple_line(sharp)) is True

    def test_is_ring(self, spark):
        square = G.st_line_from_wkt(F.lit("POLYGON ((0 0, 4 0, 4 4, 0 4))"), "POLYGON")
        assert _one(spark, G.st_is_ring(square)) is True
        open_line = self._line("LINESTRING (0 0, 4 0, 4 4)")
        assert _one(spark, G.st_is_ring(open_line)) is False
        bowtie_ring = G.st_line_from_wkt(
            F.lit("POLYGON ((0 0, 4 4, 4 0, 0 4))"), "POLYGON"
        )
        assert _one(spark, G.st_is_ring(bowtie_ring)) is False

    def test_segment_intersection_point(self, spark):
        e1 = F.struct(
            G.st_point(F.lit(0.0), F.lit(0.0)).alias("a"),
            G.st_point(F.lit(10.0), F.lit(0.0)).alias("b"),
        )
        e2 = F.struct(
            G.st_point(F.lit(4.0), F.lit(-2.0)).alias("a"),
            G.st_point(F.lit(4.0), F.lit(6.0)).alias("b"),
        )
        p = _one(spark, G.st_segment_intersection(e1, e2))
        assert (p.x, p.y) == (4.0, 0.0)
        # Parallel: NULL
        e3 = F.struct(
            G.st_point(F.lit(0.0), F.lit(1.0)).alias("a"),
            G.st_point(F.lit(10.0), F.lit(1.0)).alias("b"),
        )
        assert _one(spark, G.st_segment_intersection(e1, e3)) is None

    def test_line_crossings_multi_edge(self, spark):
        zig = self._line("LINESTRING (0 0, 3 4, 6 0)")
        horiz = self._line("LINESTRING (0 2, 6 2)")
        pts = _one(spark, G.st_line_crossings(zig, horiz))
        assert [(p.x, p.y) for p in pts] == [(1.5, 2.0), (4.5, 2.0)]


class TestTouchesLines:
    """stTouches (GeoFunctions.java:1165), linestring pair, planar-exact."""

    def _pred(self, spark, w1, w2):
        l1, l2 = G.st_line_from_wkt(F.lit(w1)), G.st_line_from_wkt(F.lit(w2))
        return _one(spark, G.st_touches_lines(l1, l2))

    def test_endpoint_and_t_junction_touch(self, spark):
        assert self._pred(spark, "LINESTRING (0 0, 10 0)", "LINESTRING (10 0, 20 5)") is True
        assert self._pred(spark, "LINESTRING (0 0, 10 0)", "LINESTRING (5 -5, 5 0)") is True

    def test_proper_cross_is_not_touch(self, spark):
        assert self._pred(spark, "LINESTRING (0 0, 10 0)", "LINESTRING (5 -5, 5 5)") is False

    def test_collinear_positive_overlap_is_not_touch(self, spark):
        assert self._pred(spark, "LINESTRING (0 0, 10 0)", "LINESTRING (5 0, 15 0)") is False
        # Collinear meeting only at one endpoint: a touch.
        assert self._pred(spark, "LINESTRING (0 0, 10 0)", "LINESTRING (10 0, 20 0)") is True

    def test_vertical_collinear_overlap(self, spark):
        # Degenerate x-interval: the y-axis carries the overlap test.
        assert self._pred(spark, "LINESTRING (3 0, 3 10)", "LINESTRING (3 5, 3 15)") is False
        assert self._pred(spark, "LINESTRING (3 0, 3 10)", "LINESTRING (3 10, 3 20)") is True

    def test_disjoint_is_not_touch(self, spark):
        assert self._pred(spark, "LINESTRING (0 0, 10 0)", "LINESTRING (0 5, 10 5)") is False


class TestMultiGeometries:
    """stNumGeometries (:659), stGeometryN (:738), stGeometryType (:1194)."""

    def test_multipoint_both_spellings(self, spark):
        a = G.st_multipoint_from_wkt(F.lit("MULTIPOINT (1 2, 3 4, 5 6)"))
        b = G.st_multipoint_from_wkt(F.lit("MULTIPOINT ((1 2), (3 4), (5 6))"))
        assert _one(spark, G.st_num_geometries(a)) == 3
        assert _one(spark, G.st_num_geometries(b)) == 3
        p2 = _one(spark, G.st_geometry_n(a, 2))
        assert (p2.x, p2.y) == (3.0, 4.0)
        assert _one(spark, G.st_geometry_n(a, 4)) is None  # out of range -> NULL
        assert _one(spark, G.st_multipoint_from_wkt(F.lit("POINT (1 2)"))) is None

    def test_multilinestring(self, spark):
        ml = G.st_multiline_from_wkt(
            F.lit("MULTILINESTRING ((0 0, 3 4), (10 0, 10 5, 14 5))")
        )
        assert _one(spark, G.st_num_geometries(ml)) == 2
        assert _one(spark, G.st_multiline_length(ml)) == 5.0 + 9.0
        first = G.st_geometry_n(ml, 1)
        assert _one(spark, G.st_length(first)) == 5.0
        assert _one(spark, G.st_multiline_from_wkt(F.lit("LINESTRING (0 0, 1 1)"))) is None

    def test_geometry_type(self, spark):
        cases = {
            "POINT (1 2)": "ST_Point",
            "LINESTRING (0 0, 1 1)": "ST_LineString",
            "POLYGON ((0 0, 1 0, 1 1))": "ST_Polygon",
            "MULTIPOINT (1 2)": "ST_MultiPoint",
            "MULTILINESTRING ((0 0, 1 1))": "ST_MultiLineString",
            "MULTIPOLYGON (((0 0, 1 0, 1 1)))": "ST_MultiPolygon",
            "GEOMETRYCOLLECTION (POINT (1 2))": "ST_GeomCollection",
        }
        for wkt, expect in cases.items():
            assert _one(spark, G.st_geometry_type_wkt(F.lit(wkt))) == expect
        assert _one(spark, G.st_geometry_type_wkt(F.lit("NOT WKT 1 2"))) is None


class TestMultipointWkb:
    def test_roundtrip_and_header(self, spark):
        mp = G.st_multipoint_from_wkt(F.lit("MULTIPOINT (1 2, 3 4)"))
        wkb = G.st_multipoint_as_binary(mp)
        assert _one(spark, F.length(wkb)) == 9 + 2 * 21
        assert _one(spark, F.substring(F.hex(wkb), 1, 18)) == "010400000002000000"
        back = G.st_multipoint_from_binary(wkb)
        assert _one(spark, G.st_num_geometries(back)) == 2
        p = _one(spark, G.st_geometry_n(back, 2))
        assert (p.x, p.y) == (3.0, 4.0)

    def test_malformed_degrades_to_null(self, spark):
        # Wrong outer type, lying count, corrupt member header.
        assert _one(spark, G.st_multipoint_from_binary(F.unhex(F.lit("00" * 30)))) is None
        lying = "0104000000" + "05000000" + "0101000000" + "00" * 16
        assert _one(spark, G.st_multipoint_from_binary(F.unhex(F.lit(lying)))) is None
        badmember = "0104000000" + "01000000" + "0102000000" + "00" * 16
        assert _one(spark, G.st_multipoint_from_binary(F.unhex(F.lit(badmember)))) is None


class TestMultipolygon:
    """MULTIPOLYGON parse/measure/contains (stGeometryFromText multipolygon
    case + stArea:236 member sum + any-member stContains)."""

    def _mp(self, w):
        return G.st_multipolygon_from_wkt(F.lit(w))

    def test_two_members_with_hole(self, spark):
        w = ("MULTIPOLYGON (((0 0, 6 0, 6 6, 0 6, 0 0), "
             "(1 1, 2 1, 2 2, 1 2, 1 1)), ((10 0, 11 0, 11 1, 10 1, 10 0)))")
        mp = self._mp(w)
        assert _one(spark, G.st_num_geometries(mp)) == 2
        assert _one(spark, G.st_multipolygon_area(mp)) == pytest.approx(36.0 - 1.0 + 1.0)
        assert _one(spark, G.st_multipolygon_perimeter(mp)) == pytest.approx(24 + 4 + 4)
        # in the hole -> not contained; in member 2 -> contained
        assert _one(spark, G.st_multipolygon_contains(mp, G.st_point(F.lit(1.5), F.lit(1.5)))) is False
        assert _one(spark, G.st_multipolygon_contains(mp, G.st_point(F.lit(10.5), F.lit(0.5)))) is True

    def test_open_rings_autoclose(self, spark):
        mp = self._mp("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4)))")
        assert _one(spark, G.st_multipolygon_area(mp)) == pytest.approx(16.0)

    def test_roundtrip(self, spark):
        w = "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((8 8, 9 8, 9 9, 8 9, 8 8)))"
        mp = self._mp(w)
        again = G.st_multipolygon_from_wkt(G.st_multipolygon_as_wkt(mp))
        assert _one(spark, G.st_multipolygon_area(again)) == pytest.approx(17.0)
        assert _one(spark, G.st_num_geometries(again)) == 2

    def test_malformed_yields_null(self, spark):
        for w in (
            "MULTIPOLYGON ((0 0, 1 0, 1 1))",  # polygon-depth nesting
            "POLYGON ((0 0, 1 0, 1 1, 0 0))",  # wrong tag
            "MULTIPOLYGON (((0 0, (1 1), 2 2)))",  # stray nesting
            "garbage",
        ):
            assert _one(spark, self._mp(w)) is None

    def test_geometry_n_out_of_range(self, spark):
        mp = self._mp("MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)))")
        assert _one(spark, G.st_geometry_n(mp, 2)) is None


class TestAccessorsAndConstructors:
    """stDimension/stCoordinateDimension/stEnvelopeAsPts/stBoundary/
    stLineString/stMultiPoint/stOverlaps planar twins."""

    def _pts(self, *pts):
        return F.array(*[G.st_point(F.lit(float(x)), F.lit(float(y))) for x, y in pts])

    def test_dimension_by_tag(self, spark):
        for w, d in [("POINT (1 2)", 0), ("MULTIPOINT (0 0)", 0),
                     ("LINESTRING (0 0, 1 1)", 1), ("MULTILINESTRING ((0 0, 1 1))", 1),
                     ("POLYGON ((0 0, 1 0, 1 1, 0 0))", 2), ("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))", 2)]:
            assert _one(spark, G.st_dimension_wkt(F.lit(w))) == d
            assert _one(spark, G.st_coordinate_dimension_wkt(F.lit(w))) == 2
        assert _one(spark, G.st_dimension_wkt(F.lit("NONSENSE (1)"))) is None

    def test_envelope_as_pts_corners(self, spark):
        line = self._pts((3, -1), (0, 5), (2, 2))
        pts = _one(spark, G.st_envelope_as_pts(line))
        assert (pts[0].x, pts[0].y, pts[1].x, pts[1].y) == (0.0, -1.0, 3.0, 5.0)
        assert _one(spark, G.st_envelope_as_pts(F.slice(line, 1, 0))) is None

    def test_boundary(self, spark):
        open_line = self._pts((0, 0), (4, 0), (4, 3))
        ring = self._pts((0, 0), (4, 0), (4, 4), (0, 0))
        b = _one(spark, G.st_boundary_line(open_line))
        assert [(p.x, p.y) for p in b] == [(0.0, 0.0), (4.0, 3.0)]
        assert _one(spark, F.size(G.st_boundary_line(ring))) == 0
        assert _one(spark, F.size(G.st_boundary_line(F.slice(ring, 1, 0)))) == 0

    def test_linestring_constructor_guards(self, spark):
        ok = self._pts((0, 0), (1, 0), (1, 1))
        dupes = self._pts((0, 0), (0, 0), (1, 1))
        assert _one(spark, G.st_linestring_of(ok)) is not None
        assert _one(spark, G.st_linestring_of(dupes)) is None
        assert _one(spark, G.st_multipoint_of(F.slice(ok, 1, 0))) is None
        assert _one(spark, F.size(G.st_multipoint_of(ok))) == 3

    def test_overlaps_envelopes(self, spark):
        def env(x0, y0, x1, y1):
            return G.st_envelope(F.lit(float(x0)), F.lit(float(y0)), F.lit(float(x1)), F.lit(float(y1)))
        a = env(0, 0, 4, 4)
        assert _one(spark, G.st_overlaps_envelopes(a, env(2, 2, 6, 6))) is True
        assert _one(spark, G.st_overlaps_envelopes(a, env(0, 0, 4, 4))) is False  # equal
        assert _one(spark, G.st_overlaps_envelopes(a, env(1, 1, 2, 2))) is False  # contained
        assert _one(spark, G.st_overlaps_envelopes(a, env(4, 0, 8, 4))) is False  # edge touch
        assert _one(spark, G.st_overlaps_envelopes(a, env(9, 9, 10, 10))) is False  # disjoint


class TestValidity:
    """ST_IsValid / geometry_invalid_reason with the reference's
    NON_SIMPLE_REASONS spellings (GeoFunctions.java:125)."""

    def _pts(self, *pts):
        return F.array(*[G.st_point(F.lit(float(x)), F.lit(float(y))) for x, y in pts])

    def test_ring_reasons(self, spark):
        good = self._pts((0, 0), (4, 0), (4, 4), (0, 4), (0, 0))
        bowtie = self._pts((0, 0), (4, 4), (4, 0), (0, 4), (0, 0))
        repeated = self._pts((0, 0), (4, 0), (4, 0), (4, 4), (0, 4), (0, 0))
        tiny = self._pts((0, 0), (1, 0), (0, 0))
        assert _one(spark, G.geometry_invalid_reason_ring(good)) is None
        assert _one(spark, G.geometry_invalid_reason_ring(bowtie)) == "Self-intersection"
        assert _one(spark, G.geometry_invalid_reason_ring(repeated)) == "Repeated points"
        assert _one(spark, G.geometry_invalid_reason_ring(tiny)) == "Degenerate segments"

    def test_polygon_hole_escape(self, spark):
        shell = self._pts((0, 0), (4, 0), (4, 4), (0, 4), (0, 0))
        hole_in = self._pts((1, 1), (2, 1), (2, 2), (1, 2), (1, 1))
        hole_out = self._pts((10, 10), (11, 10), (11, 11), (10, 11), (10, 10))
        assert _one(spark, G.geometry_invalid_reason_polygon(F.array(shell, hole_in))) is None
        assert _one(spark, G.geometry_invalid_reason_polygon(F.array(shell, hole_out))) == "Disconnected interior"
        assert _one(spark, G.st_is_valid_polygon(F.array(shell, hole_in))) is True

    def test_bad_ring_reported_before_hole_escape(self, spark):
        bowtie = self._pts((0, 0), (4, 4), (4, 0), (0, 4), (0, 0))
        hole_out = self._pts((10, 10), (11, 10), (11, 11), (10, 11), (10, 10))
        assert _one(spark, G.geometry_invalid_reason_polygon(F.array(bowtie, hole_out))) == "Self-intersection"

    def test_line_reasons(self, spark):
        ok = self._pts((0, 0), (1, 1), (2, 0))
        dup = self._pts((0, 0), (0, 0), (2, 0))
        short = self._pts((0, 0))
        assert _one(spark, G.geometry_invalid_reason_line(ok)) is None
        assert _one(spark, G.geometry_invalid_reason_line(dup)) == "Degenerate segments"
        assert _one(spark, G.geometry_invalid_reason_line(short)) == "Degenerate segments"
        assert _one(spark, G.st_is_valid_line(ok)) is True


class TestScalarHullAndSimplify:
    """operators/geo_scalar.py: stConvexHull (:411) and simplifyGeometry
    (:856) as Arrow-batched pandas UDFs."""

    def _pts(self, *pts):
        return F.array(*[G.st_point(F.lit(float(x)), F.lit(float(y))) for x, y in pts])

    def test_hull_of_cloud(self, spark):
        from lyft_presto_spark.operators import geo_scalar as GS
        cloud = self._pts((1, 1), (0, 0), (4, 0), (2, 3), (4, 4), (0, 4), (3, 2))
        hull = _one(spark, GS.st_convex_hull(cloud))
        assert [(p.x, p.y) for p in hull] == [
            (0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)
        ]
        assert _one(spark, G.st_area(GS.st_convex_hull(cloud))) == pytest.approx(16.0)

    def test_hull_degenerate_inputs(self, spark):
        from lyft_presto_spark.operators import geo_scalar as GS
        one = self._pts((2, 3))
        assert [(p.x, p.y) for p in _one(spark, GS.st_convex_hull(one))] == [(2.0, 3.0)]
        assert _one(spark, GS.st_convex_hull(F.slice(one, 1, 0))) == []
        # collinear: out-and-back cycle, area 0 — same as convex_hull_agg
        coll = self._pts((0, 0), (2, 2), (1, 1))
        assert _one(spark, G.st_area(GS.st_convex_hull(coll))) == pytest.approx(0.0)

    def test_hull_matches_aggregate_chain(self, spark):
        # Scalar and aggregate share monotone_chain: same vertex set.
        from lyft_presto_spark.operators import geo_scalar as GS
        from lyft_presto_spark.operators.hull import monotone_chain
        pts = [(0, 0), (5, 1), (3, 7), (1, 4), (2, 2), (4, 5), (5, 7), (0, 6)]
        expected = monotone_chain([p[0] for p in pts], [p[1] for p in pts])
        got = _one(spark, GS.st_convex_hull(self._pts(*pts)))
        assert [(p.x, p.y) for p in got[:-1]] == [(float(x), float(y)) for x, y in expected]

    def test_simplify_tolerance_sweep(self, spark):
        from lyft_presto_spark.operators import geo_scalar as GS
        zig = self._pts((0, 0), (1, 2), (2, 0), (3, 2), (4, 0))
        assert len(_one(spark, GS.simplify_geometry(zig, 0.0))) == 5  # identity
        s = _one(spark, GS.simplify_geometry(zig, 1.5))
        assert [(p.x, p.y) for p in s] == [(0.0, 0.0), (1.0, 2.0), (4.0, 0.0)]
        s = _one(spark, GS.simplify_geometry(zig, 2.5))
        assert [(p.x, p.y) for p in s] == [(0.0, 0.0), (4.0, 0.0)]

    def test_simplify_drops_null_members(self, spark):
        # A NULL member is dropped, as st_convex_hull does, instead of
        # failing the job.
        from lyft_presto_spark.operators import geo_scalar as GS
        nul = F.lit(None).cast("struct<x:double,y:double>")
        line = F.array(G.st_point(F.lit(0.0), F.lit(0.0)), nul,
                       G.st_point(F.lit(2.0), F.lit(0.0)), G.st_point(F.lit(3.0), F.lit(1.0)))
        clean = self._pts((0, 0), (2, 0), (3, 1))
        got = _one(spark, GS.simplify_geometry(line, 0.5))
        assert got == _one(spark, GS.simplify_geometry(clean, 0.5))
        assert [(p.x, p.y) for p in got] == [(0.0, 0.0), (2.0, 0.0), (3.0, 1.0)]

    def test_per_row_adapter_contract(self, spark):
        # The one per-row policy: a raising kernel NULLs only its row, a
        # struct input reaches the kernel as a dict, and a None result for
        # a struct return type is an all-NULL-field struct.
        from lyft_presto_spark.operators.geo_scalar import _per_row

        def total(p, k):
            if k == 1:
                raise ValueError("bad row")
            return p["x"] + p["y"]

        def fields(p, k):
            return None if k == 2 else {"x": p["x"], "k": int(k)}

        df = spark.range(3).select(
            "id", G.st_point(F.col("id").cast("double"), F.lit(10.0)).alias("p")
        )
        out = df.select(
            "id",
            _per_row(total, "double", "p", "id").alias("t"),
            _per_row(fields, "struct<x:double,k:bigint>", "p", "id").alias("f"),
        )
        rows = {r.id: r for r in out.collect()}
        assert [rows[i].t for i in range(3)] == [10.0, None, 12.0]
        assert (rows[1].f.x, rows[1].f.k) == (1.0, 1)
        assert rows[2].f is not None and (rows[2].f.x, rows[2].f.k) == (None, None)

    def test_simplify_guards(self, spark):
        from lyft_presto_spark.operators import geo_scalar as GS
        zig = self._pts((0, 0), (1, 2), (2, 0))
        assert _one(spark, GS.simplify_geometry(zig, -1.0)) is None
        assert _one(spark, GS.simplify_geometry(zig, float("nan"))) is None
        two = self._pts((0, 0), (4, 0))
        assert len(_one(spark, GS.simplify_geometry(two, 99.0))) == 2

    def test_simplify_closed_ring_span(self, spark):
        # First == last vertex: the zero-length chord branch must not div/0.
        from lyft_presto_spark.operators import geo_scalar as GS
        ring = self._pts((0, 0), (4, 0), (4, 4), (0, 4), (0, 0))
        s = _one(spark, GS.simplify_geometry(ring, 1.0))
        assert [(p.x, p.y) for p in s][0] == (0.0, 0.0)
        assert len(s) >= 3  # far corners survive any sane tolerance


class TestConvexClip:
    """Sutherland-Hodgman convex intersection + inclusion-exclusion areas
    (stIntersection:1019 / stUnion:675 / stSymDifference:1099 area
    analogs)."""

    def _pts(self, *pts):
        return F.array(*[G.st_point(F.lit(float(x)), F.lit(float(y))) for x, y in pts])

    def _sq(self, x0, y0, s=4):
        return self._pts((x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s), (x0, y0))

    def test_partial_overlap(self, spark):
        from lyft_presto_spark.operators import geo_scalar as GS
        inter = GS.st_intersection_convex(self._sq(0, 0), self._sq(2, 2))
        assert _one(spark, G.st_area(inter)) == pytest.approx(4.0)
        assert _one(spark, GS.st_union_area_convex(self._sq(0, 0), self._sq(2, 2))) == pytest.approx(28.0)
        assert _one(spark, GS.st_sym_difference_area_convex(self._sq(0, 0), self._sq(2, 2))) == pytest.approx(24.0)
        assert _one(spark, GS.st_difference_area_convex(self._sq(0, 0), self._sq(2, 2))) == pytest.approx(12.0)

    def test_orientation_normalized(self, spark):
        # A clockwise-spelled clip ring must clip identically.
        from lyft_presto_spark.operators import geo_scalar as GS
        cw = self._pts((2, 2), (2, 6), (6, 6), (6, 2), (2, 2))
        assert _one(spark, G.st_area(GS.st_intersection_convex(self._sq(0, 0), cw))) == pytest.approx(4.0)

    def test_containment_and_disjoint(self, spark):
        from lyft_presto_spark.operators import geo_scalar as GS
        inner = self._sq(1, 1, s=1)
        assert _one(spark, G.st_area(GS.st_intersection_convex(self._sq(0, 0), inner))) == pytest.approx(1.0)
        assert _one(spark, G.st_area(GS.st_intersection_convex(inner, self._sq(0, 0)))) == pytest.approx(1.0)
        assert _one(spark, F.size(GS.st_intersection_convex(self._sq(0, 0), self._sq(10, 10)))) == 0

    def test_corner_touch_is_empty(self, spark):
        from lyft_presto_spark.operators import geo_scalar as GS
        assert _one(spark, F.size(GS.st_intersection_convex(self._sq(0, 0), self._sq(4, 4)))) == 0

    def test_triangle_clip_both_ways(self, spark):
        from lyft_presto_spark.operators import geo_scalar as GS
        tri = self._pts((0, 0), (4, 0), (0, 4), (0, 0))
        assert _one(spark, G.st_area(GS.st_intersection_convex(self._sq(0, 0), tri))) == pytest.approx(8.0)
        assert _one(spark, G.st_area(GS.st_intersection_convex(tri, self._sq(0, 0)))) == pytest.approx(8.0)

    def test_null_degrades(self, spark):
        from lyft_presto_spark.operators import geo_scalar as GS
        nul = F.lit(None).cast("array<struct<x:double,y:double>>")
        assert _one(spark, GS.st_intersection_convex(nul, self._sq(0, 0))) is None


class TestRelateDe9im:
    """DE-9IM for envelope pairs (stRelate:1153) against the
    literature-standard matrices, plus the pattern predicate."""

    def _env(self, x0, y0, x1, y1):
        return G.st_envelope(F.lit(float(x0)), F.lit(float(y0)), F.lit(float(x1)), F.lit(float(y1)))

    CASES = [
        ((0, 0, 4, 4), "2FFF1FFF2"),    # equals
        ((2, 2, 6, 6), "212101212"),    # area/area overlap
        ((4, 4, 8, 8), "FF2F01212"),    # corner point-touch
        ((5, 5, 9, 9), "FF2FF1212"),    # disjoint
        ((1, 1, 2, 2), "212FF1FF2"),    # contains
        ((-1, -1, 5, 5), "2FF1FF212"),  # within
        ((4, 0, 8, 4), "FF2F11212"),    # shared-edge touch (BB dim 1)
        ((0, 0, 2, 4), "212F11FF2"),    # inside sharing an edge
    ]

    def test_known_matrices(self, spark):
        a = self._env(0, 0, 4, 4)
        for box, want in self.CASES:
            got = _one(spark, G.st_relate_envelopes(a, self._env(*box)))
            assert got == want, f"{box}: {got} != {want}"

    def test_transpose_symmetry(self, spark):
        # relate(B, A) is the matrix transpose of relate(A, B).
        a = self._env(0, 0, 4, 4)
        t = [0, 3, 6, 1, 4, 7, 2, 5, 8]
        for box, _ in self.CASES:
            ab = _one(spark, G.st_relate_envelopes(a, self._env(*box)))
            ba = _one(spark, G.st_relate_envelopes(self._env(*box), a))
            assert ba == "".join(ab[i] for i in t), f"{box}: {ab} vs {ba}"

    def test_pattern_predicate(self, spark):
        a = self._env(0, 0, 4, 4)
        rel = G.st_relate_envelopes(a, self._env(2, 2, 6, 6))
        assert _one(spark, G.st_relate_matches(rel, "T*T***T**")) is True   # overlaps
        assert _one(spark, G.st_relate_matches(rel, "T*F**FFF*")) is False  # equals
        assert _one(spark, G.st_relate_matches(rel, "*********")) is True
        with pytest.raises(ValueError):
            G.st_relate_matches(rel, "TT")

    def test_named_predicates_agree_with_primitives(self, spark):
        # The DE-9IM-derived predicates must agree with the direct
        # envelope primitives on a sweep of offsets.
        a = self._env(0, 0, 4, 4)
        for off in (0, 1, 3, 4, 5):
            bx = self._env(off, off, off + 4, off + 4)
            rel = G.st_relate_envelopes(a, bx)
            via_rel = _one(spark, ~G.st_relate_matches(rel, "FF*FF****"))
            direct = _one(spark, G.st_intersects_envelopes(a, bx))
            assert via_rel == direct, f"off={off}"
            assert _one(spark, G.st_relate_matches(rel, "T*T***T**")) == _one(
                spark, G.st_overlaps_envelopes(a, bx)
            ), f"off={off}"

    def test_degenerate_yields_null(self, spark):
        a = self._env(0, 0, 4, 4)
        flat = self._env(1, 1, 1, 3)
        assert _one(spark, G.st_relate_envelopes(a, flat)) is None


def test_interior_rings_and_geometries_accessors(spark):
    """stInteriorRings (:540) and stGeometries (:690) wrappers."""
    ring = lambda *ps: F.array(*[G.st_point(F.lit(float(x)), F.lit(float(y))) for x, y in ps])  # noqa: E731
    shell = ring((0, 0), (4, 0), (4, 4), (0, 4), (0, 0))
    hole = ring((1, 1), (2, 1), (2, 2), (1, 2), (1, 1))
    poly = F.array(shell, hole)
    holes = _one(spark, G.st_interior_rings(poly))
    assert len(holes) == 1 and len(holes[0]) == 5
    assert _one(spark, F.size(G.st_interior_rings(F.array(shell)))) == 0
    assert _one(spark, F.size(G.st_geometries(poly))) == 2


class TestSphericalGeography:
    """to_spherical_geography / ST_Distance(geography) / ST_Area(geography)
    (GeoFunctions.java:290,1489,1519) against closed-form sphere values."""

    def _pts(self, *pts):
        return F.array(*[G.st_point(F.lit(float(x)), F.lit(float(y))) for x, y in pts])

    def test_octant_triangle_excess(self, spark):
        # (0,0) (90,0) (0,90) covers one octant: excess exactly pi/2.
        octant = self._pts((0, 0), (90, 0), (0, 90), (0, 0))
        assert _one(spark, G.st_spherical_excess(octant)) == pytest.approx(math.pi / 2)
        assert _one(spark, G.st_spherical_area(octant)) == pytest.approx(
            4 * math.pi * G.EARTH_RADIUS_M**2 / 8, rel=1e-12
        )

    def test_small_triangle_approaches_planar(self, spark):
        tri = self._pts((0, 0), (1, 0), (0, 1), (0, 0))
        planar = 0.5 * math.radians(1) ** 2
        assert _one(spark, G.st_spherical_excess(tri)) == pytest.approx(planar, rel=1e-3)

    def test_equator_to_pole_distance(self, spark):
        d = _one(
            spark,
            G.st_spherical_distance(
                G.st_point(F.lit(0.0), F.lit(0.0)), G.st_point(F.lit(0.0), F.lit(90.0))
            ),
        )
        assert d == pytest.approx(math.pi / 2 * G.EARTH_RADIUS_M, rel=1e-12)

    def test_range_gate(self, spark):
        ok = G.st_point(F.lit(12.0), F.lit(34.0))
        bad_lon = G.st_point(F.lit(200.0), F.lit(0.0))
        bad_lat = G.st_point(F.lit(0.0), F.lit(91.0))
        assert _one(spark, G.to_spherical_geography(ok)) is not None
        assert _one(spark, G.to_spherical_geography(bad_lon)) is None
        assert _one(spark, G.to_spherical_geography(bad_lat)) is None

    def test_open_ring_and_degenerate(self, spark):
        # open spelling (no closing vertex) must equal the closed one
        closed = self._pts((0, 0), (10, 0), (0, 10), (0, 0))
        opened = self._pts((0, 0), (10, 0), (0, 10))
        a = _one(spark, G.st_spherical_excess(closed))
        b = _one(spark, G.st_spherical_excess(opened))
        assert a == pytest.approx(b, rel=1e-12)
        assert _one(spark, G.st_spherical_excess(self._pts((0, 0), (1, 1)))) is None


class TestGeometryFromTextDispatcher:
    """Generic stGeometryFromText (:173) tagged union + dispatching
    measures."""

    def _g(self, w):
        return G.st_geometry_from_text(F.lit(w))

    def test_tags_and_members(self, spark):
        g = _one(spark, self._g("LINESTRING (0 0, 3 4)"))
        assert g.tag == "ST_LineString" and g.point is None and len(g.line) == 2
        g = _one(spark, self._g("POLYGON ((0 0, 1 0, 1 1, 0 0))"))
        assert g.tag == "ST_Polygon" and g.line is None and len(g.polygon) == 1

    def test_dispatching_measures(self, spark):
        cases = [
            ("POINT (1 2)", 0.0, 0.0, 1),
            ("LINESTRING (0 0, 3 4)", 0.0, 5.0, 2),
            # Polygon rings count WITHOUT the closing vertex, matching the
            # reference's Esri getPointCount (GeoFunctions.java:822).
            ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))", 16.0, 0.0, 4),
            ("POLYGON ((0 0, 6 0, 6 6, 0 6, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))", 35.0, 0.0, 8),
            ("MULTILINESTRING ((0 0, 3 4), (0 0, 0 2))", 0.0, 7.0, 4),
            ("MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), ((5 5, 7 5, 7 7, 5 7, 5 5)))", 5.0, 0.0, 8),
        ]
        for w, area, length, np_ in cases:
            g = self._g(w)
            assert _one(spark, G.st_area_any(g)) == pytest.approx(area), w
            assert _one(spark, G.st_length_any(g)) == pytest.approx(length), w
            assert _one(spark, G.st_num_points_any(g)) == np_, w

    def test_garbage_all_null(self, spark):
        g = _one(spark, self._g("NONSENSE (1 2)"))
        assert g.tag is None and g.point is None and g.polygon is None
        assert _one(spark, G.st_area_any(self._g("garbage"))) is None


class TestPolygonPairPredicates:
    """Polygon/polygon stIntersects/stTouches/stOverlaps/stContains/
    stEquals/stDisjoint (GeoFunctions.java:1066-1180) composed from the
    planar primitives — TestGeoFunctions.java relation vectors re-derived
    on integer grids."""

    def _ring(self, *pts):
        return F.array(
            *[
                F.struct(
                    F.lit(float(x)).alias("x"), F.lit(float(y)).alias("y")
                )
                for x, y in pts
            ]
        )

    def _sq(self, x0, y0, s, cw=False):
        c = [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s), (x0, y0)]
        return self._ring(*(c[::-1] if cw else c))

    def _rel(self, spark, a, b):
        row = (
            spark.range(1)
            .select(
                G.st_intersects_polygons(a, b).alias("i"),
                G.st_touches_polygons(a, b).alias("t"),
                G.st_overlaps_polygons(a, b).alias("o"),
                G.st_covers_polygon(a, b).alias("cab"),
                G.st_covers_polygon(b, a).alias("cba"),
                G.st_equals_polygons(a, b).alias("e"),
                G.st_disjoint_polygons(a, b).alias("d"),
            )
            .collect()[0]
        )
        return (row.i, row.t, row.o, row.cab, row.cba, row.e, row.d)

    def test_strict_containment(self, spark):
        a, b = self._sq(0, 0, 4), self._sq(1, 1, 2)
        assert self._rel(spark, a, b) == (True, False, False, True, False, False, False)
        assert self._rel(spark, b, a) == (True, False, False, False, True, False, False)

    def test_proper_overlap(self, spark):
        a, b = self._sq(0, 0, 4), self._sq(3, 3, 2)
        assert self._rel(spark, a, b) == (True, False, True, False, False, False, False)

    def test_corner_touch(self, spark):
        a, b = self._sq(0, 0, 4), self._sq(4, 4, 2)
        assert self._rel(spark, a, b) == (True, True, False, False, False, False, False)

    def test_edge_touch(self, spark):
        a, b = self._sq(0, 0, 4), self._sq(4, 0, 2)
        assert self._rel(spark, a, b) == (True, True, False, False, False, False, False)

    def test_disjoint(self, spark):
        a, b = self._sq(0, 0, 4), self._sq(5, 5, 2)
        assert self._rel(spark, a, b) == (False, False, False, False, False, False, True)

    def test_equal_any_orientation(self, spark):
        a = self._sq(0, 0, 4)
        for cw in (False, True):
            b = self._sq(0, 0, 4, cw=cw)
            assert self._rel(spark, a, b) == (
                True, False, False, True, True, True, False
            ), f"cw={cw}"

    def test_partial_edge_slide(self, spark):
        # B slides along A's right edge, sticking out: still a touch.
        a, b = self._sq(0, 0, 4), self._sq(4, 2, 4)
        assert self._rel(spark, a, b) == (True, True, False, False, False, False, False)

    def test_concave_notch_overlap(self, spark):
        # Concave L-shape vs a square poking into the notch: proper
        # crossings witness the overlap exactly.
        l_shape = self._ring(
            (0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4), (0, 0)
        )
        probe = self._sq(1, 1, 2)  # [1,3]^2 crosses the notch boundary
        i, t, o, cab, cba, e, d = self._rel(spark, l_shape, probe)
        assert (i, t, o, e, d) == (True, False, True, False, False)

    def test_convexity_helper(self, spark):
        assert _one(spark, G.st_ring_convex(self._sq(0, 0, 4))) is True
        concave = self._ring((0, 0), (4, 0), (4, 2), (2, 2), (2, 4), (0, 4), (0, 0))
        assert _one(spark, G.st_ring_convex(concave)) is False

    def test_point_on_ring(self, spark):
        sq = self._sq(0, 0, 4)
        on = F.struct(F.lit(4.0).alias("x"), F.lit(2.0).alias("y"))
        off = F.struct(F.lit(2.0).alias("x"), F.lit(2.0).alias("y"))
        assert _one(spark, G.st_point_on_ring(sq, on)) is True
        assert _one(spark, G.st_point_on_ring(sq, off)) is False


class TestSphericalPole:
    """Pole-enclosure correction (computeSphericalExcess:1629-1633) and
    geography ST_Length, against an independent Girard angle-sum oracle."""

    def _ring(self, *pts):
        return F.array(
            *[
                F.struct(
                    F.lit(float(x)).alias("x"), F.lit(float(y)).alias("y")
                )
                for x, y in pts
            ]
        )

    @staticmethod
    def _girard_excess(lonlats):
        """Spherical excess via interior-angle sum (Girard) — published
        math structurally different from the bearing-walk implementation."""
        import numpy as np

        def unit(lon, lat):
            lo, la = math.radians(lon), math.radians(lat)
            return np.array(
                [math.cos(la) * math.cos(lo), math.cos(la) * math.sin(lo), math.sin(la)]
            )

        v = [unit(*p) for p in lonlats]
        n = len(v)
        total = 0.0
        for i in range(n):
            a, b, c = v[(i - 1) % n], v[i], v[(i + 1) % n]
            # tangent vectors at b toward a and c
            ta = a - np.dot(a, b) * b
            tc = c - np.dot(c, b) * b
            cosang = np.dot(ta, tc) / (np.linalg.norm(ta) * np.linalg.norm(tc))
            total += math.acos(max(-1.0, min(1.0, cosang)))
        return total - (n - 2) * math.pi

    def test_course_delta_classifies(self, spark):
        # A small low-latitude triangle turns through a full ±2π.
        tri = self._ring((0, 0), (10, 0), (0, 10), (0, 0))
        cd = _one(spark, G.st_spherical_course_delta(tri))
        assert abs(abs(cd) - 2 * math.pi) < 1e-9
        # A square of meridian crossings around the north pole turns ~0.
        polar = self._ring((0, 80), (90, 80), (180, 80), (-90, 80), (0, 80))
        cd = _one(spark, G.st_spherical_course_delta(polar))
        assert abs(cd) < math.pi / 4

    def test_pole_excess_matches_girard(self, spark):
        for lat in (60.0, 75.0, 85.0):
            pts = [(0, lat), (90, lat), (180, lat), (-90, lat)]
            polar = self._ring(*pts, pts[0])
            got = _one(spark, G.st_spherical_excess(polar))
            want = self._girard_excess(pts)
            assert got == pytest.approx(want, rel=1e-9), lat

    def test_pole_symmetry_and_monotonicity(self, spark):
        def area(lat):
            pts = [(0, lat), (90, lat), (180, lat), (-90, lat), (0, lat)]
            return _one(spark, G.st_spherical_area(self._ring(*pts)))

        assert area(80.0) == pytest.approx(area(-80.0), rel=1e-12)
        assert area(85.0) < area(80.0) < area(60.0)

    def test_non_pole_unchanged_by_correction(self, spark):
        tri = self._ring((0, 0), (10, 0), (0, 10), (0, 0))
        with_c = _one(spark, G.st_spherical_excess(tri))
        without = _one(spark, G.st_spherical_excess(tri, pole_correction=False))
        assert with_c == without

    def test_spherical_length_meridian(self, spark):
        # A meridian arc of 10 degrees: length = R * 10deg exactly.
        line = self._ring((30, 0), (30, 10))
        got = _one(spark, G.st_spherical_length(line))
        want = math.radians(10) * 6371.01 * 1000
        assert got == pytest.approx(want, rel=1e-9)
        # Two-edge polyline sums the edges.
        two = self._ring((30, 0), (30, 10), (30, 25))
        assert _one(spark, G.st_spherical_length(two)) == pytest.approx(
            math.radians(25) * 6371.01 * 1000, rel=1e-9
        )


class TestGeometryCollection:
    """GEOMETRYCOLLECTION parse + accessors (stNumGeometries:659,
    stGeometryN:738, stGeometries:780) over the tagged-union model."""

    GC = (
        "GEOMETRYCOLLECTION (POINT (1 2), LINESTRING (0 0, 3 4), "
        "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)))"
    )

    def _coll(self, w=None):
        return G.st_collection_from_wkt(F.lit(w or self.GC))

    def test_parse_and_count(self, spark):
        assert _one(spark, G.st_collection_num_geometries(self._coll())) == 3

    def test_geometry_n(self, spark):
        g2 = _one(spark, G.st_collection_geometry_n(self._coll(), 2))
        assert g2.tag == "ST_LineString" and len(g2.line) == 2
        assert _one(spark, G.st_collection_geometry_n(self._coll(), 4)) is None
        assert _one(spark, G.st_collection_geometry_n(self._coll(), 0)) is None

    def test_collection_measures(self, spark):
        assert _one(spark, G.st_collection_area(self._coll())) == pytest.approx(4.0)
        assert _one(spark, G.st_collection_length(self._coll())) == pytest.approx(5.0)
        assert _one(spark, G.st_collection_num_points(self._coll())) == 1 + 2 + 4

    def test_multipolygon_member(self, spark):
        w = (
            "GEOMETRYCOLLECTION (MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0)), "
            "((5 5, 7 5, 7 7, 5 7, 5 5))), POINT (9 9))"
        )
        coll = self._coll(w)
        assert _one(spark, G.st_collection_num_geometries(coll)) == 2
        assert _one(spark, G.st_collection_area(coll)) == pytest.approx(5.0)
        g1 = _one(spark, G.st_collection_geometry_n(coll, 1))
        assert g1.tag == "ST_MultiPolygon"

    def test_garbage_is_null(self, spark):
        assert _one(spark, self._coll("GEOMETRYCOLLECTION ()")) is None
        assert _one(spark, self._coll("POINT (1 2)")) is None
        assert _one(spark, self._coll("GEOMETRYCOLLECTION (POINT (1 2) junk)")) is None

    def test_type_tag(self, spark):
        assert (
            _one(spark, G.st_geometry_type_wkt(F.lit(self.GC)))
            == "ST_GeomCollection"
        )


class TestStaticPolygonPredicates:
    """The unrolled (construction-time-shape) polygon predicates must agree
    with the HOF forms: st_intersects_convex_static (separating axis) and
    st_intersects_polygons_static (generic witnesses) vs
    st_intersects_polygons, over random and exact-touch square/diamond
    pairs in both windings."""

    def _frame(self, spark):
        import random

        rnd = random.Random(11)
        rows = [
            (
                rnd.uniform(0, 20), rnd.uniform(0, 20), 1 + rnd.random() * 3,
                rnd.uniform(0, 20), rnd.uniform(0, 20), 0.5 + rnd.random() * 2,
            )
            for _ in range(400)
        ]
        # exact integer touch/containment/corner cases
        rows += [
            (0.0, 0.0, 4.0, 6.0, 2.0, 2.0),   # vertex touches edge
            (0.0, 0.0, 4.0, 2.0, 2.0, 1.0),   # contained
            (0.0, 0.0, 2.0, 5.0, 5.0, 1.0),   # disjoint
            (0.0, 0.0, 2.0, 2.0, 4.0, 2.0),   # corner contact
            (0.0, 0.0, 2.0, 4.0, 0.0, 2.0),   # touch at (2,0)
        ]
        return spark.createDataFrame(
            rows, "x0 double, y0 double, s double, cx double, cy double, r double"
        )

    def test_static_forms_agree_with_hof(self, spark):
        df = self._frame(spark)
        x0, y0, s = F.col("x0"), F.col("y0"), F.col("s")
        cx, cy, r = F.col("cx"), F.col("cy"), F.col("r")
        A = [(x0, y0), (x0 + s, y0), (x0 + s, y0 + s), (x0, y0 + s)]
        B = [(cx + r, cy), (cx, cy + r), (cx - r, cy), (cx, cy - r)]
        ring_a = F.array(*[G.st_point(x, y) for x, y in A + [A[0]]])
        ring_b = F.array(*[G.st_point(x, y) for x, y in B + [B[0]]])
        hof = G.st_intersects_polygons(ring_a, ring_b)
        assert df.where(G.st_intersects_convex_static(A, B) != hof).count() == 0
        assert df.where(G.st_intersects_polygons_static(A, B) != hof).count() == 0
        # winding-insensitive
        assert (
            df.where(G.st_intersects_convex_static(list(reversed(A)), B) != hof).count()
            == 0
        )
        assert (
            df.where(
                G.st_intersects_polygons_static(A, list(reversed(B))) != hof
            ).count()
            == 0
        )


class TestPiecesNullSemantics:
    """ADVICE r7: a struct-returning pandas UDF carries no Arrow row
    validity, so NULL-operand rows used to arrive as non-NULL structs with
    all-NULL fields and st_pieces_geometry_type's NULL branch never fired.
    The F.when wrap in st_intersection_pieces/st_intersection_any plus the
    polys-field guard must make NULL in -> NULL out actually hold."""

    def _pieces_df(self, spark):
        from lyft_presto_spark.operators import geo_scalar as GS

        sq = "array(array(named_struct('x',0.0d,'y',0.0d), named_struct('x',4.0d,'y',0.0d), named_struct('x',4.0d,'y',4.0d), named_struct('x',0.0d,'y',4.0d)))"
        mpoly = "array<array<struct<x:double,y:double>>>"
        df = spark.sql(
            f"SELECT 1 AS id, {sq} AS ga, cast(null AS {mpoly}) AS gb "
            f"UNION ALL SELECT 2, {sq}, {sq}"
        )
        return df.select(
            "id", GS.st_intersection_pieces(F.col("ga"), F.col("gb")).alias("pc")
        )

    def test_null_operand_yields_null_struct(self, spark):
        rows = {r.id: r for r in self._pieces_df(spark).collect()}
        assert rows[1].pc is None
        assert rows[2].pc is not None and len(rows[2].pc.polys) == 1

    def test_geometry_type_null_branch_fires(self, spark):
        out = self._pieces_df(spark).select(
            "id", G.st_pieces_geometry_type(F.col("pc")).alias("t")
        )
        rows = {r.id: r.t for r in out.collect()}
        assert rows[1] is None
        assert rows[2] == "ST_Polygon"

    def test_collection_of_pieces_null_branch_fires(self, spark):
        out = self._pieces_df(spark).select(
            "id", G.st_collection_of_pieces(F.col("pc")).alias("c")
        )
        rows = {r.id: r.c for r in out.collect()}
        assert rows[1] is None
        assert rows[2] is not None and len(rows[2]) == 1

    def test_intersection_any_null_operand(self, spark):
        from lyft_presto_spark.operators import geo_scalar as GS

        g = spark.range(1).select(
            G.st_geometry_from_text(F.lit("POINT (1 1)")).alias("ga"),
            G.st_geometry_from_text(F.lit(None).cast("string")).alias("gb"),
        )
        pc = g.select(GS.st_intersection_any(F.col("ga"), F.col("gb")).alias("pc"))
        row = pc.select(G.st_pieces_geometry_type(F.col("pc")).alias("t")).collect()[0]
        assert row.t is None

    def test_degenerate_polygon_operand_is_empty_not_null(self):
        # ADVICE r7 (polygon_overlay:766): point/degenerate-polygon now
        # returns the empty pieces struct like the line/polygon kernel.
        from lyft_presto_spark.operators.polygon_overlay import intersection_any

        pt = {"tag": "ST_Point", "point": {"x": 1.0, "y": 1.0}, "line": None,
              "polygon": None}
        degen = {"tag": "ST_Polygon", "point": None, "line": None,
                 "polygon": [[{"x": 0.0, "y": 0.0}, {"x": 1.0, "y": 0.0}]]}
        assert intersection_any(pt, degen) == {
            "polys": [], "lines": [], "points": []
        }


def test_collection_from_wkt_flattens_one_nested_level(spark):
    """r10 stretch (VERDICT r9 #6), deepened r11 (VERDICT r10 #6): nested
    GEOMETRYCOLLECTION members flatten at parse time — union semantics
    are nesting-invariant — through THREE nesting levels (the chained
    regexp passes unwrap inside-out). Nesting beyond the codegen depth
    bound degrades to an opaque ST_GeomCollection member that downstream
    kernels NULL out (the reference throws on ANY collection operand,
    GeoFunctions.java:1153-1158)."""
    from pyspark.sql import functions as F

    from lyft_presto_spark.functions import geo as G

    r = spark.range(1).select(
        G.st_collection_from_wkt(F.lit(
            "GEOMETRYCOLLECTION (GEOMETRYCOLLECTION ("
            "POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1)), POINT (5 5)), "
            "LINESTRING (0 0, 1 1))"
        )).alias("nested"),
        G.st_collection_from_wkt(F.lit(
            "GEOMETRYCOLLECTION (POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1)), "
            "POINT (5 5), LINESTRING (0 0, 1 1))"
        )).alias("flat"),
        G.st_collection_from_wkt(F.lit(
            "GEOMETRYCOLLECTION (GEOMETRYCOLLECTION ("
            "GEOMETRYCOLLECTION (POINT (1 1))))"
        )).alias("two_deep"),
        G.st_collection_from_wkt(F.lit(
            "GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (GEOMETRYCOLLECTION ("
            "GEOMETRYCOLLECTION (GEOMETRYCOLLECTION (POINT (1 1))))))"
        )).alias("four_deep"),
        G.st_collection_from_wkt(F.lit(
            "GEOMETRYCOLLECTION (MULTIPOLYGON (((0 0, 1 0, 1 1, 0 1, 0 0), "
            "(0.2 0.2, 0.8 0.2, 0.8 0.8, 0.2 0.8, 0.2 0.2))), POINT (2 2))"
        )).alias("holed_mp"),
    ).collect()[0]
    assert [m["tag"] for m in r["nested"]] == [
        "ST_Polygon", "ST_Point", "ST_LineString",
    ]
    assert r["nested"] == r["flat"]  # flattening == the hand-flat twin
    # two-deep now flattens all the way to the simple member (r11)
    assert [m["tag"] for m in r["two_deep"]] == ["ST_Point"]
    assert r["two_deep"][0]["point"].asDict() == {"x": 1.0, "y": 1.0}
    # beyond the depth-3 bound: one opaque collection member, NULL payloads
    assert [m["tag"] for m in r["four_deep"]] == ["ST_GeomCollection"]
    assert r["four_deep"][0]["polygon"] is None
    # depth-3 members (holed MULTIPOLYGON) are untouched by the flattener
    assert [m["tag"] for m in r["holed_mp"]] == ["ST_MultiPolygon", "ST_Point"]
