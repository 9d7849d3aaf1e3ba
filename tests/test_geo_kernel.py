"""M0 unit tests: geobox/tile math, projections, Morton cells, PIP,
frozen extractor. Mirrors the reference's creation/layout assertions
(/root/reference/tests/test_creation.py:76-115) in hermetic form."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from smart_geocubes_spark.geo import (
    GeoBox,
    TileGrid,
    cell_decode,
    cell_encode,
    cell_parent,
    cell_ring,
    points_in_polygon,
    project,
    unproject,
)
from smart_geocubes_spark.geo.cells import ring_offsets
from smart_geocubes_spark.geo.geobox import arctic_4326_grid, polar_3413_grid
from smart_geocubes_spark.geo.projection import normalize_antimeridian
from smart_geocubes_spark.text import extract_text


class TestGeoBox:
    def test_extent_and_layout(self):
        grid = arctic_4326_grid()
        gb = grid.geobox
        assert gb.extent == (-180.0, 60.0, 180.0, 84.0)
        # chunk-aligned tile layout (mirrors test_creation.py:77-87)
        assert grid.n_tiles_x == 240
        assert grid.n_tiles_y == 16
        assert grid.tile_size == pytest.approx(1.5)

    def test_pixel_roundtrip(self):
        gb = arctic_4326_grid().geobox
        col, row = gb.xy_to_pixel(np.array([-180.0, 0.0, 179.985]), np.array([84.0 - 1e-9, 70.0, 60.015]))
        assert col.tolist() == [0, 12000, 23999]
        x, y = gb.pixel_center(col, row)
        c2, r2 = gb.xy_to_pixel(x, y)
        assert (c2 == col).all() and (r2 == row).all()

    def test_tile_id_deterministic(self):
        """Pinned tile-id assignment (north-rule invariant: identical ids
        for identical geometry)."""
        grid = arctic_4326_grid()
        lon = np.array([-180.0, -150.0, 0.0, 100.5, 179.9])
        lat = np.array([83.9, 65.0, 70.0, 78.0, 60.1])
        tx, ty = grid.xy_to_tile(lon, lat)
        assert tx.tolist() == [0, 20, 120, 187, 239]
        assert ty.tolist() == [0, 12, 9, 4, 15]
        tid = grid.tile_id(tx, ty)
        assert tid.tolist() == [0, 2900, 2280, 1147, 3839]

    def test_tiles_overlapping_bbox(self):
        grid = arctic_4326_grid()
        tiles = grid.tiles_overlapping_bbox(-1.0, 69.0, 2.0, 71.0)
        # lon -1..2 -> tx 119..121; lat 69..71 -> ty 8..10 => 3x3
        assert tiles.shape == (9, 2)
        assert tiles[:, 0].min() == 119 and tiles[:, 0].max() == 121
        assert tiles[:, 1].min() == 8 and tiles[:, 1].max() == 10
        # empty / out-of-extent
        assert grid.tiles_overlapping_bbox(-200, 85, -190, 89).shape == (0, 2)

    def test_tile_bounds_roundtrip(self):
        grid = polar_3413_grid()
        minx, miny, maxx, maxy = grid.tile_bounds(np.array([0, 12]), np.array([0, 24]))
        assert minx.tolist() == [-4_000_000.0, -4_000_000.0 + 12 * 320_000.0]
        assert maxy.tolist() == [4_000_000.0, 4_000_000.0 - 24 * 320_000.0]
        assert (maxx - minx == 320_000.0).all() and (maxy - miny == 320_000.0).all()


class TestProjection:
    def test_identity_4326(self):
        x, y = project(np.array([12.5]), np.array([60.0]), "EPSG:4326")
        assert x[0] == 12.5 and y[0] == 60.0

    def test_mercator_known_values(self):
        x, y = project(np.array([0.0, 180.0]), np.array([0.0, 0.0]), "EPSG:3857")
        assert x[0] == 0.0 and y[0] == 0.0
        assert x[1] == pytest.approx(20037508.342789244)

    def test_polar_3413_known_values(self):
        # Pole maps to origin; lon_0=-45 axis orientation.
        x, y = project(np.array([-45.0]), np.array([90.0]), "EPSG:3413")
        assert abs(x[0]) < 1e-6 and abs(y[0]) < 1e-6
        # At the true-scale parallel (70N) the projected radius equals the
        # parallel's real radius a*m(70) = a*cos(70)/sqrt(1-e^2 sin^2 70):
        # closed-form check independent of the t/t_c implementation.
        a, e2 = 6378137.0, 0.0066943799901413165
        m70 = np.cos(np.radians(70)) / np.sqrt(1 - e2 * np.sin(np.radians(70)) ** 2)
        x, y = project(np.array([-45.0]), np.array([70.0]), "EPSG:3413")
        assert x[0] == pytest.approx(0.0, abs=1e-6)
        assert y[0] == pytest.approx(-a * m70, abs=1e-6)
        # 90 degrees of longitude rotates onto +x axis
        x2, y2 = project(np.array([45.0]), np.array([70.0]), "EPSG:3413")
        assert x2[0] == pytest.approx(a * m70, abs=1e-6)
        assert abs(y2[0]) < 1e-6

    def test_3413_roundtrip(self):
        rng = np.random.default_rng(42)
        lon = rng.uniform(-180, 180, 500)
        lat = rng.uniform(55, 89.9, 500)
        x, y = project(lon, lat, "EPSG:3413")
        lon2, lat2 = unproject(x, y, "EPSG:3413")
        dlon = normalize_antimeridian(lon2 - lon)
        assert np.abs(dlon).max() < 1e-9
        assert np.abs(lat2 - lat).max() < 1e-9

    def test_mercator_roundtrip(self):
        rng = np.random.default_rng(7)
        lon = rng.uniform(-180, 180, 200)
        lat = rng.uniform(-85, 85, 200)
        x, y = project(lon, lat, "EPSG:3857")
        lon2, lat2 = unproject(x, y, "EPSG:3857")
        assert np.abs(lon2 - lon).max() < 1e-9
        assert np.abs(lat2 - lat).max() < 1e-9

    def test_antimeridian_normalize(self):
        lon = normalize_antimeridian(np.array([-185.0, 185.0, 180.0, -180.0, 0.0]))
        assert lon.tolist() == [175.0, -175.0, -180.0, -180.0, 0.0]


class TestCells:
    def test_encode_pinned(self):
        # res 4: 16x16 grid. lon=0,lat=0 -> ix=8, iy=8 -> morton=interleave
        cell = cell_encode(np.array([0.0]), np.array([0.0]), 4)
        ix, iy, res = cell_decode(cell)
        assert ix[0] == 8 and iy[0] == 8 and res[0] == 4
        # spread(8)=0b001000000, morton = s(8) | s(8)<<1 = 0b11000000 = 192
        assert (cell[0] & 0xFFFFFFFFFFFFFF) == 192

    def test_roundtrip_random(self):
        rng = np.random.default_rng(1)
        lon = rng.uniform(-180, 179.999, 1000)
        lat = rng.uniform(-89.999, 89.999, 1000)
        for res in (0, 1, 5, 12, 16):
            cell = cell_encode(lon, lat, res)
            ix, iy, r = cell_decode(cell)
            ix2, iy2 = np.floor((lon + 180) / 360 * (1 << res)).astype(np.int64), np.floor(
                (lat + 90) / 180 * (1 << res)
            ).astype(np.int64)
            n = (1 << res) - 1
            assert (r == res).all()
            assert (ix == np.clip(ix2, 0, n)).all()
            assert (iy == np.clip(iy2, 0, n)).all()

    def test_parent(self):
        lon, lat = np.array([12.3]), np.array([61.7])
        c12 = cell_encode(lon, lat, 12)
        c10 = cell_parent(c12, 2)
        assert (c10 == cell_encode(lon, lat, 10)).all()

    def test_rings(self):
        assert ring_offsets(0).shape == (1, 2)
        assert ring_offsets(1).shape == (8, 2)
        assert ring_offsets(3).shape == (24, 2)
        c = int(cell_encode(np.array([0.0]), np.array([0.0]), 8)[0])
        ring1 = cell_ring(c, 1)
        assert len(ring1) == 8
        ixs, iys, _ = cell_decode(ring1)
        ix0, iy0, _ = cell_decode(np.array([c]))
        assert np.abs(np.maximum(np.abs(ixs - ix0[0]), np.abs(iys - iy0[0]))).max() == 1

    def test_ring_antimeridian_wrap(self):
        # cell at ix=0 wraps to ix=n-1 across the antimeridian
        c = int(cell_encode(np.array([-179.99]), np.array([70.0]), 8)[0])
        ring1 = cell_ring(c, 1)
        ixs, _, _ = cell_decode(ring1)
        assert (ixs == 255).sum() == 3  # wrapped column present
        assert len(ring1) == 8


class TestPolyfill:
    def test_rectangle_closed_form(self):
        """For an axis-aligned rectangle polygon the cover is exactly
        the index window [floor(lo/d) .. floor(hi/d)] — no ray cast
        involved in the expectation."""
        from smart_geocubes_spark.geo.cells import cell_decode, cell_polyfill

        res = 6  # cells 5.625 x 2.8125 deg
        poly_x = np.array([10.1, 33.9, 33.9, 10.1])
        poly_y = np.array([40.2, 40.2, 55.8, 55.8])
        ids = cell_polyfill(poly_x, poly_y, res)
        ix, iy, r = cell_decode(ids)
        assert (r == res).all()
        ex_x = range(int((10.1 + 180) // 5.625), int((33.9 + 180) // 5.625) + 1)
        ex_y = range(int((40.2 + 90) // 2.8125), int((55.8 + 90) // 2.8125) + 1)
        assert sorted(zip(ix.tolist(), iy.tolist())) == sorted(
            (a, b) for a in ex_x for b in ex_y
        )

    def test_concave_excludes_notch_and_caps(self):
        from smart_geocubes_spark.geo.cells import cell_polyfill

        u_x = np.array([0.0, 40.0, 40.0, 25.0, 25.0, 15.0, 15.0, 0.0])
        u_y = np.array([0.0, 0.0, 50.0, 50.0, 15.0, 15.0, 50.0, 50.0])
        res = 7  # 2.8125 x 1.40625 deg cells
        ids = cell_polyfill(u_x, u_y, res)
        bbox = cell_polyfill(
            np.array([0.0, 40.0, 40.0, 0.0]),
            np.array([0.0, 0.0, 50.0, 50.0]),
            res,
        )
        assert 0 < len(ids) < len(bbox)  # notch cells excluded
        assert set(ids).issubset(set(bbox))
        with pytest.raises(ValueError, match="coarsen"):
            cell_polyfill(
                np.array([-179.0, 179.0, 179.0]),
                np.array([-89.0, -89.0, 89.0]),
                16,
            )


class TestPIP:
    def test_square(self):
        vx = np.array([0.0, 10.0, 10.0, 0.0])
        vy = np.array([0.0, 0.0, 10.0, 10.0])
        px = np.array([5.0, -1.0, 15.0, 5.0])
        py = np.array([5.0, 5.0, 5.0, 15.0])
        assert points_in_polygon(px, py, vx, vy).tolist() == [True, False, False, False]

    def test_concave(self):
        # U-shape: points in the notch are outside
        vx = np.array([0, 10, 10, 7, 7, 3, 3, 0], dtype=float)
        vy = np.array([0, 0, 10, 10, 3, 3, 10, 10], dtype=float)
        px = np.array([5.0, 1.5, 8.5, 5.0])
        py = np.array([8.0, 8.0, 8.0, 1.0])
        assert points_in_polygon(px, py, vx, vy).tolist() == [False, True, True, True]

    def test_diamond_matches_closed_form(self):
        rng = np.random.default_rng(3)
        cx, cy, rx, ry = 5.0, 60.0, 2.0, 1.0
        vx = np.array([cx, cx + rx, cx, cx - rx])
        vy = np.array([cy + ry, cy, cy - ry, cy])
        px = rng.uniform(cx - 3, cx + 3, 5000)
        py = rng.uniform(cy - 2, cy + 2, 5000)
        got = points_in_polygon(px, py, vx, vy)
        want = (np.abs(px - cx) / rx + np.abs(py - cy) / ry) < 1.0
        assert (got == want).all()


class TestRectPolygon:
    """rect x polygon intersection — the polygon-ROI refine kernel
    (geo/pip.py) and its generated-SQL mirror (the DuckDB oracle of
    chunk_plan_polygon)."""

    U_X = np.array([0.0, 10.0, 10.0, 7.0, 7.0, 3.0, 3.0, 0.0])
    U_Y = np.array([0.0, 0.0, 10.0, 10.0, 3.5, 3.5, 10.0, 10.0])

    def test_known_configurations(self):
        from smart_geocubes_spark.geo.pip import rects_intersect_polygon

        rects = np.array(
            [
                (4.0, 5.0, 6.0, 6.0),    # fully in the notch -> out
                (4.0, 1.0, 6.0, 2.0),    # inside bottom bar -> in
                (2.0, 5.0, 4.0, 6.0),    # straddles left notch wall -> in
                (-5.0, -5.0, 15.0, 15.0),  # polygon fully inside rect -> in
                (11.0, 0.0, 12.0, 10.0),   # right of polygon -> out
                (-2.0, -2.0, -1.0, -1.0),  # below-left, bbox-disjoint -> out
                (10.0, 10.0, 12.0, 12.0),  # touches corner vertex -> in
            ]
        )
        got = rects_intersect_polygon(
            rects[:, 0], rects[:, 1], rects[:, 2], rects[:, 3], self.U_X, self.U_Y
        )
        assert got.tolist() == [False, True, True, True, False, False, True]

    def test_numpy_matches_generated_sql(self):
        """The load-bearing property: the numpy kernel and the SQL the
        oracle runs must agree on EVERY rect, not just the query's
        grid — randomized cross-check through DuckDB."""
        import duckdb

        from smart_geocubes_spark.geo.pip import (
            rect_polygon_predicate_sql,
            rects_intersect_polygon,
        )

        rng = np.random.default_rng(7)
        n = 4000
        x0 = rng.uniform(-3, 11, n)
        y0 = rng.uniform(-3, 11, n)
        w = rng.uniform(0.1, 4, n)
        h = rng.uniform(0.1, 4, n)
        minx, miny, maxx, maxy = x0, y0, x0 + w, y0 + h
        want = rects_intersect_polygon(minx, miny, maxx, maxy, self.U_X, self.U_Y)
        pred = rect_polygon_predicate_sql(
            self.U_X, self.U_Y, "minx", "miny", "maxx", "maxy"
        )
        con = duckdb.connect()
        import pandas as pd

        con.register(
            "rects",
            pd.DataFrame(
                {"i": np.arange(n), "minx": minx, "miny": miny,
                 "maxx": maxx, "maxy": maxy}
            ),
        )
        got = (
            con.execute(f"SELECT ({pred}) AS hit FROM rects ORDER BY i")
            .fetchdf()["hit"].to_numpy()
        )
        assert (got == want).all()
        assert 0 < want.sum() < n  # fixture exercises both outcomes

    def test_parse_polygon_wkt_and_pairs(self):
        from smart_geocubes_spark.geo.pip import parse_polygon

        wx, wy = parse_polygon("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))")
        lx, ly = parse_polygon([(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)])
        assert wx.tolist() == lx.tolist() and wy.tolist() == ly.tolist()
        with pytest.raises(ValueError, match="single-ring"):
            parse_polygon("MULTIPOLYGON (((0 0, 1 0, 1 1)))")
        with pytest.raises(ValueError, match=">= 3"):
            parse_polygon([(0.0, 0.0), (1.0, 1.0)])
        with pytest.raises(ValueError, match="zero-length"):
            parse_polygon([(0.0, 0.0), (0.0, 0.0), (1.0, 1.0), (1.0, 0.0)])

    def test_grid_polygon_enumeration_concave(self):
        """Concave ROI keeps strictly fewer tiles than its bbox, and
        every kept/dropped decision matches the exact rect test."""
        grid = arctic_4326_grid()
        poly = [
            (-9.75, 62.25), (4.5, 62.25), (4.5, 69.75), (1.125, 69.75),
            (1.125, 64.875), (-6.375, 64.875), (-6.375, 69.75), (-9.75, 69.75),
        ]
        px = np.array([p[0] for p in poly])
        py = np.array([p[1] for p in poly])
        got = grid.tiles_overlapping_polygon(px, py)
        bbox = grid.tiles_overlapping_bbox(
            px.min(), py.min(), px.max(), py.max()
        )
        assert len(bbox) == 66 and len(got) == 54  # 4x3 notch excluded
        got_set = {tuple(t) for t in got}
        # notch interior tiles (tx 116..119, ty 9..11) are the dropped ones
        dropped = {(tx, ty) for tx in range(116, 120) for ty in range(9, 12)}
        assert {tuple(t) for t in bbox} - got_set == dropped


class TestExtractor:
    def test_golden_bytes(self):
        html = (
            b"<html><head><title>page 7</title><style>p{color:red}</style></head>"
            b"<body><script>var x=1;</script><p>doc 7 &amp; more</p>"
            b"<div>second&nbsp;line</div></body></html>"
        )
        text = extract_text(html)
        assert text == "page 7\ndoc 7 & more\nsecond line"
        # frozen invariant: pinned digest (byte-identical per input_hint)
        digest = hashlib.sha256(text.encode("utf-8")).hexdigest()
        assert digest == hashlib.sha256(b"page 7\ndoc 7 & more\nsecond line").hexdigest()

    def test_entities_and_numeric(self):
        assert extract_text(b"<p>a &lt;b&gt; &#65;&#x42;</p>") == "a <b> AB"

    def test_idempotent_and_pure(self):
        html = b"<html><body><h1>T</h1><p>one</p><p>two</p></body></html>"
        assert extract_text(html) == extract_text(html) == "T\none\ntwo"

    def test_none_and_empty(self):
        assert extract_text(None) == ""
        assert extract_text(b"") == ""
