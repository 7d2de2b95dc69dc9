"""Tiling, PIP, and coverage: invariants + planted ground truth."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geospatial_object_matching_spark.functions.cells import (
    cell_parent,
    clip_polygon_to_box,
    lonlat_to_cell,
    lonlat_to_tile,
    pack_cell,
    points_in_polygon,
    polygon_area_2d,
    rasterize_footprint,
    tile_bounds,
    unpack_cell,
)
from geospatial_object_matching_spark.operators.extract import extract_objects
from geospatial_object_matching_spark.operators.tiles import (
    footprints,
    pip_join,
    tile_assignments,
)
from geospatial_object_matching_spark.sources.pages import generate_pages_df


class TestCells:
    def test_pack_unpack_roundtrip(self):
        x = np.array([0, 5, 1000, (1 << 28) - 1], dtype=np.int64)
        y = np.array([3, 0, 99999, (1 << 28) - 1], dtype=np.int64)
        cid = pack_cell(x, y, 15)
        ux, uy, uz = unpack_cell(cid)
        assert (ux == x).all() and (uy == y).all() and (uz == 15).all()

    def test_tile_formula_known_point(self):
        # Greenwich at zoom 1 → east half, northern tile
        x, y = lonlat_to_tile(np.array([0.1]), np.array([51.5]), 1)
        assert (int(x[0]), int(y[0])) == (1, 0)

    def test_hierarchy(self):
        cid = lonlat_to_cell(np.array([4.3]), np.array([52.07]), 16)
        parent = cell_parent(cid, 14)
        x, y, z = unpack_cell(cid)
        px, py, pz = unpack_cell(parent)
        assert (pz == 14).all()
        assert (px == x >> 2).all() and (py == y >> 2).all()

    def test_tile_bounds_inverse(self):
        x, y = lonlat_to_tile(np.array([4.3]), np.array([52.07]), 12)
        lon_min, lat_min, lon_max, lat_max = tile_bounds(int(x[0]), int(y[0]), 12)
        assert lon_min <= 4.3 < lon_max
        assert lat_min <= 52.07 < lat_max


class TestPIPKernel:
    def test_unit_square(self):
        poly = np.array([[0, 0], [1, 0], [1, 1], [0, 1]], dtype=float)
        px = np.array([0.5, 1.5, -0.1, 0.99])
        py = np.array([0.5, 0.5, 0.5, 0.01])
        np.testing.assert_array_equal(
            points_in_polygon(px, py, poly), [True, False, False, True]
        )

    def test_concave_polygon(self):
        # U-shape: point in the notch is outside
        poly = np.array(
            [[0, 0], [3, 0], [3, 3], [2, 3], [2, 1], [1, 1], [1, 3], [0, 3]],
            dtype=float,
        )
        px = np.array([1.5, 0.5, 2.5])
        py = np.array([2.0, 2.0, 2.0])
        np.testing.assert_array_equal(
            points_in_polygon(px, py, poly), [False, True, True]
        )


class TestClip:
    def test_clip_area(self):
        tri = np.array([[0, 0], [1.5, 0], [0, 1.5]], dtype=float)
        clipped = clip_polygon_to_box(tri, 0, 0, 1, 1)
        # unit square minus the (0.5 × 0.5)/2 corner outside x+y<=1.5
        assert polygon_area_2d(clipped) == pytest.approx(0.875)

    def test_rasterize_conservation(self):
        rng = np.random.default_rng(5)
        for _ in range(5):
            ang = np.sort(rng.uniform(0, 2 * np.pi, 8))
            r = rng.uniform(0.0005, 0.002)
            poly = np.stack(
                [4.3 + r * np.cos(ang), 52.07 + r * np.sin(ang)], axis=1
            )
            tiles = rasterize_footprint(poly, 18)
            assert tiles
            total = 0.0
            for tx, ty, cov in tiles:
                lon_min, lat_min, lon_max, lat_max = tile_bounds(tx, ty, 18)
                total += cov * (lon_max - lon_min) * (lat_max - lat_min)
            assert total == pytest.approx(polygon_area_2d(poly), rel=1e-9)


class TestTileOperators:
    @pytest.fixture(scope="class")
    def objects(self, spark):
        pages = generate_pages_df(spark, 40, seed=42)
        return extract_objects(pages, zoom=15).persist()

    def test_tile_assignments(self, spark, objects):
        fp = footprints(objects.filter(F.col("source") == "cands")).persist()
        tiles = tile_assignments(fp, zoom=18).toPandas()
        assert len(tiles) > 0
        assert ((tiles["coverage"] > 0) & (tiles["coverage"] <= 1.0 + 1e-9)).all()
        # conservation per object: covered area == footprint area
        fp_pdf = fp.toPandas().set_index("obj_id")
        for oid, grp in tiles.groupby("obj_id"):
            ring = np.asarray(
                [list(p) for p in fp_pdf.loc[oid, "ring"]], dtype=np.float64
            )
            total = 0.0
            for _, row in grp.iterrows():
                b = tile_bounds(int(row["tile_x"]), int(row["tile_y"]), 18)
                total += row["coverage"] * (b[2] - b[0]) * (b[3] - b[1])
            assert total == pytest.approx(polygon_area_2d(ring), rel=1e-6)

    def test_pip_salting_changes_no_rows(self, spark, objects):
        """north_rule: salted-key skew splitting must be output-invariant —
        force every tile hot (threshold=0) and compare."""
        cands = objects.filter(F.col("source") == "cands")
        fp = footprints(cands).persist()
        pts = cands.select(F.col("obj_id").alias("point_id"), "lon", "lat")
        plain = pip_join(pts, fp, zoom=18).toPandas()
        salted = pip_join(
            pts, fp, zoom=18, salt_threshold=0, salt_buckets=4
        ).toPandas()
        key = lambda p: set(map(tuple, p[["point_id", "obj_id"]].values))
        assert key(plain) == key(salted)

    def test_pip_self_containment(self, spark, objects):
        """Every cands page point (= footprint center) lies inside its own
        footprint → PIP join must contain all (obj_id, obj_id) pairs."""
        cands = objects.filter(F.col("source") == "cands")
        fp = footprints(cands)
        pts = cands.select(F.col("obj_id").alias("point_id"), "lon", "lat")
        res = pip_join(pts, fp, zoom=18).toPandas()
        self_pairs = set(res[res["point_id"] == res["obj_id"]]["point_id"])
        all_ids = set(r[0] for r in cands.select("obj_id").collect())
        assert self_pairs == all_ids


def _gen_expected():
    import importlib
    import os
    import sys

    tools_dir = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    sys.path.insert(0, tools_dir)
    try:
        return importlib.import_module("gen_expected")
    finally:
        sys.path.remove(tools_dir)


class TestIndependentTileOracle:
    """Round-4 promotion: geo_tiles is independent-tier — the scalar spec
    rasterizer (tools/gen_expected.py::rasterize_footprint_s) must agree
    with the engine kernel after round(6) on real fixture rings, and must
    CATCH a simulated kernel regression (the TestRound3Exactness
    pattern)."""

    @pytest.fixture(scope="class")
    def rings(self):
        from oracle import reference_oracle as O
        from geospatial_object_matching_spark.sources.pages import (
            generate_pages_pdf,
        )

        gen = _gen_expected()
        pdf = generate_pages_pdf(12, seed=42)
        objs = O.object_dicts_from_pages(pdf)
        out = []
        for oid in objs["cands"]:
            ring = gen.ground_ring_lonlat(objs["cands"][oid]["mesh"])
            if ring is not None:
                out.append((oid, ring))
        assert len(out) >= 8
        return out

    def _tileset(self, raster):
        return {(tx, ty): round(cov, 6) for tx, ty, cov in raster}

    def test_oracle_parity_on_fixture_rings(self, rings):
        gen = _gen_expected()
        for oid, ring in rings:
            eng = self._tileset(rasterize_footprint(np.asarray(ring), 18))
            orc = self._tileset(gen.rasterize_footprint_s(ring.tolist(), 18))
            assert eng == orc, oid

    def test_oracle_catches_rasterizer_bug(self, rings):
        """A 0.1% coverage scaling (simulated area-kernel regression) must
        produce at least one post-round(6) disagreement."""
        gen = _gen_expected()
        diffs = 0
        for oid, ring in rings:
            eng = {
                (tx, ty): round(cov * 1.001, 6)
                for tx, ty, cov in rasterize_footprint(np.asarray(ring), 18)
            }
            orc = self._tileset(gen.rasterize_footprint_s(ring.tolist(), 18))
            if eng != orc:
                diffs += 1
        assert diffs > 0, "independent tile oracle missed a 0.1% area bug"
