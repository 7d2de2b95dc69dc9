"""Engine geometry kernels vs closed-form shapes and the independent
numpy oracle (SURVEY.md §5 layer 1)."""

import os
import pathlib
import signal
import subprocess
import sys

import numpy as np
import pytest

from geospatial_object_matching_spark.functions import geometry as G
from geospatial_object_matching_spark.sources import pages as P
from oracle import reference_oracle as O


def box_mesh(w=2.0, l=3.0, h=4.0):
    """Closed box as floor+roof+4 walls; surfaces as (coords, offsets)."""
    ring = np.array([[0, 0], [w, 0], [w, l], [0, l]], dtype=float)
    surfaces = [
        np.column_stack([ring[::-1], np.zeros(4)]),
        np.column_stack([ring, np.full(4, h)]),
    ]
    for i in range(4):
        j = (i + 1) % 4
        surfaces.append(
            np.array(
                [
                    [*ring[i], 0.0],
                    [*ring[j], 0.0],
                    [*ring[j], h],
                    [*ring[i], h],
                ]
            )
        )
    coords = np.concatenate(surfaces).ravel()
    offsets = np.cumsum([0] + [len(s) for s in surfaces])
    return coords, offsets


class TestClosedForm:
    def test_box_area_volume_perimeter(self):
        w, l, h = 2.0, 3.0, 4.0
        coords, offsets = box_mesh(w, l, h)
        assert G.mesh_area(coords, offsets) == pytest.approx(2 * w * l + 2 * (w + l) * h)
        assert G.mesh_volume(coords, offsets) == pytest.approx(w * l * h)
        assert G.mesh_perimeter(coords, offsets) == pytest.approx(2 * (w + l))

    def test_hull_3d_volume_cube_with_interior_points(self):
        cube = np.array(
            [[x, y, z] for x in (0, 1) for y in (0, 1) for z in (0, 1)], dtype=float
        )
        rng = np.random.default_rng(7)
        interior = rng.uniform(0.05, 0.95, (40, 3))
        pts = np.vstack([cube, interior])
        assert G.convex_hull_3d_volume(pts) == pytest.approx(1.0, rel=1e-9)

    def test_hull_3d_volume_tetrahedron(self):
        tet = np.array([[0, 0, 0], [1, 0, 0], [0, 1, 0], [0, 0, 1]], dtype=float)
        assert G.convex_hull_3d_volume(tet) == pytest.approx(1.0 / 6.0)

    def test_hull_3d_volume_rotated_scaled(self):
        cube = np.array(
            [[x, y, z] for x in (0, 2) for y in (0, 3) for z in (0, 5)], dtype=float
        )
        theta = 0.73
        R = np.array(
            [
                [np.cos(theta), -np.sin(theta), 0],
                [np.sin(theta), np.cos(theta), 0],
                [0, 0, 1],
            ]
        )
        assert G.convex_hull_3d_volume(cube @ R.T + 100.0) == pytest.approx(
            30.0, rel=1e-8
        )

    def test_hull_3d_degenerate_coplanar(self):
        flat = np.array([[0, 0, 0], [1, 0, 0], [0, 1, 0], [1, 1, 0], [0.5, 0.5, 0]])
        assert G.convex_hull_3d_volume(flat) == 0.0

    def test_hull_2d_perimeter_square_with_interior(self):
        rng = np.random.default_rng(3)
        pts = np.vstack(
            [np.array([[0, 0], [4, 0], [4, 4], [0, 4]]), rng.uniform(0.5, 3.5, (30, 2))]
        )
        assert G.convex_hull_2d_perimeter(pts) == pytest.approx(16.0)

    def test_hull_3d_matches_oracle_on_random_clouds(self):
        rng = np.random.default_rng(11)
        for n in (8, 20, 50):
            pts = rng.normal(0, 10, (n, 3))
            assert G.convex_hull_3d_volume(pts) == pytest.approx(
                O.hull_3d_volume(pts), rel=1e-7
            )


class TestPropertiesVsOracle:
    @pytest.fixture(scope="class")
    def fixture_objects(self):
        pdf = P.generate_pages_pdf(30, seed=42)
        return O.object_dicts_from_pages(pdf)

    @pytest.mark.parametrize("log1p", [True, False])
    def test_all_25_properties_match(self, fixture_objects, log1p):
        checked = 0
        for obj_type in ("cands", "index"):
            for obj_id, rec in fixture_objects[obj_type].items():
                mesh = rec["mesh"]
                coords = np.concatenate([np.asarray(s) for s in mesh]).ravel()
                offsets = np.cumsum([0] + [len(s) for s in mesh])
                engine = G.compute_properties_object(coords, offsets, log1p=log1p)
                oracle = O.properties_of_object(rec, log1p=log1p)
                for name in O.PROPERTY_NAMES:
                    assert engine[name] == pytest.approx(
                        oracle[name], rel=1e-9, abs=1e-12
                    ), f"{name} mismatch for {obj_type}/{obj_id}"
                checked += 1
        assert checked >= 50

    def test_generator_determinism_and_row_invariant(self):
        a = P.generate_pages_pdf(10, seed=42)
        b = P.generate_pages_pdf(10, seed=42)
        assert list(a["url"]) == list(b["url"])
        assert list(a["text"]) == list(b["text"])
        c = P.generate_pages_pdf(10, seed=43)
        assert list(a["text"]) != list(c["text"])

    def test_min_surfaces_respected(self, fixture_objects):
        for obj_type in ("cands", "index"):
            for rec in fixture_objects[obj_type].values():
                assert 10 <= len(rec["mesh"]) <= 30


@pytest.mark.parametrize("coretype", ["Prescott", "Haswell", "SkylakeX"])
def test_oracle_agrees_under_each_blas_kernel(coretype):
    """``TestPropertiesVsOracle`` passes whichever OpenBLAS kernel the host
    would pick: the oracle's cancellation-heavy sums must not go through
    BLAS, whose summation order differs between kernels."""
    repo = pathlib.Path(__file__).resolve().parents[1]
    env = dict(os.environ, OPENBLAS_CORETYPE=coretype)
    run = subprocess.run(
        [
            sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
            "tests/test_geometry.py::TestPropertiesVsOracle",
        ],
        cwd=repo, env=env, capture_output=True, text=True, timeout=600,
    )
    if run.returncode == -signal.SIGILL:
        pytest.skip(f"this CPU cannot run the {coretype} kernel")
    assert run.returncode == 0, run.stdout[-4000:] + run.stderr[-2000:]


class TestRound3Exactness:
    """Round-3 additions: the hull is EXACT on the shared snap lattice, so
    engine and oracle must agree bit-for-bit (no tolerance); the batched
    property kernel must agree with the per-object kernel; and the
    independent expected-parquet oracle must actually CATCH a kernel bug
    (the round-2 G8 hull bug slipped through the then-golden tier)."""

    def test_hull_bit_identical_to_oracle_on_degenerate_sets(self):
        rng = np.random.default_rng(7)
        for trial in range(120):
            n = int(rng.integers(4, 30))
            kind = trial % 6
            pts = rng.uniform(-100, 100, size=(n, 3))
            if kind == 1:          # near-coplanar jitter
                pts[:, 2] = rng.choice([0.0, 1.19e-05, -1e-5, 5.0], size=n)
            elif kind == 2:        # two exact facade planes
                pts[: n // 2, 0] = 0.0
                pts[n // 2 :, 1] = 7.0
            elif kind == 3:        # grid-snapped coplanar-heavy
                pts = np.round(pts * 2) / 2
            elif kind == 4:        # collinear + one off-line point
                t = rng.uniform(-1, 1, size=n)
                pts = np.outer(t, [1.0, 2.0, 3.0])
                pts[-1] += [0, 0, 1.0]
            elif kind == 5:        # box + on-face points
                pts = np.array(
                    [[x, y, z] for x in (0, 10) for y in (0, 8) for z in (0, 4)],
                    dtype=float,
                )
                pts = np.vstack([pts, rng.uniform(0, 1, (n, 3)) * [10, 8, 0]])
            ve = G.convex_hull_3d_volume(pts)
            vo = O.hull_3d_volume(pts)
            assert ve == vo, (trial, kind, ve, vo)

    def test_hull_recorded_counterexample_round2(self):
        """The Hypothesis-found G8 failure (round-2 verdict): scale cubic
        invariance on a near-coplanar 7-point set."""
        p = np.array(
            [
                (0.0, 0.0, 1.0),
                (0.0, -2.0, -7.0),
                (0.0, -7.0, 0.0),
                (0.0, -7.0, 1.19073486328125e-05),
                (0.0, -7.0, -1.0),
                (1.19073486328125e-05, 0.0, 0.0),
                (-1.0, 0.0, 0.0),
            ]
        )
        v0 = G.convex_hull_3d_volume(p)
        v1 = G.convex_hull_3d_volume(p * 3.0)
        assert abs(v1 - v0 * 27.0) <= 1e-6 * max(1.0, v0 * 27.0)

    def test_batch_kernel_matches_per_object(self):
        pdf = P.generate_pages_pdf(25, seed=3)
        objs = O.object_dicts_from_pages(pdf)
        cl, ol = [], []
        for t in ("cands", "index"):
            for rec in objs[t].values():
                cl.append(
                    np.concatenate(
                        [np.asarray(s, dtype=np.float64).ravel() for s in rec["mesh"]]
                    )
                )
                ol.append(
                    np.cumsum([0] + [len(s) for s in rec["mesh"]]).astype(np.int64)
                )
        for log1p in (True, False):
            batch = G.compute_properties_batch(cl, ol, log1p=log1p)
            for i in range(len(cl)):
                ref = G.compute_properties_object(cl[i], ol[i], log1p=log1p)
                for k, v in ref.items():
                    bv = float(batch[k][i])
                    if np.isnan(v):
                        assert np.isnan(bv), (i, k)
                    elif np.isinf(v):
                        assert bv == v, (i, k)
                    else:
                        assert abs(bv - v) <= 1e-9 * max(1.0, abs(v)), (i, k, v, bv)

    def test_independent_properties_oracle_catches_kernel_bug(self, monkeypatch):
        """Perturb one kernel value the way a real regression would and
        assert the promoted independent oracle (tools/gen_expected.py::
        expected_geo_properties) DISAGREES — i.e. the driver row would go
        red.  A golden-tier oracle cannot fail this way (it captures the
        engine's own output), which is how the round-2 G8 bug hid."""
        import importlib
        tools_dir = __import__("os").path.join(
            __import__("os").path.dirname(__import__("os").path.dirname(__file__)),
            "tools",
        )
        import sys as _sys
        _sys.path.insert(0, tools_dir)
        try:
            gen = importlib.import_module("gen_expected")
        finally:
            _sys.path.remove(tools_dir)
        pdf = P.generate_pages_pdf(8, seed=42)
        objs = O.object_dicts_from_pages(pdf)
        prop_dict = {p: {"cands": {}, "index": {}} for p in O.PROPERTY_NAMES}
        for t in ("cands", "index"):
            for oid, rec in objs[t].items():
                props = O.properties_of_object(rec, log1p=True)
                for p in O.PROPERTY_NAMES:
                    prop_dict[p][t][oid] = props[p]
        expected = gen.expected_geo_properties(prop_dict)

        # engine side, healthy: must agree bit-for-bit after spark_round(6)
        cl, ol, ids = [], [], []
        for t in ("cands", "index"):
            for oid, rec in objs[t].items():
                cl.append(
                    np.concatenate(
                        [np.asarray(s, dtype=np.float64).ravel() for s in rec["mesh"]]
                    )
                )
                ol.append(
                    np.cumsum([0] + [len(s) for s in rec["mesh"]]).astype(np.int64)
                )
                ids.append((oid, t))
        batch = G.compute_properties_batch(cl, ol, log1p=True)
        exp_by_key = {
            (r.obj_id, r.source): r for r in expected.itertuples(index=False)
        }
        for i, key in enumerate(ids):
            row = exp_by_key[key]
            for p in O.PROPERTY_NAMES:
                ev = getattr(row, p)
                bv = gen.spark_round(float(batch[p][i]), 6)
                assert (ev == bv) or (np.isnan(ev) and np.isnan(bv)), (key, p)

        # engine side, BROKEN hull (simulated regression): oracle must flag
        real_hull = G.convex_hull_3d_volume
        monkeypatch.setattr(
            G, "convex_hull_3d_volume",
            lambda pts, **kw: real_hull(pts, **kw) * 1.01,
        )
        broken = G.compute_properties_batch(cl, ol, log1p=True)
        diffs = 0
        for i, key in enumerate(ids):
            row = exp_by_key[key]
            for p in ("convex_hull_volume", "compactness_3d"):
                ev = getattr(row, p)
                bv = gen.spark_round(float(broken[p][i]), 6)
                if not ((ev == bv) or (np.isnan(ev) and np.isnan(bv))):
                    diffs += 1
        assert diffs > 0, "independent oracle failed to catch a 1% hull bug"
