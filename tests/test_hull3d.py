"""The compiled exact 3-D hull kernel (``functions/_hull3d.c``) against its
Python twin ``_hull_vol6_exact``, its fallback when no compiler is
available, and its loading from a zipped package (spark-submit
``--py-files``)."""

import hashlib
import os
import pathlib
import shutil
import subprocess
import sys
import tempfile

import numpy as np
import pytest

from geospatial_object_matching_spark.functions import geometry as G
from geospatial_object_matching_spark.operators.extract import parse_pages_batch
from geospatial_object_matching_spark.sources.pages import generate_pages_pdf

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QMAX = 1 << 30

needs_gcc = pytest.mark.skipif(
    shutil.which("gcc") is None, reason="no gcc: the C hull kernel cannot be built"
)


def _mesh_batch(n_entities, seed):
    parsed = list(parse_pages_batch(generate_pages_pdf(n_entities, seed)))
    return [p[5] for p in parsed], [p[6] for p in parsed]


def _lattice(q):
    return np.unique(np.asarray(q, dtype=np.int64).reshape(-1, 3), axis=0)


def _corpus():
    """Lattice point sets (int64, unique rows) that stress the exact
    predicates: real building meshes, heavy ties, degenerate clouds,
    near-duplicate corners at large scale, and coordinates at the bound."""
    rng = np.random.default_rng(2024)
    out = []
    for seed in (5, 6):
        for c in _mesh_batch(150, seed)[0]:
            q, _ = G.quantize_hull_points(np.asarray(c, dtype=np.float64).reshape(-1, 3))
            if q is not None:
                out.append(q)
    for _ in range(600):  # {0,1,2} grids: ties and coplanar facets everywhere
        out.append(_lattice(rng.integers(0, 3, (int(rng.integers(4, 28)), 3))))
    for _ in range(150):  # exactly coplanar: base + s*u + t*v
        base, u, v = rng.integers(-1000, 1000, (3, 3))
        st = rng.integers(-50, 50, (int(rng.integers(4, 30)), 2))
        out.append(_lattice(base + st[:, :1] * u + st[:, 1:] * v))
    for _ in range(100):  # exactly collinear: base + s*u
        base, u = rng.integers(-1000, 1000, (2, 3))
        s = rng.integers(-200, 200, (int(rng.integers(4, 20)), 1))
        out.append(_lattice(base + s * u))
    for _ in range(150):  # box corners at 1e6 scale, 1e-7 jitter
        lo = rng.uniform(-1e6, 1e6, 3)
        ext = rng.uniform(1.0, 1e6, 3)
        corners = np.array(
            [[x, y, z] for x in (0, 1) for y in (0, 1) for z in (0, 1)], dtype=float
        )
        pts = np.vstack([lo + corners * ext] * int(rng.integers(1, 4)))
        pts += rng.normal(0.0, 1e-7, pts.shape)
        q, _ = G.quantize_hull_points(pts)
        if q is not None:
            out.append(q)
    for _ in range(150):  # ±2**30 lattice corners: normals/offsets at bound
        n = int(rng.integers(4, 40))
        q = rng.choice([-QMAX, QMAX], (n, 3))
        k = int(rng.integers(0, n))
        q[:k] = rng.integers(-QMAX, QMAX + 1, (k, 3))
        q[-2:] -= rng.integers(0, 3, (2, 3)) * np.sign(q[-2:])
        out.append(_lattice(q))
    return out


@needs_gcc
def test_c_kernel_equals_python_twin():
    """Exact-integer equality of vol6 over the whole corpus."""
    assert G._hull3d_c() is not None
    corpus = _corpus()
    assert len(corpus) > 1500
    for i, q in enumerate(corpus):
        assert G._hull_vol6(q) == G._hull_vol6_exact(q), (i, q.tolist())


def test_unique_rows_equals_numpy_unique():
    """The lattice dedup in ``quantize_hull_points`` returns exactly
    ``np.unique(q, axis=0)``: same rows, same order, signed coordinates."""
    rng = np.random.default_rng(3)
    for n in (1, 4, 30, 200):
        for step in (1, QMAX // 2):
            for _ in range(20):
                q = rng.integers(-2, 3, (n, 3)).astype(np.int64) * step
                np.testing.assert_array_equal(G._unique_rows(q), np.unique(q, axis=0))


@needs_gcc
@pytest.mark.parametrize("bad", [QMAX + 1, -QMAX - 1, 1 << 40])
def test_c_kernel_rejects_out_of_range(bad):
    assert G._hull3d_c() is not None
    q = np.array([[0, 0, 0], [1, 0, 0], [0, 1, 0], [0, 0, 1], [0, bad, 0]])
    with pytest.raises(ValueError, match="outside"):
        G._hull_vol6(q)
    with pytest.raises(ValueError, match="expected"):
        G._hull_vol6(q[:, :2])


def _bits(cols):
    return {k: np.asarray(v, dtype=np.float64).view(np.int64) for k, v in cols.items()}


@needs_gcc
def test_no_compiler_falls_back_bit_identical(monkeypatch, tmp_path):
    """Without gcc (and no cached build) the Python kernel runs and every
    property keeps its bits."""
    cl, ol = _mesh_batch(60, 9)
    want = _bits(G.compute_properties_batch(cl, ol, log1p=True))
    assert G._hull3d_c() is not None
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(G.shutil, "which", lambda name: None)
    G._hull3d_c.cache_clear()
    try:
        got = _bits(G.compute_properties_batch(cl, ol, log1p=True))
        assert G._hull3d_c() is None
    finally:
        G._hull3d_c.cache_clear()
    assert got.keys() == want.keys()
    for k in want:
        if k.startswith("aligned_bounding_box_"):
            # these differ in the last bits between repeated calls in one
            # process on either kernel, so they are compared as values;
            # none of them depends on the hull
            np.testing.assert_allclose(
                got[k].view(np.float64), want[k].view(np.float64), rtol=1e-13, err_msg=k
            )
        else:
            np.testing.assert_array_equal(got[k], want[k], err_msg=k)


@needs_gcc
def test_failed_compile_or_load_falls_back(monkeypatch, tmp_path):
    """A compiler that fails, or a cached library that cannot be loaded,
    yields None (the Python kernel) instead of raising."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    false = shutil.which("false")
    monkeypatch.setattr(G.shutil, "which", lambda name: false)
    assert G._load_hull3d() is None
    assert os.listdir(tmp_path) == []
    # a library at the cache path is loaded without compiling; this one is
    # garbage (never dlopen-ed before, so no cached handle can mask it)
    src = pathlib.Path(G.__file__).with_name("_hull3d.c").read_bytes()
    so = tmp_path / f"gom-hull3d-{hashlib.sha256(src).hexdigest()[:16]}.so"
    so.write_bytes(b"not a shared object")
    assert G._load_hull3d() is None


@needs_gcc
def test_kernel_builds_from_zipped_package(tmp_path):
    """Imported from a zip the way spark-submit ``--py-files`` ships the
    package, the loader still reads the C source and builds the kernel."""
    archive = shutil.make_archive(
        str(tmp_path / "gom"), "zip", REPO_ROOT, "geospatial_object_matching_spark"
    )
    code = (
        "import sys\n"
        "sys.path.insert(0, sys.argv[1])\n"
        "import numpy as np\n"
        "from geospatial_object_matching_spark.functions import geometry as G\n"
        "assert G.__file__.startswith(sys.argv[1]), G.__file__\n"
        "assert G._hull3d_c() is not None\n"
        "cube = np.array([[x, y, z] for x in (0, 2) for y in (0, 3) for z in (0, 4)], float)\n"
        "print(G.convex_hull_3d_volume(cube))\n"
    )
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    res = subprocess.run(
        [sys.executable, "-c", code, archive],
        cwd=tmp_path,
        env=dict(os.environ, TMPDIR=str(tmp)),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert res.returncode == 0, res.stderr
    assert float(res.stdout) == pytest.approx(24.0, rel=1e-9)
    assert any(p.startswith("gom-hull3d-") for p in os.listdir(tmp))
