"""Hierarchical cell / tile kernels (vectorized numpy).

Web-Mercator "slippy map" tiling (public OSM formula) stands in for H3/S2:
at zoom ``z`` the world is a 2^z × 2^z grid; ``cell_id`` packs
``(zoom, x, y)`` into one int64 so it behaves like an H3/S2 index
(hierarchical: parent = child cell at zoom-1 via bit shift).

Also here: ray-casting point-in-polygon and tile rasterization (exact
Sutherland–Hodgman polygon/tile clipping → coverage fraction).
"""

from __future__ import annotations

import numpy as np

MAX_ZOOM = 28  # 2*28 + 5 bits < 63


# --------------------------------------------------------------------------
# web-mercator tiles
# --------------------------------------------------------------------------


def lonlat_to_tile(lon: np.ndarray, lat: np.ndarray, zoom: int):
    """Slippy-map tile indices (vectorized). lat clamped to mercator range."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.clip(np.asarray(lat, dtype=np.float64), -85.05112878, 85.05112878)
    n = float(2**zoom)
    x = np.floor((lon + 180.0) / 360.0 * n)
    lat_rad = np.radians(lat)
    y = np.floor((1.0 - np.arcsinh(np.tan(lat_rad)) / np.pi) / 2.0 * n)
    x = np.clip(x, 0, n - 1).astype(np.int64)
    y = np.clip(y, 0, n - 1).astype(np.int64)
    return x, y


def pack_cell(x: np.ndarray, y: np.ndarray, zoom: int) -> np.ndarray:
    """cell_id = zoom(5b) | x(28b) | y(28b) → int64."""
    return (
        (np.int64(zoom) << np.int64(56))
        | (np.asarray(x, dtype=np.int64) << np.int64(28))
        | np.asarray(y, dtype=np.int64)
    )


def unpack_cell(cell_id: np.ndarray):
    cell_id = np.asarray(cell_id, dtype=np.int64)
    zoom = (cell_id >> np.int64(56)) & np.int64(0x1F)
    x = (cell_id >> np.int64(28)) & np.int64((1 << 28) - 1)
    y = cell_id & np.int64((1 << 28) - 1)
    return x, y, zoom


def cell_parent(cell_id: np.ndarray, parent_zoom: int) -> np.ndarray:
    """Hierarchical parent cell (H3/S2-style containment)."""
    x, y, zoom = unpack_cell(cell_id)
    shift = (zoom - parent_zoom).astype(np.int64)
    return pack_cell(x >> shift, y >> shift, parent_zoom)


def lonlat_to_cell(lon, lat, zoom: int) -> np.ndarray:
    x, y = lonlat_to_tile(lon, lat, zoom)
    return pack_cell(x, y, zoom)


def neighbor_ring_cells(cell_id: int, ring: int = 1) -> list[int]:
    """All cells within Chebyshev distance ``ring`` (incl. self), clamped to
    the grid. Drives kNN neighbor-ring expansion."""
    x, y, zoom = unpack_cell(np.asarray([cell_id]))
    x, y, zoom = int(x[0]), int(y[0]), int(zoom[0])
    n = 1 << zoom
    out = []
    for dx in range(-ring, ring + 1):
        for dy in range(-ring, ring + 1):
            nx, ny = x + dx, y + dy
            if 0 <= ny < n:
                nx %= n  # wrap longitude
                out.append(int(pack_cell(np.int64(nx), np.int64(ny), zoom)))
    return out


def tile_bounds(x: int, y: int, zoom: int):
    """(lon_min, lat_min, lon_max, lat_max) of a tile (degrees)."""
    n = float(2**zoom)
    lon_min = x / n * 360.0 - 180.0
    lon_max = (x + 1) / n * 360.0 - 180.0

    def lat_of(yy):
        return float(np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * yy / n)))))

    return lon_min, lat_of(y + 1), lon_max, lat_of(y)


# --------------------------------------------------------------------------
# point-in-polygon (ray casting), vectorized over points
# --------------------------------------------------------------------------


def points_in_polygon(px: np.ndarray, py: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Even-odd ray-casting PIP. ``poly`` is (m,2), open ring. Boundary
    points follow the standard half-open crossing rule (deterministic)."""
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    x1 = poly[:, 0]
    y1 = poly[:, 1]
    x2 = np.roll(x1, -1)
    y2 = np.roll(y1, -1)
    inside = np.zeros(px.shape, dtype=bool)
    for i in range(len(poly)):
        cond = (y1[i] > py) != (y2[i] > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xin = (x2[i] - x1[i]) * (py - y1[i]) / (y2[i] - y1[i]) + x1[i]
        inside ^= cond & (px < xin)
    return inside


# --------------------------------------------------------------------------
# polygon clipping / tile coverage (raster<->vector)
# --------------------------------------------------------------------------


def _clip_halfplane(poly: list, inside_fn, intersect_fn) -> list:
    if not poly:
        return []
    out = []
    prev = poly[-1]
    prev_in = inside_fn(prev)
    for cur in poly:
        cur_in = inside_fn(cur)
        if cur_in:
            if not prev_in:
                out.append(intersect_fn(prev, cur))
            out.append(cur)
        elif prev_in:
            out.append(intersect_fn(prev, cur))
        prev, prev_in = cur, cur_in
    return out


def clip_polygon_to_box(poly: np.ndarray, xmin, ymin, xmax, ymax) -> np.ndarray:
    """Sutherland–Hodgman clip of a convex-or-simple polygon to a box."""
    p = [tuple(pt) for pt in np.asarray(poly, dtype=np.float64)]

    def interp(a, b, t):
        return (a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1]))

    for side in range(4):
        if side == 0:
            p = _clip_halfplane(
                p,
                lambda q: q[0] >= xmin,
                lambda a, b: interp(a, b, (xmin - a[0]) / (b[0] - a[0])),
            )
        elif side == 1:
            p = _clip_halfplane(
                p,
                lambda q: q[0] <= xmax,
                lambda a, b: interp(a, b, (xmax - a[0]) / (b[0] - a[0])),
            )
        elif side == 2:
            p = _clip_halfplane(
                p,
                lambda q: q[1] >= ymin,
                lambda a, b: interp(a, b, (ymin - a[1]) / (b[1] - a[1])),
            )
        else:
            p = _clip_halfplane(
                p,
                lambda q: q[1] <= ymax,
                lambda a, b: interp(a, b, (ymax - a[1]) / (b[1] - a[1])),
            )
    return np.asarray(p, dtype=np.float64).reshape(-1, 2)


def polygon_area_2d(poly: np.ndarray) -> float:
    """Shoelace area (absolute)."""
    return abs(polygon_area_signed(poly))


def polygon_area_signed(poly: np.ndarray) -> float:
    """Signed shoelace area (CCW positive).

    The ring is translated to its first vertex before the shoelace:
    at absolute coordinates far from the origin (lon/lat ~50°) a tiny
    clipped sliver's area is ~12 decimal digits below the x·y products,
    so the untranslated sum is pure cancellation noise whose value
    depends on summation order (np.dot vs a scalar loop diverged at
    1e-4 *relative*). Local coordinates make the products the same
    magnitude as the area; any evaluation order then agrees to ~1e-16
    relative — the property the independent tile oracle relies on."""
    if len(poly) < 3:
        return 0.0
    x = poly[:, 0] - poly[0, 0]
    y = poly[:, 1] - poly[0, 1]
    return float((np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))) / 2.0)


def clipped_area_exact(poly: np.ndarray, xmin, ymin, xmax, ymax) -> float:
    """Exact |simple polygon ∩ box| area via signed fan triangulation.

    Sutherland–Hodgman clipping of a *concave* subject ring produces
    degenerate bridge edges whose absolute shoelace over-counts. Instead,
    fan-triangulate from v0 (triangles are convex, so SH clips each one
    exactly and preserves orientation), clip each triangle against the box,
    and sum the *signed* clipped areas: overlapping fan triangles with
    opposite winding cancel exactly, yielding the true intersection area
    for any simple polygon.
    """
    poly = np.asarray(poly, dtype=np.float64)
    total = 0.0
    v0 = poly[0]
    for i in range(1, len(poly) - 1):
        tri = np.array([v0, poly[i], poly[i + 1]], dtype=np.float64)
        clipped = clip_polygon_to_box(tri, xmin, ymin, xmax, ymax)
        total += polygon_area_signed(clipped)
    return abs(total)


COVERAGE_EPS = 1e-12  # sliver-emission contract, see rasterize_footprint


def rasterize_footprint(poly_lonlat: np.ndarray, zoom: int):
    """Vector→raster: all tiles a footprint touches plus exact coverage
    fraction (clipped-area / tile-area). Returns list of
    (tile_x, tile_y, coverage). Exact for any simple ring (convex or
    concave) via signed fan-triangle clipping.

    Emission contract: a tile is emitted iff coverage > ``COVERAGE_EPS``
    (1e-12). Geometry that lies exactly on a tile boundary produces
    clipped areas of 0 ± a few ulps whose sign differs between equally
    valid float evaluation orders; a bare ``> 0`` cutoff therefore makes
    the emitted tile SET implementation-dependent. 1e-12 is orders above
    that noise floor and orders below any physical footprint sliver
    (at z18 it is a sub-micron² patch), so the set is stable across the
    engine kernel and the independent scalar oracle
    (tools/gen_expected.py::rasterize_footprint_s)."""
    poly = np.asarray(poly_lonlat, dtype=np.float64).reshape(-1, 2)
    xs, ys = lonlat_to_tile(poly[:, 0], poly[:, 1], zoom)
    out = []
    for tx in range(int(xs.min()), int(xs.max()) + 1):
        for ty in range(int(ys.min()), int(ys.max()) + 1):
            lon_min, lat_min, lon_max, lat_max = tile_bounds(tx, ty, zoom)
            cov_area = clipped_area_exact(poly, lon_min, lat_min, lon_max, lat_max)
            tile_area = (lon_max - lon_min) * (lat_max - lat_min)
            cov = cov_area / tile_area if tile_area > 0 else 0.0
            if cov > COVERAGE_EPS:
                out.append((tx, ty, float(cov)))
    return out
