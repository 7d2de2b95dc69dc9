"""Numpy oracle: straight-line transcription of the reference pipeline's
semantics (SURVEY.md §5 layer 1/2 ground truth).

Deliberately *not* the engine's code path: meshes are ragged
list-of-surfaces (like reference ``polygon_mesh``), loops are per-object,
hulls use brute-force algorithms (O(n^3) facet enumeration for 3-D, Graham
scan for 2-D) so engine kernels are checked against independent math.

Reference citations per function. Everything is deterministic.
"""

from __future__ import annotations

import base64
import math
import re

import numpy as np

GEO_RE = re.compile(
    r"GEO:(-?\d+\.\d+),(-?\d+\.\d+) ID:(\S+) SRC:(\S+) MESH:(\S+) RINGS:(\S+)"
)

PROPERTY_NAMES = [
    "bounding_box_width", "bounding_box_length", "area", "perimeter",
    "perimeter_ind", "volume", "convex_hull_area", "convex_hull_volume",
    "ave_centroid_distance", "height_diff", "num_floors", "axes_symmetry",
    "compactness_2d", "compactness_3d", "density", "elongation", "shape_ind",
    "hemisphericality", "fractality", "cubeness", "circumference",
    "aligned_bounding_box_width", "aligned_bounding_box_length",
    "aligned_bounding_box_height", "num_vertices",
]


# --------------------------------------------------------------------------
# parsing (independent of engine extract kernel)
# --------------------------------------------------------------------------


def parse_page_text(text: str):
    m = GEO_RE.search(text)
    if not m:
        return None
    lat, lon = float(m.group(1)), float(m.group(2))
    obj_id, source = m.group(3), m.group(4)
    coords = np.frombuffer(base64.b64decode(m.group(5)), dtype="<f4").astype(
        np.float64
    ).reshape(-1, 3)
    offsets = [int(v) for v in m.group(6).split(",")]
    mesh = [coords[offsets[i]: offsets[i + 1]].tolist() for i in range(len(offsets) - 1)]
    return {
        "obj_id": obj_id, "source": source, "lat": lat, "lon": lon, "mesh": mesh,
    }


def object_dicts_from_pages(pages_pdf, min_surfaces: int = 10):
    """pages pandas DF → {'cands': {id: rec}, 'index': {id: rec}} with
    vertices/centroid as in pipelines.py:132-151."""
    out = {"cands": {}, "index": {}}
    for _, row in pages_pdf.iterrows():
        rec = parse_page_text(row["text"])
        if rec is None or len(rec["mesh"]) < min_surfaces:
            continue
        all_pts = np.array([v for surf in rec["mesh"] for v in surf])
        vertices = np.unique(all_pts, axis=0)
        rec["vertices"] = vertices
        rec["centroid"] = vertices.mean(axis=0)
        out[rec["source"]][rec["obj_id"]] = rec
    return out


# --------------------------------------------------------------------------
# geometry oracles (brute force, independent algorithms)
# --------------------------------------------------------------------------


def polygon_area(polygon) -> float:
    """Fan-triangle area (object_properties.py:124-143)."""
    area = 0.0
    if len(polygon) < 3:
        return area
    for i in range(1, len(polygon) - 1):
        a, b, c = np.array(polygon[0]), np.array(polygon[i]), np.array(polygon[i + 1])
        area += 0.5 * np.linalg.norm(np.cross(b - a, c - a))
    return area


def mesh_area(mesh) -> float:
    return sum(polygon_area(s) for s in mesh)


def mesh_volume(mesh) -> float:
    """Signed fan tetra sum, abs (object_properties.py:203-215).

    The reference's ``np.dot(t0, np.cross(t1, t2))`` is written out as
    scalar products. The fan sum cancels heavily (vertices near 1e6,
    volumes near 1e2): every float evaluation is ~1e-7 relative off the
    exact volume, and the order of each term's three products alone moves
    the result by more than the 1e-9 test tolerance. ``np.dot`` leaves
    that order to the BLAS kernel the host CPU selects (OpenBLAS's
    Haswell ``ddot`` sums (x + y) + z, its SkylakeX one differs again), so
    the order is fixed here: (x + z) + y, the order of numpy's ``einsum``,
    which the engine's kernel uses."""
    volume = 0.0
    for polygon in mesh:
        for i in range(1, len(polygon) - 1):
            (ax, ay, az), (bx, by, bz), (cx, cy, cz) = (
                polygon[0], polygon[i], polygon[i + 1]
            )
            triple = (
                ax * (by * cz - bz * cy) + az * (bx * cy - by * cx)
            ) + ay * (bz * cx - bx * cz)
            volume += triple / 6.0
    return abs(volume)


def mesh_perimeter(mesh) -> float:
    """First all-at-min-z ring; fallback max-z floored at 1
    (object_properties.py:145-186)."""
    zs = [v[2] for s in mesh for v in s]
    min_z, max_z = min(zs), max(zs)

    def ring(ref):
        for polygon in mesh:
            if all(v[2] == ref for v in polygon):
                p = 0.0
                for i in range(len(polygon)):
                    p += np.linalg.norm(
                        np.array(polygon[i]) - np.array(polygon[(i + 1) % len(polygon)])
                    )
                return p
        return 0.0

    p = ring(min_z)
    if p == 0.0:
        p = max(ring(max_z), 1.0)
    return p


def hull_2d_perimeter(points) -> float:
    """Graham scan (angle sort) hull perimeter — independent of the engine's
    monotone chain. Matches scipy ConvexHull(2d).area."""
    pts = np.unique(np.asarray(points, dtype=np.float64)[:, :2], axis=0)
    if len(pts) <= 2:
        return 0.0 if len(pts) < 2 else 2.0 * float(np.linalg.norm(pts[1] - pts[0]))
    start = min(range(len(pts)), key=lambda i: (pts[i][1], pts[i][0]))
    p0 = pts[start]
    rest = np.delete(pts, start, axis=0)
    ang = np.arctan2(rest[:, 1] - p0[1], rest[:, 0] - p0[0])
    d = np.linalg.norm(rest - p0, axis=1)
    order = np.lexsort((d, ang))
    rest = rest[order]
    stack = [p0]
    for p in rest:
        while len(stack) >= 2:
            o, a = stack[-2], stack[-1]
            cross = (a[0] - o[0]) * (p[1] - o[1]) - (a[1] - o[1]) * (p[0] - o[0])
            if cross <= 1e-15:
                stack.pop()
            else:
                break
        stack.append(p)
    hull = np.array(stack)
    return float(np.linalg.norm(hull - np.roll(hull, -1, axis=0), axis=1).sum())


HULL_GRID = 1 << 30  # MUST match engine functions/geometry.py::HULL_GRID


def _hull_quantize(points):
    """Snap unique vertices to the documented 2**-30 relative lattice.

    Same spec as the engine's ``quantize_hull_points`` (the snap IS part of
    the ``convex_hull_volume`` semantics): unique -> center on the
    PITCH-SNAPPED mean (offset rounded to the nearest multiple of
    ``2**(floor(log2(max|coord|)) - 47)`` — exactly representable, so the
    centering commutes with pitch-multiple translations; see the engine's
    HULL_GRID docstring for the round-5 rationale) -> divide by max |coord|
    -> rint to the 2^30 grid -> unique.  Duplicated here (not imported) so
    the oracle stays implementation-independent; identical numpy calls give
    a bit-identical lattice.
    """
    pts = np.unique(np.asarray(points, dtype=np.float64), axis=0)
    if len(pts) < 4:
        return None, 0.0
    coord_max = float(np.abs(pts).max())
    if not (coord_max > 0.0 and np.isfinite(coord_max)):
        return None, 0.0
    m = pts.mean(axis=0)
    if not np.all(np.isfinite(m)):
        return None, 0.0
    e = max(math.floor(math.log2(coord_max)) - 47, -1074)
    pitch = math.ldexp(1.0, e)
    pts = pts - np.rint(m / pitch) * pitch
    scale = float(np.abs(pts).max())
    if not (scale > 0.0 and np.isfinite(scale)):
        return None, 0.0
    q = np.rint(pts * (float(HULL_GRID) / scale)).astype(np.int64)
    q = np.unique(q, axis=0)
    if len(q) < 4:
        return None, 0.0
    return q, scale / float(HULL_GRID)


def _iplane(P, i, j, k):
    """Exact integer plane through lattice points i,j,k: (nx,ny,nz,d)."""
    ax, ay, az = P[i]
    bx, by, bz = P[j]
    cx, cy, cz = P[k]
    ux, uy, uz = bx - ax, by - ay, bz - az
    vx, vy, vz = cx - ax, cy - ay, cz - az
    nx = uy * vz - uz * vy
    ny = uz * vx - ux * vz
    nz = ux * vy - uy * vx
    return nx, ny, nz, nx * ax + ny * ay + nz * az


# cyclic axis pairs so CCW in the kept plane == CCW seen from +dropped axis
_KEEP_AXES = {0: (1, 2), 1: (2, 0), 2: (0, 1)}


def hull_3d_volume(points) -> float:
    """Brute-force facet-enumeration hull volume on the 2**-30 snap lattice,
    with EXACT integer predicates — independent of the engine's incremental
    beneath-beyond hull, yet BIT-IDENTICAL to it by exactness (same lattice,
    same exact rational volume).

    Every non-collinear point triple whose plane has all points on one side
    (float prefilter + exact verification inside the guard band) is a
    supporting plane; facets are deduped by their exact on-plane point set,
    ordered by an exact 2-D monotone chain in the dominant-axis projection,
    fan-triangulated, and summed as exact integer determinants (divergence
    theorem).  O(n^4) with a vectorized float prefilter — meshes have
    <= ~120 unique vertices, and this runs only in tests / gen_expected.
    """
    q, cell = _hull_quantize(points)
    if q is None:
        return 0.0
    m = len(q)
    P = [(int(x), int(y), int(z)) for x, y, z in q]
    pf = q.astype(np.float64)

    # upfront exact degeneracy check: all points coplanar -> 0 (also removes
    # the outward-orientation ambiguity a doubly-supporting plane would have)
    base = None
    for j in range(1, m):
        for k in range(j + 1, m):
            nx, ny, nz, d = _iplane(P, 0, j, k)
            if nx or ny or nz:
                base = (nx, ny, nz, d)
                break
        if base is not None:
            break
    if base is None:
        return 0.0  # all collinear
    nx, ny, nz, d = base
    if all(nx * x + ny * y + nz * z - d == 0 for x, y, z in P):
        return 0.0  # all coplanar

    # Float prefilter guard: side = n.(p - a) with float n from int64 diffs
    # (|diff| <= 2^31, products <= 2^62 -> n err <~ 2^11 absolute), p - a
    # exact <= 2^31, dot fp error <~ 2^43.  2^46 carries an 8x margin.
    GUARD = 2.0 ** 46

    seen_triples: set = set()
    seen_facets: set = set()
    vol6 = 0
    for i in range(m):
        ai = pf[i]
        di = pf - ai  # (m,3)
        for j in range(i + 1, m):
            u = di[j]
            # normals of all triples (i,j,k) at once; sides of all points
            nrm = np.cross(np.broadcast_to(u, di.shape), di)  # (m,3)
            # (m points, m triples). A BLAS matmul, so its last bits vary
            # with the host's kernel; GUARD bounds the error of any
            # summation order, and every candidate is re-checked exactly
            # below, so the volume does not depend on those bits
            sides = di @ nrm.T
            smax = sides.max(axis=0)
            smin = sides.min(axis=0)
            cand = np.nonzero((smax <= GUARD) | (smin >= -GUARD))[0]
            for k in cand:
                k = int(k)
                if k <= j:
                    continue
                if (i, j, k) in seen_triples:
                    continue
                nx, ny, nz, d = _iplane(P, i, j, k)
                if nx == 0 and ny == 0 and nz == 0:
                    continue  # collinear triple
                vals = [nx * x + ny * y + nz * z - d for x, y, z in P]
                if any(v > 0 for v in vals) and any(v < 0 for v in vals):
                    continue  # prefilter false positive: not supporting
                onset = tuple(t for t, v in enumerate(vals) if v == 0)
                for t0 in range(len(onset)):
                    for t1 in range(t0 + 1, len(onset)):
                        for t2 in range(t1 + 1, len(onset)):
                            seen_triples.add((onset[t0], onset[t1], onset[t2]))
                if onset in seen_facets:
                    continue
                seen_facets.add(onset)
                if any(v > 0 for v in vals):  # n points inward -> flip
                    nx, ny, nz, d = -nx, -ny, -nz, -d
                # order the facet polygon: exact monotone chain in the
                # dominant-axis projection (drops collinear/interior points)
                drop = max(range(3), key=lambda t: abs((nx, ny, nz)[t]))
                a0, a1 = _KEEP_AXES[drop]
                pts2 = sorted(((P[t][a0], P[t][a1], t) for t in onset))
                ring = _monotone_chain_exact(pts2)
                if (nx, ny, nz)[drop] < 0:
                    ring = ring[::-1]
                if len(ring) < 3:
                    continue
                o = P[ring[0]]
                for t in range(1, len(ring) - 1):
                    b = P[ring[t]]
                    c = P[ring[t + 1]]
                    vol6 += (
                        o[0] * (b[1] * c[2] - b[2] * c[1])
                        + o[1] * (b[2] * c[0] - b[0] * c[2])
                        + o[2] * (b[0] * c[1] - b[1] * c[0])
                    )
    return float(abs(vol6)) / 6.0 * cell ** 3


def _monotone_chain_exact(pts2) -> list[int]:
    """Andrew monotone chain on exact integer 2-D points ``(x, y, idx)``
    (pre-sorted); returns original indices in CCW order, collinear points
    dropped."""
    if len(pts2) <= 2:
        return [t[2] for t in pts2]

    def half(seq):
        out = []
        for p in seq:
            while len(out) >= 2:
                o, a = out[-2], out[-1]
                if (a[0] - o[0]) * (p[1] - o[1]) - (a[1] - o[1]) * (p[0] - o[0]) <= 0:
                    out.pop()
                else:
                    break
            out.append(p)
        return out

    lower = half(pts2)
    upper = half(pts2[::-1])
    return [t[2] for t in lower[:-1] + upper[:-1]]


# --------------------------------------------------------------------------
# 25 properties (object_properties.py transcription)
# --------------------------------------------------------------------------


def properties_of_object(rec, log1p: bool = True) -> dict[str, float]:
    mesh = rec["mesh"]
    vertices = rec["vertices"]
    centroid = rec["centroid"]
    all_pts = np.array([v for surf in mesh for v in surf])
    ux = np.unique(all_pts[:, 0])
    uy = np.unique(all_pts[:, 1])
    uz = np.unique(all_pts[:, 2])

    raw_area = mesh_area(mesh)
    area = max(raw_area, 1.0)
    perimeter = mesh_perimeter(mesh)
    volume = mesh_volume(mesh)
    hull2 = hull_2d_perimeter(vertices)
    hull3 = hull_3d_volume(vertices)

    cov = np.cov(vertices, rowvar=False)
    eigenvalues, eigenvectors = np.linalg.eigh(cov)
    # projection in x, y, z order, not a BLAS matmul (see mesh_volume)
    aligned = (
        vertices[:, 0, None] * eigenvectors[0]
        + vertices[:, 1, None] * eigenvectors[1]
        + vertices[:, 2, None] * eigenvectors[2]
    )
    ext = aligned.max(axis=0) - aligned.min(axis=0)

    props = {
        "bounding_box_width": float(ux.max() - ux.min()),
        "bounding_box_length": float(uy.max() - uy.min()),
        "area": area,
        "perimeter": perimeter,
        "perimeter_ind": 2 * math.sqrt(math.pi * area) / perimeter,
        "volume": volume,
        "convex_hull_area": hull2,
        "convex_hull_volume": hull3,
        "ave_centroid_distance": float(
            np.mean([np.linalg.norm(np.array(v) - centroid) for v in vertices])
        ),
        "height_diff": float(uz.max() - uz.min()),
        "num_floors": float(len(set(uz.tolist()))),
        "axes_symmetry": float(np.mean([np.std(ux), np.std(uy), np.std(uz)])),
        "compactness_2d": area / hull2,
        "compactness_3d": volume / hull3,
        "density": area / perimeter,
        "elongation": float(np.sqrt(eigenvalues.max() / eigenvalues.min())),
        "shape_ind": perimeter / math.sqrt(4 * np.pi * area),
        "hemisphericality": 3 * math.sqrt(2) * math.sqrt(math.pi) * volume
        / (math.pow(area, 1.5)),
        "fractality": (
            1 - math.log(volume) / (1.5 * math.log(area))
            if volume > 0 and area != 1.0
            else float("nan")
        ),
        "cubeness": 6 * math.pow(volume, 2 / 3) / area,
        "circumference": 4 * math.pi * math.pow(3 * volume / (4 * math.pi), 2 / 3)
        / area,
        "aligned_bounding_box_width": float(ext[0]),
        "aligned_bounding_box_length": float(ext[1]),
        "aligned_bounding_box_height": float(ext[2]),
        "num_vertices": float(len(vertices)),
    }
    if log1p:
        props = {k: float(np.log1p(v)) for k, v in props.items()}
    return props


def property_dict_of(object_dict, log1p: bool = True):
    """{prop: {'cands': {id: val}, 'index': {id: val}}} (reference
    object_properties.py:39-67 layout)."""
    prop_dict = {p: {"cands": {}, "index": {}} for p in PROPERTY_NAMES}
    for obj_type in ["cands", "index"]:
        for obj_id, rec in object_dict[obj_type].items():
            props = properties_of_object(rec, log1p=log1p)
            for p in PROPERTY_NAMES:
                prop_dict[p][obj_type][obj_id] = props[p]
    return prop_dict


# --------------------------------------------------------------------------
# blocking oracle (classifier.py:224-233 + blocking.py semantics)
# --------------------------------------------------------------------------


def property_ratios(prop_dict):
    """index/cand ratio mean/std per property over matched ids, rounded 3,
    sorted by std ascending (classifier.py:224-233)."""
    out = {}
    for prop, d in prop_dict.items():
        ratios = [
            d["index"][i] / d["cands"][i]
            for i in d["index"].keys()
            if i in d["cands"]
        ]
        out[prop] = {
            "mean": round(float(np.mean(ratios)), 3),
            "std": round(float(np.std(ratios)), 3),
        }
    return dict(sorted(out.items(), key=lambda kv: kv[1]["std"]))


def robust_scale_fit(X: np.ndarray):
    """sklearn RobustScaler semantics: per-column median and IQR
    (linear-interpolated quartiles); zero IQR → scale 1 (blocking.py:107-112)."""
    center = np.percentile(X, 50, axis=0)
    q1 = np.percentile(X, 25, axis=0)
    q3 = np.percentile(X, 75, axis=0)
    scale = q3 - q1
    scale = np.where(scale == 0.0, 1.0, scale)
    return center, scale


def knn_join(cands: dict, index: dict, k: int, round_dists: int = 3):
    """Exact kNN with RobustScaler fit on cands (blocking.py:106-118),
    ties broken by (dist, index_id). Returns {cand_id: [(index_id, dist)]}."""
    cand_ids = list(cands.keys())
    index_ids = list(index.keys())
    Xc = np.array([cands[c] for c in cand_ids], dtype=np.float64)
    Xi = np.array([index[i] for i in index_ids], dtype=np.float64)
    if Xc.ndim == 1:
        Xc, Xi = Xc[:, None], Xi[:, None]
    center, scale = robust_scale_fit(Xc)
    Xc = (Xc - center) / scale
    Xi = (Xi - center) / scale
    out = {}
    k_eff = min(k, len(index_ids))
    for ci, cid in enumerate(cand_ids):
        d = np.linalg.norm(Xi - Xc[ci], axis=1)
        order = sorted(range(len(index_ids)), key=lambda j: (d[j], index_ids[j]))
        out[cid] = [
            (index_ids[j], round(float(d[j]), round_dists)) for j in order[:k_eff]
        ]
    return out


def bkafi_vectors(prop_dict, feature_order, dim, sdr_factors=None):
    """Top-``dim`` features (already sorted by criterion) → per-object
    vectors (blocking.py:154-174). ``sdr_factors`` maps feature → train
    mean ratio applied to the CANDS side only (sdr_factor=True run flag);
    None = factor 1.0 everywhere."""
    feats = feature_order[:dim]
    cands = {}
    index = {}
    for obj_type, store in (("cands", cands), ("index", index)):
        ids = prop_dict[feats[0]][obj_type].keys()
        for oid in ids:
            vals = [prop_dict[f][obj_type][oid] for f in feats]
            if sdr_factors is not None and obj_type == "cands":
                vals = [v * sdr_factors[f] for v, f in zip(vals, feats)]
            store[oid] = vals
    return cands, index


def candidate_pairs(nn: dict, k: int):
    """(cand, neighbor) pairs over top-k lists; pos iff ids equal
    (blocking.py:211-230)."""
    pos, neg = [], []
    for cid, lst in nn.items():
        for iid, _ in lst[:k]:
            (pos if cid == iid else neg).append((cid, iid))
    return pos, neg


def blocking_recall(nn: dict, cand_ids, index_ids, k: int) -> float:
    """|pos pairs| / |cands ∩ index| rounded 3 (pipelines.py:381-394)."""
    inter = set(cand_ids) & set(index_ids)
    pos, _ = candidate_pairs(nn, k)
    return round(len(set(pos)) / len(inter), 3)


# --------------------------------------------------------------------------
# matching oracle
# --------------------------------------------------------------------------


def ratio_feature(cand_val: float, index_val: float, max_ratio: float = 1000.0) -> float:
    """min(1000, round(c/i, 3)); div-by-zero → clip value
    (process_pairs.py:42-66 with numpy inf semantics)."""
    if index_val == 0.0:
        return max_ratio
    return min(max_ratio, round(cand_val / index_val, 3))


def pair_features(prop_dict, pairs):
    """{(cand,index): [25 ratio features in PROPERTY_NAMES order]}"""
    out = {}
    for c, i in pairs:
        out[(c, i)] = [
            ratio_feature(prop_dict[p]["cands"][c], prop_dict[p]["index"][i])
            for p in PROPERTY_NAMES
        ]
    return out


def matched_pair_distances(cands_vecs: dict, index_vecs: dict, matched_ids):
    """Scaled L2 distance per matched pair (bkafi_with_threshold.py:176-182):
    scaler fit on the matched cand vectors."""
    ids = list(matched_ids)
    Xc = np.array([cands_vecs[i] for i in ids], dtype=np.float64)
    Xi = np.array([index_vecs[i] for i in ids], dtype=np.float64)
    center, scale = robust_scale_fit(Xc)
    Xc = (Xc - center) / scale
    Xi = (Xi - center) / scale
    return np.linalg.norm(Xc - Xi, axis=1)


def percentile_thresholds(dists: np.ndarray, percentiles) -> dict[float, float]:
    """np.percentile (linear interp) per q (bkafi_with_threshold.py:131-134)."""
    return {p: float(np.percentile(dists, p * 100)) for p in percentiles}


def threshold_filter_stats(nn: dict, threshold: float, cand_ids, index_ids):
    """Filter neighbor lists by dist<=threshold; recall / cand_pairs /
    reduction ratio (bkafi_with_threshold.py:239-269)."""
    filtered = {
        cid: [(iid, d) for iid, d in lst if d <= threshold] for cid, lst in nn.items()
    }
    inter = set(cand_ids) & set(index_ids)
    recall = round(
        sum(
            1
            for oid in inter
            if oid in filtered and any(iid == oid for iid, _ in filtered[oid])
        )
        / len(inter),
        3,
    )
    cand_pairs_num = sum(len(lst) for lst in filtered.values())
    rr = round(1 - cand_pairs_num / (len(set(cand_ids)) * len(set(index_ids))), 8)
    return {
        "recall": recall,
        "cand_pairs_num": cand_pairs_num,
        "reduction_ratio": rr,
        "threshold_val": threshold,
    }
