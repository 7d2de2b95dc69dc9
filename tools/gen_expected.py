"""Materialize expected outputs for driver queries whose results DuckDB
cannot recompute from the raw parquet tables (the 15 round-1 ``no_oracle``
queries + the round-2 matching-quality lifecycle).

Two tiers, recorded per query in ``TIER``:

- ``independent``: computed HERE from first principles — the numpy
  reference oracle (``oracle/reference_oracle.py``) plus standalone
  reimplementations of the engine-defined hash/cell specs, with no engine
  kernel imports. A driver mismatch against these means an engine bug.
- ``golden``: the engine's own Spark output captured once under fixed
  seeds. The driver check then proves distributed re-execution stability
  (partitioning / Arrow / shuffle invariance and regression safety);
  formula-level correctness for these queries lives in the pytest
  numpy-oracle suites (value chains of unrounded float64 make bit-exact
  independent recomputation impossible — see SURVEY.md §5).

Outputs: ``oracle/expected/<name>.parquet``, one file per query holding
rows for every generated SF, tagged ``_n_li`` (the lineitem rowcount — the
only table whose count differs per SF) so ONE oracle-SQL string can select
its SF slice via
``WHERE _n_li = (SELECT count(*) FROM lineitem)``.

Usage: python tools/gen_expected.py [sf_dir ...]
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
from multiprocessing import Pool

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from oracle import reference_oracle as O  # noqa: E402
from geospatial_object_matching_spark.sources.pages import (  # noqa: E402
    LAT0,
    LON0,
    M_PER_DEG_LAT,
    M_PER_DEG_LON,
    generate_pages_pdf,
)

OUT_DIR = os.path.join(REPO, "oracle", "expected")

TIER = {
    "geo_extract": "independent",
    "geo_pip": "independent",
    "geo_blocking_recall": "independent",
    "geo_seed_mean_recall": "independent",
    "geo_centroid_knn": "independent",
    "minhash_sigs": "independent",
    "simhash_sigs": "independent",
    "lsh_buckets": "independent",
    "ivf_buckets": "independent",
    "media_features": "independent",
    "image_features": "independent",
    "geo_properties": "independent",
    "geo_blocking_pairs": "independent",
    "geo_match_decisions": "independent",
    "geo_pair_features": "independent",
    "geo_threshold_sweep": "independent",
    "geo_transform": "independent",
    "geo_tiles": "independent",
    "geo_partitions": "independent",
    "render_features": "independent",
    "geo_image_blocking": "independent",
    "geo_blocking_fi": "independent",
    # round 5: the last two learned-model quality tables promoted too —
    # every oracle is now independent (zero golden tier). The spec
    # transcriptions (RF/GB/MLP fits, CV grid, md5 split) live below with
    # per-step citations; engine↔sim exact-match is asserted in
    # tests/test_golden_flip.py.
    "geo_matching_quality": "independent",
    "contrastive_quality": "independent",
}

GOLDEN_QUERIES = sorted(k for k, v in TIER.items() if v == "golden")


# --------------------------------------------------------------------------
# independent primitives (deliberately NOT the engine's functions)
# --------------------------------------------------------------------------


def slippy_cell(lon: float, lat: float, zoom: int) -> int:
    """Public OSM slippy-map tile formula + the engine's documented
    (zoom<<56 | x<<28 | y) packing, in scalar libm math."""
    lat = min(max(lat, -85.05112878), 85.05112878)
    n = 1 << zoom
    x = int(math.floor((lon + 180.0) / 360.0 * n))
    lr = math.radians(lat)
    y = int(math.floor((1.0 - math.asinh(math.tan(lr)) / math.pi) / 2.0 * n))
    x = min(max(x, 0), n - 1)
    y = min(max(y, 0), n - 1)
    return (zoom << 56) | (x << 28) | y


def point_in_ring(px: float, py: float, ring: np.ndarray) -> bool:
    """Crossing-number PIP, scalar (independent of the engine's
    vectorized ray cast; same half-open rule)."""
    inside = False
    m = len(ring)
    for i in range(m):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % m]
        if (y1 > py) != (y2 > py):
            xin = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            if px < xin:
                inside = not inside
    return inside


def ground_ring_lonlat(mesh) -> np.ndarray | None:
    """First surface whose vertices all sit at min z, projected back to
    lon/lat with the fixture's equirectangular constants."""
    zs = [v[2] for s in mesh for v in s]
    min_z = min(zs)
    for surf in mesh:
        if len(surf) >= 3 and all(v[2] == min_z for v in surf):
            xy = np.asarray(surf, dtype=np.float64)[:, :2]
            lon = xy[:, 0] / M_PER_DEG_LON + LON0
            lat = xy[:, 1] / M_PER_DEG_LAT + LAT0
            return np.stack([lon, lat], axis=1)
    return None


# ---- engine-defined hash specs, reimplemented scalar-side ----------------

FNV_PRIME = 1099511628211
MASK64 = (1 << 64) - 1


def mix64(z: int) -> int:
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & MASK64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & MASK64
    return z ^ (z >> 31)


def shingle_hashes_py(text: str, k: int) -> list[int]:
    """Pure-python-int version of the shingle spec (utf-8 bytes →
    k-byte windows → polynomial FNV-prime hash mod 2^64 → splitmix64)."""
    b = (text or "").encode("utf-8", "ignore")
    if len(b) == 0:
        b = b"\x00"
    kk = min(k, len(b))
    powers = [pow(FNV_PRIME, kk - 1 - j, 1 << 64) for j in range(kk)]
    out = set()
    for i in range(len(b) - kk + 1):
        h = 0
        for j in range(kk):
            h = (h + b[i + j] * powers[j]) & MASK64
        out.add(mix64(h))
    return sorted(out)


def hash_params(n_hashes: int, seed: int):
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, np.iinfo(np.uint64).max, n_hashes, dtype=np.uint64)
    b = rng.integers(0, np.iinfo(np.uint64).max, n_hashes, dtype=np.uint64)
    return (a | np.uint64(1)).tolist(), b.tolist()


def to_i64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


# ---- tile-rasterizer spec, reimplemented scalar-side ---------------------
# Spec (functions/cells.py docstrings): web-mercator tile bounds; fan-
# triangulate the footprint from v0; Sutherland–Hodgman-clip each triangle
# against the tile box with side order xmin,xmax,ymin,ymax; sum SIGNED
# shoelace areas; coverage = |sum| / tile area. Scalar tuples + left-to-
# right accumulation throughout (no numpy, no engine imports).


def _tile_bounds_s(x: int, y: int, zoom: int):
    n = float(2**zoom)

    def lat_of(yy):
        return math.degrees(math.atan(math.sinh(math.pi * (1.0 - 2.0 * yy / n))))

    return (
        x / n * 360.0 - 180.0,
        lat_of(y + 1),
        (x + 1) / n * 360.0 - 180.0,
        lat_of(y),
    )


def _clip_side_s(poly, inside, intersect):
    if not poly:
        return []
    out = []
    prev = poly[-1]
    prev_in = inside(prev)
    for cur in poly:
        cur_in = inside(cur)
        if cur_in:
            if not prev_in:
                out.append(intersect(prev, cur))
            out.append(cur)
        elif prev_in:
            out.append(intersect(prev, cur))
        prev, prev_in = cur, cur_in
    return out


def _clip_box_s(poly, xmin, ymin, xmax, ymax):
    def interp(a, b, t):
        return (a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1]))

    p = list(poly)
    p = _clip_side_s(p, lambda q: q[0] >= xmin,
                     lambda a, b: interp(a, b, (xmin - a[0]) / (b[0] - a[0])))
    p = _clip_side_s(p, lambda q: q[0] <= xmax,
                     lambda a, b: interp(a, b, (xmax - a[0]) / (b[0] - a[0])))
    p = _clip_side_s(p, lambda q: q[1] >= ymin,
                     lambda a, b: interp(a, b, (ymin - a[1]) / (b[1] - a[1])))
    p = _clip_side_s(p, lambda q: q[1] <= ymax,
                     lambda a, b: interp(a, b, (ymax - a[1]) / (b[1] - a[1])))
    return p


def _shoelace_signed_s(p) -> float:
    # translated to p[0] first — the cancellation-stability contract of
    # cells.py::polygon_area_signed (local coords make any summation
    # order agree to ~1e-16 relative)
    if len(p) < 3:
        return 0.0
    x0, y0 = p[0]
    sx = 0.0
    sy = 0.0
    m = len(p)
    for i in range(m):
        j = (i + 1) % m
        sx += (p[i][0] - x0) * (p[j][1] - y0)
        sy += (p[i][1] - y0) * (p[j][0] - x0)
    return (sx - sy) / 2.0


def rasterize_footprint_s(ring, zoom: int):
    """Scalar rasterizer: list of (tile_x, tile_y, coverage)."""
    n = 1 << zoom
    txs, tys = [], []
    for lon, lat in ring:
        latc = min(max(lat, -85.05112878), 85.05112878)
        tx = int(math.floor((lon + 180.0) / 360.0 * n))
        ty = int(
            math.floor(
                (1.0 - math.asinh(math.tan(math.radians(latc))) / math.pi)
                / 2.0
                * n
            )
        )
        txs.append(min(max(tx, 0), n - 1))
        tys.append(min(max(ty, 0), n - 1))
    out = []
    pts = [tuple(p) for p in ring]
    for tx in range(min(txs), max(txs) + 1):
        for ty in range(min(tys), max(tys) + 1):
            lon_min, lat_min, lon_max, lat_max = _tile_bounds_s(tx, ty, zoom)
            total = 0.0
            v0 = pts[0]
            for i in range(1, len(pts) - 1):
                tri = [v0, pts[i], pts[i + 1]]
                clipped = _clip_box_s(tri, lon_min, lat_min, lon_max, lat_max)
                total += _shoelace_signed_s(clipped)
            tile_area = (lon_max - lon_min) * (lat_max - lat_min)
            cov = abs(total) / tile_area if tile_area > 0 else 0.0
            if cov > 1e-12:  # COVERAGE_EPS sliver contract (cells.py)
                out.append((tx, ty, cov))
    return out


# ---- Spark xxhash64, reimplemented from the public XXH64 spec ------------
# (needed to recompute the engine's deterministic sampling draws; Spark
# folds columns left-to-right with the running hash as the next seed,
# starting from 42 — ints take the 4-byte path, longs 8-byte, strings the
# full streaming hash over utf-8 bytes.)

_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & MASK64


def _xx_avalanche(h: int) -> int:
    h ^= h >> 33
    h = (h * _XP2) & MASK64
    h ^= h >> 29
    h = (h * _XP3) & MASK64
    h ^= h >> 32
    return h


def _xx_hash_int(v: int, seed: int) -> int:
    h = (seed + _XP5 + 4) & MASK64
    h ^= ((v & 0xFFFFFFFF) * _XP1) & MASK64
    h = (_rotl64(h, 23) * _XP2 + _XP3) & MASK64
    return _xx_avalanche(h)


def _xx_hash_long(v: int, seed: int) -> int:
    h = (seed + _XP5 + 8) & MASK64
    k1 = (_rotl64((v & MASK64) * _XP2 & MASK64, 31) * _XP1) & MASK64
    h ^= k1
    h = (_rotl64(h, 27) * _XP1 + _XP4) & MASK64
    return _xx_avalanche(h)


def _xx_hash_bytes(b: bytes, seed: int) -> int:
    n = len(b)
    i = 0
    if n >= 32:
        a1 = (seed + _XP1 + _XP2) & MASK64
        a2 = (seed + _XP2) & MASK64
        a3 = seed & MASK64
        a4 = (seed - _XP1) & MASK64
        while i + 32 <= n:
            for lane_i in range(4):
                lane = int.from_bytes(b[i + 8 * lane_i : i + 8 * lane_i + 8], "little")
                acc = (a1, a2, a3, a4)[lane_i]
                acc = (_rotl64((acc + lane * _XP2) & MASK64, 31) * _XP1) & MASK64
                if lane_i == 0:
                    a1 = acc
                elif lane_i == 1:
                    a2 = acc
                elif lane_i == 2:
                    a3 = acc
                else:
                    a4 = acc
            i += 32
        h = (
            _rotl64(a1, 1) + _rotl64(a2, 7) + _rotl64(a3, 12) + _rotl64(a4, 18)
        ) & MASK64
        for acc in (a1, a2, a3, a4):
            k = (_rotl64((acc * _XP2) & MASK64, 31) * _XP1) & MASK64
            h = ((h ^ k) * _XP1 + _XP4) & MASK64
    else:
        h = (seed + _XP5) & MASK64
    h = (h + n) & MASK64
    while i + 8 <= n:
        lane = int.from_bytes(b[i : i + 8], "little")
        k = (_rotl64((lane * _XP2) & MASK64, 31) * _XP1) & MASK64
        h = (_rotl64(h ^ k, 27) * _XP1 + _XP4) & MASK64
        i += 8
    if i + 4 <= n:
        lane = int.from_bytes(b[i : i + 4], "little")
        h ^= (lane * _XP1) & MASK64
        h = (_rotl64(h, 23) * _XP2 + _XP3) & MASK64
        i += 4
    while i < n:
        h ^= (b[i] * _XP5) & MASK64
        h = (_rotl64(h, 11) * _XP1) & MASK64
        i += 1
    return _xx_avalanche(h)


def spark_xxhash64(values) -> int:
    """Spark's multi-column xxhash64 as a signed int64; ``values`` is a
    list of ('int'|'long'|'str', value) pairs."""
    h = 42
    for kind, v in values:
        if kind == "int":
            h = _xx_hash_int(v, h)
        elif kind == "long":
            h = _xx_hash_long(v, h)
        else:
            h = _xx_hash_bytes(str(v).encode("utf-8"), h)
    return to_i64(h)


# ---- deterministic-sampling spec, reimplemented scalar-side --------------


def md5_sample(ids: list, fraction: float, seed: int) -> list:
    """sample_ids_fraction spec: rank by md5('<seed>|<id>') hex, keep the
    first floor(fraction·n)."""
    import hashlib

    n = len(ids)
    take = int(fraction * n)
    if take <= 0:
        return []
    ranked = sorted(
        ids, key=lambda i: hashlib.md5(f"{seed}|{i}".encode()).hexdigest()
    )
    return ranked[:take]


def negative_pairs_sim(cand_ids, index_ids, n_neg: int, seed: int):
    """negative_sample_pairs spec: positives (c,c) + per-cand first n_neg
    distinct non-self draws, draw j → xxhash64(seed:int, cand:str, j:int)
    pmod |I| into the index sorted ascending."""
    idx_sorted = sorted(index_ids)
    n_index = len(idx_sorted)
    pairs = [(c, c) for c in cand_ids]
    for c in cand_ids:
        seen = set()
        got = 0
        for j in range(2 * n_neg + 10):
            h = spark_xxhash64([("int", seed), ("str", c), ("int", j)])
            iid = idx_sorted[h % n_index]
            if iid == c or iid in seen:
                continue
            seen.add(iid)
            got += 1
            pairs.append((c, iid))
            if got == n_neg:
                break
    return pairs


def partition_summary_sim(
    cands,
    index,
    seed: int,
    train_ratios: dict,
    test_ratios: dict,
    neg: tuple = (2,),
    non_matched_rat: float = 0.2,
) -> pd.DataFrame:
    """Pure-python sim of create_dataset_partition → partition_summary
    (plans/partitions.py spec: md5-rank sampling with the documented
    per-stage salts, xxhash64 negative draws)."""
    cands = sorted(cands)
    index = sorted(index)
    inter = sorted(set(cands) & set(index))
    rows = []
    train_ids = {}
    for size, ratio in train_ratios.items():
        train_ids[size] = md5_sample(inter, ratio, seed * 1000 + len(size))
        for n in neg:
            pairs = negative_pairs_sim(train_ids[size], index, n, seed)
            rows.append(
                ("train", size, f"neg{n}", len(pairs),
                 sum(1 for a, b in pairs if a == b))
            )
    for size, ratio in test_ratios.items():
        fallback = train_ids.get(size, train_ids[next(iter(train_ids))])
        pool = [i for i in inter if i not in set(fallback)]
        test_ids = md5_sample(pool, ratio, seed * 2000 + len(size))
        for n in neg:
            pairs = negative_pairs_sim(test_ids, index, n, seed + 1)
            rows.append(
                ("test_matching", size, f"neg{n}", len(pairs),
                 sum(1 for a, b in pairs if a == b))
            )
        cands_test = md5_sample(pool, ratio, seed * 3000 + len(size))
        removed = set(
            md5_sample(cands_test, non_matched_rat, seed * 4000 + len(size))
        )
        index_kept = [i for i in index if i not in removed]
        index_test = md5_sample(index_kept, ratio, seed * 5000 + len(size))
        rows.append(("test_blocking", size, "cands", len(cands_test), 0))
        rows.append(("test_blocking", size, "index", len(index_test), 0))
    pdf = pd.DataFrame(
        rows, columns=["split", "size", "key", "n_rows", "n_pos"]
    ).astype({"n_rows": "int64", "n_pos": "int64"})
    return pdf.sort_values(["split", "size", "key"]).reset_index(drop=True)


def expected_geo_partitions(objs) -> pd.DataFrame:
    """Independent oracle for q_geo_partitions (seed=1, train {small:0.1,
    large:0.6}, test {small:0.1, large:1.0}, neg=(2,))."""
    return partition_summary_sim(
        objs["cands"].keys(),
        objs["index"].keys(),
        seed=1,
        train_ratios={"small": 0.1, "large": 0.6},
        test_ratios={"small": 0.1, "large": 1.0},
        neg=(2,),
    )


def expected_geo_tiles(objs) -> pd.DataFrame:
    """Independent tile assignments: ground ring (fixture projection spec)
    → scalar spec rasterizer at zoom 18, coverage rounded to 6."""
    rows = []
    for oid in objs["cands"]:
        ring = ground_ring_lonlat(objs["cands"][oid]["mesh"])
        if ring is None:
            continue
        for tx, ty, cov in rasterize_footprint_s(ring.tolist(), 18):
            rows.append(
                {
                    "obj_id": oid,
                    "tile_x": np.int32(tx),
                    "tile_y": np.int32(ty),
                    "zoom": np.int32(18),
                    "coverage": round(cov, 6),
                }
            )
    return pd.DataFrame(rows).astype(
        {"tile_x": "int32", "tile_y": "int32", "zoom": "int32"}
    )


# --------------------------------------------------------------------------
# per-sf computation
# --------------------------------------------------------------------------


def table_rows(sf_dir: str, name: str) -> int:
    return pq.ParquetFile(f"{sf_dir}/{name}.parquet").metadata.num_rows


def prop_dict_parallel(objs, workers: int = 16):
    """O.property_dict_of with the O(n^3) hull parallelized per object."""
    items = [
        (t, oid, rec) for t in ("cands", "index") for oid, rec in objs[t].items()
    ]
    with Pool(workers) as pool:
        results = pool.starmap(
            _props_one, [(rec,) for _, _, rec in items], chunksize=4
        )
    prop_dict = {p: {"cands": {}, "index": {}} for p in O.PROPERTY_NAMES}
    for (t, oid, _), props in zip(items, results):
        for p in O.PROPERTY_NAMES:
            prop_dict[p][t][oid] = props[p]
    return prop_dict


def _props_one(rec):
    return O.properties_of_object(rec, log1p=True)


def expected_geo_extract(objs) -> pd.DataFrame:
    rows = []
    for source in ("cands", "index"):
        for oid, rec in objs[source].items():
            rows.append(
                {
                    "obj_id": oid,
                    "source": source,
                    "url": f"https://{source}.example.org/obj/{oid}",
                    "n_surfaces": np.int32(len(rec["mesh"])),
                    "lat": round(rec["lat"], 6),
                    "lon": round(rec["lon"], 6),
                    "cell_id": slippy_cell(rec["lon"], rec["lat"], 15),
                }
            )
    return pd.DataFrame(rows).astype({"n_surfaces": "int32", "cell_id": "int64"})


def expected_geo_pip(objs) -> pd.DataFrame:
    rings = {}
    for oid, rec in objs["cands"].items():
        ring = ground_ring_lonlat(rec["mesh"])
        if ring is not None:
            rings[oid] = ring
    rows = []
    for pid, rec in objs["index"].items():
        px, py = rec["lon"], rec["lat"]
        for oid, ring in rings.items():
            if point_in_ring(px, py, ring):
                rows.append({"point_id": pid, "obj_id": oid})
    return pd.DataFrame(rows, columns=["point_id", "obj_id"])


def expected_blocking_recall(prop_dict, objs, dims=(1, 3)) -> pd.DataFrame:
    order = list(O.property_ratios(prop_dict).keys())
    cand_ids = set(objs["cands"].keys())
    index_ids = set(objs["index"].keys())
    rows = []
    for dim in dims:
        cands, index = O.bkafi_vectors(prop_dict, order, dim)
        nn = O.knn_join(cands, index, k=21)
        for k in (1, 5, 20):
            rows.append(
                {
                    "bkafi_dim": dim,
                    "k": k,
                    "blocking_recall": O.blocking_recall(
                        nn, cand_ids, index_ids, k
                    ),
                }
            )
    return pd.DataFrame(rows).astype({"bkafi_dim": "int64", "k": "int64"})


def expected_centroid_knn(objs) -> pd.DataFrame:
    """centroid_blocking: raw 3-d centroid L2 kNN, k=5, no scaling —
    oracle knn with identity scale."""
    cands = {i: r["centroid"].tolist() for i, r in objs["cands"].items()}
    index = {i: r["centroid"].tolist() for i, r in objs["index"].items()}
    ids = sorted(index)
    Xi = np.array([index[i] for i in ids], dtype=np.float64)
    rows = []
    for cid in sorted(cands):
        d = np.linalg.norm(Xi - np.array(cands[cid]), axis=1)
        order = sorted(range(len(ids)), key=lambda j: (d[j], ids[j]))[:5]
        for rank, j in enumerate(order, start=1):
            rows.append(
                {
                    "cand_id": cid,
                    "index_id": ids[j],
                    "rank": np.int32(rank),
                    "dist": round(float(d[j]), 3),
                }
            )
    return pd.DataFrame(rows).astype({"rank": "int32"})


def expected_seed_mean_recall(n_entities: int) -> pd.DataFrame:
    per_metric: dict[str, list[float]] = {}
    for seed in (1, 2, 3):
        pdf = generate_pages_pdf(n_entities, seed=seed)
        objs = O.object_dicts_from_pages(pdf)
        prop_dict = prop_dict_parallel(objs)
        rec = expected_blocking_recall(prop_dict, objs, dims=(3,))
        for _, r in rec.iterrows():
            per_metric.setdefault(f"recall_at_{int(r['k'])}", []).append(
                float(r["blocking_recall"])
            )
    row = {"model": "dim3"}
    for metric, vals in per_metric.items():
        row[metric] = round(float(np.mean(vals)), 3)
    return pd.DataFrame([row])


def expected_text_sigs(sf_dir: str):
    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    a5, b5 = hash_params(64, 1)
    min_rows, sim_rows = [], []
    for doc_id, text in zip(docs["doc_id"], docs["text"]):
        sh5 = shingle_hashes_py(text, 5)
        sig = [
            to_i64(min(((ai * x) + bi) & MASK64 for x in sh5))
            for ai, bi in zip(a5, b5)
        ]
        min_rows.append({"doc_id": int(doc_id), "signature": sig})
        sh4 = shingle_hashes_py(text, 4)
        votes = [0] * 64
        for x in sh4:
            for j in range(64):
                votes[j] += 1 if (x >> j) & 1 else -1
        sim = 0
        for j in range(64):
            if votes[j] > 0:
                sim |= 1 << j
        sim_rows.append({"doc_id": int(doc_id), "simhash": to_i64(sim)})
    return pd.DataFrame(min_rows), pd.DataFrame(sim_rows)


def expected_media_features(pages_pdf) -> pd.DataFrame:
    """Independent byte-histogram features: pure-python byte counts into
    64 uniform bins (b // 4), fraction = count/total — bin edges are exact
    multiples of 4, so this equals np.histogram(range=(0,256), bins=64)."""
    rows = []
    for url, html in zip(pages_pdf["url"], pages_pdf["html"]):
        blob = bytes(html or b"")
        counts = [0] * 64
        for byte in blob:
            counts[byte >> 2] += 1
        total = len(blob)
        for i, c in enumerate(counts):
            val = (c / total) if total else float(c)
            # floor-based half-up rounding — same IEEE op chain as the
            # query's _fround (entry_queries.py), bit-stable across engines
            # (Python's round() banker's-rounds ties the other way)
            rows.append(
                {
                    "media_id": url,
                    "n_bytes": total,
                    "bin": np.int32(i),
                    "value": math.floor(val * 1e6 + 0.5) / 1e6,
                }
            )
    return pd.DataFrame(rows).astype({"bin": "int32"})


def expected_image_features(n: int, seed: int = 5) -> pd.DataFrame:
    """Independent oracle for the REAL decode path: recompute the planted
    pixel pattern from its documented spec (sources/media.py module
    docstring — md5 coefficients, all-integer pixel formula) and derive
    the 64 features directly from PIXELS, never touching the engine's
    encoder or decoder. n_bytes comes from the container spec arithmetic
    (BMP: 54 + padded rows; PPM: header text + 3wh)."""
    import hashlib

    def coef(mid, c, k):
        return int(
            hashlib.md5(f"{seed}|{mid}|{c}|{k}".encode()).hexdigest()[:8], 16
        )

    rows = []
    for i in range(n):
        mid = f"img{i:05d}"
        w = 16 + coef(mid, 9, 0) % 17
        h = 12 + coef(mid, 9, 1) % 13
        px = [[[0] * 3 for _ in range(w)] for _ in range(h)]
        for c in range(3):
            a = coef(mid, c, 0) % 256
            b = coef(mid, c, 1) % 256
            d = coef(mid, c, 2) % 256
            e = coef(mid, c, 3) % 256
            for y in range(h):
                for x in range(w):
                    px[y][x][c] = (a * x + b * y + d * x * y + e) % 256
        if coef(mid, 9, 2) % 2 == 0:
            n_bytes = 54 + ((w * 3 + 3) // 4 * 4) * h
        else:
            n_bytes = len(f"P6\n{w} {h}\n255\n") + 3 * w * h
        npx = w * h
        feats = [0.0] * 64
        hist = [[0] * 16 for _ in range(3)]
        sums = [0, 0, 0]
        mins = [255] * 3
        maxs = [0] * 3
        for y in range(h):
            for x in range(w):
                for c in range(3):
                    v = px[y][x][c]
                    hist[c][v >> 4] += 1
                    sums[c] += v
                    mins[c] = min(mins[c], v)
                    maxs[c] = max(maxs[c], v)
        for c in range(3):
            for bi in range(16):
                feats[16 * c + bi] = hist[c][bi] / npx
            feats[48 + c] = sums[c] / npx
            feats[51 + c] = float(mins[c])
            feats[54 + c] = float(maxs[c])
        feats[57] = sum(sums) / (3 * npx)
        feats[58] = float(w)
        feats[59] = float(h)
        feats[60] = w / h
        for bi, v in enumerate(feats):
            rows.append(
                {
                    "media_id": mid,
                    "n_bytes": n_bytes,
                    "bin": np.int32(bi),
                    "value": math.floor(v * 1e6 + 0.5) / 1e6,
                }
            )
    return pd.DataFrame(rows).astype({"bin": "int32", "n_bytes": "int64"})


def _render_img_s(mesh):
    """Scalar reimplementation of RENDER SPEC v1 (operators/render.py
    docstring — keep in sync BY SPEC, no engine imports) plus the PNG
    container arithmetic (functions/png.py: sig 8 + IHDR 25 + IDAT
    12+len(zlib level 6, filter-0 scanlines) + IEND 12 bytes). Integer
    geometry after the snap makes the raster bit-exact; stdlib zlib makes
    the byte length bit-exact. Returns (img nested list SxSx3, n_bytes)."""
    import zlib

    S, m = 48, 2
    xs, ys, zs = [], [], []
    ranges = []
    for surf in mesh:
        a = len(xs)
        for p in surf:
            xs.append(p[0])
            ys.append(p[1])
            zs.append(p[2])
        ranges.append((a, len(xs)))
    us = [x - y for x, y in zip(xs, ys)]
    vs = [z - (x + y) / 2.0 for x, y, z in zip(xs, ys, zs)]
    umin, vmin = min(us), min(vs)
    span = max(max(us) - umin, max(vs) - vmin)
    if span <= 0:
        span = 1.0
    scale = (S - 1 - 2 * m) / span
    U = [2 * (math.floor((u - umin) * scale + 0.5) + m) for u in us]
    V = [2 * (math.floor((v - vmin) * scale + 0.5) + m) for v in vs]
    depth = [(x + y) + z for x, y, z in zip(xs, ys, zs)]
    zmin_o, zmax_o = min(zs), max(zs)
    zspan = zmax_o - zmin_o

    order = []
    for s, (a, b) in enumerate(ranges):
        if b - a >= 3:
            order.append((max(depth[a:b]), s))
    order.sort()

    img = [[[0, 0, 0] for _ in range(S)] for _ in range(S)]
    for _, s in order:
        a, b = ranges[s]
        Us, Vs = U[a:b], V[a:b]
        zmax_s = max(zs[a:b])
        r_ = 1.0 if zspan <= 0 else (zmax_s - zmin_o) / zspan
        shade = 64 + math.floor(191 * r_ + 0.5)
        col = [shade, 255 - shade, (37 * (s + 1)) % 256]
        px_lo = max(0, (min(Us) - 1) // 2)
        px_hi = min(S - 1, max(Us) // 2)
        pv_lo = max(0, (min(Vs) - 1) // 2)
        pv_hi = min(S - 1, max(Vs) // 2)
        n = b - a
        for pvi in range(pv_lo, pv_hi + 1):
            cv = 2 * pvi + 1
            # edges straddling this scanline, hoisted out of the px loop
            edges = []
            for i in range(n):
                av, bv = Vs[i], Vs[(i + 1) % n]
                if (av > cv) != (bv > cv):
                    edges.append((U[a + i], av, U[a + (i + 1) % n], bv))
            if not edges:
                continue
            for pxi in range(px_lo, px_hi + 1):
                cu = 2 * pxi + 1
                cross = 0
                for au, av, bu, bv in edges:
                    lhs = (cv - av) * (bu - au)
                    rhs = (cu - au) * (bv - av)
                    if (lhs < rhs) if bv > av else (lhs > rhs):
                        cross += 1
                if cross % 2 == 1:
                    img[S - 1 - pvi][pxi] = col
    # PNG byte length: filter-0 scanline stream through stdlib zlib
    raw = bytearray()
    for row in img:
        raw.append(0)
        for p in row:
            raw += bytes(p)
    n_bytes = 8 + 25 + (12 + len(zlib.compress(bytes(raw), 6))) + 12
    return img, n_bytes


def _pixel_feats_s(img) -> list[float]:
    """Scalar reimplementation of the 64-dim pixel-feature formula
    (operators/multimodal.py::_pixel_features docstring) for a square
    raster. All accumulations are exact Python ints, so values are
    bit-identical to any correct implementation."""
    S = len(img)
    npx = S * S
    feats = [0.0] * 64
    hist = [[0] * 16 for _ in range(3)]
    sums = [0, 0, 0]
    mins = [255] * 3
    maxs = [0] * 3
    for row in img:
        for p in row:
            for c in range(3):
                v = p[c]
                hist[c][v >> 4] += 1
                sums[c] += v
                mins[c] = min(mins[c], v)
                maxs[c] = max(maxs[c], v)
    for c in range(3):
        for bi in range(16):
            feats[16 * c + bi] = hist[c][bi] / npx
        feats[48 + c] = sums[c] / npx
        feats[51 + c] = float(mins[c])
        feats[54 + c] = float(maxs[c])
    feats[57] = sum(sums) / (3 * npx)
    feats[58] = float(S)
    feats[59] = float(S)
    feats[60] = S / S
    return feats


def _render_feature_rows(key: str, mesh) -> list[dict]:
    """Worker: one object → 64 feature rows (scalar raster + container
    arithmetic + scalar pixel features, no engine imports)."""
    img, n_bytes = _render_img_s(mesh)
    feats = _pixel_feats_s(img)
    return [
        {
            "obj_key": key,
            "n_bytes": n_bytes,
            "bin": np.int32(bi),
            "value": math.floor(v * 1e6 + 0.5) / 1e6,
        }
        for bi, v in enumerate(feats)
    ]


def _embed_rows(src: str, oid: str, mesh) -> tuple[str, str, np.ndarray]:
    """Worker: one object → its image embedding, recomputed from the
    documented encoder spec (operators/contrastive.py::encode_image —
    keep in sync BY SPEC, no engine imports): scalar raster → scalar
    64-dim pixel features × the fixed per-component scale (indices
    48..57 /255, 58..59 /48) ++ 6×6 grayscale tile means (gray =
    channel mean, block boundaries (i*S)//t) → L2 normalize. The raster
    and the 64 base features are integer-exact; the tile means divide
    exact integer-valued float sums, so embeddings match any correct
    implementation to the last ulp."""
    img, _ = _render_img_s(mesh)
    feats = _pixel_feats_s(img)
    scale = [1.0] * 64
    for i in range(48, 58):
        scale[i] = 1.0 / 255.0
    for i in range(58, 60):
        scale[i] = 1.0 / 48.0
    base = [f * s for f, s in zip(feats, scale)]
    t = 6
    g = np.array(img, dtype=np.float64).mean(axis=2)
    S = g.shape[0]
    bounds = [(i * S) // t for i in range(t + 1)]
    tiles = []
    for a in range(t):
        for b in range(t):
            blk = g[bounds[a] : bounds[a + 1], bounds[b] : bounds[b + 1]]
            tiles.append(blk.mean() / 255.0 if blk.size else 0.0)
    v = np.array(base + tiles, dtype=np.float64)
    n = np.linalg.norm(v)
    return src, oid, v / (n if n else 1.0)


# --------------------------------------------------------------------------
# round-5 promotion #2: contrastive_quality — the full M5 lifecycle
# recomputed without engine imports. Embeddings come from the SAME scalar
# spec chain as expected_image_blocking (verified bit-identical to the
# engine encoder: 109/109 objects, round-5 session); blocking pairs from
# the oracle BKAFI kNN; the MLP head is the sanctioned spec transcription
# of operators/matching_model.py::MLPMatcher (seeded init + seeded epoch
# shuffles + Adam — deterministic, cited per step).
# --------------------------------------------------------------------------


def _mlp_fit_spec(
    X: np.ndarray,
    y: np.ndarray,
    hidden=(32, 16),
    batch_size: int = 16,
    max_iter: int = 300,
    learning_rate: float = 1e-3,
    seed: int = 1,
):
    """MLPMatcher.fit spec (matching_model.py:813-871): standardize,
    He-init via one PCG64 stream, per-epoch rng.permutation minibatches,
    logistic loss, Adam with bias correction."""
    rng = np.random.Generator(np.random.PCG64(seed))
    mu = X.mean(axis=0)
    sd = np.where(X.std(axis=0) == 0, 1.0, X.std(axis=0))
    Xs = (X - mu) / sd
    yv = y.astype(np.float64)
    d = X.shape[1]
    sizes = [d, *hidden, 1]
    Ws = [
        rng.normal(0, np.sqrt(2.0 / sizes[i]), (sizes[i], sizes[i + 1]))
        for i in range(3)
    ]
    bs = [np.zeros(sizes[i + 1]) for i in range(3)]
    mW = [np.zeros_like(w) for w in Ws]
    vW = [np.zeros_like(w) for w in Ws]
    mB = [np.zeros_like(b) for b in bs]
    vB = [np.zeros_like(b) for b in bs]
    b1, b2, eps = 0.9, 0.999, 1e-8
    t = 0
    n = len(yv)

    def sigmoid(z):
        return 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))

    for _ in range(max_iter):
        order = rng.permutation(n)
        for s in range(0, n, batch_size):
            idx = order[s : s + batch_size]
            xb, yb = Xs[idx], yv[idx]
            z1 = xb @ Ws[0] + bs[0]
            a1 = np.maximum(z1, 0)
            z2 = a1 @ Ws[1] + bs[1]
            a2 = np.maximum(z2, 0)
            z3 = (a2 @ Ws[2] + bs[2]).ravel()
            p = sigmoid(z3)
            g3 = ((p - yb) / len(yb))[:, None]
            grads_W = [None, None, a2.T @ g3]
            grads_b = [None, None, g3.sum(axis=0)]
            g2 = (g3 @ Ws[2].T) * (z2 > 0)
            grads_W[1] = a1.T @ g2
            grads_b[1] = g2.sum(axis=0)
            g1 = (g2 @ Ws[1].T) * (z1 > 0)
            grads_W[0] = xb.T @ g1
            grads_b[0] = g1.sum(axis=0)
            t += 1
            for i in range(3):
                mW[i] = b1 * mW[i] + (1 - b1) * grads_W[i]
                vW[i] = b2 * vW[i] + (1 - b2) * grads_W[i] ** 2
                mB[i] = b1 * mB[i] + (1 - b1) * grads_b[i]
                vB[i] = b2 * vB[i] + (1 - b2) * grads_b[i] ** 2
                mhW = mW[i] / (1 - b1**t)
                vhW = vW[i] / (1 - b2**t)
                mhB = mB[i] / (1 - b1**t)
                vhB = vB[i] / (1 - b2**t)
                Ws[i] -= learning_rate * mhW / (np.sqrt(vhW) + eps)
                bs[i] -= learning_rate * mhB / (np.sqrt(vhB) + eps)
    # the engine stores weights via tolist() and re-materializes them per
    # predict batch — a bit-exact float64 roundtrip, so arrays suffice
    return list(zip(Ws, bs)), (mu, sd)


def _mlp_predict_spec(X, params, norm):
    mu, sd = norm
    a = (np.asarray(X, dtype=np.float64) - mu) / sd
    for i, (w, b) in enumerate(params):
        a = a @ w + b
        if i < 2:
            a = np.maximum(a, 0)
    p = 1.0 / (1.0 + np.exp(-np.clip(a.ravel(), -30, 30)))
    return (p >= 0.5).astype(np.int64)


def _md5_is_train(cand_id: str, train_frac: float, seed: int) -> bool:
    """train_test_split_pairs spec (plans/matching_quality.py:73-95):
    md5(f'{seed}|{cand_id}') first 8 hex digits / 0xFFFFFFFF < frac."""
    h = hashlib.md5(f"{seed}|{cand_id}".encode()).hexdigest()[:8]
    return int(h, 16) / float(0xFFFFFFFF) < train_frac


def expected_contrastive_quality(n_entities: int, workers: int = 16) -> pd.DataFrame:
    """Independent recomputation of q_contrastive_quality (plans/
    contrastive.py::run_contrastive_matching, n_neg=2, seed=1,
    hidden=(32,16), max_iter=300): oracle BKAFI kNN (k=3) → blocking-based
    pos/neg pairs (pos = ALL matched ids; neg = rank<=3 non-matches,
    data_partition.py:374-415 spec) → scalar-spec embeddings → |diff|
    features → md5 entity split → MLP-spec fit → predict → P/R/F1
    rounded 3."""
    pdf_pages = generate_pages_pdf(n_entities, seed=42)
    objs = O.object_dicts_from_pages(pdf_pages)
    prop_dict = prop_dict_parallel(objs)
    order = list(O.property_ratios(prop_dict).keys())
    cands_v, index_v = O.bkafi_vectors(prop_dict, order, 3)
    nn = O.knn_join(cands_v, index_v, k=3, round_dists=3)
    ids_c = set(prop_dict[O.PROPERTY_NAMES[0]]["cands"])
    ids_i = set(prop_dict[O.PROPERTY_NAMES[0]]["index"])
    pairs = {(c, c, 1) for c in ids_c & ids_i}
    for cid, lst in nn.items():
        for rank, (iid, _d) in enumerate(lst, start=1):
            if rank <= 3 and iid != cid:
                pairs.add((cid, iid, 0))
    items = [
        (t, oid, rec["mesh"])
        for t in ("cands", "index")
        for oid, rec in objs[t].items()
    ]
    with Pool(workers) as pool:
        results = pool.starmap(_embed_rows, items, chunksize=8)
    emb = {(src, oid): v for src, oid, v in results}
    rows = [
        (cid, iid, lab, np.abs(emb[("cands", cid)] - emb[("index", iid)]))
        for cid, iid, lab in pairs
    ]
    train = sorted(
        (r for r in rows if _md5_is_train(r[0], 0.7, 1)),
        key=lambda r: (r[0], r[1]),
    )
    test = [r for r in rows if not _md5_is_train(r[0], 0.7, 1)]
    Xtr = np.stack([r[3] for r in train])
    ytr = np.array([r[2] for r in train], dtype=np.int64)
    params, norm = _mlp_fit_spec(Xtr, ytr)
    Xte = np.stack([r[3] for r in test])
    yte = np.array([r[2] for r in test], dtype=np.int64)
    pred = _mlp_predict_spec(Xte, params, norm)
    tp = int(((pred == 1) & (yte == 1)).sum())
    fp = int(((pred == 1) & (yte == 0)).sum())
    fn = int(((pred == 0) & (yte == 1)).sum())
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    return pd.DataFrame(
        [
            {
                "model": "ContrastiveImageMatcher",
                "precision": round(precision, 3),
                "recall": round(recall, 3),
                "f1": round(f1, 3),
            }
        ]
    )


def expected_image_blocking(objs, k_list=(1, 5, 20), workers: int = 16):
    """Independent oracle for the S8 image-blocking path (reference
    blocking.py:176-191 + pipelines.py:386): embeddings for every object
    from the spec chain above, then a brute-force inner-product rank of
    each cand's TRUE match (count of strictly-better index rows under
    the engine's (-score, id asc) order — no sort, no top-k kernel) and
    PC@k = round(hits / |cands ∩ index|, 3) per k."""
    items = [
        (t, oid, rec["mesh"])
        for t in ("cands", "index")
        for oid, rec in objs[t].items()
    ]
    with Pool(workers) as pool:
        results = pool.starmap(_embed_rows, items, chunksize=8)
    cands = {oid: v for src, oid, v in results if src == "cands"}
    index = {oid: v for src, oid, v in results if src == "index"}
    i_ids = np.array(sorted(index.keys()))
    I = np.stack([index[i] for i in i_ids])
    inter = sorted(set(cands) & set(index))
    ranks = {}
    for c in inter:
        d = cands[c] @ I.T
        dt = d[np.nonzero(i_ids == c)[0][0]]
        better = int(np.sum((d > dt) | ((d == dt) & (i_ids < c))))
        ranks[c] = 1 + better
    n_inter = len(inter)
    rows = [
        {
            "k": np.int32(k),
            "n_hits": np.int64(sum(1 for c in inter if ranks[c] <= k)),
            "n_intersection": np.int32(n_inter),
            "pc": spark_round(
                sum(1 for c in inter if ranks[c] <= k) / n_inter, 3
            ),
        }
        for k in k_list
    ]
    return pd.DataFrame(rows).astype(
        {"k": "int32", "n_hits": "int64", "n_intersection": "int32"}
    )


def expected_render_features(objs, workers: int = 16) -> pd.DataFrame:
    """Independent oracle for the S7 render path: scalar raster + scalar
    container arithmetic + scalar pixel features, parallelized per
    object."""
    items = [
        (f"{t}|{oid}", rec["mesh"])
        for t in ("cands", "index")
        for oid, rec in objs[t].items()
    ]
    with Pool(workers) as pool:
        results = pool.starmap(_render_feature_rows, items, chunksize=8)
    rows = [r for rs in results for r in rs]
    return pd.DataFrame(rows).astype({"bin": "int32", "n_bytes": "int64"})


def expected_lsh_buckets(sf_dir: str, n_planes: int = 6, seed: int = 7):
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    vecs = np.array(list(emb["embedding"]), dtype=np.float64)
    rng = np.random.Generator(np.random.PCG64(seed))
    planes = rng.normal(0.0, 1.0, (n_planes, vecs.shape[1]))
    dots = vecs @ planes.T
    buckets = ((dots > 0) * (1 << np.arange(n_planes))).sum(axis=1)
    return pd.DataFrame(
        {"vec_id": emb["vec_id"].astype("int64"), "bucket": buckets.astype("int64")}
    )


def expected_ivf_buckets(sf_dir: str, n_centroids: int = 16, n_probe: int = 4,
                         n_iters: int = 8, seed: int = 7,
                         n_queries: int = 20) -> pd.DataFrame:
    """IVF coarse-quantizer assignments + query probes, recomputed from the
    documented spec (operators/similarity.py::ivf_kmeans_centroids
    docstring) in independent code: normalize -> PCG64(seed).choice init ->
    Lloyd rounds with argmax-dot assignment, renormalized means, and
    9-decimal centroid rounding each round (the rounding makes independent
    reimplementations ulp-stable).  One frame, kind in {assign, probe}."""
    emb = pq.read_table(f"{sf_dir}/embeddings.parquet").to_pandas()
    ids = emb["vec_id"].astype("int64").to_numpy()
    order = np.argsort(ids, kind="stable")
    X = np.array(list(emb["embedding"]), dtype=np.float64)[order]
    ids = ids[order]
    nrm = np.linalg.norm(X, axis=1, keepdims=True)
    Xn = np.where(nrm > 0, X / np.where(nrm == 0, 1.0, nrm), 0.0)
    rng = np.random.Generator(np.random.PCG64(seed))
    init = rng.choice(len(Xn), size=min(n_centroids, len(Xn)), replace=False)
    C = np.round(Xn[init].copy(), 9)
    for _ in range(n_iters):
        assign = np.array([int(np.argmax([np.dot(v, c) for c in C])) for v in Xn])
        for c in range(len(C)):
            m = assign == c
            if m.any():
                v = Xn[m].mean(axis=0)
                vn = np.linalg.norm(v)
                if vn > 0:
                    C[c] = v / vn
        C = np.round(C, 9)
    # final assignment on RAW vectors (argmax dot; centroids are unit)
    rows = []
    for i, v in zip(ids, X):
        dots = [np.dot(v, c) for c in C]
        rows.append({"kind": "assign", "id": int(i), "cid": int(np.argmax(dots))})
    for i, v in zip(ids, X):
        if i >= n_queries:
            continue
        dots = np.array([np.dot(v, c) for c in C])
        top = sorted(range(len(C)), key=lambda t: (-dots[t], t))[:n_probe]
        for c in top:
            rows.append({"kind": "probe", "id": int(i), "cid": int(c)})
    return pd.DataFrame(rows).astype({"id": "int64", "cid": "int32"})


# --------------------------------------------------------------------------
# promoted independent oracles (round 3): properties, blocking pairs, match
# decisions, pair features, threshold sweep, transform — recomputed from the
# numpy oracle, NOT captured engine output.  The engine/oracle float chains
# differ in ulps, so every compared float is rounded on BOTH sides with the
# SAME convention: python round() where the engine kernel python-rounds
# (knn dists), spark_round() where the query uses F.round, and the
# floor(x*10^d+0.5) chain where the query uses _fround.
# --------------------------------------------------------------------------

from decimal import Decimal, ROUND_HALF_UP  # noqa: E402


def spark_round(x: float, d: int) -> float:
    """Bit-exact emulation of Spark's round(double, d): Spark converts via
    BigDecimal.valueOf (the SHORTEST decimal repr — same string Python's
    repr() produces) then setScale(d, HALF_UP) (away from zero); NaN and
    +-Inf pass through (Spark RoundBase does the same)."""
    xf = float(x)
    if not math.isfinite(xf):
        return xf
    return float(
        Decimal(repr(xf)).quantize(Decimal(1).scaleb(-d), rounding=ROUND_HALF_UP)
    )


def _floor_round(x: float, d: int) -> float:
    """The query-side _fround chain (entry_queries.py): floor(x*10^d+0.5)/10^d."""
    p = float(10 ** d)
    return math.floor(x * p + 0.5) / p


def expected_geo_properties(prop_dict) -> pd.DataFrame:
    """All 25 properties per object, spark_round(_, 6) like q_geo_properties."""
    rows = []
    for source in ("cands", "index"):
        for oid in prop_dict[O.PROPERTY_NAMES[0]][source]:
            row = {"obj_id": oid, "source": source}
            for p in O.PROPERTY_NAMES:
                row[p] = spark_round(prop_dict[p][source][oid], 6)
            rows.append(row)
    return pd.DataFrame(rows)


def _bkafi_nn(prop_dict, dim: int, k: int, round_dists: int = 3):
    """Feature order by ratio-std + top-dim vectors + exact kNN — the
    blocking spec (reference blocking.py:106-118) on oracle primitives."""
    order = list(O.property_ratios(prop_dict).keys())
    cands, index = O.bkafi_vectors(prop_dict, order, dim)
    return O.knn_join(cands, index, k=k, round_dists=round_dists), order


def expected_blocking_pairs(prop_dict, dim: int = 3, k: int = 21) -> pd.DataFrame:
    nn, _ = _bkafi_nn(prop_dict, dim, k)
    rows = [
        {
            "bkafi_dim": dim,
            "cand_id": cid,
            "index_id": iid,
            "rank": rank,
            "dist": dist,
            "label": 1 if cid == iid else 0,
        }
        for cid, lst in nn.items()
        for rank, (iid, dist) in enumerate(lst, start=1)
    ]
    return pd.DataFrame(rows).astype(
        {"bkafi_dim": "int32", "rank": "int32", "label": "int32"}
    )


def _matched_dists(prop_dict, feats) -> np.ndarray:
    """Scaled L2 distances between matched (id in both sides) objects,
    RobustScaler fit on the matched cands only (bkafi_with_threshold.py:
    176-182; engine matched_pair_vectors)."""
    c0 = prop_dict[feats[0]]["cands"]
    ids = [i for i in prop_dict[feats[0]]["index"] if i in c0]
    Xc = np.array(
        [[prop_dict[f]["cands"][i] for f in feats] for i in ids], dtype=np.float64
    )
    Xi = np.array(
        [[prop_dict[f]["index"][i] for f in feats] for i in ids], dtype=np.float64
    )
    center, scale = O.robust_scale_fit(Xc)
    return np.linalg.norm((Xc - center) / scale - (Xi - center) / scale, axis=1)


def expected_match_decisions(
    prop_dict, dim: int = 3, k: int = 21, percentile: float = 0.95
) -> pd.DataFrame:
    nn, order = _bkafi_nn(prop_dict, dim, k)
    thr = float(np.percentile(_matched_dists(prop_dict, order[:dim]), percentile * 100))
    rows = [
        {
            "cand_id": cid,
            "index_id": iid,
            "rank": rank,
            "dist": dist,
            "label": 1 if cid == iid else 0,
        }
        for cid, lst in nn.items()
        for rank, (iid, dist) in enumerate(lst, start=1)
        if dist <= thr
    ]
    return pd.DataFrame(rows).astype({"rank": "int32", "label": "int32"})


def expected_pair_features(prop_dict, dim: int = 3, k: int = 5) -> pd.DataFrame:
    """25 ratio features over kNN(k=5) pairs — ratio = min(1000,
    spark_round(c/i, 3)), i==0 or NaN -> 1000 (engine ratio_sql: Spark
    least() treats NaN as greatest, python min(1000, nan) keeps 1000)."""
    nn, _ = _bkafi_nn(prop_dict, dim, k)
    rows = []
    for cid, lst in nn.items():
        for iid, _d in lst:
            row = {"cand_id": cid, "index_id": iid}
            for p in O.PROPERTY_NAMES:
                c = prop_dict[p]["cands"][cid]
                i = prop_dict[p]["index"][iid]
                if i == 0.0:
                    r = 1000.0
                else:
                    rr = spark_round(c / i, 3)
                    r = 1000.0 if math.isnan(rr) else min(1000.0, rr)
                row[f"{p}_ratio"] = r
            rows.append(row)
    return pd.DataFrame(rows)


# --------------------------------------------------------------------------
# round-5 promotion: geo_blocking_fi (the 'fi' half of the merged
# geo_blocking_pairs query) — the learned feature_importance BKAFI
# criterion, recomputed WITHOUT engine imports. The RF fit below is the
# sanctioned spec transcription (SURVEY §5, the ivf_topk precedent): a
# seeded deterministic procedure reproduced from its documented contract
# (engine operators/matching_model.py:34-150, cited per step). The
# numerical steps (np.quantile bins, Gini histogram, PCG64 draw sequence)
# must match bit-for-bit BY SPEC — the oracle's value is catching
# engine-side plumbing bugs (pair set, feature assembly, ordering,
# distribution), which tests/test_golden_flip.py exercises with injected
# perturbations.
# --------------------------------------------------------------------------


def _rf_gini(counts: np.ndarray) -> np.ndarray:
    tot = counts.sum(axis=-1, keepdims=True)
    with np.errstate(invalid="ignore", divide="ignore"):
        p = counts / tot
    g = 1.0 - (p**2).sum(axis=-1)
    return np.where(tot[..., 0] > 0, g, 0.0)


def _rf_best_split(X, y, feat_idx, n_bins=32):
    """Histogram CART split (spec: matching_model.py::_best_split —
    quantile-binned thresholds, Gini gain, first-argmax tie rule)."""
    n = len(y)
    parent = np.array([np.sum(y == 0), np.sum(y == 1)], dtype=np.float64)
    parent_gini = _rf_gini(parent)
    best = (None, None, 0.0)
    for f in feat_idx:
        x = X[:, f]
        qs = np.unique(np.quantile(x, np.linspace(0.02, 0.98, n_bins)))
        if len(qs) < 2:
            continue
        bins = np.searchsorted(qs, x, side="right")
        hist = np.zeros((len(qs) + 1, 2))
        np.add.at(hist, (bins, y), 1.0)
        left = np.cumsum(hist, axis=0)[:-1]
        right = parent - left
        nl = left.sum(axis=1)
        nr = right.sum(axis=1)
        valid = (nl > 0) & (nr > 0)
        if not valid.any():
            continue
        child = (nl * _rf_gini(left) + nr * _rf_gini(right)) / n
        gain = parent_gini - child
        gain[~valid] = -1.0
        t = int(gain.argmax())
        if gain[t] > best[2]:
            best = (f, float(qs[t]), float(gain[t]))
    return best


def rf_importance_order(
    X: np.ndarray,
    y: np.ndarray,
    feature_names: list[str],
    n_trees: int = 15,
    max_depth: int = 8,
    min_samples: int = 4,
    seed: int = 1,
) -> list[str]:
    """Gini-importance feature order of the seeded bagged CART forest
    (spec: matching_model.py::RandomForestMatcher.fit — one
    rng.integers(0, n, n) bootstrap per tree, rng.choice(d, sqrt(d))
    feature subsample per node, importances[f] += gain·|node|,
    stable-desc sort; reference classifier.py:191-207 +
    blocking.py:139-142)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n, d = X.shape
    max_features = max(1, int(np.sqrt(d)))
    imp = np.zeros(d)

    def grow(Xb, yb, idx, depth):
        ysub = yb[idx]
        pos = float(ysub.mean()) if len(ysub) else 0.0
        if depth >= max_depth or len(idx) < min_samples or pos in (0.0, 1.0):
            return
        feat_idx = rng.choice(d, max_features, replace=False)
        f, thr, gain = _rf_best_split(Xb[idx], ysub, feat_idx)
        if f is None or gain <= 1e-12:
            return
        imp[f] += gain * len(idx)
        mask = Xb[idx, f] <= thr
        grow(Xb, yb, idx[mask], depth + 1)
        grow(Xb, yb, idx[~mask], depth + 1)

    for _ in range(n_trees):
        boot = rng.integers(0, n, n)
        grow(X[boot], y[boot], np.arange(n), 0)
    order = sorted(
        zip(feature_names, imp), key=lambda kv: kv[1], reverse=True
    )
    return [name for name, _ in order]


def _rf_fit_spec(
    X, y, n_trees=30, max_depth=8, min_samples=4, seed=1,
):
    """RandomForestMatcher.fit spec (matching_model.py:76-150): one PCG64
    stream drives bootstrap draws AND per-node feature subsamples; trees
    as flat (feature, thr, left, right, pos) node lists."""
    rng = np.random.Generator(np.random.PCG64(seed))
    n, d = X.shape
    max_features = max(1, int(np.sqrt(d)))
    imp = np.zeros(d)
    trees = []

    def fit_tree(Xb, yb):
        nodes = []

        def grow(idx, depth):
            node_id = len(nodes)
            nodes.append(None)
            ysub = yb[idx]
            pos = float(ysub.mean()) if len(ysub) else 0.0
            if depth >= max_depth or len(idx) < min_samples or pos in (0.0, 1.0):
                nodes[node_id] = (-1, 0.0, -1, -1, pos)
                return node_id
            feat_idx = rng.choice(d, max_features, replace=False)
            f, thr, gain = _rf_best_split(Xb[idx], ysub, feat_idx)
            if f is None or gain <= 1e-12:
                nodes[node_id] = (-1, 0.0, -1, -1, pos)
                return node_id
            imp[f] += gain * len(idx)
            mask = Xb[idx, f] <= thr
            left = grow(idx[mask], depth + 1)
            right = grow(idx[~mask], depth + 1)
            nodes[node_id] = (f, thr, left, right, pos)
            return node_id

        grow(np.arange(len(yb)), 0)
        return nodes

    for _ in range(n_trees):
        boot = rng.integers(0, n, n)
        trees.append(fit_tree(X[boot], y[boot]))
    return trees, imp


def _tree_predict_spec(nodes, X):
    out = np.empty(len(X))
    for i in range(len(X)):
        nid = 0
        while True:
            f, thr, left, right, val = nodes[nid]
            if f < 0:
                out[i] = val
                break
            nid = left if X[i, f] <= thr else right
    return out


def _rf_predict_spec(trees, X):
    proba = np.mean([_tree_predict_spec(t, X) for t in trees], axis=0)
    return (proba >= 0.5).astype(np.int64)


def _gb_best_split_spec(X, r, feat_idx, n_bins=32):
    """matching_model.py::_best_split_reg: binned residual-variance
    reduction, first-argmax ties."""
    n = len(r)
    tot_sum = r.sum()
    best = (None, None, -1.0)
    for f in feat_idx:
        x = X[:, f]
        qs = np.unique(np.quantile(x, np.linspace(0.02, 0.98, n_bins)))
        if len(qs) < 2:
            continue
        bins = np.searchsorted(qs, x, side="right")
        s = np.zeros(len(qs) + 1)
        c = np.zeros(len(qs) + 1)
        np.add.at(s, bins, r)
        np.add.at(c, bins, 1.0)
        ls = np.cumsum(s)[:-1]
        lc = np.cumsum(c)[:-1]
        rs = tot_sum - ls
        rc = n - lc
        valid = (lc > 0) & (rc > 0)
        if not valid.any():
            continue
        with np.errstate(invalid="ignore", divide="ignore"):
            score = np.where(valid, ls**2 / lc + rs**2 / rc, -np.inf)
        t = int(score.argmax())
        if score[t] > best[2]:
            best = (f, float(qs[t]), float(score[t]))
    return best[0], best[1]


def _gb_fit_tree_spec(X, g, h, max_depth, min_samples):
    """matching_model.py::_fit_reg_tree: Newton leaves sum(g)/sum(h)."""
    nodes = []

    def grow(idx, depth):
        node_id = len(nodes)
        nodes.append(None)
        gs, hs = g[idx].sum(), h[idx].sum()
        val = gs / hs if hs > 0 else 0.0
        if depth >= max_depth or len(idx) < min_samples:
            nodes[node_id] = (-1, 0.0, -1, -1, val)
            return node_id
        f, thr = _gb_best_split_spec(X[idx], g[idx], np.arange(X.shape[1]))
        if f is None:
            nodes[node_id] = (-1, 0.0, -1, -1, val)
            return node_id
        mask = X[idx, f] <= thr
        if mask.all() or not mask.any():
            nodes[node_id] = (-1, 0.0, -1, -1, val)
            return node_id
        left = grow(idx[mask], depth + 1)
        right = grow(idx[~mask], depth + 1)
        nodes[node_id] = (f, thr, left, right, val)
        return node_id

    grow(np.arange(len(g)), 0)
    return nodes


def _gb_sigmoid(z):
    return 1.0 / (1.0 + np.exp(-np.clip(z, -30, 30)))


def _gb_fit_spec(X, y, n_rounds=60, max_depth=3, learning_rate=0.1,
                 min_samples=3, seed=1):
    """GradientBoostingMatcher.fit spec (matching_model.py:338-376):
    logistic loss, Newton leaves, no rng."""
    y = y.astype(np.float64)
    p0 = min(max(y.mean(), 1e-6), 1 - 1e-6)
    f0 = float(np.log(p0 / (1 - p0)))
    F_val = np.full(len(y), f0)
    trees = []
    for _ in range(n_rounds):
        p = _gb_sigmoid(F_val)
        g = y - p
        h = p * (1 - p)
        tree = _gb_fit_tree_spec(X, g, h, max_depth, min_samples)
        F_val = F_val + learning_rate * _tree_predict_spec(tree, X)
        trees.append(tree)
    return trees, f0, learning_rate


def _gb_predict_spec(model, X):
    trees, f0, lr = model
    F_val = np.full(len(X), f0)
    for tree in trees:
        F_val = F_val + lr * _tree_predict_spec(tree, X)
    return (_gb_sigmoid(F_val) >= 0.5).astype(np.int64)


def _f1_macro_spec(y_true, y_pred) -> float:
    f1s = []
    for cls in (0, 1):
        tp = float(np.sum((y_pred == cls) & (y_true == cls)))
        fp = float(np.sum((y_pred == cls) & (y_true != cls)))
        fn = float(np.sum((y_pred != cls) & (y_true == cls)))
        prec = tp / (tp + fp) if tp + fp else 0.0
        rec = tp / (tp + fn) if tp + fn else 0.0
        f1s.append(2 * prec * rec / (prec + rec) if prec + rec else 0.0)
    return float(np.mean(f1s))


def _stratified_folds_spec(y, cv, seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    folds = [[] for _ in range(cv)]
    for cls in np.unique(y):
        idx = np.flatnonzero(y == cls)
        rng.shuffle(idx)
        for i, chunk in enumerate(np.array_split(idx, cv)):
            folds[i].extend(chunk.tolist())
    return [np.array(sorted(f)) for f in folds]


def _param_combos_spec(grid):
    keys = sorted(grid)
    combos = [{}]
    for k in keys:
        combos = [dict(c, **{k: v}) for c in combos for v in grid[k]]
    return combos


def _mq_ratio_X(prop_dict, pairs):
    """25 ratio features per pair — same clip/round convention as
    expected_pair_features/expected_blocking_fi."""
    X = np.empty((len(pairs), len(O.PROPERTY_NAMES)), dtype=np.float64)
    y = np.empty(len(pairs), dtype=np.int64)
    for r, (cid, iid, lab) in enumerate(pairs):
        y[r] = lab
        for fj, p in enumerate(O.PROPERTY_NAMES):
            c = prop_dict[p]["cands"][cid]
            i = prop_dict[p]["index"][iid]
            if i == 0.0:
                X[r, fj] = 1000.0
            else:
                rr = spark_round(c / i, 3)
                X[r, fj] = 1000.0 if math.isnan(rr) else min(1000.0, rr)
    return X, y


def expected_matching_quality(n_entities: int) -> pd.DataFrame:
    """Independent recomputation of q_geo_matching_quality (plans/
    matching_quality.py::run_matching_quality, n_neg=2, seed=1, cv=3,
    DEFAULT_PARAM_GRIDS = RF{n_trees 15/30 × depth 5/8} +
    GB{rounds 40/80 × lr 0.1/0.3 × depth 3}): oracle BKAFI kNN (k=3)
    pairs → 25 ratio features → md5 entity split → CV grid (backbones in
    grid insertion order RF,GB; spec transcriptions above) → refit winner
    → test P/R/F1, rows sorted by model name, rounded 3."""
    pdf_pages = generate_pages_pdf(n_entities, seed=42)
    objs = O.object_dicts_from_pages(pdf_pages)
    prop_dict = prop_dict_parallel(objs)
    order = list(O.property_ratios(prop_dict).keys())
    cands_v, index_v = O.bkafi_vectors(prop_dict, order, 3)
    nn = O.knn_join(cands_v, index_v, k=3, round_dists=3)
    ids_c = set(prop_dict[O.PROPERTY_NAMES[0]]["cands"])
    ids_i = set(prop_dict[O.PROPERTY_NAMES[0]]["index"])
    pairs = {(c, c, 1) for c in ids_c & ids_i}
    for cid, lst in nn.items():
        for rank, (iid, _d) in enumerate(lst, start=1):
            if rank <= 3 and iid != cid:
                pairs.add((cid, iid, 0))
    train = sorted(
        (p for p in pairs if _md5_is_train(p[0], 0.7, 1)),
        key=lambda p: (p[0], p[1]),
    )
    test = sorted(p for p in pairs if not _md5_is_train(p[0], 0.7, 1))
    Xtr, ytr = _mq_ratio_X(prop_dict, train)
    Xte, yte = _mq_ratio_X(prop_dict, test)
    folds = _stratified_folds_spec(ytr, 3, 1)
    grids = {
        "RandomForestMatcher": {"n_trees": [15, 30], "max_depth": [5, 8]},
        "GradientBoostingMatcher": {
            "n_rounds": [40, 80], "learning_rate": [0.1, 0.3],
            "max_depth": [3],
        },
    }

    def fit_predict(name, params, X, y, Xt):
        if name == "RandomForestMatcher":
            trees, _ = _rf_fit_spec(X, y, seed=1, **params)
            return _rf_predict_spec(trees, Xt)
        model = _gb_fit_spec(X, y, seed=1, **params)
        return _gb_predict_spec(model, Xt)

    rows = []
    fitted = {}
    for name, grid in grids.items():
        best = (None, -1.0)
        for params in _param_combos_spec(grid):
            scores = []
            for i in range(3):
                te = folds[i]
                tr = np.concatenate([folds[j] for j in range(3) if j != i])
                pred = fit_predict(name, params, Xtr[tr], ytr[tr], Xtr[te])
                scores.append(_f1_macro_spec(ytr[te], pred))
            mean_f1 = float(np.mean(scores))
            if mean_f1 > best[1]:
                best = (params, mean_f1)
        fitted[name] = (best[0], best[1])
    for name in sorted(fitted):
        params, cv_f1 = fitted[name]
        pred = fit_predict(name, params, Xtr, ytr, Xte)
        tp = int(((pred == 1) & (yte == 1)).sum())
        fp = int(((pred == 1) & (yte == 0)).sum())
        fn = int(((pred == 0) & (yte == 1)).sum())
        precision = tp / (tp + fp) if tp + fp else 0.0
        recall = tp / (tp + fn) if tp + fn else 0.0
        f1 = (
            2 * precision * recall / (precision + recall)
            if precision + recall
            else 0.0
        )
        rows.append(
            {
                "model": name,
                "cv_f1": round(cv_f1, 3),
                "precision": round(precision, 3),
                "recall": round(recall, 3),
                "f1": round(f1, 3),
            }
        )
    return pd.DataFrame(rows)


def expected_blocking_fi(prop_dict, dim: int = 3, k: int = 21) -> pd.DataFrame:
    """BKAFI candidates under the learned feature_importance order
    (engine q path: learned_feature_order → run_bkafi_blocking; spec
    matching_model.py:240-262): train pairs = positives (c,c) over the
    matched intersection + xxhash64 negative draws (n_neg=2, seed=1),
    features = the 25 ratio features (same clip/round convention as
    expected_pair_features), fit sorted by (cand_id, index_id)."""
    ids_c = set(prop_dict[O.PROPERTY_NAMES[0]]["cands"])
    ids_i = sorted(prop_dict[O.PROPERTY_NAMES[0]]["index"])
    matched = sorted(ids_c.intersection(ids_i))
    pairs = sorted(negative_pairs_sim(matched, ids_i, n_neg=2, seed=1))
    X = np.empty((len(pairs), len(O.PROPERTY_NAMES)), dtype=np.float64)
    y = np.empty(len(pairs), dtype=np.int64)
    for r, (cid, iid) in enumerate(pairs):
        y[r] = 1 if cid == iid else 0
        for fj, p in enumerate(O.PROPERTY_NAMES):
            c = prop_dict[p]["cands"][cid]
            i = prop_dict[p]["index"][iid]
            if i == 0.0:
                X[r, fj] = 1000.0
            else:
                rr = spark_round(c / i, 3)
                X[r, fj] = 1000.0 if math.isnan(rr) else min(1000.0, rr)
    ratio_names = [f"{p}_ratio" for p in O.PROPERTY_NAMES]
    order = [
        name.split("_ratio")[0]
        for name in rf_importance_order(X, y, ratio_names, n_trees=15)
    ]
    cands, index = O.bkafi_vectors(prop_dict, order, dim)
    nn = O.knn_join(cands, index, k=k, round_dists=3)
    rows = [
        {
            "bkafi_dim": dim,
            "cand_id": cid,
            "index_id": iid,
            "rank": rank,
            "dist": dist,
            "label": 1 if cid == iid else 0,
        }
        for cid, lst in nn.items()
        for rank, (iid, dist) in enumerate(lst, start=1)
    ]
    return pd.DataFrame(rows).astype(
        {"bkafi_dim": "int32", "rank": "int32", "label": "int32"}
    )


def expected_threshold_sweep(prop_dict, dim: int = 3, k: int = 100) -> pd.DataFrame:
    from geospatial_object_matching_spark.config import THRESHOLD_PERCENTILES

    nn, order = _bkafi_nn(prop_dict, dim, k, round_dists=7)
    d = _matched_dists(prop_dict, order[:dim])
    cand_ids = set(prop_dict[order[0]]["cands"])
    index_ids = set(prop_dict[order[0]]["index"])
    n_c, n_i = len(cand_ids), len(index_ids)
    n_int = len(cand_ids & index_ids)
    dists = np.array([dd for lst in nn.values() for _iid, dd in lst])
    pos_dists = np.sort(
        np.array([dd for cid, lst in nn.items() for iid, dd in lst if cid == iid])
    )
    dists.sort()
    rows = []
    for p in sorted(THRESHOLD_PERCENTILES):
        t = float(np.percentile(d, p * 100))
        n_adm = int(np.searchsorted(dists, t, side="right"))
        n_pos = int(np.searchsorted(pos_dists, t, side="right"))
        rows.append(
            {
                "percentile": p,
                "recall": round(n_pos / n_int, 3),
                "cand_pairs_num": n_adm,
                "reduction_ratio": round(1.0 - n_adm / (n_c * n_i), 8),
                "threshold_val": _floor_round(t, 6),
            }
        )
    return pd.DataFrame(rows).astype({"cand_pairs_num": "int64"})


def expected_transform(objs) -> pd.DataFrame:
    """Kabsch/umeyama fit over matched centroids (engine
    operators/transform.py; reference blocking.py:78-92)."""
    ids = sorted(set(objs["cands"]) & set(objs["index"]))
    C = np.array([objs["cands"][i]["centroid"] for i in ids], dtype=np.float64)
    I = np.array([objs["index"][i]["centroid"] for i in ids], dtype=np.float64)
    mc, mi = C.mean(axis=0), I.mean(axis=0)
    H = (I - mi).T @ (C - mc)
    U, S, Vt = np.linalg.svd(H)
    R = Vt.T @ U.T
    if np.linalg.det(R) < 0:
        Vt[-1, :] *= -1
        R = Vt.T @ U.T
    ss_c = float(((C - mc) ** 2).sum())
    ss_i = float(((I - mi) ** 2).sum())
    scale = float(np.sqrt(ss_c / ss_i)) if ss_i else 1.0
    t = mc - scale * (R @ mi)
    row = {f"r{a}{b}": round(float(R[a, b]), 6) for a in range(3) for b in range(3)}
    row["scale"] = round(scale, 6)
    for i, v in enumerate(t):
        row[f"t{i}"] = round(float(v), 4)
    return pd.DataFrame([row])[sorted(row)]


# --------------------------------------------------------------------------
# golden tier: capture the engine's Spark output once
# --------------------------------------------------------------------------


def golden_outputs(sf_dirs: list[str]) -> dict[str, list[pd.DataFrame]]:
    import __spark_entry__ as E
    from geospatial_object_matching_spark.config import EngineConf
    from geospatial_object_matching_spark.session import get_spark

    spark = get_spark(
        "gen-expected", master="local[16]", conf=EngineConf(shuffle_partitions=16)
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    out: dict[str, list[pd.DataFrame]] = {q: [] for q in GOLDEN_QUERIES}
    for sf_dir in sf_dirs:
        n_li = table_rows(sf_dir, "lineitem")
        for q in GOLDEN_QUERIES:
            pdf = qs[q](spark, sf_dir).toPandas()
            pdf["_n_li"] = np.int64(n_li)
            out[q].append(pdf)
            print(f"[golden] {q} @ {sf_dir}: {len(pdf)} rows", flush=True)
        spark.catalog.clearCache()
    spark.stop()
    return out


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def write_expected(name: str, frames: list[pd.DataFrame]) -> None:
    os.makedirs(OUT_DIR, exist_ok=True)
    pdf = pd.concat(frames, ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(pdf, preserve_index=False),
        os.path.join(OUT_DIR, f"{name}.parquet"),
        coerce_timestamps="us",
    )
    print(f"[write] {name}: {len(pdf)} rows", flush=True)


def main() -> None:
    sf_dirs = sys.argv[1:] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
    ]
    acc: dict[str, list[pd.DataFrame]] = {}

    for sf_dir in sf_dirs:
        n_li = table_rows(sf_dir, "lineitem")
        n_entities = max(40, n_li // 100)
        print(f"== {sf_dir}: n_li={n_li} n_entities={n_entities}", flush=True)

        pdf_pages = generate_pages_pdf(n_entities, seed=42)
        objs = O.object_dicts_from_pages(pdf_pages)

        def tag(df: pd.DataFrame, col="_n_li", val=n_li) -> pd.DataFrame:
            df[col] = np.int64(val)
            return df

        acc.setdefault("geo_extract", []).append(tag(expected_geo_extract(objs)))
        acc.setdefault("media_features", []).append(
            tag(expected_media_features(pdf_pages))
        )
        acc.setdefault("image_features", []).append(
            tag(expected_image_features(max(40, n_li // 400)))
        )
        acc.setdefault("render_features", []).append(
            tag(expected_render_features(objs))
        )
        acc.setdefault("geo_image_blocking", []).append(
            tag(expected_image_blocking(objs))
        )
        acc.setdefault("geo_pip", []).append(tag(expected_geo_pip(objs)))

        prop_dict = prop_dict_parallel(objs)
        acc.setdefault("geo_blocking_recall", []).append(
            tag(expected_blocking_recall(prop_dict, objs))
        )
        acc.setdefault("geo_properties", []).append(
            tag(expected_geo_properties(prop_dict))
        )
        acc.setdefault("geo_blocking_pairs", []).append(
            tag(expected_blocking_pairs(prop_dict))
        )
        acc.setdefault("geo_match_decisions", []).append(
            tag(expected_match_decisions(prop_dict))
        )
        acc.setdefault("geo_pair_features", []).append(
            tag(expected_pair_features(prop_dict))
        )
        acc.setdefault("geo_threshold_sweep", []).append(
            tag(expected_threshold_sweep(prop_dict))
        )
        acc.setdefault("geo_blocking_fi", []).append(
            tag(expected_blocking_fi(prop_dict))
        )
        n_small = max(30, n_li // 400)
        acc.setdefault("geo_matching_quality", []).append(
            tag(expected_matching_quality(n_small))
        )
        acc.setdefault("contrastive_quality", []).append(
            tag(expected_contrastive_quality(n_small))
        )
        acc.setdefault("geo_transform", []).append(tag(expected_transform(objs)))
        acc.setdefault("geo_tiles", []).append(tag(expected_geo_tiles(objs)))
        acc.setdefault("geo_partitions", []).append(
            tag(expected_geo_partitions(objs))
        )
        acc.setdefault("geo_centroid_knn", []).append(
            tag(expected_centroid_knn(objs))
        )
        acc.setdefault("geo_seed_mean_recall", []).append(
            tag(expected_seed_mean_recall(max(30, n_li // 400)))
        )

        # keyed by _n_li like everything else: documents/embeddings have
        # the SAME row count across SFs (different content), so their own
        # counts cannot disambiguate the slice
        min_sigs, sim_sigs = expected_text_sigs(sf_dir)
        acc.setdefault("minhash_sigs", []).append(tag(min_sigs))
        acc.setdefault("simhash_sigs", []).append(tag(sim_sigs))
        acc.setdefault("lsh_buckets", []).append(
            tag(expected_lsh_buckets(sf_dir))
        )
        acc.setdefault("ivf_buckets", []).append(
            tag(expected_ivf_buckets(sf_dir))
        )

    if GOLDEN_QUERIES:  # empty since round 5 — every oracle is independent
        for name, frames in golden_outputs(sf_dirs).items():
            acc[name] = frames

    for name, frames in acc.items():
        write_expected(name, frames)


if __name__ == "__main__":
    main()
