"""Tiling + point-in-polygon spatial join (north_rule operators).

- ``footprints``: objects → ground-ring polygon in lon/lat (kernel pulls
  the all-at-min-z surface from the geometry buffers, inverts the fixed
  equirectangular projection).
- ``tile_assignments``: vector→raster — every web-mercator tile a
  footprint touches with exact clipped-coverage fraction
  (Sutherland–Hodgman, functions/cells.py).
- ``pip_join``: the cell-partitioned spatial join: polygons are exploded
  to their covering tiles, points carry their tile id, the tile equi-join
  (hash join, AQE-skew-splittable) bounds the candidate set, and a
  vectorized ray-casting kernel applies the exact point-in-polygon
  predicate as the post-join filter (SURVEY.md §2.3 note).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
import pyspark.sql.types as T

from ..functions.cells import points_in_polygon, rasterize_footprint
from ..sources.pages import lonlat_of_xy

FOOTPRINT_SCHEMA = T.StructType(
    [
        T.StructField("obj_id", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("ring", T.ArrayType(T.ArrayType(T.DoubleType())), False),
    ]
)


def _ground_ring(coords: np.ndarray, offsets: np.ndarray) -> np.ndarray | None:
    """xy ring of the first surface whose vertices all sit at min z
    (the mesh_perimeter ring, object_properties.py:145-163)."""
    pts = coords.reshape(-1, 3)
    min_z = pts[:, 2].min()
    for i in range(len(offsets) - 1):
        s = pts[offsets[i] : offsets[i + 1]]
        if len(s) >= 3 and np.all(s[:, 2] == min_z):
            return s[:, :2]
    return None


def footprints(objects: DataFrame) -> DataFrame:
    """objects → (obj_id, source, ring [[lon,lat],...])."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, srcs, rings = [], [], []
            for oid, src, coords, offsets in zip(
                pdf["obj_id"], pdf["source"], pdf["coords"], pdf["ring_offsets"]
            ):
                ring = _ground_ring(
                    np.asarray(coords, dtype=np.float64),
                    np.asarray(offsets, dtype=np.int64),
                )
                if ring is None:
                    continue
                lon, lat = lonlat_of_xy(ring[:, 0], ring[:, 1])
                ids.append(oid)
                srcs.append(src)
                rings.append(np.stack([lon, lat], axis=1).tolist())
            if ids:
                yield pd.DataFrame({"obj_id": ids, "source": srcs, "ring": rings})

    return objects.select("obj_id", "source", "coords", "ring_offsets").mapInPandas(
        kernel, schema=FOOTPRINT_SCHEMA
    )


TILE_SCHEMA = T.StructType(
    [
        T.StructField("obj_id", T.StringType(), False),
        T.StructField("tile_x", T.IntegerType(), False),
        T.StructField("tile_y", T.IntegerType(), False),
        T.StructField("zoom", T.IntegerType(), False),
        T.StructField("coverage", T.DoubleType(), False),
    ]
)


def tile_assignments(footprints_df: DataFrame, zoom: int = 18) -> DataFrame:
    """Rasterize each footprint onto the tile grid with exact coverage."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("obj_id", "tile_x", "tile_y", "zoom", "coverage")}
            for oid, ring in zip(pdf["obj_id"], pdf["ring"]):
                poly = np.asarray([list(p) for p in ring], dtype=np.float64)
                for tx, ty, cov in rasterize_footprint(poly, zoom):
                    rows["obj_id"].append(oid)
                    rows["tile_x"].append(tx)
                    rows["tile_y"].append(ty)
                    rows["zoom"].append(zoom)
                    rows["coverage"].append(cov)
            if rows["obj_id"]:
                yield pd.DataFrame(rows)

    return footprints_df.select("obj_id", "ring").mapInPandas(kernel, schema=TILE_SCHEMA)


PIP_SCHEMA = T.StructType(
    [
        T.StructField("point_id", T.StringType(), False),
        T.StructField("obj_id", T.StringType(), False),
    ]
)


def pip_join(
    points: DataFrame,
    footprints_df: DataFrame,
    zoom: int = 18,
    point_id_col: str = "point_id",
    lon_col: str = "lon",
    lat_col: str = "lat",
    salt_threshold: int | None = None,
    salt_buckets: int = 8,
) -> DataFrame:
    """Points → containing footprint polygons.

    Plan shape: polygons explode to covering tiles (bounded fan-out —
    building ≈ a few tiles at z18); points hash-join on tile; the exact
    ray-cast runs only on co-tiled pairs. At 10^12 points this is the
    only join shape that works: no broadcast of a huge polygon set, no
    theta-join — one shuffle on tile id each side.

    Skew (north_rule "salted-key splitting for hot tiles"): Zipf city
    density makes a few tiles carry orders of magnitude more polygons.
    With ``salt_threshold`` set, tiles holding more polygons than it are
    salted: each point in a hot tile gets a hash salt in [0, buckets),
    each polygon row in a hot tile is replicated across all buckets, and
    the join key becomes (tile, salt) — splitting a hot tile's work
    across ``salt_buckets`` reducers. AQE skew-join splitting remains on
    as the runtime backstop.
    """
    tiles = tile_assignments(footprints_df, zoom).select(
        "obj_id", "tile_x", "tile_y"
    )
    polys = tiles.join(footprints_df.select("obj_id", "ring"), "obj_id")

    salted = salt_threshold is not None
    if salted:
        hot = (
            polys.groupBy("tile_x", "tile_y")
            .count()
            .filter(F.col("count") > salt_threshold)
            .select("tile_x", "tile_y", F.lit(True).alias("_hot"))
        )
        polys = (
            polys.join(F.broadcast(hot), ["tile_x", "tile_y"], "left")
            .withColumn(
                "_salt",
                F.explode(
                    F.when(
                        F.col("_hot").isNotNull(),
                        F.sequence(F.lit(0), F.lit(salt_buckets - 1)),
                    ).otherwise(F.array(F.lit(0)))
                ),
            )
            .drop("_hot")
        )

    def tile_expr(lon, lat):
        n = F.lit(float(2**zoom))
        lat_c = F.greatest(F.least(lat, F.lit(85.05112878)), F.lit(-85.05112878))
        x = F.floor((lon + 180.0) / 360.0 * n).cast("int")
        lat_rad = F.radians(lat_c)
        y = F.floor(
            (1.0 - F.asinh(F.tan(lat_rad)) / float(np.pi)) / 2.0 * n
        ).cast("int")
        return x, y

    px, py = tile_expr(F.col(lon_col), F.col(lat_col))
    pts = points.select(
        F.col(point_id_col).alias("point_id"),
        F.col(lon_col).alias("_lon"),
        F.col(lat_col).alias("_lat"),
        px.alias("tile_x"),
        py.alias("tile_y"),
    )
    join_keys = ["tile_x", "tile_y"]
    if salted:
        pts = pts.join(F.broadcast(hot), ["tile_x", "tile_y"], "left").withColumn(
            "_salt",
            F.when(
                F.col("_hot").isNotNull(),
                F.pmod(F.xxhash64("point_id"), F.lit(salt_buckets)),
            )
            .otherwise(F.lit(0))
            .cast("int"),
        ).drop("_hot")
        polys = polys.withColumn("_salt", F.col("_salt").cast("int"))
        join_keys = ["tile_x", "tile_y", "_salt"]
    joined = pts.join(polys, join_keys).select(
        "point_id", "_lon", "_lat", "obj_id", "ring"
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keep = np.zeros(len(pdf), dtype=bool)
            lons = pdf["_lon"].to_numpy()
            lats = pdf["_lat"].to_numpy()
            # group rows by polygon so each ring casts rays over its
            # whole point batch at once
            by_poly: dict[str, list[int]] = {}
            rings: dict[str, np.ndarray] = {}
            for i, (oid, ring) in enumerate(zip(pdf["obj_id"], pdf["ring"])):
                by_poly.setdefault(oid, []).append(i)
                if oid not in rings:
                    rings[oid] = np.asarray([list(p) for p in ring], dtype=np.float64)
            for oid, idxs in by_poly.items():
                idxs = np.asarray(idxs)
                inside = points_in_polygon(lons[idxs], lats[idxs], rings[oid])
                keep[idxs[inside]] = True
            out = pdf.loc[keep, ["point_id", "obj_id"]]
            if len(out):
                yield out

    return joined.mapInPandas(kernel, schema=PIP_SCHEMA)
