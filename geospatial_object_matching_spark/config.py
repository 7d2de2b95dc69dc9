"""Engine constants.

Mirrors the *semantics* of reference ``config.py`` (values that change query
results), plus Spark-specific tuning knobs. Reference citations are
file:line into /root/reference.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# --- reference-semantics constants -----------------------------------------

#: the 25 per-object geometric properties, in reference order
#: (reference config.py:44-49)
OBJECT_PROPERTIES: tuple[str, ...] = (
    "bounding_box_width",
    "bounding_box_length",
    "area",
    "perimeter",
    "perimeter_ind",
    "volume",
    "convex_hull_area",
    "convex_hull_volume",
    "ave_centroid_distance",
    "height_diff",
    "num_floors",
    "axes_symmetry",
    "compactness_2d",
    "compactness_3d",
    "density",
    "elongation",
    "shape_ind",
    "hemisphericality",
    "fractality",
    "cubeness",
    "circumference",
    "aligned_bounding_box_width",
    "aligned_bounding_box_length",
    "aligned_bounding_box_height",
    "num_vertices",
)

#: ratio features are clipped at this value (reference config.py:23)
MAX_RATIO_VAL = 1000.0

#: objects with fewer surfaces are dropped (reference pipelines.py:17,144-145)
MIN_SURFACES_NUM = 10

#: k values for candidate-pair expansion (reference config.py:60)
CAND_PAIRS_PER_ITEM_LIST: tuple[int, ...] = tuple(range(1, 21))

#: number of nearest neighbors retrieved (reference config.py:61)
NN_PARAM = CAND_PAIRS_PER_ITEM_LIST[-1] + 1

#: percentiles for the threshold matcher (reference bkafi_with_threshold.py:20-21)
THRESHOLD_PERCENTILES: tuple[float, ...] = tuple(
    round(0.005 * i, 3) for i in range(200)
)

#: fraction of cand ids given no index twin in blocking test sets
#: (reference data_partition.py:123 ``non_matched_rat``)
NON_MATCHED_RATIO = 0.2


# --- Spark tuning ----------------------------------------------------------


@dataclass
class EngineConf:
    """Physical-execution knobs; defaults sized for local[32] test runs but
    expressed the way a 1000-executor job would set them."""

    shuffle_partitions: int = 32
    #: rows below which the kNN index side is broadcast; above it the
    #: range-sliced strategy dispatches (round-4 measurement: range beats
    #: broadcast 3× already at 500k rows — the driver collect dominates —
    #: and broadcast's whole-index-per-task memory story dies long before
    #: range's per-slice one, so the threshold sits where broadcast's
    #: zero-shuffle advantage still wins: small dimension-table-sized
    #: indexes like the flagship's 48k entities)
    broadcast_index_max_rows: int = 200_000
    #: max neighbor-ring expansion rounds before falling back to brute force
    knn_max_rounds: int = 6
    #: Arrow batch size for mapInPandas kernels
    arrow_batch_rows: int = 4096
    extra_spark_conf: dict = field(default_factory=dict)


DEFAULT_CONF = EngineConf()
