"""BKAFI blocking pipeline (SURVEY.md §2.3 J1, §2.5 W1, §2.4 A3/A5;
reference blocking.py + classifier.py:224-233 + pipelines.py:369-394).

Dataflow (all DataFrame transformations):

    properties(obj_id, source, p1..p25)
      ├─ matched inner self-join on obj_id → per-property index/cand ratio
      │   stats (mean, stddev_pop, rounded 3) → feature order by std asc
      │   (the reference's 'std' BKAFI criterion, blocking.py:135-138)
      ├─ top-dim feature projection (BKAFI dimensionality pruning = column
      │   pruning, blocking.py:126-142)
      ├─ RobustScaler fit on cands → scaled feature vectors (A9)
      ├─ exact kNN join (broadcast or range strategy, operators/knn.py)
      └─ rank window 1..k → labeled candidate pairs; per-k slices are
          filter(rank<=k) over ONE ranked result — the reference's
          incremental top-k reuse (blocking.py:211-230) for free.

Blocking recall per (dim, k) = |distinct positive pairs| / |cands ∩ index|
rounded to 3 (pipelines.py:381-394), computed from a tiny per-rank
histogram + driver-side cumsum (no per-k scans).
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import CAND_PAIRS_PER_ITEM_LIST, NN_PARAM, OBJECT_PROPERTIES
from .knn import knn_join
from .scaler import robust_scaler_fit, robust_scaler_transform


def property_ratio_stats(properties: DataFrame) -> list[dict]:
    """Per-property index/cand ratio mean & std over matched ids, rounded
    to 3, sorted by std ascending (stable in property order) —
    classifier.py:224-233 semantics. Returns a 25-row driver-side list."""
    from .matching import matched_wide

    matched = matched_wide(properties, list(OBJECT_PROPERTIES))
    aggs = []
    for p in OBJECT_PROPERTIES:
        ratio = F.col(f"i_{p}") / F.col(f"c_{p}")
        aggs.append(F.avg(ratio).alias(f"mean_{p}"))
        aggs.append(F.stddev_pop(ratio).alias(f"std_{p}"))
    row = matched.agg(*aggs).first()
    stats = [
        {
            "property": p,
            "mean": round(float(row[f"mean_{p}"]), 3),
            "std": round(float(row[f"std_{p}"]), 3),
        }
        for p in OBJECT_PROPERTIES
    ]
    # python sorted() is stable → ties keep reference property order,
    # matching dict(sorted(...)) over an insertion-ordered dict
    return sorted(stats, key=lambda s: s["std"])


def bkafi_feature_order(properties: DataFrame, criterion: str = "std") -> list[str]:
    """Blocking feature order. 'std' is pure statistics
    (blocking.py:135-138); 'feature_importance' (blocking.py:139-142) needs
    the trained matcher — wired in operators/matching_model.py."""
    if criterion != "std":
        raise NotImplementedError(
            "feature_importance criterion requires the trained matcher; "
            "use operators.matching_model.feature_importance_order"
        )
    return [s["property"] for s in property_ratio_stats(properties)]


def bkafi_vectors(
    properties: DataFrame,
    features: list[str],
    stats: dict[str, tuple[float, float]] | None = None,
    sdr_factors: dict[str, float] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(cands_df, index_df) with a scaled ``features`` array column.

    Projects to exactly the selected property columns *before* the scaler
    aggregation so the parquet scan prunes to dim+2 columns (BKAFI's whole
    point, expressed as Catalyst column pruning). Pass precomputed
    ``stats`` (robust_scaler_fit on the cands side) to reuse one fit
    across many dims — per-feature stats are independent, so a dim-d
    vector slices the dim-D fit.

    ``sdr_factors`` (F3, reference blocking.py:166-174): systematic-
    discrepancy-ratio correction — each cand-side value is multiplied by
    that feature's train mean index/cand ratio (rounded 3, as
    property_ratio_stats reports it) BEFORE the scaler fit; the index side
    is untouched (factor 1.0). A broadcast-free pure column multiply."""
    proj = properties.select("obj_id", "source", *features)
    cands = proj.filter(F.col("source") == "cands")
    index = proj.filter(F.col("source") == "index")
    if sdr_factors is not None:
        for f in features:
            cands = cands.withColumn(f, F.col(f) * F.lit(float(sdr_factors[f])))
    if stats is None:
        stats = robust_scaler_fit(cands, features)  # fit on cands only
    stats = {f: stats[f] for f in features}
    scaled_cols = [f"{f}__s" for f in features]
    cands = robust_scaler_transform(cands, stats, suffix="__s")
    index = robust_scaler_transform(index, stats, suffix="__s")
    to_vec = F.array(*[F.col(c) for c in scaled_cols]).alias("features")
    return (
        cands.select("obj_id", to_vec),
        index.select("obj_id", to_vec),
    )


@dataclass
class BlockingResult:
    candidates: DataFrame  # (bkafi_dim, cand_id, index_id, rank, dist, label)
    recall: pd.DataFrame  # (bkafi_dim, k, blocking_recall)
    feature_order: list[str]


def run_bkafi_blocking(
    properties: DataFrame,
    dims: list[int],
    k_list: tuple[int, ...] = CAND_PAIRS_PER_ITEM_LIST,
    nn_param: int = NN_PARAM,
    criterion: str = "std",
    feature_order: list[str] | None = None,
    strategy: str = "auto",
    sdr_factor: bool = False,
) -> BlockingResult:
    """Full BKAFI blocking evaluation across ``dims``: one kNN join per
    dim at k=nn_param; per-k candidate sets are rank filters.

    ``sdr_factor=True`` enables the F3 correction (reference run flag
    ``--sdr_factor``, blocking.py:166-174): cand vectors are multiplied by
    the per-feature train mean ratio before scaling."""
    properties = properties.persist()
    ratio_stats = property_ratio_stats(properties)
    order = feature_order or (
        [s["property"] for s in ratio_stats]
        if criterion == "std"
        else bkafi_feature_order(properties, criterion)
    )
    factors = (
        {s["property"]: s["mean"] for s in ratio_stats} if sdr_factor else None
    )

    # one scaler fit covers every dim (per-feature stats are independent);
    # under SDR the fit must see the factor-multiplied cand values
    max_feats = order[: max(dims)]
    fit_src = properties.filter(F.col("source") == "cands")
    if factors is not None:
        for f in max_feats:
            fit_src = fit_src.withColumn(f, F.col(f) * F.lit(float(factors[f])))
    stats = robust_scaler_fit(fit_src, max_feats)

    per_dim = []
    for dim in dims:
        cands, index = bkafi_vectors(
            properties, order[:dim], stats=stats, sdr_factors=factors
        )
        nn = knn_join(cands, index, nn_param, strategy=strategy).withColumn(
            "bkafi_dim", F.lit(dim)
        )
        per_dim.append(nn)
    candidates = per_dim[0]
    for df in per_dim[1:]:
        candidates = candidates.unionByName(df)
    candidates = candidates.withColumn(
        "label", (F.col("cand_id") == F.col("index_id")).cast("int")
    ).persist()

    # recall: positives per (dim, rank) → cumulative over rank ≤ k
    inter = (
        properties.filter(F.col("source") == "cands")
        .select("obj_id")
        .intersect(properties.filter(F.col("source") == "index").select("obj_id"))
        .count()
    )
    hist = (
        candidates.filter(F.col("label") == 1)
        .groupBy("bkafi_dim", "rank")
        .count()
        .toPandas()
    )
    rows = []
    for dim in dims:
        h = hist[hist["bkafi_dim"] == dim].set_index("rank")["count"]
        cum = 0
        by_rank = {}
        for r in range(1, max(k_list) + 1):
            cum += int(h.get(r, 0))
            by_rank[r] = cum
        for k in k_list:
            rows.append(
                {
                    "bkafi_dim": dim,
                    "k": k,
                    "blocking_recall": round(by_rank[k] / inter, 3),
                }
            )
    recall = pd.DataFrame(rows)
    properties.unpersist()
    return BlockingResult(candidates=candidates, recall=recall, feature_order=order)


def centroid_blocking(
    objects: DataFrame,
    k: int = NN_PARAM,
    strategy: str = "auto",
) -> DataFrame:
    """Exhaustive centroid L2 kNN join (reference blocking.py:62-76,
    FAISS IndexFlatL2 analog): raw 3-d centroids, no scaling."""
    vec = F.array("centroid_x", "centroid_y", "centroid_z").alias("features")
    cands = objects.filter(F.col("source") == "cands").select("obj_id", vec)
    index = objects.filter(F.col("source") == "index").select("obj_id", vec)
    return knn_join(cands, index, k, strategy=strategy)
