"""The flagship end-to-end plan: pages → match decisions.

Mirrors the reference's §3.1/§3.3 lifecycles as one DataFrame dataflow,
optionally snapshot-checkpointed per stage (resume = skip completed
stages):

    pages ──extract──▶ objects ──properties──▶ properties(p1..p25)
        │                                          │
        │                      ┌── ratio stats ────┤ (feature order)
        │                      ▼                   ▼
        │                 BKAFI vectors ──kNN──▶ candidates (rank≤k)
        │                      │                   │
        │        matched dists + percentile thr    │
        │                      └──────────┬────────┘
        ▼                                 ▼
    tiles / PIP                  match decisions (dist ≤ threshold)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONF, EngineConf, NN_PARAM
from ..operators.blocking import bkafi_feature_order, bkafi_vectors
from ..operators.extract import extract_objects
from ..operators.knn import knn_join
from ..operators.matching import (
    matched_pair_vectors,
    pair_features,
    percentile_thresholds,
    threshold_stats,
)
from ..operators.properties import compute_properties
from ..sources.checkpoint import CheckpointManager


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    bkafi_dim: int = 3,
    k: int = NN_PARAM,
    decision_percentile: float = 0.95,
    zoom: int = 15,
    checkpoints: CheckpointManager | None = None,
    conf: EngineConf = DEFAULT_CONF,
    with_features: bool = True,
) -> dict:
    """Returns {'objects', 'properties', 'candidates', 'matches',
    'stats', 'feature_order', 'thresholds'}."""

    def stage(name, fn, params=None):
        if checkpoints is not None:
            return checkpoints.run_stage(name, fn, params)
        return fn()

    from ..operators.properties import pages_to_properties
    from ..operators.scaler import robust_scaler_fit

    # fused parse+featurize: one Arrow pass, coords never serialized out
    properties = stage(
        "properties", lambda: pages_to_properties(pages, zoom=zoom, log1p=True)
    ).persist()
    # objects (with geometry buffers) built lazily only for callers that
    # want tiles/PIP — not in the blocking/matching hot path
    objects = extract_objects(pages, zoom=zoom)

    # serialized driver-synchronized actions are the dominant non-scaling
    # term once the kernels are fast (BENCH.md Amdahl note), so every
    # mutually independent job chain runs from a driver thread:
    #   phase A — feature order (ratio-stats agg) ∥ side counts (needs
    #   only properties); the scaler fit runs AFTER the order resolves,
    #   on exactly the selected bkafi_dim features — fitting all 25
    #   up-front for overlap cost 12.7 s of exact-percentile work at sf1
    #   vs ~2 s for the 3 needed columns (round-6 measurement), and the
    #   extra parallel work competed with the featurize stage for cores;
    #   phase B — kNN ∥ matched-pair threshold percentiles.
    from concurrent.futures import ThreadPoolExecutor

    def job_counts():
        # one job for all three counts (cands, index, intersection)
        row = (
            properties.groupBy("obj_id")
            .agg(
                F.max((F.col("source") == "cands").cast("int")).alias("c"),
                F.max((F.col("source") == "index").cast("int")).alias("i"),
            )
            .agg(
                F.sum("c").alias("n_c"),
                F.sum("i").alias("n_i"),
                F.sum(F.col("c") * F.col("i")).alias("n_int"),
            )
            .first()
        )
        return int(row["n_c"]), int(row["n_i"]), int(row["n_int"])

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_order = pool.submit(bkafi_feature_order, properties, "std")
        f_cnt = pool.submit(job_counts)
        order = f_order.result()
    feats = order[:bkafi_dim]
    # per-feature stats are independent, so fitting exactly the selected
    # columns yields the identical (center, scale) values the 25-column
    # fit produced for them
    scaler_stats = robust_scaler_fit(
        properties.filter(F.col("source") == "cands"), feats
    )

    cands_v, index_v = bkafi_vectors(properties, feats, stats=scaler_stats)
    cands_v, index_v = cands_v.persist(), index_v.persist()

    def job_candidates():
        df = stage(
            "candidates",
            lambda: knn_join(cands_v, index_v, k, strategy="auto", conf=conf),
            params={"dim": bkafi_dim, "k": k},
        ).persist()
        df.count()  # materialize inside the thread — that's the overlap
        return df

    def job_thresholds():
        # threshold matcher (bkafi_with_threshold.py lifecycle)
        dists, _ = matched_pair_vectors(properties, feats)
        return percentile_thresholds(dists, (0.5, 0.75, 0.9, 0.95, 0.99))

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cand = pool.submit(job_candidates)
        f_thr = pool.submit(job_thresholds)
        thresholds = f_thr.result()
        candidates = f_cand.result()
    n_c, n_i, n_int = f_cnt.result()

    thr = thresholds[decision_percentile]
    matches = candidates.filter(F.col("dist") <= F.lit(thr)).withColumn(
        "label", (F.col("cand_id") == F.col("index_id")).cast("int")
    )

    features = None
    if with_features:
        features = stage(
            "pair_features",
            lambda: pair_features(
                candidates.select("cand_id", "index_id"), properties
            ),
            params={"dim": bkafi_dim, "k": k},
        )
    stats = threshold_stats(candidates, thresholds, n_c, n_i, n_int)

    return {
        "objects": objects,
        "properties": properties,
        "candidates": candidates,
        "matches": matches,
        "pair_features": features,
        "stats": stats,
        "feature_order": order,
        "thresholds": thresholds,
        "counts": {"cands": n_c, "index": n_i, "intersection": n_int},
    }
