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

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import NN_PARAM
from ..operators import blocking
from ..operators.extract import extract_objects
from ..operators.knn import knn_join
from ..operators.matching import (
    matched_pair_vectors,
    pair_features,
    percentile_thresholds,
    threshold_stats,
)
from ..sources.checkpoint import CheckpointManager


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    bkafi_dim: int = 3,
    k: int = NN_PARAM,
    decision_percentile: float = 0.95,
    zoom: int = 15,
    checkpoints: CheckpointManager | None = None,
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
    # term once the kernels are fast (BENCH.md Amdahl note), so phase A is
    # one job and phase B's independent chains run from driver threads:
    #   phase A — one groupBy(obj_id) over properties gives the feature
    #   order (ratio stats) and the side counts in one first(). The
    #   counts feed three consumers after it: n_c sizes the cands scaler
    #   fit, n_int the matched-cands fit and the threshold percentiles
    #   (each picks exact_percentiles' one-job arm when it fits the
    #   interior cap), and n_i replaces knn_join's own index count.
    #   The scaler fit runs AFTER the order resolves, on exactly the
    #   selected bkafi_dim features — fitting all 25 up-front for overlap
    #   cost 12.7 s of exact-percentile work at sf1 vs ~2 s for the 3
    #   needed columns (round-6 measurement), and the extra parallel work
    #   competed with the featurize stage for cores;
    #   phase B — kNN ∥ matched-pair threshold percentiles.
    # property_ratio_stats is looked up on the module at call time, so a
    # wrapper installed there (perfbench's tracer) sees this call
    ratio_stats, (n_c, n_i, n_int) = blocking.property_ratio_stats(properties)
    order = [s["property"] for s in ratio_stats]
    feats = order[:bkafi_dim]
    # per-feature stats are independent, so fitting exactly the selected
    # columns yields the identical (center, scale) values the 25-column
    # fit produced for them
    scaler_stats = robust_scaler_fit(
        properties.filter(F.col("source") == "cands"), feats, n_rows=n_c
    )

    cands_v, index_v = blocking.bkafi_vectors(properties, feats, stats=scaler_stats)
    cands_v, index_v = cands_v.persist(), index_v.persist()

    def job_candidates():
        df = stage(
            "candidates",
            lambda: knn_join(cands_v, index_v, k, strategy="auto", n_index=n_i),
            params={"dim": bkafi_dim, "k": k},
        ).persist()
        df.count()  # materialize inside the thread — that's the overlap
        return df

    def job_thresholds():
        # threshold matcher (bkafi_with_threshold.py lifecycle)
        dists, _ = matched_pair_vectors(properties, feats, n_rows=n_int)
        return percentile_thresholds(
            dists, (0.5, 0.75, 0.9, 0.95, 0.99), n_rows=n_int
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cand = pool.submit(job_candidates)
        f_thr = pool.submit(job_thresholds)
        thresholds = f_thr.result()
        candidates = f_cand.result()

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
