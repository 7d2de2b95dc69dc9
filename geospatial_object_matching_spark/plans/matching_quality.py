"""Matching-quality lifecycle (reference §3.2: pipelines.py:618-626,
classifier.py:106-176, data_partition.py:374-415).

    properties ──BKAFI blocking──▶ candidates(rank, label)
        │                              │
        │            blocking-based pair partition (pos = matched cands,
        │            neg = top-(n+1) blocked non-matches)
        ▼                              ▼
    pair ratio features ──train/test split──▶ cv grid search
    (driver numpy fit, 2 backbones) ──broadcast──▶ distributed predict
                                        │
                                        ▼
                     per-model precision / recall / F1 rows
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import OBJECT_PROPERTIES
from ..operators.blocking import run_bkafi_blocking
from ..operators.matching import pair_features, precision_recall_f1
from ..operators.matching_model import (
    DEFAULT_PARAM_GRIDS,
    cv_grid_search,
    predict_matches,
)


def blocking_based_pairs(
    candidates: DataFrame, n_neg: int, matched_ids: DataFrame | None = None
) -> DataFrame:
    """Matching-mode pair partition from saved blocking output (reference
    data_partition.py:374-415 ``process_blocking_based_pairs``):

    - positives: ``(cand_id, cand_id)`` for every cand whose true match
      survived blocking (``cands_with_match_ids``);
    - negatives: the blocking candidate pairs with rank ≤ n_neg+1 and
      label 0 (``blocking_dict['neg_pairs'][neg_samples_num + 1]`` — the
      *hard* negatives: nearest non-matching neighbors).

    The reference then np.random.shuffles the list; order is irrelevant to
    a DataFrame, so the engine keeps the deterministic set.

    ``matched_ids`` (one column of object ids): the reference's
    cands_with_match_ids comes from the partition dict (ALL matched cands,
    whether or not blocking found them); pass it for exact parity. When
    None, falls back to matched cands that survived blocking."""
    if matched_ids is not None:
        pos = matched_ids.select(
            F.col(matched_ids.columns[0]).alias("cand_id")
        )
    else:
        pos = candidates.filter(F.col("label") == 1).select("cand_id").distinct()
    pos = pos.select(
        "cand_id",
        F.col("cand_id").alias("index_id"),
        F.lit(1).alias("label"),
    )
    neg = (
        candidates.filter(
            (F.col("rank") <= n_neg + 1) & (F.col("label") == 0)
        )
        .select("cand_id", "index_id", F.lit(0).alias("label"))
        .distinct()
    )
    return pos.unionByName(neg)


def train_test_split_pairs(
    pairs: DataFrame, train_frac: float = 0.7, seed: int = 1
) -> tuple[DataFrame, DataFrame]:
    """Deterministic split BY CAND ID (all pairs of a cand land on one
    side — the reference partitions object ids, not pairs, so test
    entities are unseen): md5(seed|cand_id) prefix threshold."""
    frac = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}|"), F.col("cand_id"))), 1, 8
            ),
            16,
            10,
        ).cast("double")
        / F.lit(float(0xFFFFFFFF))
    )
    tagged = pairs.withColumn("_is_train", frac < F.lit(train_frac))
    return (
        tagged.filter(F.col("_is_train")).drop("_is_train"),
        tagged.filter(~F.col("_is_train")).drop("_is_train"),
    )


def run_matching_quality(
    spark: SparkSession,
    properties: DataFrame,
    bkafi_dim: int = 3,
    n_neg: int = 2,
    seed: int = 1,
    cv: int = 3,
    param_grids: dict | None = None,
    train_cap: int = 60_000,
) -> pd.DataFrame:
    """Full §3.2 lifecycle; returns one row per backbone:
    (model, cv_f1, precision, recall, f1) on the held-out test pairs.

    ``train_cap`` bounds the driver-side fit the way the reference does:
    sklearn fits on a FIXED-SIZE sampled partition (14k–60k pairs,
    data_partition.py:425-426), never on the full corpus.  When the train
    side exceeds the cap, the entity-hash window of the split is tightened
    by cap/n_train (same md5 fraction, so it subsets — never reshuffles —
    the original train entities), keeping the collected pandas frame at
    ~cap rows ≈ 12 MB of driver memory REGARDLESS of corpus size; test
    evaluation stays fully distributed."""
    properties = properties.persist()
    blocking = run_bkafi_blocking(
        properties, dims=[bkafi_dim], k_list=(n_neg + 1,), nn_param=n_neg + 1
    )
    matched = (
        properties.filter(F.col("source") == "cands")
        .select("obj_id")
        .intersect(properties.filter(F.col("source") == "index").select("obj_id"))
    )
    pairs = blocking_based_pairs(blocking.candidates, n_neg, matched_ids=matched)
    feats = pair_features(pairs, properties).persist()
    ratio_cols = [f"{p}_ratio" for p in OBJECT_PROPERTIES]
    train, test = train_test_split_pairs(feats, 0.7, seed)

    n_train = train.count()
    if n_train > train_cap:
        # tighten the same entity-hash window: frac < 0.7 * cap/n_train
        # selects a deterministic subset of the train ENTITIES (uniform md5
        # fraction → ~cap pairs in expectation), so the collect below is
        # bounded at any corpus scale
        train, _ = train_test_split_pairs(
            feats, 0.7 * (train_cap / n_train), seed
        )

    train_pdf = (
        train.select("cand_id", "index_id", "label", *ratio_cols)
        .toPandas()
        .sort_values(["cand_id", "index_id"], kind="mergesort")
        .reset_index(drop=True)
    )
    X = train_pdf[ratio_cols].to_numpy(dtype=np.float64)
    y = train_pdf["label"].to_numpy(dtype=np.int64)
    fitted = cv_grid_search(
        X, y, ratio_cols, param_grids or DEFAULT_PARAM_GRIDS, cv=cv, seed=seed
    )

    test = test.persist()
    rows = []
    for name in sorted(fitted):
        scored = predict_matches(
            fitted[name]["model"],
            test,
            ratio_cols,
            keep_cols=("cand_id", "index_id", "label"),
        )
        m = precision_recall_f1(scored)
        rows.append(
            {
                "model": name,
                "cv_f1": round(fitted[name]["cv_f1"], 3),
                "precision": round(m["precision"], 3),
                "recall": round(m["recall"], 3),
                "f1": round(m["f1"], 3),
            }
        )
    return pd.DataFrame(rows)
