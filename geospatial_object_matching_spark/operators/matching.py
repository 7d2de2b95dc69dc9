"""Pairwise matching operators (SURVEY.md §2.9, §2.3 J5, §2.4 A4/A7;
reference process_pairs.py + bkafi_with_threshold.py + classifier.py).

- ``pair_features``: (cand_id, index_id) pair table → 25 ratio features via
  two hash equi-joins against the wide property table, then pure column
  arithmetic: ``least(1000, round(c/i, 3))`` with division-by-zero → 1000
  (process_pairs.py:42-66 numpy-inf semantics; clip config.py:23). Catalyst
  broadcast-joins the smaller side automatically; no UDF anywhere.

- ``matched_pair_vectors`` / ``percentile_thresholds``: scaled L2
  distance of matched train pairs (scaler fit on matched cands,
  bkafi_with_threshold.py:176-182), exact percentiles 0..0.995
  (:20-21,131-134).

- ``threshold_stats``: recall / cand_pairs_num / reduction_ratio of a kNN
  candidate table filtered by dist ≤ threshold, per percentile in ONE
  pass (a distance→max-qualifying-percentile classification instead of
  the reference's 200 sequential filter sweeps,
  bkafi_with_threshold.py:239-269 — same outputs).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import MAX_RATIO_VAL, OBJECT_PROPERTIES, THRESHOLD_PERCENTILES
from .scaler import robust_scaler_fit


def split_sides(properties: DataFrame) -> tuple[DataFrame, DataFrame]:
    # one selectExpr per side: SQL strings cross py4j once, where
    # per-column Column objects cost a round trip each
    cands = properties.filter(F.col("source") == "cands").selectExpr(
        "obj_id AS cand_id", *[f"{p} AS c_{p}" for p in OBJECT_PROPERTIES]
    )
    index = properties.filter(F.col("source") == "index").selectExpr(
        "obj_id AS index_id", *[f"{p} AS i_{p}" for p in OBJECT_PROPERTIES]
    )
    return cands, index


def matched_wide(properties: DataFrame, features: list[str]) -> DataFrame:
    """One-shuffle matched-pair wide table: (obj_id, c_*, i_*) for ids
    present on BOTH sides. Replaces the intersect + double-join shape
    (3 shuffles, 3 driver jobs) with a single conditional aggregation —
    obj_id is unique per source, so max(when(source=..)) is exact."""
    aggs = []
    for f in features:
        aggs.append(
            F.max(F.when(F.col("source") == "cands", F.col(f))).alias(f"c_{f}")
        )
        aggs.append(
            F.max(F.when(F.col("source") == "index", F.col(f))).alias(f"i_{f}")
        )
    f0 = features[0]
    return (
        properties.select("obj_id", "source", *features)
        .groupBy("obj_id")
        .agg(*aggs)
        .filter(
            F.col(f"c_{f0}").isNotNull() & F.col(f"i_{f0}").isNotNull()
        )
    )


def ratio_sql(c: str, i: str, max_ratio: float = MAX_RATIO_VAL) -> str:
    """min(1000, round(c/i,3)); i==0 → 1000 (numpy c/0→inf→clip;
    0/0→nan→min(1000,nan)=1000 in the reference's python min), as a SQL
    expression over column names. The literals are cast to DOUBLE: a bare
    ``1000.0`` parses as a DECIMAL."""
    m = f"CAST({float(max_ratio)!r} AS DOUBLE)"
    return (
        f"CASE WHEN {i} = CAST(0.0 AS DOUBLE) THEN {m} "
        f"ELSE least({m}, round({c} / {i}, 3)) END"
    )


def pair_features(
    pairs: DataFrame,
    properties: DataFrame,
    operator: str = "division",
) -> DataFrame:
    """pairs(cand_id, index_id[, label]) → pair_features table.

    division → ``{prop}_ratio`` columns; concatenation → ``{prop}_cand`` +
    ``{prop}_index`` raw columns (process_pairs.py:30-40)."""
    cands, index = split_sides(properties)
    joined = pairs.join(cands, "cand_id").join(index, "index_id")
    keep = [f"`{c}`" for c in pairs.columns]
    if operator == "division":
        feats = [
            f"{ratio_sql(f'c_{p}', f'i_{p}')} AS {p}_ratio"
            for p in OBJECT_PROPERTIES
        ]
    elif operator == "concatenation":
        feats = [f"c_{p} AS {p}_cand" for p in OBJECT_PROPERTIES] + [
            f"i_{p} AS {p}_index" for p in OBJECT_PROPERTIES
        ]
    else:
        raise ValueError(f"operator {operator} is not supported")
    return joined.selectExpr(*keep, *feats)


def label_pairs(pairs: DataFrame) -> DataFrame:
    """pos iff cand_id == index_id (pipelines.py:433-434)."""
    return pairs.withColumn(
        "label", (F.col("cand_id") == F.col("index_id")).cast("int")
    )


# --------------------------------------------------------------------------
# threshold matcher
# --------------------------------------------------------------------------


def matched_pair_vectors(
    properties: DataFrame, features: list[str], n_rows: int | None = None
) -> tuple[DataFrame, dict]:
    """Matched (id ∈ both sides) scaled feature pairs; scaler fit on the
    matched cands only (bkafi_with_threshold.py:176-182).

    Plan: ONE groupBy produces the matched wide table (the round-1 shape
    was intersect + two joins — 3 shuffles and 3 sequential driver jobs);
    the scaler fit aggregates the c_* columns of that table; the distance
    is pure column arithmetic. ``n_rows`` (the matched-id count, when the
    caller has it) picks the scaler fit's one-job percentile arm."""
    wide = matched_wide(properties, features).persist()
    stats_c = robust_scaler_fit(wide, [f"c_{f}" for f in features], n_rows)
    stats = {f: stats_c[f"c_{f}"] for f in features}
    dist = F.sqrt(
        sum(
            (
                (
                    (F.col(f"c_{f}") - F.lit(stats[f][0])) / F.lit(stats[f][1])
                    - (F.col(f"i_{f}") - F.lit(stats[f][0])) / F.lit(stats[f][1])
                )
                ** 2
                for f in features
            ),
            F.lit(0.0),
        )
    )
    return wide.select("obj_id", dist.alias("dist")), stats


def percentile_thresholds(
    dists: DataFrame,
    percentiles: tuple[float, ...] = THRESHOLD_PERCENTILES,
    col: str = "dist",
    n_rows: int | None = None,
) -> dict[float, float]:
    """Exact linear-interpolated percentiles (np.percentile semantics,
    bkafi_with_threshold.py:131-134), computed distributively — see
    operators/scaler.py::exact_percentiles (the single-reducer exact
    ``percentile`` aggregate is a serial scale-killer); ``n_rows`` is
    its arm-choosing row hint."""
    from .scaler import exact_percentiles

    qs = exact_percentiles(dists, [col], list(percentiles), n_rows=n_rows)[col]
    return {p: float(v) for p, v in zip(percentiles, qs)}


def threshold_stats(
    candidates: DataFrame,
    thresholds: dict[float, float],
    n_cands: int,
    n_index: int,
    n_intersection: int,
) -> pd.DataFrame:
    """recall / cand_pairs_num / reduction_ratio per percentile
    (bkafi_with_threshold.py:257-269) in ONE distributed pass.

    For each candidate row, the set of percentiles whose threshold admits
    it is an upper range (thresholds are monotone in percentile) — so we
    classify each row once by its distance and build per-percentile counts
    from a cumulative histogram, instead of 200 sequential filters.
    """
    # sorted percentile/threshold arrays (ascending percentile)
    ps = sorted(thresholds)
    ts = [thresholds[p] for p in ps]
    # the WHEN tree below is a binary search, so the thresholds must
    # ascend with percentile — in Spark's double order, where NaN sorts
    # above +inf (an approximate percentile source can break this)
    spark_order = [(math.isnan(t), 0.0 if math.isnan(t) else t) for t in ts]
    for i in range(1, len(ts)):
        if spark_order[i - 1] > spark_order[i]:
            raise ValueError(
                "threshold_stats needs thresholds ascending in percentile: "
                f"p={ps[i - 1]} -> {ts[i - 1]!r} but p={ps[i]} -> {ts[i]!r}"
            )

    # bucket = number of thresholds strictly below dist = index of the
    # smallest percentile that still admits the row. Computed as a
    # balanced binary-search WHEN tree (depth ⌈log2 |ts|⌉ of plain codegen
    # comparisons) instead of a higher-order aggregate fold: the fold is
    # interpreted per element and allocated a |ts|-literal array per row —
    # at the flagship's 12.6M candidate rows that was a measurable serial
    # tail, at the 200-percentile sweep a 200x one. Thresholds ascend with
    # percentile, so counting `dist > t` over the sorted list IS the
    # lower-bound index the tree computes — identical bucket per row.
    def lower_bound_expr(lo: int, hi: int):
        """Expression giving #{i: ts[i] < dist} when it lies in [lo, hi]."""
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return (
            F.when(F.col("dist") > F.lit(ts[mid]), lower_bound_expr(mid + 1, hi))
            .otherwise(lower_bound_expr(lo, mid))
        )

    bucket_expr = lower_bound_expr(0, len(ts))
    hist = (
        candidates.select(
            bucket_expr.alias("bucket"),
            (F.col("cand_id") == F.col("index_id")).cast("long").alias("is_pos"),
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.sum("is_pos").alias("n_pos"))
        .toPandas()
        .set_index("bucket")
        .sort_index()
    )
    rows = []
    # percentile i admits rows with bucket <= i
    cum_n = 0
    cum_pos = 0
    by_bucket_n = hist["n"].to_dict()
    by_bucket_pos = hist["n_pos"].to_dict()
    for i, p in enumerate(ps):
        cum_n += int(by_bucket_n.get(i, 0))
        cum_pos += int(by_bucket_pos.get(i, 0))
        rows.append(
            {
                "percentile": p,
                "recall": round(cum_pos / n_intersection, 3),
                "cand_pairs_num": cum_n,
                "reduction_ratio": round(1.0 - cum_n / (n_cands * n_index), 8),
                "threshold_val": thresholds[p],
            }
        )
    return pd.DataFrame(rows)


# --------------------------------------------------------------------------
# evaluation metrics (classifier.py:165-176 via confusion counts)
# --------------------------------------------------------------------------


def precision_recall_f1(scored: DataFrame, pred_col: str = "pred", label_col: str = "label") -> dict:
    row = scored.agg(
        F.sum(((F.col(pred_col) == 1) & (F.col(label_col) == 1)).cast("long")).alias("tp"),
        F.sum(((F.col(pred_col) == 1) & (F.col(label_col) == 0)).cast("long")).alias("fp"),
        F.sum(((F.col(pred_col) == 0) & (F.col(label_col) == 1)).cast("long")).alias("fn"),
    ).first()
    tp, fp, fn = row["tp"] or 0, row["fp"] or 0, row["fn"] or 0
    precision = tp / (tp + fp) if tp + fp else 0.0
    recall = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {"precision": precision, "recall": recall, "f1": f1}
