"""RobustScaler as a two-phase Spark aggregation (SURVEY.md §2.4 A9).

Reference semantics (blocking.py:106-112, sklearn RobustScaler): per-feature
center = median, scale = IQR (linear-interpolated quartiles), fit on the
*cands* side only, applied to both sides; zero IQR → scale 1.

Percentiles are EXACT (bit-identical to Spark's ``percentile``, i.e.
numpy/sklearn linear interpolation) but computed distributively by
``exact_percentiles``: Spark's own exact ``percentile`` aggregate ships
every value of every column to ONE reducer (600k rows × 25 cols = a
120 MB single-task sort — measured 23 s of pure serial time at sf1, and
unbounded at 100 TB). Instead: an ``approx_percentile`` pass brackets
each target rank to ±2/accuracy of the distribution, then one exact pass
counts rows below each bracket and collects only the few-thousand-row
interior; the driver picks the true order statistics from the interior
and interpolates with Spark's exact formula. All distributed work is
scans + partial aggs; driver state is O(cols × probs × n/accuracy).

When the caller already knows the row count (``n_rows``, e.g. from the
pipeline's phase-A side counts) and ``n_rows × cols`` fits the same
``interior_cap`` that bounds the 3-pass interior, the columns are
collected in ONE job and ranked on the driver with the same arithmetic —
one Spark job instead of three on the critical path.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


class _RefineMiss(Exception):
    """Bracket invariant failed (pathological distribution) — fall back."""


def _sorted_total_order(vals: list[float]) -> np.ndarray:
    """Sort like java.lang.Double.compare: -0.0 < 0.0, NaN last (the
    ordering Spark's exact percentile sorts with). Collected values are
    NaN-free here, but the zero-sign rule matters for ranks inside a
    ±0.0 run."""
    a = np.asarray(vals, dtype=np.float64)
    # primary key a ascending; among numerically-equal values, signbit
    # descending so -0.0 precedes +0.0
    order = np.lexsort((~np.signbit(a), a))
    return a[order]


def _percentile_from_interior(
    interior: np.ndarray,
    count_lt: int,
    n_total: int,
    n_valid: int,
    p: float,
    cum_counts: np.ndarray | None = None,
) -> float:
    """Spark Percentile.getPercentile, bit-for-bit: position on the FULL
    (NaN-last) ordering; NaN ranks produce NaN through the same
    arithmetic Spark performs on its sorted buffer.

    Two interior encodings: raw sorted values (``cum_counts is None``), or
    run-length — ``interior`` holds the sorted DISTINCT values and
    ``cum_counts`` their inclusive cumulative multiplicities (the
    tie-heavy-bracket path of :func:`exact_percentiles`)."""
    pos = (n_total - 1) * p
    lower = math.floor(pos)
    higher = math.ceil(pos)

    def at(rank: int) -> float:
        if rank >= n_valid:
            return math.nan
        i = rank - count_lt
        if cum_counts is None:
            if i < 0 or i >= len(interior):
                raise _RefineMiss(f"rank {rank} outside bracket")
            return float(interior[i])
        if i < 0 or len(cum_counts) == 0 or i >= cum_counts[-1]:
            raise _RefineMiss(f"rank {rank} outside bracket")
        return float(interior[int(np.searchsorted(cum_counts, i, side="right"))])

    lo = at(lower)
    if higher == lower:
        return lo
    hi = at(higher)
    # Spark: (higher - position) * lowerValue + (position - lower) * higherValue
    return (higher - pos) * lo + (pos - lower) * hi


def exact_percentiles(
    df: DataFrame,
    cols: list[str],
    probs: list[float],
    accuracy: int = 2000,
    interior_cap: int = 262_144,
    n_rows: int | None = None,
) -> dict[str, list[float]]:
    """Exact ``percentile(col, probs)`` per column, distributively.

    Bit-identical to ``F.percentile`` (verified against it in
    tests/test_scaler_percentiles.py::test_exact_percentiles_bit_parity)
    including NaN placement (sorted last, Spark/Java double ordering) and
    the exact interpolation arithmetic. Falls back to the single-reducer aggregate
    if a bracket invariant fails (never observed; pure safety net).

    Driver state is O(cols × probs × n/accuracy) UNCONDITIONALLY
    (round-5 ADVICE fix): interior rows are counted before anything is
    collected, and a bracket whose population exceeds ``interior_cap``
    (only possible through value ties at its endpoints — the rank window
    itself is ~4·n/accuracy) is aggregated as (value, count) runs with a
    zero-sign subkey instead of raw rows, so a constant column costs one
    run, not one row per duplicate.

    ``n_rows`` is a row-count hint that only chooses the arm: when
    ``n_rows × len(cols) <= interior_cap`` the columns are collected in
    one job and ranked on the driver (:func:`_collected_percentiles`),
    keeping the same driver-state bound. That arm counts what it
    actually collects, so a wrong hint still yields exact results.
    """
    probs = [float(p) for p in probs]
    if n_rows is not None and n_rows * len(cols) <= interior_cap:
        return _collected_percentiles(df, cols, probs)
    eps = 1.0 / accuracy
    bprobs = sorted(
        {min(max(q, 0.0), 1.0) for p in probs for q in (p - 2 * eps, p + 2 * eps)}
    )
    bidx = {q: i for i, q in enumerate(bprobs)}
    floating = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.DoubleType, T.FloatType))
    }

    def valid_expr(c: str):
        col = F.col(c)
        return F.when(~F.isnan(col), col) if c in floating else col

    aggs1 = []
    for i, c in enumerate(cols):
        aggs1.append(F.count(F.col(c)).alias(f"n{i}"))
        aggs1.append(F.count(valid_expr(c)).alias(f"v{i}"))
        aggs1.append(
            F.percentile_approx(
                valid_expr(c),
                F.array(*[F.lit(q) for q in bprobs]),
                F.lit(accuracy),
            ).alias(f"b{i}")
        )
    row1 = df.agg(*aggs1).first()

    brackets: dict[int, list[tuple[float, float] | None]] = {}
    for i, c in enumerate(cols):
        b = row1[f"b{i}"]
        per_p = []
        for p in probs:
            if row1[f"v{i}"] == 0 or b is None:
                per_p.append(None)
            else:
                lo = b[bidx[min(max(p - 2 * eps, 0.0), 1.0)]]
                hi = b[bidx[min(max(p + 2 * eps, 0.0), 1.0)]]
                per_p.append((float(lo), float(hi)))
        brackets[i] = per_p

    # pass 2 — counts only (pure JVM partial aggs): rows below each
    # bracket and rows inside it. Collecting raw interior rows before
    # knowing their count is the ADVICE-r4 pathology: on a constant or
    # heavily-duplicated column the bracket cannot shrink below the modal
    # value (lo == hi == v) and a blind collect_list ships O(n) rows to
    # the driver, recreating the single-reducer bound this function
    # exists to remove.
    aggs2 = []
    for i, c in enumerate(cols):
        col = F.col(c)
        for j, _p in enumerate(probs):
            br = brackets[i][j]
            if br is None:
                aggs2.append(F.lit(0).alias(f"c{i}_{j}"))
                aggs2.append(F.lit(0).alias(f"m{i}_{j}"))
            else:
                lo, hi = br
                aggs2.append(F.count_if(col < F.lit(lo)).alias(f"c{i}_{j}"))
                aggs2.append(
                    F.count_if(col.between(F.lit(lo), F.lit(hi))).alias(
                        f"m{i}_{j}"
                    )
                )
    row2 = df.agg(*aggs2).first()

    # pass 3 — bounded interior collection for the light brackets, all in
    # ONE aggregate. Brackets whose population exceeds interior_cap go
    # through the run-length path below instead of a raw collect.
    light: list[tuple[int, int, float, float]] = []
    heavy: list[tuple[int, int, float, float]] = []
    for i, c in enumerate(cols):
        for j, _p in enumerate(probs):
            br = brackets[i][j]
            if br is None:
                continue
            dest = light if int(row2[f"m{i}_{j}"]) <= interior_cap else heavy
            dest.append((i, j, *br))

    light_keys = {(i, j) for i, j, _lo, _hi in light}
    row3 = None
    if light:
        aggs3 = []
        for i, j, lo, hi in light:
            col = F.col(cols[i])
            aggs3.append(
                F.collect_list(
                    F.when(col.between(F.lit(lo), F.lit(hi)), col)
                ).alias(f"g{i}_{j}")
            )
        row3 = df.agg(*aggs3).first()

    # tie-heavy brackets: aggregate the interior as (value, count) runs —
    # a bracket can only outgrow the ~4·n/accuracy rank window through
    # ties at its endpoints, so the DISTINCT interior stays
    # O(n/accuracy + 2) regardless of duplication (a constant column has
    # exactly one run). The zero-sign subkey preserves the -0.0 < 0.0
    # total order that grouping would otherwise normalize away.
    runs: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
    for i, j, lo, hi in heavy:
        col = F.col(cols[i])
        # signbit probe that survives Spark's -0.0 normalizations: ANSI
        # mode forbids 1.0/0.0 and Spark's Atan2 adds +0.0 to its args
        # (erasing the sign), but %f formatting preserves it
        neg_zero = (
            F.when(
                (col == 0.0)
                & F.format_string("%f", col).startswith("-"),
                F.lit(True),
            )
            .otherwise(F.lit(False))
            .alias("_neg")
        )
        grp = (
            df.filter(col.between(F.lit(lo), F.lit(hi)))
            .groupBy(col.alias("_v"), neg_zero)
            .count()
            .collect()
        )
        v = np.array([r["_v"] for r in grp], dtype=np.float64)
        neg = np.array([bool(r["_neg"]) for r in grp], dtype=bool)
        cnt = np.array([r["count"] for r in grp], dtype=np.int64)
        # -0.0 comes back normalized from the grouping key; restore it so
        # the value itself (not just the order) matches Spark's buffer
        v = np.where(neg, -0.0, v)
        order = np.lexsort((~neg, v))
        runs[(i, j)] = (v[order], np.cumsum(cnt[order]))

    out: dict[str, list[float]] = {}
    fallback_cols: list[str] = []
    for i, c in enumerate(cols):
        n_total, n_valid = int(row1[f"n{i}"]), int(row1[f"v{i}"])
        if n_total == 0:
            out[c] = None  # Spark's percentile returns null on empty input
            continue
        try:
            vals = []
            for j, p in enumerate(probs):
                if (i, j) in runs:
                    dv, cum = runs[(i, j)]
                    vals.append(
                        _percentile_from_interior(
                            dv, int(row2[f"c{i}_{j}"]), n_total, n_valid, p,
                            cum_counts=cum,
                        )
                    )
                else:
                    interior = _sorted_total_order(
                        row3[f"g{i}_{j}"]
                        if (i, j) in light_keys
                        else []  # None bracket: empty column, ranks → NaN
                    )
                    vals.append(
                        _percentile_from_interior(
                            interior, int(row2[f"c{i}_{j}"]), n_total,
                            n_valid, p,
                        )
                    )
            out[c] = vals
        except _RefineMiss:
            fallback_cols.append(c)

    if fallback_cols:
        aggs = [
            F.percentile(F.col(c), F.array(*[F.lit(p) for p in probs])).alias(c)
            for c in fallback_cols
        ]
        row = df.agg(*aggs).first()
        for c in fallback_cols:
            out[c] = [float(v) for v in row[c]]
    return out


def _collected_percentiles(
    df: DataFrame, cols: list[str], probs: list[float]
) -> dict[str, list[float] | None]:
    """One-job arm of :func:`exact_percentiles`: collect the columns and
    run Spark's ``percentile`` arithmetic with the whole column as the
    interior (no rows below it; NaN ranks last, -0.0 below 0.0).

    Rows, not Arrow/pandas: pandas would turn the nulls Spark's
    percentile skips into NaNs it ranks last."""
    rows = df.select(*cols).collect()
    out: dict[str, list[float] | None] = {}
    for i, c in enumerate(cols):
        vals = [r[i] for r in rows if r[i] is not None]
        if not vals:
            out[c] = None  # Spark's percentile returns null on empty input
            continue
        finite = [v for v in vals if not math.isnan(v)]
        interior = _sorted_total_order(finite)
        out[c] = [
            _percentile_from_interior(interior, 0, len(vals), len(finite), p)
            for p in probs
        ]
    return out


def robust_scaler_fit(
    df: DataFrame, cols: list[str], n_rows: int | None = None
) -> dict[str, tuple[float, float]]:
    """{col: (center, scale)} from exact percentiles over ``df``;
    ``n_rows`` is :func:`exact_percentiles`' arm-choosing row hint."""
    qs = exact_percentiles(df, cols, [0.25, 0.5, 0.75], n_rows=n_rows)
    out = {}
    for c in cols:
        q1, med, q3 = qs[c]
        iqr = q3 - q1
        out[c] = (float(med), float(iqr) if iqr != 0.0 else 1.0)
    return out


def robust_scaler_transform(
    df: DataFrame, stats: dict[str, tuple[float, float]], suffix: str = ""
) -> DataFrame:
    """Apply (x - center) / scale as column expressions (JVM-side), in
    one projection."""
    return df.withColumns(
        {
            f"{c}{suffix}": (F.col(c) - F.lit(center)) / F.lit(scale)
            for c, (center, scale) in stats.items()
        }
    )
