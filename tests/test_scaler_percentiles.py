"""exact_percentiles must be BIT-identical to Spark's exact percentile
aggregate — it replaces a single-reducer serial agg in the scaler fit and
the threshold percentiles, so any ulp drift would flip oracle hashes."""

from __future__ import annotations

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from geospatial_object_matching_spark.operators import scaler
from geospatial_object_matching_spark.operators.scaler import (
    exact_percentiles,
    robust_scaler_fit,
)

PROBS = [0.25, 0.5, 0.75, 0.95, 0.99]


def bits(x: float) -> int:
    return struct.unpack("<q", struct.pack("<d", x))[0]


def spark_reference(spark, df, cols, probs):
    row = df.agg(
        *[
            F.percentile(F.col(c), F.array(*[F.lit(p) for p in probs])).alias(c)
            for c in cols
        ]
    ).first()
    return {c: row[c] and [float(v) for v in row[c]] for c in cols}


def assert_bit_equal(got, want, ctx):
    assert (got is None) == (want is None), ctx
    if want is None:
        return
    for g, w, p in zip(got, want, PROBS):
        if math.isnan(w):
            assert math.isnan(g), f"{ctx} p={p}: {g} vs nan"
        else:
            assert bits(g) == bits(w), f"{ctx} p={p}: {g!r} vs {w!r}"


CASES = {
    "uniform": np.random.default_rng(0).uniform(-5, 5, 20_000),
    "heavy_dup": np.repeat([1.0, 2.0, 2.0, 3.0], 5_000)
    + np.random.default_rng(1).integers(0, 2, 20_000) * 0.0,
    "half_constant": np.concatenate(
        [np.full(10_000, 7.25), np.random.default_rng(2).normal(7.25, 1e-9, 10_000)]
    ),
    "signed_zeros": np.concatenate(
        [np.full(5_000, -0.0), np.full(5_000, 0.0), np.full(2, 1.0)]
    ),
    "with_nan": np.concatenate(
        [np.random.default_rng(3).normal(0, 1, 15_000), np.full(300, np.nan)]
    ),
    "mostly_nan": np.concatenate([np.array([3.0, 1.0, 2.0]), np.full(500, np.nan)]),
    "tiny": np.array([4.0]),
    "tiny2": np.array([2.0, 1.0]),
    "skewed": np.random.default_rng(4).pareto(0.6, 20_000),
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_exact_percentiles_bit_parity(spark, name):
    data = CASES[name]
    df = spark.createDataFrame(
        [(float(v),) for v in data], "x double"
    ).repartition(7)
    df = df.persist()
    try:
        want = spark_reference(spark, df, ["x"], PROBS)
        # the 3-pass path, then the one-job collected arm (true row count)
        for n_rows in (None, len(data)):
            got = exact_percentiles(df, ["x"], PROBS, n_rows=n_rows)
            assert_bit_equal(got["x"], want["x"], f"{name} n_rows={n_rows}")
    finally:
        df.unpersist()


def test_exact_percentiles_multicol_and_nulls(spark):
    rng = np.random.default_rng(7)
    rows = []
    for i in range(8_000):
        rows.append(
            (
                float(rng.normal()),
                float(rng.uniform()) if i % 3 else None,
                float(i % 5),
                None,
            )
        )
    df = spark.createDataFrame(
        rows, "a double, b double, c double, e double"
    ).repartition(5)
    cols = ["a", "b", "c", "e"]
    want = spark_reference(spark, df, cols, PROBS)
    assert want["e"] is None  # an all-null column has no percentiles
    for n_rows in (None, len(rows)):
        got = exact_percentiles(df, cols, PROBS, n_rows=n_rows)
        for c in cols:
            assert_bit_equal(got[c], want[c], f"{c} n_rows={n_rows}")


@pytest.mark.parametrize("name", sorted(CASES))
def test_exact_percentiles_runlength_path(spark, name):
    # interior_cap=0 forces EVERY populated bracket through the
    # (value, count) run-length aggregation — the round-5 ADVICE fix: a
    # constant or heavily-duplicated column must never collect O(n)
    # duplicate rows to the driver (the bracket cannot shrink below the
    # modal value, so the raw-row path would ship every duplicate)
    data = CASES[name]
    df = spark.createDataFrame(
        [(float(v),) for v in data], "x double"
    ).repartition(7)
    got = exact_percentiles(df, ["x"], PROBS, interior_cap=0)
    want = spark_reference(spark, df, ["x"], PROBS)
    assert_bit_equal(got["x"], want["x"], name)


def test_exact_percentiles_fallback_path(spark):
    # accuracy=4 makes the brackets so loose the interior misses ranks →
    # the fallback single-agg path must produce identical values
    data = np.random.default_rng(9).normal(0, 1, 5_000)
    df = spark.createDataFrame([(float(v),) for v in data], "x double")
    got = exact_percentiles(df, ["x"], PROBS, accuracy=4)
    want = spark_reference(spark, df, ["x"], PROBS)
    assert_bit_equal(got["x"], want["x"], "fallback")


@pytest.mark.parametrize("hint", [1, 60_000])
def test_exact_percentiles_wrong_hint_is_still_exact(spark, monkeypatch, hint):
    # the hint only picks the arm; the arm counts what it collects
    data = CASES["with_nan"]
    df = spark.createDataFrame([(float(v),) for v in data], "x double")
    calls = []
    collected = scaler._collected_percentiles

    def spy(*args):
        calls.append(args)
        return collected(*args)

    monkeypatch.setattr(scaler, "_collected_percentiles", spy)
    got = exact_percentiles(df, ["x"], PROBS, n_rows=hint)
    assert len(calls) == 1
    want = spark_reference(spark, df, ["x"], PROBS)
    assert_bit_equal(got["x"], want["x"], f"hint={hint}")


def test_exact_percentiles_hint_above_cap_takes_three_passes(
    spark, monkeypatch
):
    data = CASES["uniform"]
    df = spark.createDataFrame(
        [(float(v), float(-v)) for v in data], "x double, y double"
    )
    cap = 10_000
    calls = []
    monkeypatch.setattr(
        scaler, "_collected_percentiles", lambda *a: calls.append(a)
    )
    # 5_001 rows × 2 cols > cap: the 3-pass path, whatever the true size
    got = exact_percentiles(
        df, ["x", "y"], PROBS, interior_cap=cap, n_rows=cap // 2 + 1
    )
    assert calls == []
    want = spark_reference(spark, df, ["x", "y"], PROBS)
    for c in ("x", "y"):
        assert_bit_equal(got[c], want[c], c)


def test_exact_percentiles_collected_arm_runs_one_job(spark):
    sc = spark.sparkContext
    data = CASES["skewed"]
    df = spark.createDataFrame(
        [(float(v), float(v) * 2) for v in data], "x double, y double"
    ).persist()
    try:
        df.count()
        sc.setJobGroup("pct-one-job", "collected percentile arm")
        try:
            exact_percentiles(df, ["x", "y"], PROBS, n_rows=len(data))
        finally:
            sc._jsc.clearJobGroup()
        assert len(sc.statusTracker().getJobIdsForGroup("pct-one-job")) == 1
    finally:
        df.unpersist()


def test_robust_scaler_fit_matches_numpy(spark):
    data = np.random.default_rng(11).normal(3.0, 2.0, 9_999)
    df = spark.createDataFrame([(float(v),) for v in data], "x double")
    center, scale = robust_scaler_fit(df, ["x"])["x"]
    q1, med, q3 = np.percentile(data, [25, 50, 75])
    assert center == pytest.approx(med, abs=1e-12)
    assert scale == pytest.approx(q3 - q1, abs=1e-12)
