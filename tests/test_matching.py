"""Matching operators vs oracle: ratio features, threshold matcher,
metrics, sampling determinism."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geospatial_object_matching_spark.config import OBJECT_PROPERTIES
from geospatial_object_matching_spark.operators.blocking import bkafi_feature_order
from geospatial_object_matching_spark.operators.extract import extract_objects
from geospatial_object_matching_spark.operators.knn import knn_join_broadcast
from geospatial_object_matching_spark.operators.matching import (
    label_pairs,
    matched_pair_vectors,
    pair_features,
    percentile_thresholds,
    precision_recall_f1,
    threshold_stats,
)
from geospatial_object_matching_spark.operators.properties import compute_properties
from geospatial_object_matching_spark.operators.sampling import (
    contaminate_features,
    negative_sample_pairs,
    sample_ids_fraction,
)
from geospatial_object_matching_spark.operators.blocking import bkafi_vectors
from geospatial_object_matching_spark.sources.pages import (
    generate_pages_df,
    generate_pages_pdf,
)
from oracle import reference_oracle as O

N_ENTITIES = 60
SEED = 42


@pytest.fixture(scope="module")
def properties(spark):
    pages = generate_pages_df(spark, N_ENTITIES, seed=SEED)
    return compute_properties(extract_objects(pages), log1p=True).persist()


@pytest.fixture(scope="module")
def oracle_state():
    pdf = generate_pages_pdf(N_ENTITIES, seed=SEED)
    od = O.object_dicts_from_pages(pdf)
    prop_dict = O.property_dict_of(od, log1p=True)
    return od, prop_dict


def _test_pairs(od):
    """Deterministic pair list: every matched id as positive + 2 negatives
    (next index ids in sorted order)."""
    index_ids = sorted(od["index"].keys())
    pairs = []
    for cid in sorted(od["cands"].keys()):
        if cid in od["index"]:
            pairs.append((cid, cid))
        i = index_ids.index(cid) if cid in od["index"] else 0
        for off in (1, 2):
            pairs.append((cid, index_ids[(i + off) % len(index_ids)]))
    return pairs


class TestPairFeatures:
    def test_ratio_features_match_oracle(self, spark, properties, oracle_state):
        od, prop_dict = oracle_state
        pairs = _test_pairs(od)
        oracle_feats = O.pair_features(prop_dict, pairs)
        pairs_df = spark.createDataFrame(pairs, "cand_id string, index_id string")
        feats = pair_features(pairs_df, properties).toPandas()
        assert len(feats) == len(pairs)
        for _, row in feats.iterrows():
            expected = oracle_feats[(row["cand_id"], row["index_id"])]
            got = [row[f"{p}_ratio"] for p in OBJECT_PROPERTIES]
            np.testing.assert_allclose(got, expected, atol=5e-4)

    def test_label_attach(self, spark, oracle_state):
        od, _ = oracle_state
        pairs = _test_pairs(od)
        pairs_df = spark.createDataFrame(pairs, "cand_id string, index_id string")
        labeled = label_pairs(pairs_df).toPandas()
        for _, r in labeled.iterrows():
            assert r["label"] == (1 if r["cand_id"] == r["index_id"] else 0)


class TestThresholdMatcher:
    @pytest.fixture(scope="class")
    def setup(self, properties, oracle_state):
        od, prop_dict = oracle_state
        order = list(O.property_ratios(prop_dict).keys())
        feats = order[:3]
        matched = sorted(set(od["cands"]) & set(od["index"]))
        cands_v, index_v = O.bkafi_vectors(prop_dict, order, 3)
        oracle_dists = O.matched_pair_distances(cands_v, index_v, matched)
        return od, prop_dict, order, feats, matched, cands_v, index_v, oracle_dists

    def test_matched_distances(self, properties, setup):
        *_, matched, _, _, oracle_dists = setup
        dist_df, _ = matched_pair_vectors(properties, bkafi_feature_order(properties)[:3])
        got = dist_df.toPandas().sort_values("obj_id")["dist"].to_numpy()
        expected = np.array(
            [d for _, d in sorted(zip(matched, oracle_dists))]
        )
        np.testing.assert_allclose(np.sort(got), np.sort(expected), atol=1e-9)

    def test_thresholds_and_stats(self, properties, setup):
        od, prop_dict, order, feats, matched, cands_v, index_v, oracle_dists = setup
        ps = (0.5, 0.9, 0.95)
        oracle_thr = O.percentile_thresholds(oracle_dists, ps)

        dist_df, _ = matched_pair_vectors(properties, order[:3])
        engine_thr = percentile_thresholds(dist_df, ps)
        for p in ps:
            assert engine_thr[p] == pytest.approx(oracle_thr[p], rel=1e-9)

        # kNN at max_k then threshold filter stats (round 7 as in
        # bkafi_with_threshold.py:197)
        oracle_nn = O.knn_join(cands_v, index_v, k=50, round_dists=7)
        c_df, i_df = bkafi_vectors(properties, order[:3])
        cand_tbl = knn_join_broadcast(c_df, i_df, 50, round_dists=7).persist()

        n_c = len(od["cands"])
        n_i = len(od["index"])
        n_int = len(matched)
        stats = threshold_stats(cand_tbl, oracle_thr, n_c, n_i, n_int)
        for p in ps:
            expected = O.threshold_filter_stats(
                oracle_nn, oracle_thr[p], od["cands"].keys(), od["index"].keys()
            )
            row = stats[stats["percentile"] == p].iloc[0]
            assert row["recall"] == pytest.approx(expected["recall"], abs=1e-9), p
            assert row["cand_pairs_num"] == expected["cand_pairs_num"], p
            assert row["reduction_ratio"] == pytest.approx(
                expected["reduction_ratio"], abs=1e-9
            ), p

    def test_threshold_stats_rejects_non_monotone(self, spark):
        """The bucket WHEN tree is a binary search over the thresholds in
        percentile order; a mapping that does not ascend must raise
        instead of mis-bucketing rows. NaN sorts last (Spark order), so
        a NaN top threshold is still ascending."""
        cands = spark.createDataFrame(
            [("a", "a", 0.2), ("a", "b", 0.6), ("b", "b", 0.9)],
            "cand_id string, index_id string, dist double",
        )
        with pytest.raises(ValueError, match="ascending"):
            threshold_stats(cands, {0.5: 0.7, 0.9: 0.3, 0.95: 1.0}, 2, 2, 2)
        stats = threshold_stats(
            cands, {0.5: 0.3, 0.9: 0.7, 0.95: float("nan")}, 2, 2, 2
        )
        assert stats["cand_pairs_num"].tolist() == [1, 2, 3]

    def test_precision_recall_f1(self, spark):
        rows = [(1, 1), (1, 1), (1, 0), (0, 1), (0, 0), (0, 0)]
        df = spark.createDataFrame(rows, "pred int, label int")
        m = precision_recall_f1(df)
        assert m["precision"] == pytest.approx(2 / 3)
        assert m["recall"] == pytest.approx(2 / 3)
        assert m["f1"] == pytest.approx(2 / 3)


class TestSampling:
    def test_fraction_sample_deterministic(self, spark):
        df = spark.range(1000).select(F.col("id").cast("string").alias("obj_id"))
        a = set(r[0] for r in sample_ids_fraction(df, "obj_id", 0.3, 7).collect())
        b = set(
            r[0]
            for r in sample_ids_fraction(
                df.repartition(13), "obj_id", 0.3, 7
            ).collect()
        )
        assert a == b and len(a) == 300
        c = set(r[0] for r in sample_ids_fraction(df, "obj_id", 0.3, 8).collect())
        assert a != c

    def test_negative_sampling(self, spark):
        cands = spark.range(50).select(
            F.concat(F.lit("c"), F.col("id")).alias("obj_id")
        )
        index = spark.range(200).select(
            F.concat(F.lit("c"), F.col("id")).alias("obj_id")
        )
        pairs = negative_sample_pairs(cands, index, 3, seed=5).toPandas()
        per_cand = pairs.groupby("cand_id")
        for cid, grp in per_cand:
            negs = grp[grp["index_id"] != cid]
            assert len(negs) == 3
            assert len(set(negs["index_id"])) == 3
            assert (grp["index_id"] == cid).sum() == 1
        # determinism across partitioning
        pairs2 = negative_sample_pairs(
            cands.repartition(7), index.repartition(3), 3, seed=5
        ).toPandas()
        key = lambda p: set(map(tuple, p[["cand_id", "index_id"]].values))
        assert key(pairs) == key(pairs2)

    def test_contamination(self, spark):
        df = spark.range(1000).select(
            F.col("id").cast("string").alias("k"),
            (F.col("id") % 7 + 1).cast("double").alias("x"),
        )
        out = contaminate_features(df, ["x"], 0.25, seed=3, key_col="k").toPandas()
        orig = df.toPandas()
        merged = orig.merge(out, on="k", suffixes=("_a", "_b"))
        changed = merged[merged["x_a"] != merged["x_b"]]
        frac = len(changed) / len(merged)
        assert 0.15 < frac < 0.35
        for _, r in changed.iterrows():
            assert r["x_b"] == pytest.approx(min(1000.0, 1.0 / r["x_a"]))
