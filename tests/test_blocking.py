"""End-to-end: pages → extract → properties → BKAFI blocking vs the
numpy oracle (SURVEY.md §5 layer 2)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geospatial_object_matching_spark.operators.blocking import (
    bkafi_feature_order,
    bkafi_vectors,
    centroid_blocking,
    property_ratio_stats,
    run_bkafi_blocking,
)
from geospatial_object_matching_spark.operators.extract import extract_objects
from geospatial_object_matching_spark.operators import knn
from geospatial_object_matching_spark.operators.knn import (
    knn_join,
    knn_join_broadcast,
)
from geospatial_object_matching_spark.operators.properties import compute_properties
from geospatial_object_matching_spark.sources.pages import (
    generate_pages_df,
    generate_pages_pdf,
)
from oracle import reference_oracle as O

N_ENTITIES = 80
SEED = 42


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages_df(spark, N_ENTITIES, seed=SEED).persist()


@pytest.fixture(scope="module")
def objects(spark, pages):
    return extract_objects(pages).persist()


@pytest.fixture(scope="module")
def properties(spark, objects):
    return compute_properties(objects, log1p=True).persist()


@pytest.fixture(scope="module")
def oracle_state():
    pdf = generate_pages_pdf(N_ENTITIES, seed=SEED)
    od = O.object_dicts_from_pages(pdf)
    prop_dict = O.property_dict_of(od, log1p=True)
    return pdf, od, prop_dict


class TestExtract:
    def test_row_counts_and_invariant(self, pages, objects, oracle_state):
        pdf, od, _ = oracle_state
        n_expected = len(od["cands"]) + len(od["index"])
        assert objects.count() == n_expected
        # per-row invariant: byte-identical text per url
        from geospatial_object_matching_spark.operators.extract import (
            extract_objects as ex,
        )

        with_text = ex(pages, keep_text=True).select("url", F.col("text").alias("t"))
        joined = with_text.join(pages.select("url", "text"), "url")
        assert joined.filter(F.col("t") != F.col("text")).count() == 0

    def test_centroids_match_oracle(self, objects, oracle_state):
        _, od, _ = oracle_state
        rows = objects.select(
            "obj_id", "source", "centroid_x", "centroid_y", "centroid_z"
        ).collect()
        assert len(rows) > 0
        for r in rows:
            cen = od[r["source"]][r["obj_id"]]["centroid"]
            assert r["centroid_x"] == pytest.approx(cen[0], rel=1e-12)
            assert r["centroid_z"] == pytest.approx(cen[2], rel=1e-12)


class TestProperties:
    def test_property_values_match_oracle(self, properties, oracle_state):
        _, _, prop_dict = oracle_state
        pdf = properties.toPandas()
        assert len(pdf) > 0
        for _, row in pdf.iterrows():
            for p in O.PROPERTY_NAMES:
                expected = prop_dict[p][row["source"]][row["obj_id"]]
                assert row[p] == pytest.approx(expected, rel=1e-9, abs=1e-12), (
                    f"{p} for {row['source']}/{row['obj_id']}"
                )

    def test_fused_equals_unfused(self, spark, pages, properties):
        """pages_to_properties (fused parse+featurize) must equal the
        extract → compute_properties path exactly."""
        from geospatial_object_matching_spark.config import OBJECT_PROPERTIES
        from geospatial_object_matching_spark.operators.properties import (
            pages_to_properties,
        )

        cols = ["obj_id", "source", *OBJECT_PROPERTIES]
        fused = (
            pages_to_properties(pages, log1p=True)
            .select(*cols)
            .toPandas()
            .sort_values(["obj_id", "source"])
            .reset_index(drop=True)
        )
        unfused = (
            properties.select(*cols)
            .toPandas()
            .sort_values(["obj_id", "source"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(fused, unfused)

    def test_ratio_stats_match_oracle(self, properties, oracle_state):
        _, _, prop_dict = oracle_state
        engine = property_ratio_stats(properties)
        oracle = O.property_ratios(prop_dict)
        assert [s["property"] for s in engine] == list(oracle.keys())
        for s in engine:
            assert s["mean"] == pytest.approx(oracle[s["property"]]["mean"], abs=2e-3)
            assert s["std"] == pytest.approx(oracle[s["property"]]["std"], abs=2e-3)


class TestBlocking:
    @pytest.fixture(scope="class")
    def oracle_blocking(self, oracle_state):
        _, od, prop_dict = oracle_state
        order = list(O.property_ratios(prop_dict).keys())
        out = {}
        for dim in (1, 3):
            cands, index = O.bkafi_vectors(prop_dict, order, dim)
            out[dim] = O.knn_join(cands, index, k=21)
        return order, out, od

    def test_feature_order(self, properties, oracle_blocking):
        order, _, _ = oracle_blocking
        assert bkafi_feature_order(properties) == order

    def test_candidate_pairs_match_oracle(self, properties, oracle_blocking):
        order, oracle_nn, od = oracle_blocking
        res = run_bkafi_blocking(
            properties, dims=[1, 3], strategy="broadcast"
        )
        pairs = res.candidates.toPandas()
        for dim in (1, 3):
            for k in (1, 5, 20):
                engine_pairs = set(
                    map(
                        tuple,
                        pairs[(pairs["bkafi_dim"] == dim) & (pairs["rank"] <= k)][
                            ["cand_id", "index_id"]
                        ].values,
                    )
                )
                oracle_pairs = set()
                for cid, lst in oracle_nn[dim].items():
                    for iid, _ in lst[:k]:
                        oracle_pairs.add((cid, iid))
                assert engine_pairs == oracle_pairs, f"dim={dim} k={k}"

        # recall parity
        cand_ids = set(od["cands"].keys())
        index_ids = set(od["index"].keys())
        for dim in (1, 3):
            for k in (1, 5, 20):
                expected = O.blocking_recall(oracle_nn[dim], cand_ids, index_ids, k)
                got = res.recall[
                    (res.recall["bkafi_dim"] == dim) & (res.recall["k"] == k)
                ]["blocking_recall"].iloc[0]
                assert got == pytest.approx(expected, abs=1e-9), f"dim={dim} k={k}"

    def test_sdr_factor_pairs_match_oracle(self, properties, oracle_state):
        """F3 (reference blocking.py:166-174, --sdr_factor flag): cand
        vectors multiplied by the train mean ratio before scaling. Engine
        pair sets must match the numpy oracle run with the same factors,
        and the factors must actually change the result (the synthetic
        index source has a systematic scale discrepancy)."""
        _, od, prop_dict = oracle_state
        ratios = O.property_ratios(prop_dict)
        order = list(ratios.keys())
        factors = {p: ratios[p]["mean"] for p in order}
        cands, index = O.bkafi_vectors(prop_dict, order, 3, sdr_factors=factors)
        oracle_nn = O.knn_join(cands, index, k=21)

        res = run_bkafi_blocking(
            properties, dims=[3], strategy="broadcast", sdr_factor=True
        )
        pairs = res.candidates.toPandas()
        for k in (1, 5, 20):
            engine_pairs = set(
                map(
                    tuple,
                    pairs[pairs["rank"] <= k][["cand_id", "index_id"]].values,
                )
            )
            oracle_pairs = {
                (cid, iid)
                for cid, lst in oracle_nn.items()
                for iid, _ in lst[:k]
            }
            assert engine_pairs == oracle_pairs, f"k={k}"

        plain = run_bkafi_blocking(
            properties, dims=[3], strategy="broadcast"
        ).candidates.toPandas()
        plain_pairs = set(
            map(tuple, plain[plain["rank"] <= 20][["cand_id", "index_id"]].values)
        )
        sdr_pairs = set(
            map(tuple, pairs[pairs["rank"] <= 20][["cand_id", "index_id"]].values)
        )
        assert sdr_pairs != plain_pairs

    def test_auto_dispatches_range_above_broadcast_cap(
        self, properties, monkeypatch
    ):
        """``strategy="auto"`` takes the range arm once the index has more
        rows than the broadcast cap, and its rows equal broadcast's."""
        order = bkafi_feature_order(properties)
        cands, index = bkafi_vectors(properties, order[:3])
        cands, index = cands.persist(), index.persist()
        assert index.count() > 8
        calls = []

        def spy(*args, **kwargs):
            calls.append(kwargs)
            return range_join(*args, **kwargs)

        range_join = knn.knn_join_range
        monkeypatch.setattr(knn, "knn_join_range", spy)
        monkeypatch.setattr(knn, "_BROADCAST_INDEX_MAX_ROWS", 8)
        a = knn_join(cands, index, 10, strategy="auto").toPandas()
        assert len(calls) == 1
        b = knn_join_broadcast(cands, index, 10).toPandas()
        key = ["cand_id", "rank"]
        a = a.sort_values(key).reset_index(drop=True)
        b = b.sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)

    def test_auto_with_n_index_skips_the_count(self, properties, monkeypatch):
        """Given ``n_index``, ``strategy="auto"`` dispatches on it without
        counting the index, and its rows equal broadcast's."""
        order = bkafi_feature_order(properties)
        cands, index = bkafi_vectors(properties, order[:3])
        cands, index = cands.persist(), index.persist()
        n_index = index.count()
        want = knn_join_broadcast(cands, index, 10).toPandas()

        def no_count(self):
            raise AssertionError("knn_join counted the index")

        monkeypatch.setattr(type(index), "count", no_count)
        got = knn_join(cands, index, 10, strategy="auto", n_index=n_index)
        got = got.toPandas()
        key = ["cand_id", "rank"]
        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True),
            want.sort_values(key).reset_index(drop=True),
        )

    def test_auto_dispatches_range_on_n_index_above_cap(
        self, properties, monkeypatch
    ):
        """``n_index`` above the broadcast cap takes the range arm (the
        hint alone picks it), and its rows equal broadcast's."""
        order = bkafi_feature_order(properties)
        cands, index = bkafi_vectors(properties, order[:3])
        cands, index = cands.persist(), index.persist()
        calls = []

        def spy(*args, **kwargs):
            calls.append(kwargs)
            return range_join(*args, **kwargs)

        range_join = knn.knn_join_range
        monkeypatch.setattr(knn, "knn_join_range", spy)
        a = knn_join(
            cands, index, 10, strategy="auto",
            n_index=knn._BROADCAST_INDEX_MAX_ROWS + 1,
        ).toPandas()
        assert len(calls) == 1
        b = knn_join_broadcast(cands, index, 10).toPandas()
        key = ["cand_id", "rank"]
        a = a.sort_values(key).reset_index(drop=True)
        b = b.sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)

    def test_range_strategy_equals_broadcast(self, properties):
        from geospatial_object_matching_spark.operators.knn import knn_join_range

        order = bkafi_feature_order(properties)
        cands, index = bkafi_vectors(properties, order[:3])
        cands, index = cands.persist(), index.persist()
        b = knn_join_broadcast(cands, index, 10).toPandas()
        r = knn_join_range(cands, index, 10, slice_rows=16).toPandas()
        key = ["cand_id", "rank"]
        b = b.sort_values(key).reset_index(drop=True)
        r = r.sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            b[["cand_id", "index_id", "rank"]], r[["cand_id", "index_id", "rank"]]
        )
        np.testing.assert_allclose(b["dist"], r["dist"], atol=1e-9)

    def test_range_tiny_slices_equals_broadcast(self, spark):
        """Slices far smaller than k force found<k in round 1 → unbounded
        expansion; duplicate dim-0 values straddle slice boundaries; ties
        broken by (dist, index_id) everywhere. Must still be exact."""
        import pyspark.sql.functions as F
        from geospatial_object_matching_spark.operators.knn import knn_join_range

        n_i, n_c = 400, 60
        idx = spark.range(n_i).select(
            F.concat(F.lit("i"), F.col("id")).alias("obj_id"),
            F.array(
                (F.col("id") % 20).cast("double") * 0.1,  # heavy dim-0 dups
                F.sin(F.col("id").cast("double")),
                F.cos(F.col("id").cast("double") * 0.7),
            ).alias("features"),
        )
        cand = spark.range(n_c).select(
            F.concat(F.lit("c"), F.col("id")).alias("obj_id"),
            F.array(
                (F.col("id") % 20).cast("double") * 0.1,
                F.sin(F.col("id").cast("double") * 1.3),
                F.cos(F.col("id").cast("double")),
            ).alias("features"),
        )
        b = knn_join_broadcast(cand, idx, 25).toPandas()
        r = knn_join_range(cand, idx, 25, slice_rows=8).toPandas()
        key = ["cand_id", "rank"]
        b = b.sort_values(key).reset_index(drop=True)
        r = r.sort_values(key).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            b[["cand_id", "index_id", "rank"]], r[["cand_id", "index_id", "rank"]]
        )
        np.testing.assert_allclose(b["dist"], r["dist"], atol=1e-9)

    def test_nan_features_tie_order(self, spark):
        """NaN distances (reachable: elongation is NaN for degenerate
        meshes) must land in the documented GLOBAL (dist, id) order — NaN
        last, ordered by index_id — regardless of which internal block or
        slice scanned them (round-5 ADVICE fix: the local searcher used to
        drop NaN rows from blocks visited after the pool filled, making
        the NaN tail depend on block visit order)."""
        import math

        import pyspark.sql.functions as F  # noqa: F401
        from geospatial_object_matching_spark.operators.knn import (
            knn_join_broadcast,
            knn_join_range,
        )

        rng = np.random.default_rng(5)
        rows_i = [
            (f"i{i:02d}", [float(rng.uniform()), float(rng.uniform())])
            for i in range(12)
        ] + [
            (f"i{i:02d}", [float(rng.uniform()), float("nan")])
            for i in range(12, 20)
        ]
        rows_c = [
            (f"c{j}", [float(rng.uniform()), float(rng.uniform())])
            for j in range(6)
        ]
        idx = spark.createDataFrame(
            rows_i, "obj_id string, features array<double>"
        )
        cand = spark.createDataFrame(
            rows_c, "obj_id string, features array<double>"
        )
        k = 16  # > 12 finite index rows: the NaN tail is part of top-k
        exp = []
        for cid, cv in rows_c:
            cv = np.asarray(cv)
            d = {
                rid: float(np.sqrt(((np.asarray(iv) - cv) ** 2).sum()))
                for rid, iv in rows_i
            }
            order = sorted(
                d,
                key=lambda r: (
                    math.isnan(d[r]),
                    0.0 if math.isnan(d[r]) else d[r],
                    r,
                ),
            )
            exp.extend(
                (cid, rid, rk + 1, d[rid])
                for rk, rid in enumerate(order[:k])
            )
        expdf = (
            pd.DataFrame(exp, columns=["cand_id", "index_id", "rank", "dist"])
            .sort_values(["cand_id", "rank"])
            .reset_index(drop=True)
        )
        for got in (
            knn_join_broadcast(cand, idx, k, round_dists=None).toPandas(),
            knn_join_range(
                cand, idx, k, slice_rows=4, round_dists=None
            ).toPandas(),
        ):
            got = got.sort_values(["cand_id", "rank"]).reset_index(drop=True)
            pd.testing.assert_frame_equal(
                got[["cand_id", "index_id", "rank"]],
                expdf[["cand_id", "index_id", "rank"]],
                check_dtype=False,
            )
            np.testing.assert_allclose(got["dist"], expdf["dist"], atol=1e-9)

    def test_local_searcher_nan_multiblock(self):
        """Direct kernel regression for the round-5 ADVICE fix: with
        chunk=4 the index spans many Morton blocks; when fewer than k_eff
        rows have finite distances, NaN rows from EVERY block must reach
        the final lexsort (the old code kept NaN rows only from blocks
        visited before the pool count filled, so the NaN tail depended on
        block visit order)."""
        import math

        from geospatial_object_matching_spark.operators.knn import (
            _make_local_searcher,
        )

        rng = np.random.default_rng(11)
        n, nfin = 64, 10
        mat = rng.uniform(0, 1, (n, 3))
        nan_rows = rng.choice(n, n - nfin, replace=False)
        mat[nan_rows, 2] = np.nan
        ids = np.array([f"i{i:03d}" for i in range(n)], dtype=object)
        k_eff = 30  # > nfin finite rows: the NaN tail is load-bearing
        search = _make_local_searcher(ids, mat, k_eff, chunk=4)
        for _ in range(8):
            q = rng.uniform(0, 1, 3)
            d = np.sqrt(((mat - q) ** 2).sum(axis=1))
            order = sorted(
                range(n),
                key=lambda i: (
                    math.isnan(d[i]),
                    0.0 if math.isnan(d[i]) else d[i],
                    ids[i],
                ),
            )[:k_eff]
            got_ids, got_d = search(q)
            assert list(got_ids) == [ids[i] for i in order]
            np.testing.assert_allclose(
                got_d, [d[i] for i in order], atol=1e-12
            )

    def test_batch_searcher_equals_scalar(self):
        """Differential check of the two Morton-block kernels on
        adversarial input: many small blocks, duplicate rows, NaN
        coordinates (both sides), a NaN-only dimension block and more
        queries than one QB chunk. Ids AND distances must be identical."""
        from geospatial_object_matching_spark.operators.knn import (
            _make_batch_searcher,
            _make_local_searcher,
        )

        rng = np.random.default_rng(23)
        n = 300
        mat = rng.uniform(0, 1, (n, 3))
        mat[:40] = mat[40:80]  # exact duplicate rows: (dist, id) ties
        mat[rng.choice(n, 30, replace=False), 1] = np.nan
        ids = np.array([f"i{i:03d}" for i in rng.permutation(n)], dtype=object)
        q = rng.uniform(-0.2, 1.2, (2100, 3))
        q[::97, 2] = np.nan
        q[:n:7] = mat[::7]  # queries sitting exactly on index rows
        for k_eff in (1, 7, 40):
            batch = _make_batch_searcher(ids, mat, k_eff, chunk=8)(q)
            scalar = _make_local_searcher(ids, mat, k_eff, chunk=8)
            for qi in range(len(q)):
                want_ids, want_d = scalar(q[qi])
                got_ids, got_d = batch[qi]
                assert list(got_ids) == list(want_ids), (k_eff, qi)
                np.testing.assert_array_equal(got_d, want_d)

    def test_batch_searcher_many_blocks_equals_scalar(self):
        """An index with ~10k blocks lowers the batch searcher's query
        block below the query count (its scratch stays under budget), and
        the results still equal the scalar kernel's."""
        from geospatial_object_matching_spark.operators.knn import (
            _make_batch_searcher,
            _make_local_searcher,
            _query_block,
        )

        rng = np.random.default_rng(31)
        n = 20_000
        mat = rng.uniform(0, 1, (n, 3))
        mat[:500] = mat[500:1000]
        ids = np.array([f"i{i:05d}" for i in rng.permutation(n)], dtype=object)
        q = rng.uniform(-0.1, 1.1, (700, 3))
        q[::50] = mat[::1000][: len(q[::50])]
        assert _query_block(-(-n // 2)) < len(q)
        for k_eff in (1, 6):
            batch = _make_batch_searcher(ids, mat, k_eff, chunk=2)(q)
            scalar = _make_local_searcher(ids, mat, k_eff, chunk=2)
            for qi in range(len(q)):
                want_ids, want_d = scalar(q[qi])
                got_ids, got_d = batch[qi]
                assert list(got_ids) == list(want_ids), (k_eff, qi)
                np.testing.assert_array_equal(got_d, want_d)

    def test_unknown_strategy_raises(self, spark):
        """An unknown strategy name is an error, not a silent fallback;
        ``grid`` is a deleted strategy and is unknown too."""
        df = spark.createDataFrame(
            [("a", [0.0, 1.0])], "obj_id string, features array<double>"
        )
        for bad in ("grid", "equidepth", "brodcast", ""):
            with pytest.raises(ValueError, match="unknown knn strategy"):
                knn_join(df, df, 1, strategy=bad)

    def test_centroid_blocking_matches_oracle(self, objects, oracle_state):
        _, od, _ = oracle_state
        cands = {i: r["centroid"] for i, r in od["cands"].items()}
        index = {i: r["centroid"] for i, r in od["index"].items()}
        # raw L2 (no scaler): oracle with scale 1
        ids = list(index.keys())
        import numpy as np

        Xi = np.array([index[i] for i in ids])
        expected = {}
        for cid, v in cands.items():
            d = np.linalg.norm(Xi - np.asarray(v), axis=1)
            order = sorted(range(len(ids)), key=lambda j: (d[j], ids[j]))[:5]
            expected[cid] = [ids[j] for j in order]
        got = centroid_blocking(objects, k=5, strategy="broadcast").toPandas()
        for cid, lst in expected.items():
            sub = got[got["cand_id"] == cid].sort_values("rank")
            assert list(sub["index_id"]) == lst
