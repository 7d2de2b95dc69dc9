"""End-to-end pipeline: oracle parity of match decisions, checkpoint
resume, streaming batch-equivalence."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from geospatial_object_matching_spark.config import NN_PARAM
from geospatial_object_matching_spark.plans.pipeline import run_pipeline
from geospatial_object_matching_spark.sources.checkpoint import CheckpointManager
from geospatial_object_matching_spark.sources.pages import (
    generate_pages_df,
    generate_pages_pdf,
)
from geospatial_object_matching_spark.streaming.incremental import (
    events_tumbling_agg,
    stream_events_windowed,
)
from oracle import reference_oracle as O

N = 50


class TestPipeline:
    @pytest.fixture(scope="class")
    def oracle_matches(self):
        pdf = generate_pages_pdf(N, seed=42)
        od = O.object_dicts_from_pages(pdf)
        prop_dict = O.property_dict_of(od, log1p=True)
        order = list(O.property_ratios(prop_dict).keys())
        cands_v, index_v = O.bkafi_vectors(prop_dict, order, 3)
        matched = sorted(set(od["cands"]) & set(od["index"]))
        dists = O.matched_pair_distances(cands_v, index_v, matched)
        thr = O.percentile_thresholds(dists, (0.95,))[0.95]
        nn = O.knn_join(cands_v, index_v, k=NN_PARAM, round_dists=3)
        pairs = {
            (cid, iid)
            for cid, lst in nn.items()
            for iid, d in lst
            if d <= thr
        }
        return pairs, od

    def test_matches_equal_oracle(self, spark, oracle_matches, tmp_path):
        expected, od = oracle_matches
        pages = generate_pages_df(spark, N, seed=42)
        cm = CheckpointManager(spark, str(tmp_path), run_id="pipe")
        res = run_pipeline(
            spark, pages, bkafi_dim=3, decision_percentile=0.95,
            checkpoints=cm, with_features=False,
        )
        got = {
            (r["cand_id"], r["index_id"])
            for r in res["matches"].select("cand_id", "index_id").collect()
        }
        assert got == expected
        assert res["counts"]["cands"] == len(od["cands"])
        assert res["counts"]["intersection"] == len(
            set(od["cands"]) & set(od["index"])
        )

        # resume: same checkpoint root → no stage recompute (snapshot log
        # unchanged in length after a second full run)
        n_stages = len(cm.metrics())
        res2 = run_pipeline(
            spark, pages, bkafi_dim=3, decision_percentile=0.95,
            checkpoints=CheckpointManager(spark, str(tmp_path), run_id="pipe"),
            with_features=False,
        )
        assert len(CheckpointManager(spark, str(tmp_path), run_id="pipe").metrics()) == n_stages
        got2 = {
            (r["cand_id"], r["index_id"])
            for r in res2["matches"].select("cand_id", "index_id").collect()
        }
        assert got2 == expected


#: Spark jobs ``run_pipeline`` starts on 300 generated entities (seeds
#: 42, 7 and 3 alike): 19 with the phase-A counts feeding the percentile
#: arms and the kNN dispatch, 39 when each exact percentile took three
#: passes and ``knn_join`` counted the index again.
PIPELINE_JOB_BUDGET = 19


def test_pipeline_job_budget(spark):
    """The flagship's serial job chain stays within its budget. Jobs are
    counted by scheduler job id, not under a job group: the pipeline's
    thread-pool legs do not inherit the calling thread's group."""
    sc = spark.sparkContext
    next_job = sc._jsc.sc().dagScheduler().nextJobId
    pages = generate_pages_df(spark, 300, seed=42)
    try:
        first = next_job()
        res = run_pipeline(spark, pages)
        n_jobs = next_job() - first
    finally:
        spark.catalog.clearCache()
    assert res["counts"]["cands"] == 300
    assert n_jobs <= PIPELINE_JOB_BUDGET, n_jobs


class TestStreaming:
    def test_stream_equals_batch(self, spark, tmp_path):
        import pandas as pd

        rng = np.random.default_rng(1)
        rows = pd.DataFrame(
            {
                "event_id": np.arange(500, dtype=np.int64),
                "ts": pd.Timestamp("2024-01-01")
                + pd.to_timedelta(rng.integers(0, 20 * 86400, 500), unit="s"),
                "user_id": rng.integers(0, 40, 500).astype(np.int64),
                "event_type": rng.choice(["a", "b", "c"], 500),
                "value": np.round(rng.uniform(0, 10, 500), 3),
                "props": ["{}"] * 500,
            }
        )
        events = spark.createDataFrame(rows)
        src = str(tmp_path / "events_src")
        events.write.mode("overwrite").parquet(src)

        batch = events_tumbling_agg(spark.read.parquet(src)).toPandas()

        writer = stream_events_windowed(
            spark, src, str(tmp_path / "ckpt"), spark.read.parquet(src).schema
        )
        q = writer.queryName("ev_stream").trigger(availableNow=True).start()
        q.awaitTermination(120)
        streamed = spark.sql("select * from ev_stream").toPandas()

        # append mode withholds windows still inside the watermark horizon
        # (end > max_ts - 1 day); everything older must match batch exactly
        import pandas as pd

        max_ts = rows["ts"].max()
        horizon = max_ts - pd.Timedelta(days=1)
        finalized = batch[
            batch["window_start"] + pd.Timedelta(days=1) <= horizon
        ]
        key = ["window_start", "event_type"]
        b = finalized.sort_values(key).reset_index(drop=True)
        s = streamed.sort_values(key).reset_index(drop=True)
        assert len(b) > 0
        assert len(b) == len(s), (len(b), len(s))
        np.testing.assert_array_equal(
            b["n_events"].to_numpy(), s["n_events"].to_numpy()
        )
        np.testing.assert_allclose(
            b["sum_value"].to_numpy(), s["sum_value"].to_numpy(), atol=1e-9
        )
