"""The benchmark's workloads: session, seeded inputs, one iteration, and
the checks on its output.

Every iteration returns a JSON-able summary of its outputs. The runner
compares each timed iteration's summary with the warm-up's and, for the
recorded (workload, entities, seed) triples in ``expected.json``, with the
recorded digest. ``check`` holds invariants that hold for any seed.
"""

from __future__ import annotations

import hashlib
import json
import os
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

from pyspark.sql import functions as F

from geospatial_object_matching_spark.config import (
    CAND_PAIRS_PER_ITEM_LIST,
    NN_PARAM,
    OBJECT_PROPERTIES,
    THRESHOLD_PERCENTILES,
    EngineConf,
)
from geospatial_object_matching_spark.operators import blocking, matching
from geospatial_object_matching_spark.operators import properties as properties_op
from geospatial_object_matching_spark.plans import pipeline
from geospatial_object_matching_spark.session import get_spark
from geospatial_object_matching_spark.sources.checkpoint import CheckpointManager
from geospatial_object_matching_spark.sources.pages import (
    entity_ids,
    generate_pages_df,
    has_index_twin,
)
from geospatial_object_matching_spark.sources.pages_io import read_pages

CORES = 4

#: entities per workload; the flagship pair shares one input size
ENTITIES = {"flagship": 2500, "flagship_ckpt": 2500, "blocking_sweep": 4000}

#: times the input set-up runs in one run; set-up counts its median
SETUP_REPEATS = 3

#: warm-up iterations, at least one; only the first counts in set-up
WARMUP_ITERATIONS = 2

BKAFI_DIM = 3
SWEEP_DIMS = [1, 2, 3, 4, 5]
DECISION_PERCENTILE = 0.95


def build_spark(work_dir: str):
    """bench.py's session: ``get_spark`` defaults on local[CORES] with
    shuffle partitions max(2*cores, 8). The only additions keep the JVM's
    temporary files inside ``work_dir``."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = EngineConf(
        shuffle_partitions=max(CORES * 2, 8),
        extra_spark_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        },
    )
    spark = get_spark("gom-perfbench", master=f"local[{CORES}]", conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Inputs:
    """Seeded inputs of one run. The pages' side sizes follow from the
    generator's twin rule, so checks need no Spark job to know them."""

    def __init__(self, work_dir: str, entities: int, seed: int):
        self.entities = entities
        self.seed = seed
        self.n_index = sum(has_index_twin(e, seed) for e in entity_ids(entities))
        self.n_pages = entities + self.n_index
        self.path = os.path.join(work_dir, "input")
        self.ckpt_dir = os.path.join(work_dir, "ckpt")


def setup_pages(spark, inp: Inputs) -> None:
    generate_pages_df(spark, inp.entities, inp.seed).write.mode("overwrite").parquet(
        inp.path
    )


def setup_properties(spark, inp: Inputs) -> None:
    """Featurize once: the sweep's iterations start from fixed vectors."""
    pages = generate_pages_df(spark, inp.entities, inp.seed)
    properties_op.pages_to_properties(pages, zoom=15, log1p=True).write.mode(
        "overwrite"
    ).parquet(inp.path)


def _count_both(tracer, a, b):
    """Count two result frames from two driver threads, as bench.py does."""
    span = tracer.span if tracer else (lambda name: nullcontext())

    def count(name, df):
        with span(name):
            return df.count()

    with ThreadPoolExecutor(max_workers=2) as pool:
        fa = pool.submit(count, "bench.count_matches", a)
        fb = pool.submit(count, "bench.count_pair_features", b)
        return fa.result(), fb.result()


def iterate_flagship(spark, inp: Inputs, tracer=None, ckpt_root: str | None = None):
    pages = read_pages(spark, inp.path)
    cm = CheckpointManager(spark, ckpt_root) if ckpt_root else None
    res = pipeline.run_pipeline(
        spark,
        pages,
        bkafi_dim=BKAFI_DIM,
        k=NN_PARAM,
        decision_percentile=DECISION_PERCENTILE,
        checkpoints=cm,
        with_features=True,
    )
    n_matches, n_pairs = _count_both(tracer, res["matches"], res["pair_features"])
    if tracer:
        tracer.add_count("matching.pair_rows", n_pairs)
    summary = {
        "matches": n_matches,
        "pair_features": n_pairs,
        "counts": res["counts"],
        "feature_order": res["feature_order"],
        "thresholds": {str(p): v for p, v in sorted(res["thresholds"].items())},
    }
    if cm is not None:
        summary["snapshots"] = sorted(
            (m["stage"], m["row_count"]) for m in cm.metrics()
        )
    return summary


def iterate_sweep(spark, inp: Inputs, tracer=None):
    props = spark.read.parquet(inp.path)
    br = blocking.run_bkafi_blocking(props, dims=SWEEP_DIMS, k_list=CAND_PAIRS_PER_ITEM_LIST)
    cands = br.candidates.filter(F.col("bkafi_dim") == BKAFI_DIM)
    dists, _ = matching.matched_pair_vectors(props, br.feature_order[:BKAFI_DIM])
    thresholds = matching.percentile_thresholds(dists, THRESHOLD_PERCENTILES)
    sweep = matching.threshold_stats(
        cands, thresholds, inp.entities, inp.n_index, inp.n_index
    )
    pairs = matching.pair_features(cands.select("cand_id", "index_id"), props)
    with tracer.span("bench.count_pair_features") if tracer else nullcontext():
        n_pairs = pairs.count()
    if tracer:
        tracer.add_count("matching.pair_rows", n_pairs)
    return {
        "feature_order": br.feature_order,
        "recall": br.recall.to_dict("records"),
        "sweep": sweep.to_dict("records"),
        "pair_features": n_pairs,
    }


def check(workload: str, inp: Inputs, s: dict) -> list[str]:
    """Seed-independent invariants of one iteration's summary; returns
    the violated ones."""
    bad = []
    if sorted(s["feature_order"]) != sorted(OBJECT_PROPERTIES):
        bad.append("feature_order is not a permutation of the 25 properties")
    if s["pair_features"] != inp.entities * min(NN_PARAM, inp.n_index):
        bad.append("pair_features != cands x k")
    if workload == "blocking_sweep":
        for dim in SWEEP_DIMS:
            rec = [r["blocking_recall"] for r in s["recall"] if r["bkafi_dim"] == dim]
            if len(rec) != len(CAND_PAIRS_PER_ITEM_LIST) or rec != sorted(rec):
                bad.append(f"recall@k of dim {dim} is not monotone")
            if not 0.0 < rec[-1] <= 1.0:
                bad.append(f"recall of dim {dim} out of (0, 1]")
        n = [r["cand_pairs_num"] for r in s["sweep"]]
        if len(n) != len(THRESHOLD_PERCENTILES) or n != sorted(n):
            bad.append("threshold sweep pair counts are not monotone")
        return bad
    want = {"cands": inp.entities, "index": inp.n_index, "intersection": inp.n_index}
    if s["counts"] != want:
        bad.append(f"counts {s['counts']} != {want}")
    if not 0 < s["matches"] <= s["pair_features"]:
        bad.append("matches out of (0, pair_features]")
    thr = list(s["thresholds"].values())
    if thr != sorted(thr):
        bad.append("thresholds do not ascend with the percentile")
    if workload == "flagship_ckpt":
        stages = [name for name, _ in s["snapshots"]]
        if stages != ["candidates", "pair_features", "properties"]:
            bad.append(f"snapshot stages {stages}")
    return bad


def digest(summary: dict) -> str:
    blob = json.dumps(summary, sort_keys=True, default=lambda o: o.item())
    return hashlib.sha256(blob.encode()).hexdigest()


#: name -> (set-up, iteration(spark, inputs, tracer or None)). BENCHMARK.json
#: says why each listed workload exists. ``blocking_sweep`` is not listed:
#: its iteration is one 15-20 s run of small, driver-bound Spark jobs, too
#: few samples per run to be steady on a 4-core host; run it by name.
WORKLOADS = {
    "flagship": (setup_pages, iterate_flagship),
    "flagship_ckpt": (
        setup_pages,
        # the runner deletes ckpt_dir after every iteration: a fresh root
        lambda spark, inp, tracer: iterate_flagship(spark, inp, tracer, inp.ckpt_dir),
    ),
    "blocking_sweep": (setup_properties, iterate_sweep),
}
