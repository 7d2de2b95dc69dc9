"""Scale benchmark for the dense broadcast-GEMM cosine/IP top-k kernel
(operators/similarity.py::dense_cosine_topk) at sizes where the crossJoin
form is hopeless — evidence for the flat-IP-index scale story.

Synthetic deterministic input (PCG64-seeded clustered Gaussians — no
external data): N index vectors x D dims, Q queries, top-k. Reports
wall seconds for (a) dense GEMM kernel, (b) the exact crossJoin + rank
window form at the sizes it can still finish, and checks (dist,id)-set
parity between the two on a query subsample.

Usage: python tools/dense_bench.py [N ...]  (default 200000 1000000 2000000)
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

D = 100
Q = 10_000
K = 10
CROSSJOIN_MAX_N = 50_000  # beyond this the |Q|x|N| shuffle is hopeless


def make_vectors(spark, n: int, seed: int):
    """Deterministic clustered vectors, generated DISTRIBUTED and
    Arrow-batched (one numpy stream per batch, seeded by (seed, first
    id)) so the input itself never bottlenecks on the driver."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.Generator(np.random.PCG64([seed, int(ids[0])]))
            crng = np.random.Generator(np.random.PCG64(seed))
            centers = crng.normal(0.0, 1.0, (16, D))
            which = rng.integers(0, 16, len(ids))
            v = centers[which] + rng.normal(0.0, 0.3, (len(ids), D))
            yield pd.DataFrame({"vec_id": ids, "embedding": list(v)})

    return spark.range(0, n, 1, 64).mapInPandas(
        gen, "vec_id long, embedding array<double>"
    )


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [200_000, 1_000_000, 2_000_000]
    from geospatial_object_matching_spark.config import EngineConf
    from geospatial_object_matching_spark.operators import similarity as SIM
    from geospatial_object_matching_spark.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        "dense-bench", master=f"local[{cpus}]", conf=EngineConf(shuffle_partitions=cpus * 2)
    )
    spark.sparkContext.setLogLevel("ERROR")

    out = {"d": D, "q": Q, "k": K, "cpus": cpus, "sizes": {}}
    for n in sizes:
        print(f"[{time.strftime('%H:%M:%S')}] generating n={n}", flush=True)
        emb = make_vectors(spark, n, seed=11).persist()
        emb.count()
        queries = emb.filter(f"vec_id < {Q}").persist()
        nq = queries.count()

        rec = {}
        if n <= 2_000_000:  # past the cap only bigindex is legal
            print(f"[{time.strftime('%H:%M:%S')}] dense n={n}", flush=True)
            # min-of-2: host steal variance is 2-10x run to run (memory
            # note "sandbox-performance-traps")
            t_dense = float("inf")
            for _ in range(2):
                t0 = time.time()
                res = SIM.dense_cosine_topk(
                    emb, queries, k=K,
                    # pin the driver-collect flat kernel: the round-5
                    # default dispatch would route >=100k-row indexes to
                    # bigindex, which is the OTHER arm of this A/B
                    dispatch_threshold=1 << 62,
                ).persist()
                n_dense = res.count()
                t_dense = min(t_dense, round(time.time() - t0, 2))
                # structural checks (exactness itself is covered by the
                # crossJoin parity at 50k, the unit tie tests, the DuckDB
                # oracle)
                assert n_dense == nq * K, (n_dense, nq, K)
                assert res.filter(f"rank < 1 or rank > {K}").count() == 0
                res.unpersist()
            rec = {"flat_sec": t_dense, "dense_rows": n_dense,
                   "per_query_ms": round(1000.0 * t_dense / nq, 3)}

        # inverted-broadcast exact path (no index collect) at the same
        # sizes — the beyond-cap kernel; repartition the index to real
        # task granularity first (a 64-partition cached input is the
        # realistic parquet shape)
        print(f"[{time.strftime('%H:%M:%S')}] bigindex n={n}", flush=True)
        t_big = float("inf")
        for _ in range(2):
            t0 = time.time()
            res = SIM.dense_cosine_topk_bigindex(emb, queries, k=K).persist()
            n_big = res.count()
            t_big = min(t_big, round(time.time() - t0, 2))
            assert n_big == nq * K, (n_big, nq, K)
            res.unpersist()
        rec["bigindex_sec"] = t_big
        rec["bigindex_per_query_ms"] = round(1000.0 * t_big / nq, 3)

        if n <= CROSSJOIN_MAX_N:
            spark.catalog.clearCache()
            emb.persist().count()
            queries.persist().count()
            sub_q = queries.limit(200)
            t0 = time.time()
            n_cross = SIM.cosine_topk(emb, sub_q, k=K).count()
            rec["crossjoin_200q_sec"] = round(time.time() - t0, 2)
            rec["crossjoin_200q_rows"] = n_cross
            # parity: dense == crossJoin on the same 200-query subsample
            a = (
                SIM.dense_cosine_topk(emb, sub_q, k=K, index_cap=n)
                .selectExpr("query_id", "vec_id", "rank", "round(cosine, 9) as c")
                .toPandas()
            )
            b = (
                SIM.cosine_topk(emb, sub_q, k=K)
                .selectExpr("query_id", "vec_id", "rank", "round(cosine, 9) as c")
                .toPandas()
            )
            key = lambda df: set(
                map(tuple, df[["query_id", "vec_id", "rank", "c"]].itertuples(index=False))
            )
            rec["parity_200q"] = key(a) == key(b)

        out["sizes"][str(n)] = rec
        print(json.dumps({str(n): rec}), flush=True)
        emb.unpersist()
        queries.unpersist()
        spark.catalog.clearCache()

    print(json.dumps(out))


if __name__ == "__main__":
    main()
