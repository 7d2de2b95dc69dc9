"""SparkSession factory with scale-oriented defaults.

All engine entry points accept an existing SparkSession; this module only
centralizes the conf we want on any session we create ourselves (tests,
bench, CLI).
"""

from __future__ import annotations

import os
import re

# one BLAS thread per python worker: 32 workers × N openblas threads
# spin-locks the box into 80%+ system time (measured); partition
# parallelism is the only parallelism we want.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ.setdefault(_v, "1")

from pyspark.sql import SparkSession

from .config import DEFAULT_CONF, EngineConf


#: local driver heap ceiling (see the spark.driver.memory note below)
_DRIVER_MEM_CAP_MB = 24 * 1024


def default_driver_memory(meminfo: str | None) -> str:
    """``spark.driver.memory`` default: min(24g, 60% of MemTotal), given
    the text of ``/proc/meminfo``; 24g when it is missing or unreadable.
    The driver JVM is the whole executor in local mode, so a heap sized
    past the host's RAM gets the process OOM-killed rather than GC'd."""
    m = re.search(r"^MemTotal:\s+(\d+) kB", meminfo or "", re.MULTILINE)
    mb = int(m.group(1)) * 6 // 10 // 1024 if m else 0  # 60% of kB, in MB
    return f"{mb}m" if 0 < mb < _DRIVER_MEM_CAP_MB else "24g"


def _read_meminfo() -> str | None:
    try:
        with open("/proc/meminfo") as f:
            return f.read()
    except OSError:
        return None


def get_spark(
    app_name: str = "geospatial-object-matching-spark",
    master: str | None = None,
    conf: EngineConf | None = None,
) -> SparkSession:
    conf = conf or DEFAULT_CONF
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[*]"
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting are load
        # bearing at 100 TB (hot city tiles produce skewed cell keys).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(conf.shuffle_partitions))
        # Arrow transfer for every pandas UDF / mapInPandas kernel.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch",
            str(conf.arrow_batch_rows),
        )
        # deterministic timestamps regardless of host zone
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # sf1-class local runs in one JVM: 8g forced multi-second GC stalls
        # between python-kernel waves (measured: kNN round-1 46.8 s at 8g
        # vs 40.5 s at 28g, 16 cores — BENCH.md round 4); 24g keeps the
        # Arrow buffers + cached stages out of GC pressure, but never more
        # than 60% of the host's RAM (default_driver_memory). Cluster
        # deployments size executors independently; this only affects the
        # local driver JVM.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or default_driver_memory(_read_meminfo()),
        )
        # the dispatch-capped driver-collect kernels (knn_join_broadcast,
        # dense_cosine_topk) legitimately collect up to their row caps —
        # a 2M x 100-dim float64 index is ~1.6 GB, over the 1g default
        .config("spark.driver.maxResultSize", "4g")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
    )
    for k, v in conf.extra_spark_conf.items():
        b = b.config(k, v)
    return b.getOrCreate()
