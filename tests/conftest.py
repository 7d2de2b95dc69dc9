import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)


@pytest.fixture(scope="session")
def spark():
    from geospatial_object_matching_spark.config import EngineConf
    from geospatial_object_matching_spark.session import get_spark

    conf = EngineConf(shuffle_partitions=8)
    cores = os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count()
    spark = get_spark("gom-tests", master=f"local[{cores}]", conf=conf)
    yield spark
    spark.stop()
