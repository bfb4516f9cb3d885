import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from filters_spark.session import get_spark

    # one task slot per core the run is given, at most 8: slots beyond
    # the cores only add Python-worker and scheduling overhead to every
    # job (local[8] on a 4-core host ran the engine tests ~20% slower)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    cpus = int(cpus) if cpus.isdigit() else len(os.sched_getaffinity(0))
    s = get_spark("filters-spark-tests", master=f"local[{min(8, cpus)}]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
