import os

import pytest

# with the 48g session default the test JVM grew past 9 GB RSS in
# test_merge.py on a 15 GB host; an explicit setting still wins
os.environ.setdefault("SPARK_DRIVER_MEMORY", "6g")


@pytest.fixture(scope="session")
def spark():
    from urbanistic_polygons_spark.session import get_spark
    s = get_spark("tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()
