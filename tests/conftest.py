import pytest

from azure_blob_crawler_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=4, shuffle_partitions=4)
    yield s
    s.stop()


def _cached_rdd_ids(spark) -> list[int]:
    """Ids of the cached RDDs in ``getRDDStorageInfo()`` except local
    checkpoints, which the JVM's garbage collector releases, not the caller."""
    jsc = spark.sparkContext._jsc
    local = {k for k, v in jsc.getPersistentRDDs().items() if v.rdd().isLocallyCheckpointed()}
    return sorted(i.id() for i in jsc.sc().getRDDStorageInfo() if i.id() not in local)
