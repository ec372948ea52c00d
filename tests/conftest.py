from __future__ import annotations

import pytest

from docling_rag_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(master="local[4]", app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def cached_relations(spark):
    """Callable returning the number of entries in the session's
    CacheManager: relations that persist()/cache() registered and no
    unpersist() has released yet."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    return lambda: field.get(cm).size()
