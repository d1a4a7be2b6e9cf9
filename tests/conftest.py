import os
import shutil
import tempfile

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from lucene_plugin_spark.session import get_spark
    s = get_spark("pytest", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture()
def warehouse():
    d = tempfile.mkdtemp(prefix="lps-wh-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def facade(spark, warehouse):
    from lucene_plugin_spark.api import LuceneFacade
    return LuceneFacade(spark, warehouse)
