import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    # the production session (JIT flag, Kryo, Arrow byte cap, skew join)
    # with a test-sized heap
    from osmquadtree_rust_bindings_spark.session import get_spark

    spark = get_spark("local[4]", app_name="osmquadtree-spark-tests",
                      extra_conf={"spark.driver.memory": "4g"})
    yield spark
    spark.stop()
