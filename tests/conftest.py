import os

import pytest

from openmsistream_spark.catalog import load_all

# Out-of-band catalog registration (see queries_extras.py docstring):
# every test that iterates QUERIES must see the extras regardless of
# whether __spark_entry__ was imported first in the pytest process.
load_all()

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    from openmsistream_spark.session import get_spark

    warehouse = str(tmp_path_factory.mktemp("warehouse"))
    spark = get_spark(
        app_name="openmsistream_spark_tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.warehouse.dir": warehouse},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def load(spark, sf_dir, name):
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
