import pytest

from impresso_ta.session import get_spark


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # managed tables (saveAsTable) land in a temp warehouse, never in
    # ./spark-warehouse of the checkout
    warehouse = tmp_path_factory.mktemp("spark-warehouse")
    spark = get_spark(
        app_name="impresso_ta-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_confs={"spark.sql.warehouse.dir": str(warehouse)},
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"
