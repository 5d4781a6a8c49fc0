import pytest

from docopenie_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # a 4g driver heap, not get_spark's 8g: the suite's tables are small,
    # and with 8g the driver JVM grew to 9.5 GB resident (5.3 GB at 4g)
    s = get_spark(app_name="docopenie-tests", master="local[4]", shuffle_partitions=4,
                  extra_conf={"spark.driver.memory": "4g"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
