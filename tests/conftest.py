import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from graph_data_science_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # AQE off + tiny shuffle-partition count: the fixtures are <100 rows and
    # AQE's per-stage re-planning dominates superstep latency (measured 2×).
    # Production posture (AQE on, partitions ~ cores) is exercised by bench.py.
    s = get_spark(
        app_name="gds-spark-tests",
        master="local[4]",
        shuffle_partitions=2,
        extra_conf={
            "spark.driver.memory": "8g",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    yield s


@pytest.fixture()
def spark_conf(spark):
    """``spark_conf({"spark.sql.shuffle.partitions": "4", ...})`` sets session
    confs for one test; the previous values come back after it."""
    prev = {}

    def set_conf(kv):
        for k, v in kv.items():
            prev.setdefault(k, spark.conf.get(k))
            spark.conf.set(k, v)

    yield set_conf
    for k, v in prev.items():
        spark.conf.set(k, v)


def rows_to_dict(df, key, value):
    return {r[key]: r[value] for r in df.collect()}
