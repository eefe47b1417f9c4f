import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools"))

from driver_sim import TABLES, compare, make_duck_con  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"


@pytest.fixture(scope="session")
def spark():
    from k_means_in_mapreduce_spark.session import get_session

    s = get_session(app_name="tests", shuffle_partitions=8, driver_memory="8g")
    yield s


def jobs_in_group(spark, group: str, action):
    """Run ``action()`` under the Spark job group ``group``; return its
    result and the sorted ids of the jobs it started. An exception from
    ``action`` propagates."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job start events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def degenerate_fixture(tmp_path, n_rows: int, src: str = SF0001) -> str:
    """Write every table of ``src`` into ``tmp_path`` with its schema kept
    and only its first ``n_rows`` rows (0 gives empty tables); return the
    new sf_dir. The source fixture is only read."""
    import pyarrow.parquet as pq

    for t in TABLES:
        table = pq.read_table(f"{src}/{t}.parquet")
        pq.write_table(table.slice(0, n_rows), str(tmp_path / f"{t}.parquet"))
    return str(tmp_path)


@pytest.fixture(scope="session")
def duck_sf001():
    con = make_duck_con(SF001)
    yield con
    con.close()


def assert_oracle_match(spark_df, sql: str, con):
    """The driver's compare of ``spark_df`` with the oracle ``sql`` run on
    ``con`` (``tools/driver_sim.compare``)."""
    compare(spark_df.toPandas(), con.sql(sql).df(), sql)
