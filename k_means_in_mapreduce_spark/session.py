"""SparkSession factory.

The driver harness passes its own SparkSession into ``__spark_entry__``;
this factory is used by tests and ``bench.py``. Defaults follow the
scale-aware guidance: AQE on (runtime shuffle-partition coalescing + skew
join handling), shuffle partitions ~ cores for local mode (a cluster
deployment would size this to 2-3x total cores), UTC session timezone so
timestamp results are comparable with the UTC-naive DuckDB oracle, Arrow
enabled for any pandas interchange.

Local masters also run Python workers from ``worker_daemon``, which stops
every Arrow/pandas task re-reading ``pyspark.zip`` (~0.2 CPU-s per task).
Local only: the daemon must import this package, and cluster executors do
not have it (the UDFs ship as self-contained closures for that reason), so
a cluster session keeps the stock ``pyspark.daemon``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

def local_worker_conf(master: str) -> dict[str, str]:
    """The worker-daemon keys for a ``local`` master; none for a cluster."""
    if not master.startswith("local"):
        return {}
    return {
        "spark.python.daemon.module": f"{__package__}.worker_daemon",
        # the daemon imports the package whatever the driver's cwd is
        "spark.executorEnv.PYTHONPATH": os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))
        ),
    }


def get_session(
    app_name: str = "k_means_in_mapreduce_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str = "16g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4)))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**local_worker_conf(master), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
