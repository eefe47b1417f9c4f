"""Skew mitigation: salted two-phase aggregation (SURVEY §4 scale notes).

When a group key is pathologically hot (one key >> partition capacity —
think event_type over trillions of events), the standard partial/final
hash aggregate already bounds the shuffle, but the FINAL aggregation of a
hot key still lands on one reducer along with its stragglers. Salting
splits each key into ``salt_buckets`` sub-keys for the first shuffle and
merges the sub-aggregates in a second, tiny shuffle — worst-case reducer
load drops by the salt factor at the cost of an extra O(keys·salt) row
exchange. Results are bitwise-identical for algebraic aggregates
(count/sum/min/max).

AQE's skew-join splitting handles the JOIN version of this automatically;
salting stays relevant for aggregations and is demonstrated (and
oracle-checked) here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import query
from ..sources import load_table

SALT_BUCKETS = 16


def salted_sum_count(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    salt_buckets: int = SALT_BUCKETS,
) -> DataFrame:
    """Two-phase salted groupBy: (keys, salt) partials -> (keys) merge.
    Returns (keys..., n_rows, total)."""
    salt = (F.rand(seed=42) * salt_buckets).cast("int")
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*keys, "_salt")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.sum(value_col).alias("_s"),
        )
    )
    return partial.groupBy(*keys).agg(
        F.sum("_n").alias("n_rows"),
        F.sum("_s").alias("total"),
    )


@query(
    "events_salted_type_totals",
    """
    SELECT event_type, count(*) AS n_rows, sum(value) AS total
    FROM events GROUP BY event_type
    """,
)
def events_salted_type_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted aggregation over the 5-value event_type key (a stand-in for
    a hot key at 100 TB) — must equal the plain groupBy bit-for-bit up to
    fp summation order."""
    ev = load_table(spark, sf_dir, "events")
    return salted_sum_count(ev, ["event_type"], "value")
