"""Parquet table loaders for the driver-generated testdata tables.

Native format is Parquet (columnar scan, predicate pushdown, column
pruning — all free from Catalyst). The only normalization applied on
load is casting ``embeddings.embedding`` from ``array<float>`` to
``array<double>``: the reference's data plane is double-typed
(``Point.java:12`` — ``ArrayList<Double>``), and float->double widening
is exact, so Spark and the DuckDB oracle see identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to session-tz TimestampType regardless of
    how the generator wrote it.  Two generator vintages exist:

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it; with
      ``spark.sql.legacy.parquet.nanosAsLong`` the column surfaces as
      int64 nanos, truncated here to µs with INTEGER division (double
      division loses precision at 1e18 ns).  DuckDB truncates ns->µs the
      same way, so the oracle sees identical values.
    - TIMESTAMP(MICROS) without UTC adjustment: surfaces as
      TIMESTAMP_NTZ; cast to TimestampType (sessions pin UTC, so the
      instant and its formatting are unchanged — and identical to what
      DuckDB reads natively).
    """
    ts_type = df.schema["ts"].dataType.simpleString()
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type != "timestamp":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Normalized reader plan for ``<sf_dir>/<name>.parquet``, memoized in
    the one plan memo (``artifacts.session_df_memo``) per session and
    source content fingerprint: a rebuild lists the file and reads its
    footer on the driver, and re-normalizing a raw plan costs ~9 ms."""
    import os

    from ..artifacts import session_df_memo, source_fingerprint

    if name == "events":
        # on EVERY call (memo hit included): load_table has always
        # guaranteed this conf before an events read, and the memoized
        # plan still needs it at SCAN time on int64-nanos fixtures — a
        # later conf RESET must not break the next action
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

    def build() -> DataFrame:
        if name == "events":
            return normalize_event_ts(
                spark.read.parquet(f"{sf_dir}/{name}.parquet")
            )
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "embeddings":
            df = df.withColumn(
                "embedding", F.col("embedding").cast("array<double>")
            )
        return df

    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(sf_dir),
        name,
        source_fingerprint(os.path.join(sf_dir, f"{name}.parquet")),
    )
    return session_df_memo(key, spark, build)


def register_views(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> None:
    """Register each named table as a temp view so operators can use spark.sql."""
    for name in names:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
