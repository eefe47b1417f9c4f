"""Reference-format text point ingest / egress.

The reference stores points as one line per point, ``<x1, x2, ..., xd>``,
parsed by stripping ``<``/``>`` and splitting on ``,\\s*`` (reference:
``KMeans.java:261-274`` parsePoint) and written back by joining with
``", "`` inside ``<>`` (``Point.java:96-106`` toString). Both directions
here are pure Catalyst expressions — no UDF — so ingest parallelizes as a
plain distributed text scan (at 100 TB this is just ``spark.read.text``
over a partitioned directory; each task parses its own split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

def _parse_expr(col: str) -> F.Column:
    """Expression parsing one ``<a, b, c>`` line into array<double>.

    Element-wise ``try_cast``: a non-numeric token becomes a NULL element
    instead of throwing mid-job from the ANSI cast — the CLI turns such a
    line into a NULL vector, which the fit refuses with a clean error and
    exit code (the reference dies on NumberFormatException,
    KMeans.java:269; we fail just as loudly but controlled). Valid data
    parses identically."""
    toks = F.split(F.regexp_replace(F.trim(F.col(col)), "[<>]", ""), ",\\s*")
    return F.transform(toks, lambda s: s.try_cast("double"))


def parse_points(spark: SparkSession, path: str) -> DataFrame:
    """Read a reference-format text file into one ``features`` column,
    skipping blank lines. No point id: the reference discards Hadoop's
    byte-offset keys too."""
    return (
        spark.read.text(path)
        .filter(F.length(F.trim("value")) > 0)
        .select(_parse_expr("value").alias("features"))
    )


def parse_points_df(df: DataFrame, col: str = "value") -> DataFrame:
    """Parse an existing string column of ``<a, b>`` lines."""
    return df.withColumn("features", _parse_expr(col))


def format_points(df: DataFrame, features_col: str = "features") -> DataFrame:
    """Add a ``point_str`` column in the reference's ``<a, b>`` format
    (Point.java:96-106)."""
    return df.withColumn(
        "point_str",
        # nullReplacement keeps the arity: a NULL element (malformed-token
        # sentinel from _parse_expr) egresses as a visible NaN instead of
        # being silently DROPPED, which would shrink the point's dimension
        F.concat(
            F.lit("<"),
            F.array_join(F.col(features_col), ", ", "NaN"),
            F.lit(">"),
        ),
    )


def write_points(df: DataFrame, path: str, features_col: str = "features") -> None:
    """Egress in reference text format (TextOutputFormat analogue,
    KMeans.java:148-150)."""
    format_points(df, features_col).select("point_str").write.mode("overwrite").text(path)
