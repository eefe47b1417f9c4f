"""Vector-math Catalyst expression builders.

These re-express the reference's scalar functions (reference:
``kmeans/src/main/java/it/unipi/hadoop/Point.java:47-76`` — Euclidean
distance, scale, argmin) as pure built-in column expressions so the whole
pipeline stays inside WholeStageCodegen — no Python UDF in the hot path.

Design notes for scale:
- ``nearest_centroid`` takes the centroid set as a *plan literal* (k×d
  constant array), the Spark analogue of the reference shipping centroids
  through the Hadoop ``Configuration`` as one serialized string
  (``KMeans.java:153-157``). It is built the same way: one JSON string
  literal under ``from_json``, which Catalyst folds into a single
  ``Literal`` — no shuffle, no join, no per-row parse. Building it from
  k·d ``F.lit`` calls instead costs a py4j round trip per element: 640
  calls and ~0.44 CPU-s for a 10×64 set, before Spark runs anything.
  Python's ``repr`` of a float round-trips exactly through the JVM's
  double parser, and ``NaN``/``±Infinity`` parse as non-numeric numbers,
  so the literal is bit-exact (−0.0 and subnormals included).
- argmin is computed over *squared* distance: sqrt is monotonic, so the
  argmin and its lowest-index tie-break are identical to the reference's
  sqrt-then-compare (``Point.java:57-71``) while saving k sqrts per row.
- ``F.array_position(dists, F.array_min(dists))`` returns the FIRST
  position of the minimum — exactly the reference's strict ``<`` lowest-
  index tie-break (``Point.java:65``).
"""

from __future__ import annotations

import json
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _col(c: ColumnOrName) -> Column:
    return F.col(c) if isinstance(c, str) else c


def sq_dist(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Squared Euclidean distance between two array<double> columns."""
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    return F.aggregate(
        F.zip_with(_col(a), _col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: ColumnOrName) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Cosine of two array<double> columns; NULL when either is a zero
    vector (ANSI ``/`` would raise on the zero divisor)."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def scale(a: ColumnOrName, divisor: Column) -> Column:
    """Element-wise divide (reference: Point.java:73-76, computeMean)."""
    return F.transform(_col(a), lambda x: x / divisor)


def _json_lit(value: list, ddl: str) -> Column:
    return F.from_json(F.lit(json.dumps(value)), ddl, {"mode": "FAILFAST"})


def literal_table(spark: SparkSession, rows: Sequence[dict], ddl: str) -> DataFrame:
    """A small driver-held table (``rows`` of dicts keyed by the field
    names of ``ddl``, e.g. ``"cluster_id int, n bigint"``) as one folded
    plan literal, inlined over a one-row range in one partition.

    ``createDataFrame`` over a Python list would build a pickled Python
    RDD whose job starts the plain Python daemon and workers: a second pool
    beside the Arrow one, ~305 MB of a pipeline run's peak (4-core VM,
    ``local[4]``). This plan runs in the JVM alone, and carries values
    bit-exactly as the centroid literal does.
    """
    return spark.range(1, numPartitions=1).select(
        F.inline(_json_lit(list(rows), f"array<struct<{ddl}>>"))
    )


def vector_lit(v: Sequence[float]) -> Column:
    """A constant vector as one folded array<double> plan literal."""
    return _json_lit([float(x) for x in v], "array<double>")


def centroid_matrix_lit(centroids: Sequence[Sequence[float]]) -> Column:
    """k×d centroid set as one folded array<array<double>> plan literal."""
    return _json_lit(
        [[float(x) for x in c] for c in centroids], "array<array<double>>"
    )


def distance_vector(features: ColumnOrName, centroids: Sequence[Sequence[float]]) -> Column:
    """Array of k squared distances from ``features`` to each centroid."""
    return F.transform(
        centroid_matrix_lit(centroids), lambda c: sq_dist(_col(features), c)
    )


def nearest_centroid(features: ColumnOrName, centroids: Sequence[Sequence[float]]) -> Column:
    """0-based argmin cluster id with lowest-index tie-break.

    Reference semantics: Point.java:57-71 (nearestCentroid, strict ``<``).
    """
    dists = distance_vector(features, centroids)
    return (F.array_position(dists, F.array_min(dists)) - F.lit(1)).cast("int")
