"""Reference-format text point ingest / egress.

The reference stores points as one line per point, ``<x1, x2, ..., xd>``,
parsed by stripping ``<``/``>`` and splitting on ``,\\s*`` (reference:
``KMeans.java:261-274`` parsePoint) and written back by joining with
``", "`` inside ``<>`` (``Point.java:96-106`` toString).

Ingest is one ``mapInArrow`` over a plain distributed text scan (at
100 TB this is ``spark.read.text`` over a partitioned directory; each task
parses its own split): :func:`_parse_kernel` parses each Arrow batch with
``pyarrow.compute``, one vectorized cast per batch. Every token reads as
Spark's ``try_cast(token AS double)`` reads it, NULL for a malformed one.
:func:`parse_points` is that parse over :func:`text_lines`. The CLI hands
the same lines and kernel (:func:`point_parse`) to ``kmeans_df.fit``
instead, whose one-task fit runs the kernel inside its own draw task, as
the reference parses each line in the map task that assigns it
(``KMeans.java:54-61``). Egress is Catalyst expressions
(:func:`format_points`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

_FEATURES = StructField("features", ArrayType(DoubleType()))


def _parse_kernel(col: str, dim: int | None, keep: bool):
    """The body of a parse task over Arrow batches: column ``col`` of
    ``<a, b, c>`` lines becomes ``features``, one ``list<double>`` per line.
    With ``keep`` the batch's own columns stay in front of it.

    A line reads as the reference reads it: every ``<``/``>`` is deleted,
    the line splits on ``,\\s*`` (Java's ``\\s``), and each token is
    Spark's ``try_cast`` to double: Java's ``Double.parseDouble`` after its
    trim of every char up to U+0020 (so ``1d`` and ``0x1p3`` read as
    numbers), then Spark's ``inf``/``infinity``/``nan`` spellings in any
    case, else NULL. A malformed token is a NULL element, not a failed job.

    Each batch first tries the vectorized path: strip blanks and ``<>``
    from the line's ends, split on ``", "``, cast. The cast rejects a
    token with blanks, a ``<>`` or a comma inside it, so a batch it
    accepts splits as ``,\\s*`` would. A batch the cast rejects, or with a
    NaN or infinite value (pyarrow also reads ``-nan`` and ``nan(1)``,
    which Spark refuses), is parsed again token by token.

    With ``dim`` set, a line that is not exactly ``dim`` numbers, or has a
    NULL element, is a NULL vector: the fit counts and refuses those."""

    def task(batches):
        import math
        import re

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        blank = "".join(map(chr, range(33)))  # Java's String.trim set
        sep = re.compile(",[\t\n\x0b\f\r ]*")
        java = re.compile(
            r"[+-]?(?:NaN|Infinity|(?:(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?"
            r"|0[xX](?:[0-9a-fA-F]+\.?|[0-9a-fA-F]*\.[0-9a-fA-F]+)"
            r"[pP][+-]?\d+)[fFdD]?)",
            re.ASCII,
        )
        inf = math.inf
        special = {"inf": inf, "+inf": inf, "infinity": inf,
                   "+infinity": inf, "-inf": -inf, "-infinity": -inf,
                   "nan": math.nan}

        def double(tok: str) -> float | None:
            t = tok.strip(blank)
            if not java.fullmatch(t):
                return special.get(t.lower())
            if t.endswith("NaN"):  # Java's NaN has no sign; Python's has
                return math.nan
            if t[-1] in "fFdD":  # never Infinity's last char
                t = t[:-1]
            if "x" not in t and "X" not in t:
                return float(t)
            try:
                return float.fromhex(t)
            except OverflowError:  # Java rounds it to an infinity
                return -inf if t[0] == "-" else inf

        def by_token(lines):
            return pa.array(
                [None if s is None else
                 [double(t) for t in sep.split(re.sub("[<>]", "", s))]
                 for s in lines.to_pylist()],
                pa.list_(pa.float64()),
            )

        def vectors(lines):
            toks = pc.split_pattern(pc.utf8_trim(lines, blank + "<>"), ", ")
            try:
                vals = pc.cast(toks.values, pa.float64())
            except pa.ArrowInvalid:
                return by_token(lines)
            if not np.isfinite(vals.to_numpy()).all():
                return by_token(lines)
            return pa.ListArray.from_arrays(toks.offsets, vals,
                                            mask=toks.is_null())

        for b in batches:
            vecs = vectors(b.column(col))
            if dim is not None:
                offs = vecs.offsets.to_numpy()
                bad = np.diff(offs) != dim
                if vecs.values.null_count:
                    seen = np.concatenate(
                        [[0], np.cumsum(vecs.values.is_null().to_numpy(
                            zero_copy_only=False))])
                    bad |= seen[offs[1:]] != seen[offs[:-1]]
                if vecs.null_count:
                    bad |= vecs.is_null().to_numpy(zero_copy_only=False)
                vecs = pa.ListArray.from_arrays(vecs.offsets, vecs.values,
                                                mask=pa.array(bad))
            cols = [*b.columns, vecs] if keep else [vecs]
            names = [*b.schema.names, "features"] if keep else ["features"]
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return task


def text_lines(spark: SparkSession, path: str) -> DataFrame:
    """The non-blank lines of a reference-format text file or directory,
    as one ``value`` column. The filter runs in the JVM, over the scan's
    own partitions."""
    return spark.read.text(path).filter(F.length(F.trim("value")) > 0)


def point_parse(dim: int | None = None):
    """The parse of :func:`parse_points` as a function over Arrow batches
    of :func:`text_lines`: each batch becomes one of the same rows, a
    ``features`` column. With ``dim``, a line that is not exactly ``dim``
    numbers is a NULL vector (:func:`_parse_kernel`)."""
    return _parse_kernel("value", dim, False)


def parse_points(spark: SparkSession, path: str,
                 dim: int | None = None) -> DataFrame:
    """Read a reference-format text file into one ``features`` column,
    skipping blank lines: :func:`point_parse` over :func:`text_lines`. No
    point id: the reference discards Hadoop's byte-offset keys too. The
    parse is a narrow node over the scan's partitions, so rows keep their
    partition and order."""
    return text_lines(spark, path).mapInArrow(point_parse(dim),
                                              StructType([_FEATURES]))


def parse_points_df(df: DataFrame, col: str = "value") -> DataFrame:
    """Append a ``features`` column parsed from the string column ``col``
    of ``<a, b>`` lines, by the same kernel as :func:`parse_points`."""
    return df.mapInArrow(_parse_kernel(col, None, True),
                         StructType([*df.schema.fields, _FEATURES]))


def format_points(df: DataFrame, features_col: str = "features") -> DataFrame:
    """Add a ``point_str`` column in the reference's ``<a, b>`` format
    (Point.java:96-106)."""
    return df.withColumn(
        "point_str",
        # nullReplacement keeps the arity: a NULL element (a malformed
        # token's parse) egresses as a visible NaN instead of being
        # silently DROPPED, which would shrink the point's dimension
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
