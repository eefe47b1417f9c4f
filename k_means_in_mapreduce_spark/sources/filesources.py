"""CSV / JSON / reference-text source-sink coverage (SURVEY §2.1 last row:
formats the reference lacks, free via Spark's builtin readers — registered
here so the coverage is *demonstrated*, not just claimed).

Each query writes a slice of the canonical parquet data to the format
under test (deterministic content) as an ``artifacts.artifact_dir``
build, reads the committed version back with an explicit schema on every
call, and aggregates — oracle-checked against the same aggregate
computed straight from parquet. The writer runs once per source and code
version; a rebuild writes a new version beside the one a held DataFrame
reads. Timestamps cross the text formats as explicit
microsecond-precision strings (CSV/JSON have no timestamp type; relying
on format inference would be lossy).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..artifacts import artifact_dir, source_fingerprint
from ..catalog import query
from ..sources import load_table

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


@query(
    "csv_roundtrip_orders_by_status",
    """
    SELECT o_orderstatus, count(*) AS n_orders, sum(o_totalprice) AS total_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def csv_roundtrip_orders_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders -> CSV (header, explicit timestamp format) -> read back with
    explicit schema -> aggregate; proves the CSV source/sink preserves
    values bit-for-bit for the supported types."""

    def write(path: str) -> None:
        (
            load_table(spark, sf_dir, "orders")
            .withColumn("o_orderdate", F.date_format("o_orderdate", _TS_FMT))
            .write.option("header", True)
            .csv(path)
        )

    path = artifact_dir(sf_dir, "orders.parquet", "orders_csv", {}, write, __name__)
    schema = (
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, "
        "o_totalprice double, o_orderdate string, o_orderpriority string"
    )
    back = (
        spark.read.option("header", True)
        .schema(schema)
        .csv(path)
        .withColumn("o_orderdate", F.to_timestamp("o_orderdate", _TS_FMT))
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("o_totalprice").alias("total_price"),
    )


@query(
    "json_roundtrip_events_daily",
    """
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           event_type,
           count(*) AS n_events,
           sum(value) AS total_value
    FROM events GROUP BY day, event_type
    """,
)
def json_roundtrip_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> JSON lines (explicit µs timestamp strings) -> read back ->
    daily per-type rollup."""

    def write(path: str) -> None:
        (
            load_table(spark, sf_dir, "events")
            .withColumn("ts", F.date_format("ts", _TS_FMT))
            .write.json(path)
        )

    path = artifact_dir(sf_dir, "events.parquet", "events_json", {}, write, __name__)
    schema = (
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string"
    )
    back = (
        spark.read.schema(schema)
        .json(path)
        .withColumn("ts", F.to_timestamp("ts", _TS_FMT))
    )
    return back.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("total_value"),
    )


@query(
    "partitioned_sink_pruned_scan",
    """
    SELECT o_orderpriority,
           count(*) AS n_orders,
           sum(o_totalprice) AS total_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def partitioned_sink_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned parquet sink + partition-pruned scan: orders
    written ``partitionBy(o_orderstatus)``, then a status-filtered
    aggregate reads back ONLY the matching partition directory (the
    filter resolves at planning time against directory names, zero data
    skipped rows read). At 100 TB this is the layout knob: partition by
    the dominant coarse filter, sort/bucket within partitions for the
    join key. Pruning is asserted in tests/test_plans.py."""
    o = load_table(spark, sf_dir, "orders")

    def write(path: str) -> None:
        o.write.partitionBy("o_orderstatus").parquet(path)

    path = artifact_dir(sf_dir, "orders.parquet", "orders_part", {}, write, __name__)
    # the schema is given, not inferred: an empty orders table writes no
    # data file to infer it from
    back = spark.read.schema(o.schema).parquet(path)
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("total_price"),
        )
    )


@query(
    "orc_roundtrip_lineitem_status",
    """
    SELECT l_linestatus,
           count(*) AS n_items,
           sum(l_quantity) AS total_qty,
           sum(l_extendedprice) AS total_price
    FROM lineitem GROUP BY l_linestatus
    """,
)
def orc_roundtrip_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem -> ORC -> read back -> aggregate. ORC has native timestamp
    and decimal encodings, so unlike CSV/JSON no string escort is needed —
    the roundtrip is schema-preserving by construction."""

    def write(path: str) -> None:
        load_table(spark, sf_dir, "lineitem").write.orc(path)

    path = artifact_dir(sf_dir, "lineitem.parquet", "lineitem_orc", {}, write, __name__)
    back = spark.read.orc(path)
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("l_quantity").alias("total_qty"),
        F.sum("l_extendedprice").alias("total_price"),
    )


@query(
    "bucketed_join_segment_revenue",
    """
    SELECT c_mktsegment,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def bucketed_join_segment_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketing — THE layout technique
    for repeated large-x-large joins at 100 TB.

    Both sides are written ``bucketBy(8, custkey).sortBy(custkey)``: rows
    are pre-hash-partitioned into the same bucket layout ON DISK, so the
    sort-merge join reads bucket i of each side directly — no Exchange
    (shuffle) and no per-query Sort for either side
    (tests/test_plans.py asserts the plan is Exchange-free). Pay the
    shuffle once at write time, amortize it over every subsequent join on
    that key. The MERGE hint keeps Catalyst from broadcasting the small
    local-test side, which would hide the bucketing (on the 100 TB target
    neither side broadcasts).

    Each copy is an ``artifacts.artifact_dir`` build, written by
    ``saveAsTable`` under a throwaway name that is dropped at once (an
    external table: its bucket files stay). Every call then declares the
    committed directory as a bucketed catalog table named after that
    build's content fingerprint, so a table never lists the files of a
    version that was cleared or rebuilt, and a held DataFrame keeps
    reading the version it planned. The revenue sum runs in DECIMAL
    (exact, order-independent — prices are 2-dp) so the result does not
    depend on merge-join row order."""
    sides = {}
    for tbl, key in (("customer", "c_custkey"), ("orders", "o_custkey")):
        src = load_table(spark, sf_dir, tbl)

        def write(path: str, src=src, key=key) -> None:
            throwaway = f"bkt_build_{uuid.uuid4().hex}"
            (
                src.write.option("path", path)
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(throwaway)
            )
            spark.sql(f"DROP TABLE {throwaway}")

        path = artifact_dir(sf_dir, f"{tbl}.parquet", f"bkt_{tbl}", {}, write, __name__)
        name = f"bkt_{tbl}_{source_fingerprint(path)}"
        cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in src.schema)
        # Spark takes a bucket spec only with an explicit column list
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {name} ({cols}) USING parquet "
            f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS "
            f"LOCATION '{path}'"
        )
        sides[tbl] = spark.table(name)
    c, o = sides["customer"], sides["orders"]
    joined = c.hint("merge").join(o, o.o_custkey == c.c_custkey)
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total_price"),
    )


@query(
    "csv_corrupt_records_audit",
    """
    SELECT o_orderstatus,
           CAST(sum(CASE WHEN o_orderkey % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_corrupt,
           CAST(sum(CASE WHEN o_orderkey % 10 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_good,
           CAST(sum(CASE WHEN o_orderkey % 10 <> 0
                    THEN CAST(o_totalprice AS DECIMAL(18,2))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               AS good_total_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def csv_corrupt_records_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record-tolerant ingest — the error-handling contract a real
    100 TB CSV feed needs: one malformed field must quarantine THAT row
    (null column + the raw line in ``_corrupt_record``), not kill the
    task (the reference's parser throws and dies on the first bad line,
    ``KMeans.java:269`` NumberFormatException — documented anti-pattern).

    A corrupt feed is synthesized deterministically (every o_orderkey %
    10 == 0 gets its price replaced by 'N/A'), read back in PERMISSIVE
    mode with an explicit schema + corrupt-record column, and audited
    per status: corrupt/good row counts and the exact DECIMAL revenue of
    the rows that survived. The oracle derives the same audit from the
    clean table and the same %10 rule."""

    def write(path: str) -> None:
        price = F.when(
            F.col("o_orderkey") % 10 == 0, F.lit("N/A")
        ).otherwise(F.col("o_totalprice").cast("string"))
        load_table(spark, sf_dir, "orders").select(
            F.concat_ws(
                ",",
                F.col("o_orderkey").cast("string"),
                "o_orderstatus",
                price,
            ).alias("value")
        ).write.text(path)

    path = artifact_dir(
        sf_dir, "orders.parquet", "orders_corrupt_csv", {}, write, __name__
    )
    back = (
        spark.read.schema(
            "o_orderkey bigint, o_orderstatus string, o_totalprice double, "
            "_corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(path)
    )
    corrupt = F.col("_corrupt_record").isNotNull()
    return back.groupBy("o_orderstatus").agg(
        F.sum(corrupt.cast("bigint")).alias("n_corrupt"),
        F.sum((~corrupt).cast("bigint")).alias("n_good"),
        F.sum(
            F.when(
                ~corrupt, F.col("o_totalprice").cast("decimal(18,2)")
            ).otherwise(F.lit(0).cast("decimal(18,2)"))
        )
        .cast("double")
        .alias("good_total_price"),
    )


@query(
    "text_points_ingest",
    """
    SELECT CAST(len(embedding) AS INT) AS dim,
           count(*) AS n_points,
           sum(CAST(embedding[1] AS DOUBLE)) AS sum_first_dim
    FROM embeddings
    GROUP BY dim
    """,
)
def text_points_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's native on-disk format end-to-end: embeddings
    formatted as '<a, b, ...>' lines (Point.toString, Point.java:96-106),
    written as a text file, re-ingested with the expression-only parser
    (KMeans.java:261-274 semantics), then aggregated. Float->string->
    double roundtrip is exact for float32 values printed at full
    precision."""
    from .text_points import parse_points, write_points

    def write(path: str) -> None:
        write_points(load_table(spark, sf_dir, "embeddings"), path, "embedding")

    path = artifact_dir(
        sf_dir, "embeddings.parquet", "points_text", {}, write, __name__
    )
    parsed = parse_points(spark, path)
    return parsed.select(F.size("features").alias("dim"), "features").groupBy(
        "dim"
    ).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.element_at("features", 1)).alias("sum_first_dim"),
    )
