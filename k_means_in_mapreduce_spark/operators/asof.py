"""As-of and range joins (SURVEY §2.3 — categories the reference lacks and
Spark has no native operator for; [extension] north-star ops).

Both are implemented as compositions of shuffle-efficient built-ins:

- ``asof_join``: the union-marker technique — tag both inputs, union them,
  and carry the right side's payload forward with
  ``last(..., ignorenulls=True)`` over a (key, time, marker) window. ONE
  shuffle on the join key, no point-in-time self-join explosion; state per
  key is a single row. This is the standard scale layout for
  point-in-time correctness (feature-store joins, trade/quote matching).
- ``range_join_binned``: equi-join on (key, time-bucket) with the probe
  side exploded to the two covering buckets, then exact range filter.
  Turns an O(n·m) inequality join into a hash join on bounded buckets —
  each probe row matches exactly one bucket per candidate, so no
  post-join dedup is needed.

The DuckDB oracles use the native ``ASOF JOIN`` / plain inequality join,
so these are checked against an independent reference implementation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import query
from ..sources import load_table

RANGE_WINDOW_SEC = 600  # range-join window: clicks within 10min after error


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload: dict[str, str],
) -> DataFrame:
    """Point-in-time join: for each left row, attach the payload of the
    LATEST right row with the same key and right_ts <= left_ts.

    ``payload`` maps right-side column -> output column name. Left rows
    with no prior right row get nulls (left-outer as-of semantics).

    Tie-break: multiple right rows sharing (key, ts) are ordered by their
    payload tuple, so the carried row is DETERMINISTIC (the greatest
    payload tuple wins) instead of whichever row the shuffle happened to
    place last — without this, duplicate right-side timestamps make the
    result flip between runs/partitionings. (ASOF SQL engines leave the
    tie unspecified; a deterministic pick is strictly safer.)

    The payload travels as ONE struct, not per-column ``last`` calls: a
    per-column carry skips a NULL in the latest right row's payload and
    back-fills it from an OLDER row — a chimera row matching no actual
    right row. The struct itself is never NULL for a right row, so
    ``last(ignorenulls)`` carries the latest row's payload atomically,
    NULL fields included. Right rows with NULL right_ts are dropped up
    front (``right_ts <= left_ts`` is NULL -> no match, the native ASOF
    semantics); default NULLS FIRST ordering would otherwise carry them
    into every left row that precedes all real right rows.
    """
    r = right.filter(F.col(right_ts).isNotNull()).select(
        F.col(key),
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_m"),
        F.struct(
            *[F.col(src).alias(dst) for src, dst in payload.items()]
        ).alias("_p"),
    )
    l = left.withColumn("_t", F.col(left_ts)).withColumn("_m", F.lit(1))
    u = l.unionByName(r, allowMissingColumns=True)
    # right rows (_m=0) sort before left rows at equal _t => "at-or-before";
    # the payload struct breaks ties among right rows at the same _t
    # (struct ordering = lexicographic by field, i.e. the old per-column
    # tie-break; left rows carry NULL there, but _m already separates them)
    w = (
        Window.partitionBy(key)
        .orderBy("_t", "_m", "_p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        "*",
        F.last(F.when(F.col("_m") == 0, F.col("_p")), ignorenulls=True)
        .over(w)
        .alias("_c"),
    )
    out_cols = [c for c in left.columns] + [
        F.col(f"_c.{dst}").alias(dst) for dst in payload.values()
    ]
    return carried.filter(F.col("_m") == 1).select(*out_cols)


@query(
    "events_asof_last_purchase",
    """
    SELECT c.event_id, c.user_id, c.ts,
           p.ts AS last_purchase_ts,
           p.value AS last_purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def events_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each click annotated with the same user's most recent purchase at or
    before the click (point-in-time attribution); inner as-of — clicks
    with no prior purchase are dropped."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    return asof_join(
        clicks,
        purchases,
        key="user_id",
        left_ts="ts",
        right_ts="ts",
        payload={"ts": "last_purchase_ts", "value": "last_purchase_value"},
    ).filter(F.col("last_purchase_ts").isNotNull())


@query(
    "events_range_error_click",
    f"""
    SELECT e.event_id AS error_event_id,
           c.event_id AS click_event_id,
           e.user_id,
           CAST(date_diff('microsecond', e.ts, c.ts) AS DOUBLE) / 1000000.0
               AS gap_sec
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id
     AND c.ts > e.ts
     AND c.ts <= e.ts + INTERVAL {RANGE_WINDOW_SEC} SECOND
    """,
)
def events_range_error_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clicks within 10 minutes AFTER an error by the same user — an
    interval/range join executed as a binned equi-join.

    Each error at bucket b can only match clicks in buckets {b, b+1}
    (bucket width == window width), so the error side is exploded to its
    two probe buckets and the join is a plain hash join on
    (user_id, bucket) + exact range filter. No bucket produces duplicate
    pairs because each click lives in exactly one bucket.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = (F.unix_timestamp("ts") / RANGE_WINDOW_SEC).cast("long")
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_event_id"),
            "user_id",
            F.col("ts").alias("e_ts"),
            F.explode(
                F.array(bucket, bucket + 1)
            ).alias("bucket"),
        )
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        "user_id",
        F.col("ts").alias("c_ts"),
        bucket.alias("bucket"),
    )
    joined = errors.join(clicks, ["user_id", "bucket"]).filter(
        (F.col("c_ts") > F.col("e_ts"))
        & (
            F.col("c_ts")
            <= F.col("e_ts") + F.expr(f"INTERVAL {RANGE_WINDOW_SEC} SECOND")
        )
    )
    # exact micros difference, one rounding (see streaming twin's note)
    gap = (
        (F.unix_micros("c_ts") - F.unix_micros("e_ts")).cast("double")
        / F.lit(1_000_000.0)
    ).alias("gap_sec")
    return joined.select(
        "error_event_id", "click_event_id", "user_id", gap
    )
