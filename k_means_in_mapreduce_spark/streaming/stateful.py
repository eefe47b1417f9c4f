"""Custom stateful streaming operator via ``applyInPandasWithState``
(SURVEY §2.9 [extension]) — the escape hatch for stream logic the builtin
windowed aggregations can't express.

Demonstrated operator: per-user running totals with explicit state
(count, sum, last event time), the building block for online feature
computation. The events stream replays one file per trigger; state lives
in the state store keyed by user_id, updated per micro-batch, and the
final emitted row per user must equal the batch groupBy — which is
exactly what the registered oracle checks.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..catalog import query
from .windows import read_events_stream, _run_to_memory

_STATE_SCHEMA = "n bigint, total double, last_ts timestamp"
_OUT_SCHEMA = (
    "user_id bigint, n_events bigint, total_value double, last_event_ts timestamp"
)


def running_totals_agg(ev: DataFrame) -> DataFrame:
    """The stateful per-user running-totals aggregation over any
    (user_id, ts, value) stream — shared by the registered query and the
    checkpoint stop/restart test (tests/test_streaming_semantics.py)."""

    # Self-contained closure: executor Python workers don't have this
    # package on sys.path, so no references to module globals.
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd

        n, total, last_ts = (
            state.get if state.exists else (0, None, None)
        )
        for pdf in pdfs:
            n += len(pdf)
            # min_count=1: a batch of all-NULL values contributes nothing
            # (pandas' default sum() would coerce it to 0.0) — total stays
            # NULL until the first non-null value, matching the batch
            # oracle's sum(value) semantics for all-NULL users
            s = pdf["value"].sum(min_count=1)
            if not pd.isna(s):
                total = float(s) if total is None else total + float(s)
            batch_max = pdf["ts"].max()
            last_ts = batch_max if last_ts is None else max(last_ts, batch_max)
        state.update((n, total, last_ts))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "last_event_ts": [last_ts],
            }
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_totals_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir).select("user_id", "ts", "value")
    agg = running_totals_agg(ev)
    out = _run_to_memory(agg, mode="update")
    # update-mode emits one row per key per batch that touched it; the
    # final state per user is the row with the highest n_events.
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        out.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )


@query(
    "stream_user_running_totals",
    """
    SELECT user_id,
           count(*) AS n_events,
           sum(value) AS total_value,
           max(ts) AS last_event_ts
    FROM events
    GROUP BY user_id
    """,
)
def stream_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-stateful streaming op: final per-user running totals must
    equal the batch aggregation (the batch/stream equivalence contract)."""
    return running_totals_stateful(spark, sf_dir)
