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


# ---------------------------------------------------------------------------
# State EVICTION: event-time-timeout sessions (append-mode closed sessions)
# ---------------------------------------------------------------------------
_SESSION_STATE_SCHEMA = (
    "n bigint, total double, start_ts timestamp, last_ts timestamp"
)
_SESSION_OUT_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events bigint, total_value double"
)


def idle_timeout_sessions(ev: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Per-user sessions with custom payload, CLOSED BY STATE TIMEOUT —
    the eviction contract ``running_totals_agg`` deliberately skips
    (NoTimeout is fine for O(users) keys; session-like keys are unbounded
    and MUST evict or the state store grows forever).

    Each user's open session lives in the state store; every batch folds
    events and re-arms an event-time timeout at ``last_ts + gap``. When
    the WATERMARK passes that timestamp, Spark hands the group back with
    ``state.hasTimedOut`` (in a no-data micro-batch if necessary) — the
    closed session is emitted exactly once (append mode) and the state is
    removed. This is the applyInPandasWithState form of what
    ``session_window`` computes declaratively, needed the moment a
    session carries custom payload or close-time logic.

    Caller must set ``withWatermark`` on ``ev`` — the timeout clock IS
    the watermark."""
    # captured by the closure: applyInPandasWithState hands the UDF naive
    # timestamps LOCALIZED to the session timezone, while
    # setTimeoutTimestamp expects UTC epoch millis — localize before
    # converting or the timeout is offset by the tz delta on any non-UTC
    # session (sessions would close hours early/late).
    session_tz = ev.sparkSession.conf.get("spark.sql.session.timeZone", "UTC")

    # Self-contained closure (executor workers lack this package).
    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import datetime as dt

        import pandas as pd

        if state.hasTimedOut:
            n, total, start_ts, last_ts = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [start_ts],
                    "session_end": [last_ts],
                    "n_events": [n],
                    "total_value": [total],
                }
            )
            return
        n, total, start_ts, last_ts = (
            state.get if state.exists else (0, 0.0, None, None)
        )
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
            b_min, b_max = pdf["ts"].min(), pdf["ts"].max()
            start_ts = b_min if start_ts is None else min(start_ts, b_min)
            last_ts = b_max if last_ts is None else max(last_ts, b_max)
        state.update((n, total, start_ts, last_ts))
        # re-arm: close when the watermark passes last event + gap
        close_at = (
            pd.Timestamp(last_ts).tz_localize(session_tz)
            + pd.Timedelta(seconds=gap_sec)
        )
        state.setTimeoutTimestamp(int(close_at.timestamp() * 1000))
        yield from ()  # append mode: open sessions emit nothing

    return ev.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_SESSION_OUT_SCHEMA,
        stateStructType=_SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
