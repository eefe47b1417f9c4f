"""Watermark / late-data semantics (SURVEY §2.9): data older than the
watermark must be DROPPED from stateful streaming aggregations, finalized
windows must not re-emit. Exercised with a two-batch file-source replay
(second file written only after the first batch commits, so the watermark
has advanced between them)."""

import datetime as dt
import os
import shutil

from pyspark.sql import functions as F


def test_watermark_drops_late_rows(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    os.makedirs(src, exist_ok=True)

    def write_file(name: str, rows):
        df = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/_stage")
        part = [
            f
            for f in os.listdir(f"{src}/_stage")
            if f.endswith(".parquet") and not f.startswith("_")
        ][0]
        shutil.copy(f"{src}/_stage/{part}", f"{src}/{name}")

    T = lambda h, m: dt.datetime(2024, 1, 1, h, m)
    # batch 1: two events in the 09:00 window, one in 10:00, one at 11:00
    # -> watermark after commit = 11:00 - 30min = 10:30 -> 09:00 window
    # (end 10:00 <= 10:30) finalized and emitted.
    write_file("b1.parquet", [
        (1, T(9, 5), 1.0), (2, T(9, 10), 1.0), (3, T(10, 5), 1.0), (4, T(11, 0), 1.0),
    ])

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, value double")
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .load(src)
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .start()
    )
    try:
        q.processAllAvailable()
        emitted_1 = {r["ws"]: r["n"] for r in spark.table("wm_test").collect()}
        assert emitted_1 == {T(9, 0): 2}, emitted_1

        # batch 2: a LATE event in the already-finalized 09:00 window
        # (must be dropped) + an event at 12:30 that advances the
        # watermark to 12:00, finalizing the 10:00 and 11:00 windows.
        write_file("b2.parquet", [
            (5, T(9, 20), 1.0), (6, T(12, 30), 1.0),
        ])
        q.processAllAvailable()
        emitted_2 = {r["ws"]: r["n"] for r in spark.table("wm_test").collect()}
    finally:
        q.stop()

    # 09:00 still 2 (late row dropped, no re-emission); 10:00 and 11:00
    # finalized with their on-time counts; 12:00 still open -> absent.
    assert emitted_2 == {T(9, 0): 2, T(10, 0): 1, T(11, 0): 1}, emitted_2


def test_stateful_checkpoint_restart_preserves_state(spark, tmp_path):
    """THE contract of applyInPandasWithState at scale: state survives a
    query restart from the checkpoint. Run 1 processes file A and is
    stopped; file B arrives; run 2 starts from the SAME checkpoint dir and
    must emit totals that include run 1's state (batch equivalence over
    A ∪ B), having read only B."""
    from k_means_in_mapreduce_spark.streaming.stateful import (
        running_totals_agg,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src, exist_ok=True)

    def write_file(name: str, rows):
        df = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/_stage")
        part = [
            f
            for f in os.listdir(f"{src}/_stage")
            if f.endswith(".parquet") and not f.startswith("_")
        ][0]
        shutil.copy(f"{src}/_stage/{part}", f"{src}/{name}")

    T = lambda m: dt.datetime(2024, 1, 1, 9, m)
    file_a = [(u, T(u), 1.0) for u in range(5) for _ in range(2)]  # 2 ev/user
    file_b = [(u, T(30 + u), 10.0) for u in range(3)]  # users 0-2 again
    write_file("a.parquet", file_a)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, value double")
        .format("parquet")
        .load(src)
    )
    emitted: list[dict] = []

    def sink(batch_df, epoch_id):
        emitted.extend(r.asDict() for r in batch_df.collect())

    def run_once():
        q = (
            running_totals_agg(stream)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()  # run 1: file A only
    after_a = {r["user_id"]: r for r in emitted}
    assert after_a[0]["n_events"] == 2 and after_a[0]["total_value"] == 2.0

    write_file("b.parquet", file_b)
    emitted.clear()
    run_once()  # run 2: restart from checkpoint, reads only file B

    after_b = {r["user_id"]: r for r in emitted}
    # only users in file B are re-emitted (update mode)...
    assert set(after_b) == {0, 1, 2}, after_b
    # ...and their totals PROVE run 1's state was restored, not recomputed
    for u in range(3):
        assert after_b[u]["n_events"] == 3, after_b[u]
        assert after_b[u]["total_value"] == 12.0, after_b[u]
        assert after_b[u]["last_event_ts"] == T(30 + u)


def test_stream_left_outer_join_emits_expired_unmatched(spark):
    """Left-outer stream-stream join contract on a bounded replay:
    matched rows equal the batch inner join exactly; an unmatched error
    emits (with null click columns) iff the final global watermark
    strictly passes its join window e_ts + 600s; unmatched errors in the
    trailing horizon are withheld (still in state)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from k_means_in_mapreduce_spark.sources.tables import load_table
    from k_means_in_mapreduce_spark.streaming.windows import (
        stream_stream_error_click_left_join,
    )

    sf = "/root/testdata/sf0.001"
    out = stream_stream_error_click_left_join(spark, sf).toPandas()

    ev = load_table(spark, sf, "events")
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_event_id"),
        F.col("user_id").alias("e_user_id"),
        F.col("ts").alias("e_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )
    cond = (
        (F.col("e_user_id") == F.col("c_user_id"))
        & (F.col("c_ts") > F.col("e_ts"))
        & (F.col("c_ts") <= F.col("e_ts") + F.expr("INTERVAL 600 SECOND"))
    )
    batch = e.join(c, cond, "left_outer").toPandas()

    # matched part == batch inner join
    sm = set(
        (int(r.error_event_id), int(r.click_event_id))
        for r in out[out.click_event_id.notna()].itertuples()
    )
    bm = set(
        (int(r.error_event_id), int(r.click_event_id))
        for r in batch[batch.click_event_id.notna()].itertuples()
    )
    assert sm == bm and len(sm) > 0

    # unmatched part == batch unmatched, cut at the watermark horizon
    import datetime

    max_e = e.agg(F.max("e_ts")).collect()[0][0]
    max_c = c.agg(F.max("c_ts")).collect()[0][0]
    wm = min(max_e, max_c) - datetime.timedelta(hours=1)
    bu = batch[batch.click_event_id.isna()]
    expected = set(
        int(r.error_event_id)
        for r in bu.itertuples()
        if r.e_ts + datetime.timedelta(seconds=600) < wm
    )
    got = set(int(r.error_event_id) for r in out[out.click_event_id.isna()].itertuples())
    assert got == expected and len(bu) > len(expected)  # some were withheld
    assert out[out.click_event_id.isna()].gap_sec.isna().all()


def test_ns_timestamp_truncation_matches_duckdb(spark, tmp_path):
    """Pin the oracle-boundary semantics sources/tables.py relies on: for
    parquet TIMESTAMP(NANOS) with sub-microsecond components, Spark's
    nanosAsLong + integer ``div 1000`` truncation must yield exactly the
    values DuckDB's parquet scan produces. A Spark upgrade that starts
    reading ns natively (rounding instead of truncating) must fail here,
    not silently skew every events oracle."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from k_means_in_mapreduce_spark.sources import load_table

    base = 1_704_103_200_000_000_000  # 2024-01-01 10:00:00 UTC in ns
    nanos = [
        base,  # exact second
        base + 1,  # 1 ns past -> truncates down
        base + 999,  # just below 1 µs
        base + 1_000,  # exactly 1 µs
        base + 999_999,  # just below 1 ms
        base + 123_456_789,  # arbitrary sub-second
        base + 999_999_999,  # just below the next second
    ]
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(nanos)), pa.int64()),
            "ts": pa.array(nanos, pa.timestamp("ns")),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))

    got = {
        r["event_id"]: r["ts"]
        for r in load_table(spark, str(tmp_path), "events").collect()
    }
    con = duckdb.connect()
    oracle = {
        eid: ts
        for eid, ts in con.sql(
            f"SELECT event_id, ts FROM '{tmp_path}/events.parquet'"
        ).fetchall()
    }
    con.close()
    assert len(got) == len(nanos)
    for eid, ns in enumerate(nanos):
        assert got[eid] == oracle[eid], (eid, ns, got[eid], oracle[eid])
        # and both equal floor(ns / 1000) µs
        micros = got[eid].replace(tzinfo=dt.timezone.utc).timestamp()
        assert round(micros * 1e6) == ns // 1000, (eid, ns, got[eid])


def test_rocksdb_state_store_same_results(spark):
    """The at-scale state store (RocksDB: spillable, incremental
    checkpoints — the production choice once state outgrows the
    HDFS-backed in-memory map) produces byte-identical session windows.
    The provider is a per-query conf read at stream start."""
    from k_means_in_mapreduce_spark.streaming import windows as W

    from .conftest import SF0001

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    baseline = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
        for r in W.stream_session_windows(spark, SF0001).collect()
    }
    prev = spark.conf.get(key, None)
    spark.conf.set(key, rocks)
    try:
        got = {
            (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
            for r in W.stream_session_windows(spark, SF0001).collect()
        }
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert got == baseline


def test_stream_stream_join_checkpoint_restart(spark, tmp_path):
    """Stream-stream join state survives restart: the watermark-bounded
    error<->click join keeps 4 state stores per partition (left/right
    keyed rows + key-to-num-values indexes). Run 1 ingests ERRORS only and
    stops; the matching CLICKS arrive while the query is down; run 2
    restarts from the SAME checkpoint and must emit the joined rows —
    possible only if the error-side join state was restored, since run 2
    never re-reads file A. Mirrors stream_range_error_click's join layout
    (k_means_in_mapreduce_spark/streaming/windows.py
    stream_stream_error_click_join)."""
    src = str(tmp_path / "join_src")
    ckpt = str(tmp_path / "join_ckpt")
    os.makedirs(src, exist_ok=True)

    def write_file(name: str, rows):
        df = spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, ts timestamp"
        )
        df.coalesce(1).write.mode("overwrite").parquet(f"{src}/_stage")
        part = [
            f
            for f in os.listdir(f"{src}/_stage")
            if f.endswith(".parquet") and not f.startswith("_")
        ][0]
        shutil.copy(f"{src}/_stage/{part}", f"{src}/{name}")

    T = lambda m, s=0: dt.datetime(2024, 1, 1, 9, m, s)
    # run 1: errors for users 0-2, plus one click for user 0 (emits 1 row)
    file_a = [
        (100, 0, "error", T(0)),
        (101, 1, "error", T(1)),
        (102, 2, "error", T(2)),
        (200, 0, "click", T(5)),
    ]
    # run 2: clicks for users 1 and 2, both within 10min of their error,
    # plus one too-late click for user 0 (outside the 10-minute range)
    file_b = [
        (201, 1, "click", T(9)),
        (202, 2, "click", T(11)),
        (203, 0, "click", T(20)),  # 20min after error 100 -> no match
    ]
    write_file("a.parquet", file_a)

    stream = (
        spark.readStream.schema(
            "event_id long, user_id long, event_type string, ts timestamp"
        )
        .format("parquet")
        .load(src)
    )
    errors = (
        stream.filter(F.col("event_type") == "error")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("error_event_id"),
            F.col("user_id").alias("e_user_id"),
            F.col("ts").alias("e_ts"),
        )
    )
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("click_event_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    joined = errors.join(
        clicks,
        (F.col("e_user_id") == F.col("c_user_id"))
        & (F.col("c_ts") > F.col("e_ts"))
        & (F.col("c_ts") <= F.col("e_ts") + F.expr("INTERVAL 600 SECOND")),
        "inner",
    ).select("error_event_id", "click_event_id", F.col("e_user_id").alias("user_id"))

    emitted: list[dict] = []

    def sink(batch_df, epoch_id):
        emitted.extend(r.asDict() for r in batch_df.collect())

    def run_once():
        q = (
            joined.writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(sink)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()  # run 1: file A only — the user-0 self-contained pair
    pairs_a = {(r["error_event_id"], r["click_event_id"]) for r in emitted}
    assert pairs_a == {(100, 200)}, pairs_a

    write_file("b.parquet", file_b)
    emitted.clear()
    run_once()  # run 2: restart; file B clicks join run 1's error state

    pairs_b = {(r["error_event_id"], r["click_event_id"]) for r in emitted}
    assert pairs_b == {(101, 201), (102, 202)}, pairs_b


def test_stream_kmeans_scoring_runs_no_empty_batch(spark):
    """``stream_kmeans_scoring`` runs to completion under an availableNow
    trigger: every progress event a listener sees carries input rows (no
    trailing no-data batch), and the merged totals match the oracle.
    Its shape is pinned too: the one micro-batch is one job of one stage
    (the Arrow combiner, no exchange), and the returned table is a plan
    literal, not a scan of a Python RDD."""
    from pyspark.sql.streaming import StreamingQueryListener

    from k_means_in_mapreduce_spark import registry
    from .conftest import SF0001, assert_oracle_match, make_duck_con

    class Rows(StreamingQueryListener):
        def __init__(self):
            self.rows = []
            self.run_ids = []

        def onQueryStarted(self, event):
            self.run_ids.append(str(event.runId))

        def onQueryProgress(self, event):
            self.rows.append(event.progress.numInputRows)

        def onQueryTerminated(self, event):
            pass

    listener = Rows()
    spark.streams.addListener(listener)
    try:
        out = registry.QUERIES["stream_kmeans_scoring"](spark, SF0001)
        # progress events reach the listener asynchronously
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    finally:
        spark.streams.removeListener(listener)
    assert listener.rows and 0 not in listener.rows, listener.rows
    # streaming runs each micro-batch's jobs under the run id's job group
    (run_id,) = listener.run_ids
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(run_id)
    assert len(jobs) == 1, jobs
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan, plan
    con = make_duck_con(SF0001)
    assert_oracle_match(out, registry.ORACLES["stream_kmeans_scoring"], con)
    con.close()
