import duckdb
import numpy as np
import pandas as pd
import pytest

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    from k_means_in_mapreduce_spark.session import get_session

    s = get_session(app_name="tests", shuffle_partitions=8, driver_memory="8g")
    yield s


def jobs_in_group(spark, group: str, action):
    """Run ``action()`` under the Spark job group ``group``; return its
    result and the sorted ids of the jobs it started. An exception from
    ``action`` propagates."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job start events reach the status store asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
    return out, sorted(sc.statusTracker().getJobIdsForGroup(group))


def degenerate_fixture(tmp_path, n_rows: int, src: str = SF0001) -> str:
    """Write every table of ``src`` into ``tmp_path`` with its schema kept
    and only its first ``n_rows`` rows (0 gives empty tables); return the
    new sf_dir. The source fixture is only read."""
    import pyarrow.parquet as pq

    for t in TABLES:
        table = pq.read_table(f"{src}/{t}.parquet")
        pq.write_table(table.slice(0, n_rows), str(tmp_path / f"{t}.parquet"))
    return str(tmp_path)


def make_duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Mirror the driver's oracle setup: each parquet table as a view."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


@pytest.fixture(scope="session")
def duck_sf001():
    con = make_duck_con(SF001)
    yield con
    con.close()


def assert_oracle_match(spark_df, sql: str, con, rel=1e-6, abs_=1e-9):
    """Driver-style compare: row count + column set + order-insensitive
    values (float columns with tolerance)."""
    s = spark_df.toPandas()
    o = con.sql(sql).df()
    assert sorted(s.columns) == sorted(o.columns), (
        f"column mismatch: spark={sorted(s.columns)} oracle={sorted(o.columns)}"
    )
    cols = sorted(s.columns)
    s, o = s[cols], o[cols]
    assert len(s) == len(o), f"row count: spark={len(s)} oracle={len(o)}"
    if len(s) == 0:
        return
    # sort by the non-float columns (stable keys); float cols compared after
    keys = [c for c in cols if not pd.api.types.is_float_dtype(s[c])]
    if keys:
        s = s.sort_values(keys, ignore_index=True)
        o = o.sort_values(keys, ignore_index=True)
    for c in cols:
        if pd.api.types.is_float_dtype(s[c]) or pd.api.types.is_float_dtype(o[c]):
            np.testing.assert_allclose(
                s[c].to_numpy(dtype=float),
                o[c].to_numpy(dtype=float),
                rtol=rel,
                atol=abs_,
                err_msg=f"column {c}",
            )
        elif pd.api.types.is_datetime64_any_dtype(s[c]) or pd.api.types.is_datetime64_any_dtype(o[c]):
            sv = pd.to_datetime(s[c]).dt.tz_localize(None)
            ov = pd.to_datetime(o[c]).dt.tz_localize(None)
            assert (sv == ov).all(), f"column {c}"
        else:
            sv, ov = s[c], o[c]
            if sv.dtype != ov.dtype:
                sv = sv.astype(object)
                ov = ov.astype(object)
            mismatch = ~(sv.eq(ov) | (sv.isna() & ov.isna()))
            assert not mismatch.any(), (
                f"column {c}: first mismatch at row {mismatch.idxmax()}: "
                f"spark={sv[mismatch].head(3).tolist()} oracle={ov[mismatch].head(3).tolist()}"
            )
