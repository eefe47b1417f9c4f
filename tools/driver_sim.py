#!/usr/bin/env python3
"""One-command driver simulation: run registry queries the way the grading
driver does and compare against the DuckDB oracles.

Mirrors the grading harness's check exactly: import ``__spark_entry__``,
smoke-run ``entry(spark)``, then for each query run
``queries()[name](spark, sf_dir)`` and compare with ``oracle_sql()[name]``
in DuckDB — row count, column set, and order-insensitive values (floats
via allclose, everything else exact). Queries without an oracle entry get
the driver's weaker rows-only check.

Usage:
    python tools/driver_sim.py                  # all queries, sf0.01
    python tools/driver_sim.py --subset window  # only the projected next
                                                # gate window (stale_report
                                                # order) — the pre-gate check
    python tools/driver_sim.py --subset stale   # only changed-since-green
    python tools/driver_sim.py q1_pricing_summary kmeans_assign  # named
    python tools/driver_sim.py --sf-dir /root/testdata/sf0.001

Exit code 0 iff every selected query passes. One line per query; a final
summary line ``DRIVER-SIM n=.. match=.. rows_only=.. fail=[..]``.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path.insert(0, REPO)
sys.path.insert(0, TOOLS)

TABLES = [
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
]


def select_names(qs: dict, subset: str, named: list[str]) -> list[str]:
    if named:
        unknown = [n for n in named if n not in qs]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        return named
    if subset == "all":
        return sorted(qs)
    # window/stale come from the gate ledger's projection so the sim
    # checks exactly what the next driver gate will check, in its order
    import stale_report

    from k_means_in_mapreduce_spark import gate_ledger as gl
    from k_means_in_mapreduce_spark import registry

    entries = gl.load_ledger().get("queries", {})
    order = list(registry.ordered_queries())
    if subset == "window":
        return order[: stale_report.GATE_WINDOW]
    if subset == "stale":
        return [
            n
            for n in order
            if gl.query_tier(n, registry.QUERIES, entries)[0] != 2
        ]
    raise SystemExit(f"unknown --subset {subset}")


def make_duck_con(sf_dir: str):
    """The driver's oracle setup: a DuckDB connection with each table of
    ``sf_dir`` as a view."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(s_df, o_df, name: str) -> None:
    """Raise AssertionError on any mismatch (same model as the driver):
    the same column set and row count, then the values in any row order.
    A column that is float on the Spark side matches within rtol 1e-6 and
    atol 1e-9; every other column matches exactly. NULL matches NULL, as
    in the driver's value hash."""
    import numpy as np
    import pandas as pd

    assert sorted(s_df.columns) == sorted(o_df.columns), (
        f"columns {sorted(s_df.columns)} vs {sorted(o_df.columns)}"
    )
    assert len(s_df) == len(o_df), f"rows {len(s_df)} vs {len(o_df)}"
    cols = sorted(s_df.columns)
    s_df, o_df = s_df[cols], o_df[cols]
    keys = [c for c in cols if not pd.api.types.is_float_dtype(s_df[c])]
    s_df = s_df.sort_values(keys, ignore_index=True)
    o_df = o_df.sort_values(keys, ignore_index=True)
    for c in cols:
        s, o = s_df[c], o_df[c]
        if pd.api.types.is_float_dtype(s):
            assert np.allclose(
                s.to_numpy(dtype=float),
                o.to_numpy(dtype=float),
                rtol=1e-6,
                atol=1e-9,
                equal_nan=True,
            ), f"float col {c}"
        else:
            s, o = s.astype(object), o.astype(object)
            bad = ~(s.eq(o) | (s.isna() & o.isna()))
            assert not bad.any(), (
                f"col {c}: spark={s[bad].head(3).tolist()} "
                f"oracle={o[bad].head(3).tolist()}"
            )


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="specific query names")
    ap.add_argument(
        "--subset", choices=["all", "window", "stale"], default="all"
    )
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument("--threads", type=int, default=8)
    args = ap.parse_args(argv)

    import __spark_entry__ as E
    from pyspark.sql import SparkSession

    # SparkSession.builder, not session.get_session: this mirrors the harness's
    # session, so parity is proven on the stock Python worker daemon
    spark = (
        SparkSession.builder.master(f"local[{args.threads}]")
        .config("spark.sql.shuffle.partitions", str(args.threads))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.time()
    entry_rows = len(E.entry(spark).collect())
    print(f"entry: {entry_rows} rows")

    con = make_duck_con(args.sf_dir)
    qs, oracles = E.queries(), E.oracle_sql()
    names = select_names(qs, args.subset, args.names)
    n_match = n_rows_only = 0
    fails: list[str] = []
    for name in names:
        try:
            s_df = qs[name](spark, args.sf_dir).toPandas()
            if name not in oracles:
                n_rows_only += 1
                print(f"  {name}: {len(s_df)} rows-only")
                continue
            compare(s_df, con.sql(oracles[name]).df(), name)
            n_match += 1
            print(f"  {name}: {len(s_df)} rows MATCH")
        except Exception as ex:  # noqa: BLE001 — every failure is reportable
            fails.append(name)
            print(f"  {name}: FAIL {type(ex).__name__}: {ex}")
    print(
        f"DRIVER-SIM n={len(names)} match={n_match} "
        f"rows_only={n_rows_only} fail={fails} "
        f"({time.time() - t0:.0f}s, sf_dir={args.sf_dir})"
    )
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
