"""Tests for the extension operators: as-of/range joins, IVF ANN,
stateful streaming (oracle-checked queries are additionally covered by
the driver's DuckDB gate; these tests pin the semantic corner cases)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from k_means_in_mapreduce_spark.operators.asof import asof_join
from k_means_in_mapreduce_spark.sources import load_table

from .conftest import SF0001


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute)


def test_asof_join_at_or_before(spark):
    """Equal timestamps match (at-or-before), later right rows don't, and
    the LATEST prior right row wins."""
    left = spark.createDataFrame(
        [(1, 10, _ts(10)), (2, 10, _ts(5)), (3, 20, _ts(30))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (10, _ts(5), 1.0),   # equal to left #2's ts -> matches it
            (10, _ts(9), 2.0),   # latest prior for left #1
            (10, _ts(11), 9.0),  # after left #1 -> never matched
            (20, _ts(40), 9.0),  # after left #3 -> no match for user 20
        ],
        "user_id long, ts timestamp, value double",
    )
    out = asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        payload={"ts": "m_ts", "value": "m_value"},
    )
    got = {r["event_id"]: (r["m_ts"], r["m_value"]) for r in out.collect()}
    assert got[1] == (_ts(9), 2.0)
    assert got[2] == (_ts(5), 1.0)
    assert got[3] == (None, None)


def test_asof_join_null_payload_and_null_ts(spark):
    """NULL handling (review r6): the carried payload is the LATEST right
    row's payload ATOMICALLY — a NULL field must not back-fill from an
    older row (chimera) — and right rows with NULL right_ts are no match
    for anyone (native ASOF semantics)."""
    left = spark.createDataFrame(
        [(100, 1, _ts(30)), (101, 2, _ts(5))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [
            (1, _ts(10), 5.0),   # older row with a value
            (1, _ts(20), None),  # LATEST row: NULL payload must carry
            (2, None, 9.0),      # NULL ts: matches nothing
        ],
        "user_id long, ts timestamp, value double",
    )
    out = asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        payload={"ts": "m_ts", "value": "m_value"},
    )
    got = {r["event_id"]: (r["m_ts"], r["m_value"]) for r in out.collect()}
    assert got[100] == (_ts(20), None), got[100]  # not (ts(20), 5.0)
    assert got[101] == (None, None), got[101]


def test_asof_join_property_random_instances(spark):
    """Hypothesis: random small (left, right) instances — every case keyed
    into one batched asof_join call, each left row verified against a
    transparent Python point-in-time oracle (latest right row with
    right_ts <= left_ts; NULL payload fields carried as-is)."""
    from hypothesis import given, settings, strategies as st

    cases = []
    rrow = st.tuples(
        st.integers(0, 3),
        st.integers(0, 50),
        st.one_of(st.none(), st.floats(-100, 100, allow_nan=False)),
    )

    @settings(max_examples=25, deadline=None)
    @given(
        l=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 50)),
                   max_size=12),
        r=st.lists(rrow, max_size=12),
    )
    def collect(l, r):
        cases.append((l, r))

    collect()

    lrows, rrows, expected = [], [], {}
    eid = 0
    for c, (l, r) in enumerate(cases):
        rmap = {}
        for u, t, v in r:
            rmap[(u, t)] = v  # unique (key, ts): tie-break is covered above
        for (u, t), v in rmap.items():
            rrows.append((c * 10 + u, _ts(t), v))
        for u, t in l:
            prior = [t2 for (u2, t2) in rmap if u2 == u and t2 <= t]
            expected[eid] = (
                (_ts(max(prior)), rmap[(u, max(prior))]) if prior
                else (None, None)
            )
            lrows.append((eid, c * 10 + u, _ts(t)))
            eid += 1

    left = spark.createDataFrame(
        lrows, "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        rrows, "user_id long, ts timestamp, value double"
    )
    out = asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        payload={"ts": "m_ts", "value": "m_value"},
    )
    rows = out.collect()
    # exactly one output row per left row — a dict alone would mask fan-out
    assert len(rows) == len(expected)
    got = {r["event_id"]: (r["m_ts"], r["m_value"]) for r in rows}
    for eid, want in expected.items():
        assert got[eid] == want, (
            f"case eid={eid}: got {got[eid]}, want {want}; "
            f"left={lrows[eid]}, right={[r for r in rrows if r[0] == lrows[eid][1]]}"
        )


def test_asof_join_duplicate_ts_tiebreak(spark):
    """Documented tie-break: among right rows sharing (key, ts), the
    GREATEST payload tuple is carried, deterministically — dropping '_p'
    from the window ordering must fail this test, not just be silently
    nondeterministic."""
    left = spark.createDataFrame(
        [(1, 1, _ts(30))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(1, _ts(10), 2.0), (1, _ts(10), 7.0), (1, _ts(10), 5.0)],
        "user_id long, ts timestamp, value double",
    ).repartition(4)  # ties must resolve the same under any partitioning
    out = asof_join(
        left, right, key="user_id", left_ts="ts", right_ts="ts",
        payload={"ts": "m_ts", "value": "m_value"},
    ).collect()
    assert len(out) == 1
    assert (out[0]["m_ts"], out[0]["m_value"]) == (_ts(10), 7.0)


def test_range_join_binned_boundaries(spark, monkeypatch):
    """Bin-covering correctness: gaps of exactly the window width match
    (inclusive upper), zero/negative gaps don't, cross-bucket pairs are
    found, no duplicates emitted."""
    from k_means_in_mapreduce_spark.operators import asof as A

    rows = [
        # error at t=0s; clicks at +1s (match), +600s (match, boundary),
        # +601s (no), 0s (no: strict lower), -5s (no)
        (1, dt.datetime(2024, 1, 1, 0, 0, 0), 1, "error", 0.0, ""),
        (2, dt.datetime(2024, 1, 1, 0, 0, 1), 1, "click", 0.0, ""),
        (3, dt.datetime(2024, 1, 1, 0, 10, 0), 1, "click", 0.0, ""),
        (4, dt.datetime(2024, 1, 1, 0, 10, 1), 1, "click", 0.0, ""),
        (5, dt.datetime(2024, 1, 1, 0, 0, 0), 1, "click", 0.0, ""),
        (6, dt.datetime(2023, 12, 31, 23, 59, 55), 1, "click", 0.0, ""),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    monkeypatch.setattr(
        A, "load_table", lambda _spark, _sf, _name: df
    )
    out = A.events_range_error_click(spark, "unused").collect()
    matched = sorted(r["click_event_id"] for r in out)
    assert matched == [2, 3]
    assert len(out) == len(set((r["error_event_id"], r["click_event_id"]) for r in out))


def test_ivf_recall_vs_bruteforce(spark):
    """IVF with 6/16 probes must recover most of the exact top-10."""
    from k_means_in_mapreduce_spark.operators.similarity import (
        ann_bruteforce_topk,
        ann_ivf_topk,
    )

    exact = {r["vec_id"] for r in ann_bruteforce_topk(spark, SF0001).collect()}
    approx = {r["vec_id"] for r in ann_ivf_topk(spark, SF0001).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_stateful_running_totals_match_batch(spark):
    """applyInPandasWithState final state == batch groupBy aggregate."""
    from k_means_in_mapreduce_spark.streaming.stateful import (
        running_totals_stateful,
    )

    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in running_totals_stateful(spark, SF0001).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in load_table(spark, SF0001, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("tv"))
        .collect()
    }
    assert set(got) == set(want)
    for uid, (n, tv) in want.items():
        assert got[uid][0] == n
        assert got[uid][1] == pytest.approx(tv, rel=1e-9)


def test_hll_error_bound(spark):
    """approx_count_distinct (rsd=0.02) within 5% of exact per group."""
    from k_means_in_mapreduce_spark.operators.statistics import (
        events_distinct_users,
        events_distinct_users_hll,
    )

    exact = {
        r["event_type"]: r["n_users"]
        for r in events_distinct_users(spark, SF0001).collect()
    }
    approx = {
        r["event_type"]: r["n_users_approx"]
        for r in events_distinct_users_hll(spark, SF0001).collect()
    }
    for et, n in exact.items():
        assert abs(approx[et] - n) / n <= 0.05, (et, n, approx[et])


@pytest.mark.parametrize(
    "values",
    [
        [1.0],                      # single row: every quantile == the value
        [1.0, 2.0],                 # n=2: pure interpolation
        [5.0] * 20,                 # all-equal: duplicates collapse in the CDF
        [1.0, 1.0, 2.0, 2.0, 3.0],  # heavy duplicates across rank boundaries
        list(range(100)),           # uniform ramp
        [2.0 ** i for i in range(20)],  # exponential spread
    ],
)
def test_exact_quantiles_matches_numpy(spark, values):
    """The distributed CDF quantile operator implements numpy's 'linear'
    method exactly — including single-row groups, all-duplicate groups,
    and rank boundaries landing inside duplicate runs."""
    import numpy as np

    from k_means_in_mapreduce_spark.operators.statistics import exact_quantiles

    rows = [("g", float(v)) for v in values] + [("h", 42.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    out = {
        r["k"]: (r["q10"], r["q50"], r["q90"], r["n_rows"])
        for r in exact_quantiles(
            df, "k", "v", {"q10": 0.10, "q50": 0.50, "q90": 0.90}
        ).collect()
    }
    want = np.percentile(np.array(values, dtype=float), [10, 50, 90],
                         method="linear")
    got = out["g"]
    assert got[3] == len(values)
    for g, w in zip(got[:3], want):
        assert g == pytest.approx(w, rel=1e-12, abs=1e-12), (values, got, want)
    assert out["h"] == (42.0, 42.0, 42.0, 1)


def test_exact_quantiles_property(spark):
    """Hypothesis: arbitrary finite float multisets (duplicates, negatives,
    tiny and huge magnitudes) — one batched Spark check over all generated
    groups, each verified against numpy."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from k_means_in_mapreduce_spark.operators.statistics import exact_quantiles

    cases: list[list[float]] = []

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(
            st.floats(
                min_value=-1e12, max_value=1e12,
                allow_nan=False, allow_infinity=False,
            ),
            min_size=1,
            max_size=40,
        )
    )
    def collect(vs):
        cases.append(vs)

    collect()
    rows = [(f"g{i}", float(v)) for i, vs in enumerate(cases) for v in vs]
    df = spark.createDataFrame(rows, "k string, v double").repartition(8)
    out = {
        r["k"]: (r["q25"], r["q50"], r["q75"])
        for r in exact_quantiles(
            df, "k", "v", {"q25": 0.25, "q50": 0.50, "q75": 0.75}
        ).collect()
    }
    assert len(out) == len(cases)
    for i, vs in enumerate(cases):
        want = np.percentile(np.array(vs, dtype=float), [25, 50, 75],
                             method="linear")
        # fp-scale-aware abs tolerance: numpy's _lerp is the two-sided
        # stable form (b - (b-a)*(1-t) when t >= 0.5) while the engine —
        # and DuckDB's quantile_cont, the binding oracle — use the
        # single-sided a + (b-a)*t. On catastrophic-cancellation inputs
        # (hypothesis found [-1e12, ~1e12, ~1e12]) the two differ by a
        # few ulps OF THE INPUT magnitude even when the result is ~0, so
        # a fixed abs=1e-9 is unsatisfiable by ANY correct engine there.
        # Verified: DuckDB returns the engine's value on that input.
        ulp = np.spacing(max(1.0, max(abs(v) for v in vs)))
        for g, w in zip(out[f"g{i}"], want):
            assert g == pytest.approx(w, rel=1e-9, abs=1e-9 + 4 * ulp), (i, vs)


def test_decimal_moments_property(spark):
    """Hypothesis: the shared exact-decimal moments helper (now the single
    definition behind orders_price_moments and events_value_outliers)
    matches numpy's mean/sample-variance on arbitrary 2-dp values, and
    honors the n>1 NULL guard."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from k_means_in_mapreduce_spark.operators.statistics import decimal_moments

    cases: list[list[float]] = []

    @settings(max_examples=25, deadline=None)
    @given(
        st.lists(
            # 2-dp values in the decimal(18,2) domain, like prices
            st.integers(min_value=-10**7, max_value=10**7).map(
                lambda c: c / 100.0
            ),
            min_size=1,
            max_size=30,
        )
    )
    def collect(vs):
        cases.append(vs)

    collect()
    rows = [(f"g{i}", float(v)) for i, vs in enumerate(cases) for v in vs]
    df = spark.createDataFrame(rows, "k string, v double").repartition(8)
    out = {
        r["k"]: (r["n"], r["_mean"], r["_var"], r["_sd"])
        for r in decimal_moments(df, "k", "v", scale=2).collect()
    }
    assert len(out) == len(cases)
    for i, vs in enumerate(cases):
        n, mean, var, sd = out[f"g{i}"]
        a = np.array(vs)
        assert n == len(vs)
        assert mean == pytest.approx(a.mean(), rel=1e-12, abs=1e-9)
        if len(vs) > 1:
            # The contract is ENGINE-identity (same decimal sums + same
            # IEEE algebra in Spark and DuckDB), not ulp-perfection vs
            # numpy: converting the exact decimal Σx² to double rounds at
            # ~ulp(Σx²), which the (Σx²−(Σx)²/n) cancellation exposes for
            # near-constant groups of large magnitude. Bound: a few ulps
            # of the sum of squares.
            tol = 1e-9 + 1e-13 * float((a * a).sum())
            assert var == pytest.approx(a.var(ddof=1), abs=tol), (i, vs)
            assert sd == pytest.approx(a.std(ddof=1), abs=tol ** 0.5), (i, vs)
        else:
            assert var is None and sd is None  # stddev_samp semantics


def test_exact_quantiles_null_contract(spark):
    """NULL contract (review r6): NULL values are excluded from n_rows
    and the quantiles (quantile_cont semantics), and an all-NULL group
    produces no row — the oracles' count(col) + HAVING mirror this."""
    from k_means_in_mapreduce_spark.operators.statistics import exact_quantiles

    df = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", 3.0), ("b", None), ("b", None)],
        "k string, v double",
    )
    out = {
        r["k"]: (r["n_rows"], r["q50"])
        for r in exact_quantiles(df, "k", "v", {"q50": 0.5}).collect()
    }
    assert out == {"a": (2, 2.0)}  # n_rows=2 (non-null), median of [1,3]


def test_approx_quantiles_error_bound(spark):
    """approx_percentile(accuracy=10000) rank error <= n/accuracy: each
    sketched quantile must fall between the exact quantiles one rank-error
    step to either side."""
    import numpy as np

    from k_means_in_mapreduce_spark.operators.statistics import (
        lineitem_price_quantiles_approx,
    )

    vals_by_flag = {}
    for r in (
        load_table(spark, SF0001, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .collect()
    ):
        vals_by_flag.setdefault(r[0], []).append(r[1])
    approx = {
        r["l_returnflag"]: [r["p25_approx"], r["p50_approx"], r["p75_approx"]]
        for r in lineitem_price_quantiles_approx(spark, SF0001).collect()
    }
    for flag, vals in vals_by_flag.items():
        a = np.sort(np.array(vals))
        n = len(a)
        eps = max(1, n // 10000) / n  # rank-error fraction
        for q, got in zip((0.25, 0.5, 0.75), approx[flag]):
            lo = np.percentile(a, max(0.0, (q - eps)) * 100, method="linear")
            hi = np.percentile(a, min(1.0, (q + eps)) * 100, method="linear")
            assert lo <= got <= hi, (flag, q, got, lo, hi)
