"""tools/bench_diff.py: round-over-round snapshot comparison and its
counter-based regression call, plus the bench.py fields and per-query
loop it reads."""

import json
import os
import subprocess
import sys
import types

import pytest

TOOLS = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
sys.path.insert(0, TOOLS)

import bench_diff  # noqa: E402

import bench  # noqa: E402

from .conftest import SF0001  # noqa: E402


def _snap(queries, **extra):
    return {
        "metric": "kmeans_sec_per_iteration_n100k_arrow",
        "value": extra.pop("value", 0.3),
        "queries": queries,
        "total_query_sec": sum(v for v in queries.values() if v > 0),
        **extra,
    }


def test_diff_median_ratio_and_rankings():
    old = _snap({"a": 1.0, "b": 2.0, "c": 0.5, "tiny": 0.01}, value=0.25)
    new = _snap({"a": 2.0, "b": 2.0, "c": 0.25, "tiny": 0.04}, value=0.30)
    d = bench_diff.diff(old, new)
    # tiny (4.0x but sub-MIN_SEC in both runs) is timer noise: excluded
    # from the box-baseline median AND the rankings, so the median is
    # over [0.5, 1.0, 2.0] = 1.0, not dragged to 1.5 by noise
    assert d["median_warm_ratio"] == 1.0
    assert d["n_shared"] == 4
    ranked = [k for k, _ in d["slowest_growth"]]
    assert ranked[0] == "a" and "tiny" not in ranked
    assert d["best_improvement"][0][0] == "c"
    assert d["headline"] == {
        "old": 0.25, "new": 0.30,
        "new_box_adjusted": round(0.30 / 1.0, 4),
        "metric": "kmeans_sec_per_iteration_n100k_arrow",
    }


def test_diff_all_tiny_rows_fall_back_to_all_rows_median():
    # when EVERY shared row is sub-MIN_SEC (tiny-sf snapshot) the median
    # falls back to all rows rather than NaN — but is FLAGGED as noise so
    # the box-adjusted headline is not misread as a code signal (ADVICE r9)
    old = _snap({"a": 0.01, "b": 0.02})
    new = _snap({"a": 0.02, "b": 0.02})
    d = bench_diff.diff(old, new)
    assert d["median_warm_ratio"] == 1.5
    assert d["median_from_noise_fallback"] is True
    # a sizable shared row keeps the flag off
    sane = bench_diff.diff(_snap({"a": 1.0}), _snap({"a": 1.0}))
    assert sane["median_from_noise_fallback"] is False


def test_diff_keeps_kmeans_grid_rows_out_of_the_query_median():
    # bench.py injects synthetic "_kmeans_*" grid rows; they must not
    # shift the query-only median, appear in rankings, or count as shared
    old = _snap({"a": 1.0, "b": 1.0, "_kmeans_100k_per_iter_arrow": 0.1})
    new = _snap({"a": 2.0, "b": 2.0, "_kmeans_100k_per_iter_arrow": 1.0})
    d = bench_diff.diff(old, new)
    assert d["median_warm_ratio"] == 2.0  # NOT dragged to 10x by the grid row
    assert d["n_shared"] == 2
    assert d["grid_ratios"] == {"_kmeans_100k_per_iter_arrow": 10.0}
    assert all(not k.startswith("_") for k, _ in d["slowest_growth"])
    # grid rows present on one side only (e.g. truncated driver artifact)
    # must not surface as added/removed/errored QUERY rows — but DO
    # surface on the grid line as n/a (one-sided) / err (negative), so a
    # renamed or newly-errored grid bench is visible (ADVICE r9)
    old2 = _snap({"a": 1.0, "_kmeans_400k_per_iter_arrow": 0.5})
    new2 = _snap({"a": 1.0, "_kmeans_grid_new": 0.5, "_kmeans_broken": -1.0})
    d2 = bench_diff.diff(old2, new2)
    assert d2["added"] == [] and d2["removed"] == [] and d2["errored_new"] == []
    assert d2["grid_unratioed"] == {
        "_kmeans_400k_per_iter_arrow": "n/a",
        "_kmeans_broken": "err",
        "_kmeans_grid_new": "n/a",
    }
    # a grid row errored (-1) on one side but present in both is err too
    d3 = bench_diff.diff(
        _snap({"_kmeans_g": 0.5}), _snap({"_kmeans_g": -1.0})
    )
    assert d3["grid_unratioed"] == {"_kmeans_g": "err"}
    assert d["grid_unratioed"] == {}  # both-sides-positive: ratio only


def test_diff_excludes_errored_rows_and_reports_membership():
    old = _snap({"a": 1.0, "gone": 0.2, "was_broken": -1.0})
    new = _snap({"a": 1.0, "fresh": 0.2, "broken": -1.0, "was_broken": 2.0})
    d = bench_diff.diff(old, new)
    assert d["n_shared"] == 1  # only 'a'; -1 marks an errored row
    assert d["errored_new"] == ["broken"]
    # errored only in OLD: shared-excluded and in neither added/removed —
    # must still be NAMED so its ratio-less "recovery" is visible
    assert d["errored_old"] == ["was_broken"]
    assert d["added"] == ["broken", "fresh"]
    assert d["removed"] == ["gone"]


def test_load_snapshot_unwraps_driver_artifact(tmp_path):
    raw = _snap({"a": 1.0})
    plain = tmp_path / "plain.json"
    plain.write_text(json.dumps(raw))
    wrapped = tmp_path / "BENCH_rXX.json"
    wrapped.write_text(json.dumps({"n": 1, "tail": "...", "parsed": raw}))
    assert bench_diff.load_snapshot(str(plain))["queries"] == {"a": 1.0}
    assert bench_diff.load_snapshot(str(wrapped))["queries"] == {"a": 1.0}
    null_parsed = tmp_path / "null.json"
    null_parsed.write_text(json.dumps({"parsed": None}))
    with pytest.raises(SystemExit):
        bench_diff.load_snapshot(str(null_parsed))
    # a file holding ANY non-dict JSON (e.g. bare null) must hit the same
    # clean SystemExit, not a TypeError on the membership test
    for content in ("null", "[1, 2]", '"text"'):
        bad = tmp_path / "bad.json"
        bad.write_text(content)
        with pytest.raises(SystemExit):
            bench_diff.load_snapshot(str(bad))


def test_diff_surfaces_min_headline():
    """diff() carries the min-of-reps companion headline; pre-r16
    snapshots without ``value_min`` degrade to None."""
    old = _snap({"a": 1.0})  # pre-r16 shape: no value_min
    new = _snap({"a": 1.0}, value_min=0.25)
    d = bench_diff.diff(old, new)
    assert d["headline_min"] == {"old": None, "new": 0.25}


def _prof(cpu=(1.0, 1.1), **kw):
    """Synthetic warm-rep profile of one row, as bench.profile writes it."""
    return {"jobs": 3, "stages": 4, "tasks": 8, "shuffle_read_mb": 0.5,
            "shuffle_write_mb": 0.5, "spill_mb": 0.0,
            "executor_cpu_s": cpu[-1], "executor_cpu_s_reps": list(cpu),
            "tree_cpu_s_reps": [2.0, 2.2], "counts_stable": True, **kw}


def _profiled(profs):
    """Snapshot with profiles; the row ``arrow_100k`` is a k-means grid fit."""
    grid = {row: p for row, p in profs.items() if row == "arrow_100k"}
    queries = {row: p for row, p in profs.items() if row not in grid}
    return _snap({row: 1.0 for row in queries}, queries_profile=queries,
                 kmeans_profile=grid, kmeans_spreads={"arrow_100k": [1.5, 1.6]})


def _main_output(tmp_path, capsys, old, new) -> str:
    paths = []
    for name, doc in (("old", old), ("new", new)):
        paths.append(tmp_path / f"{name}.json")
        paths[-1].write_text(json.dumps(doc))
    assert bench_diff.main([str(p) for p in paths]) == 0
    return capsys.readouterr().out


def test_call_names_the_row_whose_stable_count_grew(tmp_path, capsys):
    rows = ("a", "b", "c", "arrow_100k")
    old = _profiled({row: _prof() for row in rows})
    new = _profiled({row: _prof(jobs=4 if row == "b" else 3) for row in rows})
    assert bench_diff.diff(old, new)["regressions"] == {"b": "jobs 3 -> 4"}
    # a k-means grid row is called the same way, and the CLI prints each
    # call with its reason and the wall / tree CPU corroboration
    new["kmeans_profile"]["arrow_100k"]["tasks"] = 9
    assert bench_diff.regressions(old, new) == {
        "arrow_100k": "tasks 8 -> 9", "b": "jobs 3 -> 4"}
    out = _main_output(tmp_path, capsys, old, new)
    assert "): 2" in out
    assert "  b: jobs 3 -> 4  [wall 1.00x, tree CPU 1.00x]" in out
    assert "  arrow_100k: tasks 8 -> 9  [wall 1.00x, tree CPU 1.00x]" in out


def test_wall_growth_with_the_same_counts_is_not_called():
    old = _profiled({"a": _prof(), "b": _prof()})
    new = _profiled({"a": _prof(), "b": _prof()})
    new["queries"]["a"] = 1.4
    d = bench_diff.diff(old, new)
    assert d["regressions"] == {}
    assert d["slowest_growth"][0] == ("a", 1.4)  # the wall ranking only


def test_cpu_call_needs_the_bound_disjoint_reps_and_min_cpu():
    with open(os.path.join(os.path.dirname(TOOLS), "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bound = next(m["bound"] for m in spec["end_to_end"]
                 if m["name"] == "warm_cpu_s")
    assert bench_diff.CPU_BOUND == bound
    old = _prof(cpu=(1.0, 1.5))
    # min 1.3 is above the bound, but the reps overlap the old ones
    assert bench_diff.call(old, _prof(cpu=(1.3, 1.6))) is None
    # disjoint but inside the bound
    assert bench_diff.call(_prof(cpu=(1.0, 1.05)), _prof(cpu=(1.2, 1.2))) is None
    # disjoint and above the bound, but under MIN_CPU_S in the old run
    assert bench_diff.call(_prof(cpu=(0.5, 0.5)), _prof(cpu=(0.9, 0.9))) is None
    assert "executor CPU 1.0 -> 1.6" in bench_diff.call(old, _prof(cpu=(1.6, 1.7)))
    # the old reps are scaled by the box's CPU factor, the median ratio
    # over the shared rows: +40% on a box whose rows all read +30% is not
    # called, and the same +40% on a steady box is
    rows = ("a", "b", "c")
    old_snap = _profiled({row: _prof(cpu=(1.0, 1.0)) for row in rows})
    slow_box = _profiled({"a": _prof(cpu=(1.4, 1.4)),
                          "b": _prof(cpu=(1.3, 1.3)),
                          "c": _prof(cpu=(1.3, 1.3))})
    assert bench_diff.regressions(old_snap, slow_box) == {}
    steady = _profiled({"a": _prof(cpu=(1.4, 1.4)),
                        "b": _prof(cpu=(1.0, 1.0)),
                        "c": _prof(cpu=(1.0, 1.0))})
    assert list(bench_diff.regressions(old_snap, steady)) == ["a"]


def test_row_with_unstable_counts_is_called_on_cpu_alone():
    old = _prof()
    grew = dict(jobs=5, counts_stable=False)
    assert bench_diff.call(old, _prof(**grew)) is None
    assert bench_diff.call(_prof(counts_stable=False), _prof(jobs=5)) is None
    why = bench_diff.call(old, _prof(cpu=(1.5, 1.6), **grew))
    assert why.startswith("min executor CPU 1.0 -> 1.5")


def test_snapshot_without_a_profile_gets_no_calls(tmp_path, capsys):
    old = _snap({"a": 1.0})
    new = _profiled({"a": _prof(jobs=9)})
    assert bench_diff.diff(old, new)["regressions"] is None
    assert bench_diff.diff(new, old)["regressions"] is None
    assert "regressions: n/a" in _main_output(tmp_path, capsys, old, new)


def test_bench_query_cold_warm_and_profile_live(spark, monkeypatch):
    """bench.bench_query on two registry queries at sf0.001: cold is the
    first rep and warm the min of the later ones (pinned with a scripted
    clock), and the warm reps' Spark counters agree."""
    import __spark_entry__ as E
    from perfbench.counters import SparkCounters

    counters = SparkCounters(spark)
    queries = E.queries()
    for name in ("lineitem_price_quantiles", "q1_pricing_summary"):
        ticks = iter([0.0, 5.0, 10.0, 12.0, 20.0, 23.0])  # reps of 5, 2, 3 s
        monkeypatch.setattr(bench, "time", types.SimpleNamespace(
            monotonic=lambda: next(ticks)))
        cold, warm, prof = bench.bench_query(
            spark, counters, name, queries[name], SF0001)
        assert (cold, warm) == (5.0, 2.0), name
        assert prof["jobs"] >= 1 and prof["counts_stable"], (name, prof)
        assert len(prof["executor_cpu_s_reps"]) == 2
        assert len(prof["tree_cpu_s_reps"]) == 2


def test_bench_value_min_and_host_load_fields():
    """VERDICT r15 item 3 + ADVICE r15: bench.py reports a
    contention-robust ``value_min`` (min-of-reps / iterations — the
    statistic a noisy-neighbor box cannot inflate) NEXT TO the median
    ``value`` (unchanged, for trend comparability), plus at-run-time
    host-load evidence so a contention call can rest on data recorded
    during the run, not only post-hoc sibling comparison."""

    # min-of-reps / iterations; an iterations=0 report never divides by 0
    assert bench.iter_min({"spread": [1.5, 2.0, 9.9], "iterations": 5}) == 0.3
    assert bench.iter_min({"spread": [0.4], "iterations": 0}) == 0.4

    # live sample: read_host_load() is documented best-effort for
    # foreign platforms (macOS / steal-less kernels, ADVICE r16) — but
    # on Linux /proc/stat and getloadavg are always present, so a
    # regression that silently returns {} must FAIL here, not pass
    # behind a fully-conditional guard (ADVICE r17)
    s1 = bench.read_host_load()
    if sys.platform == "linux":
        assert "loadavg" in s1 and "cpu_jiffies" in s1
    if "loadavg" in s1:
        assert len(s1["loadavg"]) == 3
    if "cpu_jiffies" in s1:
        assert s1["cpu_jiffies"]["idle"] >= 0
        if "steal" in s1["cpu_jiffies"]:
            assert s1["cpu_jiffies"]["steal"] >= 0

    # delta math on synthetic samples: fractions derived from the split
    before = {
        "loadavg": [1.0, 1.0, 1.0],
        "cpu_jiffies": {"user": 100, "idle": 100, "iowait": 0, "steal": 0},
    }
    after = {
        "loadavg": [2.0, 1.0, 1.0],
        "cpu_jiffies": {"user": 160, "idle": 120, "iowait": 10, "steal": 10},
    }
    d = bench.host_load_delta(before, after)
    assert d["jiffies"] == {"user": 60, "idle": 20, "iowait": 10, "steal": 10}
    assert d["busy_frac"] == 0.7
    assert d["iowait_frac"] == 0.1 and d["steal_frac"] == 0.1
    assert d["loadavg_start"] == [1.0, 1.0, 1.0]
    # foreign-platform samples degrade to an empty block, not a crash
    assert bench.host_load_delta({}, {}) == {}

    # guest/guest_nice are folded into user/nice by the kernel, so the
    # fraction denominator must exclude them (ADVICE r16: double-counting
    # inflated total and deflated busy/steal fractions on nested-VM hosts)
    g_before = {"cpu_jiffies": {"user": 100, "nice": 0, "idle": 100,
                                "steal": 0, "guest": 50, "guest_nice": 0}}
    g_after = {"cpu_jiffies": {"user": 180, "nice": 0, "idle": 100,
                               "steal": 20, "guest": 90, "guest_nice": 0}}
    g = bench.host_load_delta(g_before, g_after)
    # total = user 80 + steal 20 = 100 (guest's 40 NOT added on top)
    assert g["busy_frac"] == 1.0 and g["steal_frac"] == 0.2
    # ...and the raw emitted delta drops guest/guest_nice entirely, so a
    # downstream reader summing the dict cannot re-introduce the
    # double-count the fractions already exclude (ADVICE r17)
    assert "guest" not in g["jiffies"] and "guest_nice" not in g["jiffies"]
    assert sum(g["jiffies"].values()) == 100

    # the tracked full-result artifact carries the fields bench.py
    # writes today, so a reader of BENCH_RESULT.json alone has the
    # min-of-reps headline, the host load and Spark's counters per row
    with open(os.path.join(os.path.dirname(TOOLS), "BENCH_RESULT.json")) as fh:
        res = json.load(fh)
    for k in ("value_min", "value_min_mllib", "host_load",
              "queries_profile", "kmeans_profile"):
        assert k in res, k
    assert res["value_min"] <= res["value"]
    assert "run" in res["host_load"]
    assert set(res["kmeans_profile"]) == set(res["kmeans_spreads"])
    assert set(res["queries_profile"]) == {
        k for k, v in res["queries"].items() if not k.startswith("_") and v > 0
    }
    for prof in [*res["queries_profile"].values(),
                 *res["kmeans_profile"].values()]:
        assert {*bench.COUNTS, "executor_cpu_s", "task_skew",
                "executor_cpu_s_reps", "tree_cpu_s_reps",
                "counts_stable"} <= set(prof)
        assert "groups" not in prof
        assert len(prof["executor_cpu_s_reps"]) == len(prof["tree_cpu_s_reps"])


def test_cli_survives_closed_stdout_pipe():
    """`bench_diff | head -1` must exit 0, not BrokenPipeError-spam."""
    proc = subprocess.run(
        f"{sys.executable} {TOOLS}/bench_diff.py | head -1",
        shell=True, capture_output=True, text=True,
        cwd=os.path.dirname(TOOLS),
    )
    assert proc.returncode == 0
    assert "Traceback" not in proc.stderr
