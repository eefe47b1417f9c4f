"""tools/driver_sim.py: the one-command grading-driver simulation.

Unit-tests the oracle-compare model and the subset selection (no Spark —
the full end-to-end path is exercised by running the tool itself, which
the verify recipe does every round)."""

import os
import sys

import pandas as pd
import pytest

TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)
sys.path.insert(0, TOOLS)

import driver_sim  # noqa: E402
import stale_report  # noqa: E402

from k_means_in_mapreduce_spark import registry  # noqa: E402


def test_compare_is_order_insensitive_and_float_tolerant():
    s = pd.DataFrame({"k": ["b", "a"], "v": [2.0, 1.0 + 1e-12]})
    o = pd.DataFrame({"v": [1.0, 2.0], "k": ["a", "b"]})  # cols + rows differ
    driver_sim.compare(s, o, "ok")  # no raise


def test_compare_matches_null_with_null():
    """NULL on both sides matches, in a string or a timestamp column, as
    in the driver's value hash."""
    s = pd.DataFrame({"k": ["a", None], "t": pd.to_datetime(["2020-01-01", None])})
    driver_sim.compare(s, s.iloc[::-1].copy(), "q")  # no raise


@pytest.mark.parametrize(
    "bad, msg",
    [
        (pd.DataFrame({"k": ["a", "b"], "v": [1.0, 9.0]}), "float col v"),
        (pd.DataFrame({"k": ["a", "c"], "v": [1.0, 2.0]}), "col k"),
        (pd.DataFrame({"k": ["a"], "v": [1.0]}), "rows"),
        (pd.DataFrame({"k": ["a", "b"], "x": [1.0, 2.0]}), "columns"),
        (pd.DataFrame({"k": ["a", None], "v": [1.0, 2.0]}), "col k"),
    ],
)
def test_compare_raises_on_each_mismatch_kind(bad, msg):
    good = pd.DataFrame({"k": ["a", "b"], "v": [1.0, 2.0]})
    with pytest.raises(AssertionError, match=msg):
        driver_sim.compare(good, bad, "q")


def test_window_subset_agrees_with_stale_report_on_synthetic_ledger(
    tmp_path, monkeypatch, capsys
):
    """VERDICT r13 item 6: pin WINDOW MEMBERSHIP (not just tier labels)
    between the pre-gate ritual's two tools on a ledger the repo has
    never been in — a mixed synthetic state with never-checked,
    changed-since-green, and rotation-staggered current-green queries.
    Both tools must project the identical window, name-for-name in
    order, because `driver_sim --subset window` is what gets run before
    each gate while `stale_report --json` is what the judge audits the
    CORRECTNESS window against."""
    import json

    from k_means_in_mapreduce_spark import gate_ledger as gl

    qs = registry.QUERIES
    names = list(qs)  # registration order, the rank tie-breaker
    entries = {}
    for i, n in enumerate(names):
        if i % 11 == 0:
            continue  # never-checked: no ledger row at all
        live_fp = gl._WORKING_TREE.module_fingerprint(qs[n].__module__)
        if i % 11 in (1, 2):
            # changed-since-green, with staggered last-green rounds so
            # the oldest-green-first rotation inside the tier matters
            entries[n] = {
                "fingerprint": "not-the-live-fingerprint",
                "last_checked_round": 3 + (i % 4),
            }
        else:
            entries[n] = {
                "fingerprint": live_fp,
                "last_checked_round": 5 + (i % 7),
            }
    ledger_file = tmp_path / "GATE_LEDGER.json"
    ledger_file.write_text(json.dumps({"queries": entries, "rounds_seen": []}))
    monkeypatch.setattr(gl, "LEDGER_PATH", str(ledger_file))
    # the hand escape hatch jumps the DERIVED order by design; this test
    # pins the derived-order mechanics, so neutralize it (the live
    # override's names are validated by tests/test_gate_ledger.py)
    monkeypatch.setattr(gl, "PRIORITY_OVERRIDE", [])

    window = driver_sim.select_names(qs, "window", [])
    monkeypatch.setattr(sys, "argv", ["stale_report.py", "--json"])
    stale_report.main()
    report = json.loads(capsys.readouterr().out)
    assert window == [w["name"] for w in report["window"]]
    assert len(window) == stale_report.GATE_WINDOW
    # the synthetic transient tiers actually exercised the ordering: every
    # never-checked query sorts into the window before any current-green one
    never = {n for i, n in enumerate(names) if i % 11 == 0}
    assert set(window[: len(never)]) == never


def test_select_names_subsets_follow_the_gate_ledger_projection():
    qs = registry.QUERIES
    assert driver_sim.select_names(qs, "all", []) == sorted(qs)
    # window = exactly the first GATE_WINDOW of the driver's override-aware
    # order, i.e. what stale_report projects as the next gate window — the
    # size is shared via stale_report.GATE_WINDOW so the two tools cannot
    # drift if the driver's window ever changes
    window = driver_sim.select_names(qs, "window", [])
    assert window == list(registry.ordered_queries())[: stale_report.GATE_WINDOW]
    # stale must agree with stale_report --json's tier labels: the two
    # tools project the same ledger, so a drift here means one of them
    # stopped reflecting what the driver will actually gate
    import json
    import subprocess

    stale = driver_sim.select_names(qs, "stale", [])
    assert set(stale) <= set(registry.QUERIES)
    report = json.loads(
        subprocess.run(
            [sys.executable, os.path.join(TOOLS, "stale_report.py"),
             "--json", "--window", str(len(qs))],
            capture_output=True, text=True, check=True,
        ).stdout
    )
    not_green = {
        w["name"] for w in report["window"] if w["tier"] != "current-green"
    }
    assert set(stale) == not_green
    # and the window subset must equal stale_report's default projected
    # window head-to-tail — same names, same order, same size
    default_report = json.loads(
        subprocess.run(
            [sys.executable, os.path.join(TOOLS, "stale_report.py"), "--json"],
            capture_output=True, text=True, check=True,
        ).stdout
    )
    assert window == [w["name"] for w in default_report["window"]]
    # explicit names win over subset, unknown names fail loudly
    some = sorted(qs)[:2]
    assert driver_sim.select_names(qs, "window", some) == some
    with pytest.raises(SystemExit):
        driver_sim.select_names(qs, "all", ["not_a_query"])
