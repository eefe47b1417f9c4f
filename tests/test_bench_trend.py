"""tools/bench_trend.py: cross-round snapshot manifest + chained-median trend
(no Spark). Unit-tests the round attribution and median chaining on
synthetic snapshots, plus a live smoke over the real repo history."""

import json
import os
import re
import subprocess
import sys

TOOLS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"
)
sys.path.insert(0, TOOLS)

import bench_diff  # noqa: E402
import bench_trend  # noqa: E402

REPO = os.path.dirname(TOOLS)


def test_round_after_tracks_driver_commits_from_full_history():
    # driver "round N:" commits advance the closed-round counter even when
    # they touch no .benchmarks file; local commits inherit the last one
    seq = [
        ("c1", "initial scaffold"),
        ("c2", "round 1: verdict/advice"),
        ("c3", "add an operator"),
        ("c4", "round 2: verdict/advice"),
        ("c5", "round 3: end-of-round snapshot (282 turns)"),
        ("c6", "record a local bench"),
    ]
    closed = bench_trend.round_after(seq)
    assert closed["c1"] == 0  # before any driver round closed
    assert closed["c2"] == 1  # the round-1 commit itself
    assert closed["c3"] == 1  # local work during round 2
    assert closed["c5"] == 3  # any "round N:" subject counts
    assert closed["c6"] == 3  # local work during round 4


def _snap_file(tmp_path, name, queries, value):
    doc = {
        "metric": "m",
        "value": value,
        "queries": queries,
        "total_query_sec": sum(queries.values()),
    }
    bdir = tmp_path / ".benchmarks"
    bdir.mkdir(exist_ok=True)
    (bdir / name).write_text(json.dumps(doc))
    return {"file": f".benchmarks/{name}", "sf": 0.1, "round": 1,
            "kind": "local", "metric": "m", "headline": value}


def test_trend_chains_pairwise_medians_into_cumulative_box_factor(
    tmp_path, monkeypatch
):
    # three snapshots: box slows 2x between #1 and #2 (all rows double),
    # then holds; the chained cum factor must reach 2.0 and stay, and the
    # box-adjusted headline must cancel the slowdown (1.0 -> ~1.05 -> ...)
    e1 = _snap_file(tmp_path, "bench_1_sf0.1.json", {"a": 1.0, "b": 2.0}, 1.0)
    e2 = _snap_file(tmp_path, "bench_2_sf0.1.json", {"a": 2.0, "b": 4.0}, 2.1)
    e3 = _snap_file(tmp_path, "bench_3_sf0.1.json", {"a": 2.0, "b": 4.0}, 2.0)
    monkeypatch.setattr(bench_trend, "REPO", str(tmp_path))
    # trend consumes the parsed doc enrich() caches on each entry
    rows = bench_trend.trend(bench_trend.enrich([e1, e2, e3]), sf=0.1)
    assert [r["cum_box_factor"] for r in rows] == [1.0, 2.0, 2.0]
    assert rows[0]["headline_box_adjusted"] == 1.0
    assert rows[1]["headline_box_adjusted"] == round(2.1 / 2.0, 4)
    assert rows[2]["headline_box_adjusted"] == 1.0
    assert "median_vs_prev" not in rows[0]  # first snapshot has no pair
    assert rows[1]["median_vs_prev"] == 2.0
    # other-sf and unreadable entries are excluded from the tier
    e_other = dict(e1, sf=0.01)
    enriched = bench_trend.enrich([e_other, dict(e2), dict(e3)])
    assert len(bench_trend.trend(enriched, sf=0.1)) == 2
    # an entry enrich() could not parse never reaches the chain
    (tmp_path / ".benchmarks" / "bench_bad_sf0.1.json").write_text("{trunc")
    e_bad = {"file": ".benchmarks/bench_bad_sf0.1.json", "sf": 0.1,
             "round": 1, "kind": "local"}
    enriched_bad = bench_trend.enrich([dict(e1), e_bad, dict(e2)])
    assert enriched_bad[1].get("unparseable") is True
    assert len(bench_trend.trend(enriched_bad, sf=0.1)) == 2


def test_trend_enriches_raw_entries_defensively(tmp_path, monkeypatch):
    # trend() on raw snapshot_history()-shaped entries (no _doc) must
    # enrich them itself rather than return an empty result
    e1 = _snap_file(tmp_path, "bench_1_sf0.1.json", {"a": 1.0, "b": 2.0}, 1.0)
    e2 = _snap_file(tmp_path, "bench_2_sf0.1.json", {"a": 2.0, "b": 4.0}, 2.0)
    monkeypatch.setattr(bench_trend, "REPO", str(tmp_path))
    rows = bench_trend.trend([e1, e2], sf=0.1)  # never passed through enrich
    assert [r["cum_box_factor"] for r in rows] == [1.0, 2.0]
    # entries already marked missing/unparseable are not re-probed
    e_missing = {"file": ".benchmarks/gone_sf0.1.json", "sf": 0.1,
                 "round": 1, "kind": "local", "missing": True}
    assert len(bench_trend.trend([e1, e_missing, e2], sf=0.1)) == 2


def test_trend_defensive_enrich_is_tier_scoped_and_side_effect_free(
    tmp_path, monkeypatch
):
    # ADVICE r13: (1) raw entries outside the requested sf tier must not
    # be read/parsed at all; (2) trend() must not mutate caller entries
    e1 = _snap_file(tmp_path, "bench_1_sf0.1.json", {"a": 1.0, "b": 2.0}, 1.0)
    e2 = _snap_file(tmp_path, "bench_2_sf0.1.json", {"a": 2.0, "b": 4.0}, 2.0)
    # off-tier entry pointing at a file that does not exist: with the sf
    # filter applied before enrich, it is never probed (no "missing" mark)
    e_off = {"file": ".benchmarks/never_there_sf0.01.json", "sf": 0.01,
             "round": 1, "kind": "local"}
    monkeypatch.setattr(bench_trend, "REPO", str(tmp_path))
    rows = bench_trend.trend([e1, e_off, e2], sf=0.1)
    assert [r["cum_box_factor"] for r in rows] == [1.0, 2.0]
    assert "missing" not in e_off and "_doc" not in e_off
    # the defensively-enriched tier entries are copies: the caller's
    # objects stay exactly as passed (no _doc / headline side effects)
    assert "_doc" not in e1 and "_doc" not in e2


def test_trend_carries_min_headline_and_steal_evidence(tmp_path, monkeypatch):
    # r16 snapshots record value_min + host_load (bench.py); enrich()
    # lifts them onto the manifest entry and trend() onto the row, so a
    # spiked median is adjudicable from the trend output in place
    e1 = _snap_file(tmp_path, "bench_1_sf0.1.json", {"a": 1.0}, 1.0)
    snap = tmp_path / ".benchmarks" / "bench_1_sf0.1.json"
    doc = json.loads(snap.read_text())
    doc["value_min"] = 0.9
    doc["host_load"] = {"run": {"steal_frac": 0.03}}
    snap.write_text(json.dumps(doc))
    monkeypatch.setattr(bench_trend, "REPO", str(tmp_path))
    enriched = bench_trend.enrich([e1])
    assert enriched[0]["headline_min"] == 0.9
    assert enriched[0]["run_steal_frac"] == 0.03
    rows = bench_trend.trend(enriched, sf=0.1)
    assert rows[0]["headline_min"] == 0.9
    assert rows[0]["run_steal_frac"] == 0.03
    # pre-r16 snapshots: the fields are simply absent, never None-filled
    e2 = _snap_file(tmp_path, "bench_2_sf0.1.json", {"a": 1.0}, 1.0)
    rows2 = bench_trend.trend(bench_trend.enrich([e2]), sf=0.1)
    assert "headline_min" not in rows2[0]
    assert "run_steal_frac" not in rows2[0]


def test_readme_snapshot_ids_name_archived_snapshots():
    """A README snapshot ID could drift to a run that never existed.
    Mechanical floor: every bench_YYYYMMDD_HHMMSS ID the README cites
    must name an actually archived snapshot file."""
    import re

    with open(os.path.join(REPO, "README.md")) as fh:
        readme = fh.read()
    ids = set(re.findall(r"bench_\d{8}_\d{6}", readme))
    assert ids, "README no longer cites any snapshot IDs - update this test"
    archived = {re.sub(r"_sf[0-9.]+\.json$", "", f)
                for f in os.listdir(os.path.join(REPO, ".benchmarks"))}
    for snap_id in sorted(ids):
        assert snap_id in archived, (
            f"README cites {snap_id} but no such snapshot is archived"
        )


def test_live_trend_and_manifest_round_attribution():
    """Smoke over the real repo: every snapshot gets a round and a kind,
    driver-gate rows only come from `round N:` commits, and the trend's
    cum factor stays positive (a chain of valid medians)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(TOOLS, "bench_trend.py"),
         "--json", "--no-manifest"],
        capture_output=True, text=True, check=True, cwd=REPO,
    )
    doc = json.loads(proc.stdout)
    assert doc["sf"] == 0.1
    rows = doc["trend"]
    assert len(rows) >= 2  # repo history has many sf0.1 snapshots
    for r in rows:
        assert r["kind"] in ("driver-gate", "local")
        assert isinstance(r["round"], int) and r["round"] >= 1
        assert r["cum_box_factor"] > 0
    # rounds never decrease along the (chronological) trend
    rounds = [r["round"] for r in rows]
    assert rounds == sorted(rounds)
    # the piped run also passes --no-manifest so a plain pytest run never
    # rewrites the tracked MANIFEST.json; the BrokenPipeError exit path is
    # still what this invocation exercises
    proc2 = subprocess.run(
        f"{sys.executable} {os.path.join(TOOLS, 'bench_trend.py')}"
        " --no-manifest | head -3",
        shell=True, capture_output=True, text=True, cwd=REPO,
    )
    assert proc2.returncode == 0 and "Traceback" not in proc2.stderr


def test_live_trend_table_keeps_min_steal_columns_before_filename():
    """ADVICE r16: min/steal render in fixed-width slots BEFORE the
    filename ('-' for pre-r16 rows) — never as variable-width trailing
    text that breaks the column grid after the longest field."""
    proc = subprocess.run(
        [sys.executable, os.path.join(TOOLS, "bench_trend.py"),
         "--no-manifest"],
        capture_output=True, text=True, check=True, cwd=REPO,
    )
    lines = proc.stdout.splitlines()
    header = next(ln for ln in lines if "med/prev" in ln)
    assert header.index("min") < header.index("steal") < header.index("file")
    data = [ln for ln in lines
            if re.match(r"^\s+r\d+ ", ln) and ".json" in ln]
    assert len(data) >= 2
    saw_dash = saw_value = False
    for ln in data:
        toks = ln.split()
        # the filename is the last token: nothing trails it
        assert toks[-1].endswith(".json"), f"filename not last in row: {ln}"
        min_tok = toks[-3]
        saw_dash |= min_tok == "-"
        saw_value |= min_tok != "-"
    # which eras the rendered rows must show is driven by the history
    # itself, not hardcoded (ADVICE r17: a fresh clone/fork whose
    # .benchmarks archive spans only one era must still pass): pre-r16
    # snapshots lack value_min -> '-', r16+ record it -> a number.
    # Enumerate candidates via snapshot_history() — the SAME source the
    # rows come from — not a directory glob: an untracked local bench
    # archive sits in .benchmarks/ but never becomes a row, so a glob
    # could demand an era the table rightly omits (ADVICE r18). Parse
    # each candidate with bench_diff.load_snapshot, mirroring enrich():
    # it unwraps the {"parsed": ...} driver-artifact wrapper and rejects
    # docs lacking "queries", so a future archived file in either shape
    # is classified exactly as the rendered rows classify it (ADVICE r19)
    expect_dash = expect_value = False
    for e in bench_trend.snapshot_history():
        if e.get("sf") != 0.1:
            continue  # the table under test renders the sf0.1 tier
        try:
            doc = bench_diff.load_snapshot(os.path.join(REPO, e["file"]))
        except (SystemExit, ValueError, OSError):
            continue  # unparseable/deleted files never become table rows
        if doc.get("value_min") is None:
            expect_dash = True
        else:
            expect_value = True
    assert saw_dash == expect_dash and saw_value == expect_value
