"""Gate-ledger ordering: never-checked first, changed-since-green second,
oldest-green third — the derived replacement for the hand-written priority
list that let 7 stale events queries slip the round-4 window."""

from __future__ import annotations

import json
import os

from k_means_in_mapreduce_spark import gate_ledger as gl
from k_means_in_mapreduce_spark import registry


def test_transitive_files_capture_shared_readers():
    # The exact r4 incident: events queries live in operators/asof.py but
    # read through sources/tables.py (normalize_event_ts). A change to the
    # shared reader must change the asof module's fingerprint.
    rels = set(gl.transitive_files("k_means_in_mapreduce_spark.operators.asof"))
    assert "k_means_in_mapreduce_spark/operators/asof.py" in rels
    assert "k_means_in_mapreduce_spark/sources/tables.py" in rels


def test_registry_fingerprint_excludes_extension_modules():
    # Registration side-effects (importlib loop) must NOT make every
    # registry-defined query depend on the whole package.
    rels = set(gl.transitive_files("k_means_in_mapreduce_spark.registry"))
    assert "k_means_in_mapreduce_spark/operators/kmeans_df.py" in rels
    assert "k_means_in_mapreduce_spark/operators/dedup.py" not in rels
    assert "k_means_in_mapreduce_spark/gate_ledger.py" not in rels


def test_fingerprint_from_git_commit_detects_post_gate_changes():
    # The whole point of git-ref fingerprints: a fingerprint computed at an
    # older commit must differ from the working tree once code under the
    # module has changed.  Construct the scenario from git history itself
    # (parent of the last commit touching any transitive file) instead of
    # depending on the live GATE_LEDGER.json staying stale — the previous
    # form asserted the working tree differs from the ledger's at-green
    # row, which flips to a spurious failure the moment
    # tools/update_gate_ledger.py re-stamps the row (ADVICE r5).
    import subprocess

    import pytest

    mod = "k_means_in_mapreduce_spark.operators.asof"
    files = gl.transitive_files(mod)
    last_touch = subprocess.run(
        ["git", "-C", gl.REPO_ROOT, "log", "-1", "--format=%H", "--", *files],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    if not last_touch:
        pytest.skip("module files not in git history")
    ref = last_touch + "^"
    probe = subprocess.run(
        ["git", "-C", gl.REPO_ROOT, "rev-parse", "--verify", "--quiet", ref],
        capture_output=True,
        text=True,
    )
    if probe.returncode != 0:
        pytest.skip("last touching commit is the root commit")
    tree = gl._Tree(probe.stdout.strip())
    if tree.module_relpath(mod) is None:
        pytest.skip("module did not exist before its last touching commit")
    at_gate = gl.module_fingerprint(mod, ref=probe.stdout.strip())
    # deterministic at a fixed ref
    assert gl.module_fingerprint(mod, ref=probe.stdout.strip()) == at_gate
    # and different from the working tree, which includes the later change
    assert at_gate != gl.module_fingerprint(mod)


def test_derive_order_tiers(tmp_path, monkeypatch):
    fake_queries = dict.fromkeys(["q_new", "q_changed", "q_old", "q_fresh"])

    class FakeFn:
        __module__ = "k_means_in_mapreduce_spark.registry"

    for k in fake_queries:
        fake_queries[k] = FakeFn()

    fp = gl.module_fingerprint("k_means_in_mapreduce_spark.registry")
    ledger = {
        "rounds_seen": [],
        "queries": {
            # q_new: absent (never checked)
            "q_changed": {"last_checked_round": 4, "fingerprint": "stale-hash"},
            "q_old": {"last_checked_round": 2, "fingerprint": fp},
            "q_fresh": {"last_checked_round": 4, "fingerprint": fp},
        },
    }
    path = tmp_path / "GATE_LEDGER.json"
    path.write_text(json.dumps(ledger))
    monkeypatch.setattr(gl, "LEDGER_PATH", str(path))
    assert gl.derive_order(fake_queries) == ["q_new", "q_changed", "q_old", "q_fresh"]


def test_derive_order_defers_no_oracle_in_transient_tiers_only(
    tmp_path, monkeypatch
):
    """VERDICT r9 item 6: in the DRAINING tiers (never-checked,
    changed-since-green), queries with no DuckDB oracle (the driver can
    only run its weaker rows-only check on them) sort after EVERY
    hash-checkable query of the tier — even an older-checked no-oracle
    row yields its slot — so a cone-flip drain spends the bounded window
    on real hash verifications first. In the current-green tier the
    oldest-round rotation stays primary (the flag only breaks same-round
    ties): demoting the flag above the round there would let the oracle
    majority monopolize the window and the rows-only queries would never
    be re-gated again in steady state."""

    class FakeFn:
        __module__ = "k_means_in_mapreduce_spark.registry"

    names = [
        "a_chg_ora", "b_chg_noora", "c_grn_noora", "d_grn_ora",
        "e_grn_noora_tie", "f_new_noora", "g_new_ora",
    ]
    fake_queries = {n: FakeFn() for n in names}
    fp = gl.module_fingerprint("k_means_in_mapreduce_spark.registry")
    ledger = {
        "rounds_seen": [],
        "queries": {
            "a_chg_ora": {"last_checked_round": 5, "fingerprint": "stale"},
            "b_chg_noora": {"last_checked_round": 2, "fingerprint": "stale"},
            "c_grn_noora": {"last_checked_round": 2, "fingerprint": fp},
            "d_grn_ora": {"last_checked_round": 5, "fingerprint": fp},
            "e_grn_noora_tie": {"last_checked_round": 5, "fingerprint": fp},
        },
    }
    path = tmp_path / "GATE_LEDGER.json"
    path.write_text(json.dumps(ledger))
    monkeypatch.setattr(gl, "LEDGER_PATH", str(path))
    oracles = {"a_chg_ora", "d_grn_ora", "g_new_ora"}
    order = gl.derive_order(fake_queries, oracles=oracles)
    assert order == [
        # tier 0: oracle first despite later registration
        "g_new_ora", "f_new_noora",
        # tier 1: b (no-oracle, r2) trails a (oracle, r5) despite age
        "a_chg_ora", "b_chg_noora",
        # tier 2: round rotation wins — c (r2, no-oracle) precedes the r5
        # rows; within the r5 tie the oracle row precedes the no-oracle one
        "c_grn_noora", "d_grn_ora", "e_grn_noora_tie",
    ]


def test_derive_order_live_no_oracle_rows_trail_transient_tiers():
    """Against the real registry + committed ledger: inside the draining
    tiers the hash-checkable queries all precede the no-oracle ones (the
    next driver window is maximally hash-verifying), while the
    current-green tier stays a pure oldest-round rotation so rows-only
    queries are never starved out of re-gating."""
    entries = gl.load_ledger().get("queries", {})
    order = gl.derive_order(registry.QUERIES)
    by_tier = {0: [], 1: [], 2: []}
    for n in order:
        by_tier[gl.query_tier(n, registry.QUERIES, entries)[0]].append(n)
    for tier_val in (0, 1):
        flags = [n not in registry.ORACLES for n in by_tier[tier_val]]
        assert flags == sorted(flags), f"tier {tier_val} interleaves no-oracle rows"
    rounds = [
        gl.query_tier(n, registry.QUERIES, entries)[1] for n in by_tier[2]
    ]
    assert rounds == sorted(rounds), "green tier is not oldest-round-first"


def test_ledger_on_disk_covers_all_queries():
    # The committed ledger must have a row for every registered query except
    # ones added after the last incorporated round (those rank tier-0).
    ledger = gl.load_ledger()
    assert ledger["rounds_seen"], "GATE_LEDGER.json missing or empty"
    known = set(ledger["queries"])
    assert known <= set(registry.QUERIES), "ledger references unknown queries"


def test_ordered_queries_leads_with_override_then_unchecked():
    order = list(registry.ordered_queries())
    n_over = len(gl.PRIORITY_OVERRIDE)
    assert order[:n_over] == gl.PRIORITY_OVERRIDE
    assert set(order) == set(registry.QUERIES)
    # Any query with no ledger row must appear before all clean+checked rows.
    ledger = gl.load_ledger()
    unchecked = [n for n in order if n not in ledger["queries"]]
    if unchecked:
        last_unchecked = max(order.index(n) for n in unchecked)
        assert last_unchecked < len(order) - 1 or len(unchecked) == len(order)


def test_priority_override_names_are_all_registered():
    """The hand-edited override list must reference real queries — the
    runtime DROPS unknown names (a typo must not crash the driver gate),
    so this test is the loud tripwire."""
    missing = set(gl.PRIORITY_OVERRIDE) - set(registry.QUERIES)
    assert not missing, sorted(missing)


def test_priority_override_names_are_not_current_green():
    """An override exists to gate a query the derived order would rank
    late; one that is current-green (tier 2) at its fingerprint has
    already gated and only starves the oldest-green rotation — drop it."""
    entries = gl.load_ledger().get("queries", {})
    green = [
        n
        for n in gl.PRIORITY_OVERRIDE
        if n in registry.QUERIES
        and gl.query_tier(n, registry.QUERIES, entries)[0] == 2
    ]
    assert not green, green


GREEN = {
    "rows_match": True, "schema_match": True, "hash_match": True,
    "spark_rows": 4, "oracle_rows": 4, "err": None,
}


def _write_round(root, stem, rows):
    path = os.path.join(str(root), f"CORRECTNESS_{stem}.json")
    with open(path, "w") as fh:
        json.dump(rows, fh)
    return f"CORRECTNESS_{stem}.json"


def test_incorporate_correctness_numeric_order_and_gate_tree_stamp(
    tmp_path, monkeypatch
):
    """r10 must fold in AFTER r2 (numeric, not lexicographic, where
    'r10' < 'r2') so the later round owns the ledger row, and the stamp
    must be the fingerprint at the INTRODUCING COMMIT's tree, not the
    working tree."""
    import subprocess

    qname = "q1_pricing_summary"
    assert qname in registry.QUERIES
    head = subprocess.run(
        ["git", "-C", gl.REPO_ROOT, "rev-parse", "HEAD"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    monkeypatch.setattr(gl, "_introducing_commit", lambda name: head)
    n2 = _write_round(tmp_path, "r2", {qname: GREEN})
    n10 = _write_round(tmp_path, "r10", {qname: GREEN})
    ledger = {"rounds_seen": [], "queries": {}}
    added = gl.incorporate_correctness(ledger, repo_root=str(tmp_path))
    assert added == [n2, n10]
    row = ledger["queries"][qname]
    assert row["last_checked_round"] == 10  # r10 processed last, wins
    assert row["gate_commit"] == head
    mod = registry.QUERIES[qname].__module__
    assert row["fingerprint"] == gl.module_fingerprint(mod, ref=head)
    assert ledger["rounds_seen"] == sorted([n2, n10])
    # idempotent: a second call sees both rounds in rounds_seen
    assert gl.incorporate_correctness(ledger, repo_root=str(tmp_path)) == []


def test_incorporation_rotates_windowed_queries_behind_first_past_window(
    tmp_path, monkeypatch
):
    """The steady-state rotation invariant (ADVICE r12 item 5): once a
    round file is incorporated, the queries it re-proved green (the old
    gate window) must sort BEHIND the first query that was past that
    window, so successive all-green rounds walk the whole registry
    instead of re-gating the same oldest prefix forever."""
    # real registered queries: incorporate_correctness stamps ONLY names
    # it can resolve against the live registry (unknown names are dropped)
    names = sorted(registry.QUERIES)[:4]
    window, past = names[:2], names[2:]
    sub_queries = {n: registry.QUERIES[n] for n in names}
    ledger = {
        "rounds_seen": [],
        "queries": {
            n: {
                "last_checked_round": 3 if n in window else 4,
                "fingerprint": gl.module_fingerprint(
                    registry.QUERIES[n].__module__
                ),
            }
            for n in names
        },
    }
    path = tmp_path / "GATE_LEDGER.json"
    path.write_text(json.dumps(ledger))
    monkeypatch.setattr(gl, "LEDGER_PATH", str(path))
    assert gl.derive_order(sub_queries, oracles=set(names)) == window + past

    # the round is gated on exactly the code now in the working tree. HEAD
    # is not that tree while edits are uncommitted (they would make the
    # re-proven queries look changed-since-green), so the gate tree is
    # read from the working tree; git-ref stamping has its own tests
    real_tree = gl._Tree
    monkeypatch.setattr(gl, "_introducing_commit", lambda name: "gate-tree")
    monkeypatch.setattr(gl, "_Tree", lambda ref: real_tree(None))
    # the driver gates the 2-slot window and re-proves it green (r5)
    _write_round(tmp_path, "r5", {n: GREEN for n in window})
    assert gl.incorporate_correctness(ledger, repo_root=str(tmp_path))
    for n in window:
        assert ledger["queries"][n]["last_checked_round"] == 5
    path.write_text(json.dumps(ledger))
    # the previous first_past_window now leads; the re-proven window
    # queries rotate to the back
    assert gl.derive_order(sub_queries, oracles=set(names)) == past + window


def test_incorporate_correctness_skips_untracked_file(
    tmp_path, capsys, monkeypatch
):
    """A CORRECTNESS file git never saw must be SKIPPED with a warning
    and NOT marked seen — stamping from the working tree would record
    post-gate edits as at-green, and marking it seen would block the
    true incorporation after the driver commits it. _introducing_commit
    is pinned to None rather than relying on the real git history never
    containing this round number (it eventually will)."""
    monkeypatch.setattr(gl, "_introducing_commit", lambda name: None)
    qname = next(iter(registry.QUERIES))
    _write_round(tmp_path, "r97", {qname: GREEN})
    ledger = {"rounds_seen": [], "queries": {}}
    assert gl.incorporate_correctness(ledger, repo_root=str(tmp_path)) == []
    assert ledger["rounds_seen"] == []
    assert qname not in ledger["queries"]
    assert "skipping" in capsys.readouterr().err


def test_incorporate_correctness_stamps_only_checked_known_rows(
    tmp_path, monkeypatch
):
    """Red rows (hash mismatch), error rows, and unknown query names must
    never earn an at-green stamp; a no_oracle row with a row count is the
    driver's weaker pass and DOES count."""
    import subprocess

    names = iter(sorted(registry.QUERIES))
    q_green, q_red, q_err, q_noora = (next(names) for _ in range(4))
    head = subprocess.run(
        ["git", "-C", gl.REPO_ROOT, "rev-parse", "HEAD"],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    monkeypatch.setattr(gl, "_introducing_commit", lambda name: head)
    _write_round(tmp_path, "r3", {
        q_green: GREEN,
        q_red: {**GREEN, "hash_match": False},
        q_err: {**GREEN, "rows_match": None, "err": "AnalysisException"},
        q_noora: {"err": "no_oracle", "spark_rows": 7},
        "not_a_registered_query": GREEN,
    })
    ledger = {"rounds_seen": [], "queries": {}}
    assert gl.incorporate_correctness(ledger, repo_root=str(tmp_path))
    assert set(ledger["queries"]) == {q_green, q_noora}


def test_stale_report_cli_reports_all_tiers_and_window_head():
    """tools/stale_report.py is the per-round cone-flip detector: it must
    account for every registered query across the three tiers and print
    the derived window head — a silent regression here would mislead the
    quiet-round discipline that keeps the gate ledger draining."""
    import re
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, os.path.join(gl.REPO_ROOT, "tools", "stale_report.py"), "5"],
        capture_output=True, text=True, check=True,
    )
    counts = {
        m.group(1): int(m.group(2))
        for m in re.finditer(r"(never-checked|changed-since-green|current-green)"
                             r":\s+(\d+) / (\d+)", proc.stdout)
    }
    assert set(counts) == {"never-checked", "changed-since-green", "current-green"}
    assert sum(counts.values()) == len(registry.QUERIES)
    # the projected driver-window composition line is present and its
    # per-bucket counts sum to the window size (or the whole registry)
    m = re.search(
        r"projected next gate window \(first (\d+) of driver order\): (.+)",
        proc.stdout,
    )
    assert m, "projected-window line missing"
    bucket_sum = sum(int(x) for x in re.findall(r"(\d+) (?:never|changed|current)", m.group(2)))
    assert bucket_sum == int(m.group(1)) == min(50, len(registry.QUERIES))
    # head entries are real registered queries in the derived order
    head = re.findall(r"\[.*?r\S*\] (\S+)", proc.stdout)
    assert len(head) == 5
    assert set(head) <= set(registry.QUERIES)
    # the report projects what the DRIVER gates: ordered_queries() (the
    # override-aware ordering), not the bare derived order
    assert head == list(registry.ordered_queries())[:5]


def test_stale_report_json_mode_matches_text_tiers():
    """`stale_report --json` (ADVICE r10 item 5b) lets the driver-sim
    assert the projected window mechanically; its tier counts and window
    must agree with the registry and the override-aware driver order."""
    import json
    import subprocess
    import sys

    proc = subprocess.run(
        [
            sys.executable,
            os.path.join(gl.REPO_ROOT, "tools", "stale_report.py"),
            "--json",
        ],
        capture_output=True, text=True, check=True,
    )
    doc = json.loads(proc.stdout)
    assert doc["total"] == len(registry.QUERIES)
    assert sum(doc["tiers"].values()) == doc["total"]
    assert set(doc["tiers"]) == {
        "never-checked", "changed-since-green", "current-green",
    }
    assert doc["window_size"] == len(doc["window"]) == min(
        50, len(registry.QUERIES)
    )
    names = [w["name"] for w in doc["window"]]
    assert names == list(registry.ordered_queries())[: doc["window_size"]]
    for w in doc["window"]:
        assert w["tier"] in doc["tiers"]
        assert w["oracle"] == (w["name"] in registry.ORACLES)
    if len(registry.QUERIES) > doc["window_size"]:
        assert (
            doc["first_past_window"]
            == list(registry.ordered_queries())[doc["window_size"]]
        )


def test_out_of_cone_modules_stay_out_of_every_query_fingerprint():
    """Editing cli.py / gate_ledger.py / bench-adjacent modules must NEVER
    flip registry queries to changed-since-green: the per-round gate
    window (~50 of 106 queries) can only drain the backlog if rounds can
    fix CLI/tooling issues without touching the fingerprint cone. An
    accidental `import ...cli` from an operator module would silently
    put every query's green row at risk — this is the tripwire. The
    session factory and the worker daemon run no query code either."""
    cone = set()
    for fn in registry.QUERIES.values():
        cone.update(gl.transitive_files(fn.__module__))
    for banned in (
        "k_means_in_mapreduce_spark/cli.py",
        "k_means_in_mapreduce_spark/__main__.py",
        "k_means_in_mapreduce_spark/gate_ledger.py",
        "k_means_in_mapreduce_spark/session.py",
        "k_means_in_mapreduce_spark/worker_daemon.py",
    ):
        assert banned not in cone, (
            f"{banned} entered the fingerprint cone — some query module "
            "now (transitively) imports it; editing it would flip every "
            "dependent query to changed-since-green"
        )


def test_catalog_is_a_leaf_and_no_query_module_imports_registry():
    """Every query module imports the @query decorator, so whatever the
    catalog imports lands in every cone. It must import nothing from the
    package, and only gate_ledger (lazily, via importlib) may reach
    registry.py: one operator importing it would put the k-means core
    back into that operator's cone."""
    import pathlib

    pkg = gl.PACKAGE
    assert gl._WORKING_TREE.module_relpath(f"{pkg}.catalog")
    assert gl._WORKING_TREE.direct_imports(f"{pkg}.catalog") == ()
    importers = []
    for path in sorted(pathlib.Path(gl.PKG_DIR).rglob("*.py")):
        rel = path.relative_to(gl.REPO_ROOT).with_suffix("")
        mod = ".".join(rel.parts).removesuffix(".__init__")
        if f"{pkg}.registry" in gl._WORKING_TREE.direct_imports(mod):
            importers.append(mod)
    assert importers == []


def test_registry_cone_is_its_own_queries_and_every_cone_shares_only_data_access():
    """registry.py (and so the k-means core it imports) is in the cone of
    exactly the queries it defines; the files in EVERY query's cone are
    the catalog and the data-access layer, so an edit anywhere else
    flips only the queries that run it."""
    cones = {
        name: set(gl.transitive_files(fn.__module__))
        for name, fn in registry.QUERIES.items()
    }
    own = {n for n, fn in registry.QUERIES.items() if fn.__module__ == registry.__name__}
    reg = "k_means_in_mapreduce_spark/registry.py"
    assert own and {n for n, c in cones.items() if reg in c} == own
    assert set.intersection(*cones.values()) == {
        f"k_means_in_mapreduce_spark/{f}"
        for f in (
            "__init__.py",
            "catalog.py",
            "artifacts.py",
            "sources/__init__.py",
            "sources/tables.py",
        )
    }
