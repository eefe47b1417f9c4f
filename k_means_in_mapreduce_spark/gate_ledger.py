"""Gate-window ledger: which query was last green WHEN, and has its code
changed since.

Round 4 post-mortem (VERDICT r4, "gate-window staleness"): a shared reader
(``sources/tables.py``) changed AFTER seven events-path queries' last green
CORRECTNESS row, and the hand-maintained priority list did not notice. The
fix is to *derive* the gate-window ordering instead of hand-writing it:

- ``GATE_LEDGER.json`` (repo root, committed) records for every query the
  last round it was driver-checked and an md5 fingerprint of the query's
  defining module PLUS its transitive intra-package imports, computed
  FROM THE GIT COMMIT THAT INTRODUCED that round's CORRECTNESS file —
  i.e. the exact code the driver gated, regardless of when the ledger
  tool runs. (The driver commits CORRECTNESS_r{N}.json immediately after
  the gate, so that commit's tree IS the gate-time tree.)
- ``ordered_queries()`` leads with (a) queries with no ledger row (never
  checked), (b) queries whose CURRENT fingerprint differs from the
  at-green fingerprint (code under them changed), (c) everything else by
  ascending last-checked round — so the driver's bounded ~50-query window
  always spends its budget on the rows most likely to be stale.

``tools/update_gate_ledger.py`` incorporates new CORRECTNESS_r*.json
files; because fingerprints come from git history, running it late (after
edits) is safe — it cannot mistake post-gate edits for gate-time code.
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import subprocess

PACKAGE = "k_means_in_mapreduce_spark"
PKG_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(PKG_DIR)
LEDGER_PATH = os.path.join(REPO_ROOT, "GATE_LEDGER.json")


class _Tree:
    """Package-source reader over the working tree (ref=None) or a git
    commit (ref=sha) — lets the same AST dependency walk run against the
    code as it was at gate time."""

    def __init__(self, ref: str | None = None) -> None:
        self.ref = ref
        self._listing: set[str] | None = None
        self._imports: dict[str, tuple[str, ...]] = {}
        self._md5: dict[str, str] = {}

    # -- file access --------------------------------------------------
    def _git_listing(self) -> set[str]:
        if self._listing is None:
            out = subprocess.run(
                ["git", "-C", REPO_ROOT, "ls-tree", "-r", "--name-only", self.ref],
                capture_output=True,
                text=True,
                check=True,
            ).stdout
            self._listing = set(out.splitlines())
        return self._listing

    def exists(self, relpath: str) -> bool:
        if self.ref is None:
            return os.path.isfile(os.path.join(REPO_ROOT, relpath))
        return relpath in self._git_listing()

    def read_bytes(self, relpath: str) -> bytes:
        if self.ref is None:
            with open(os.path.join(REPO_ROOT, relpath), "rb") as fh:
                return fh.read()
        return subprocess.run(
            ["git", "-C", REPO_ROOT, "show", f"{self.ref}:{relpath}"],
            capture_output=True,
            check=True,
        ).stdout

    # -- module resolution --------------------------------------------
    def module_relpath(self, dotted: str) -> str | None:
        parts = dotted.split(".")
        if parts[0] != PACKAGE:
            return None
        base = "/".join(parts)
        for cand in (base + ".py", base + "/__init__.py"):
            if self.exists(cand):
                return cand
        return None

    def _resolve_relative(
        self, module: str, node_module: str | None, level: int
    ) -> str:
        """Resolve ``from ..x import y`` inside ``module``. Inside a
        package's ``__init__.py`` level=1 refers to the package itself,
        so one fewer component is stripped."""
        if level == 0:
            # absolute from-import: node_module IS the full dotted path
            return node_module or ""
        parts = module.split(".")
        f = self.module_relpath(module)
        is_pkg = bool(f) and f.endswith("__init__.py")
        strip = max(0, level - 1 if is_pkg else level)
        base = parts[: len(parts) - strip] if strip else parts
        if node_module:
            base = base + node_module.split(".")
        return ".".join(base)

    def direct_imports(self, dotted: str) -> tuple[str, ...]:
        """Package-internal modules imported by ``dotted`` (non-recursive).
        ``from .ops import similarity`` also yields the submodule when the
        imported name is itself a module."""
        if dotted in self._imports:
            return self._imports[dotted]
        path = self.module_relpath(dotted)
        out: set[str] = set()
        if path is not None:
            try:
                tree = ast.parse(self.read_bytes(path).decode("utf-8"))
            except SyntaxError:
                tree = None
            if tree is not None:
                for node in ast.walk(tree):
                    if isinstance(node, ast.Import):
                        for a in node.names:
                            if a.name.split(".")[0] == PACKAGE:
                                out.add(a.name)
                    elif isinstance(node, ast.ImportFrom):
                        target = self._resolve_relative(
                            dotted, node.module, node.level
                        )
                        if target.split(".")[0] != PACKAGE:
                            continue
                        if self.module_relpath(target):
                            out.add(target)
                        for a in node.names:
                            sub = f"{target}.{a.name}"
                            if self.module_relpath(sub):
                                out.add(sub)
        result = tuple(sorted(m for m in out if self.module_relpath(m)))
        self._imports[dotted] = result
        return result

    def transitive_files(self, dotted: str) -> list[str]:
        """REPO_ROOT-relative source files the module's behavior can
        depend on, recursively."""
        seen: set[str] = set()
        stack = [dotted]
        while stack:
            m = stack.pop()
            if m in seen:
                continue
            seen.add(m)
            stack.extend(self.direct_imports(m))
        files = {f for m in seen if (f := self.module_relpath(m))}
        # parent packages' __init__.py run on EVERY import of their
        # children — include them so init-time behavior changes flip
        # dependent queries to changed-since-green
        for m in list(seen):
            parts = m.split(".")
            for i in range(1, len(parts)):
                pkg_init = "/".join(parts[:i]) + "/__init__.py"
                if self.exists(pkg_init):
                    files.add(pkg_init)
        return sorted(files)

    def file_md5(self, relpath: str) -> str:
        if relpath not in self._md5:
            self._md5[relpath] = hashlib.md5(self.read_bytes(relpath)).hexdigest()
        return self._md5[relpath]

    def module_fingerprint(self, dotted: str) -> str:
        """md5 over (relpath, content-md5) of the module + its transitive
        intra-package imports — changes when any code under it does."""
        parts = [f"{f}:{self.file_md5(f)}" for f in self.transitive_files(dotted)]
        return hashlib.md5("|".join(parts).encode()).hexdigest()


_WORKING_TREE = _Tree(None)


def transitive_files(dotted: str, ref: str | None = None) -> list[str]:
    tree = _WORKING_TREE if ref is None else _Tree(ref)
    return tree.transitive_files(dotted)


def module_fingerprint(dotted: str, ref: str | None = None) -> str:
    tree = _WORKING_TREE if ref is None else _Tree(ref)
    return tree.module_fingerprint(dotted)


def invalidate_working_tree_cache() -> None:
    """Drop memoized working-tree state (files changed mid-process)."""
    global _WORKING_TREE
    _WORKING_TREE = _Tree(None)


def load_ledger() -> dict:
    if not os.path.isfile(LEDGER_PATH):
        return {"rounds_seen": [], "queries": {}}
    with open(LEDGER_PATH, encoding="utf-8") as fh:
        return json.load(fh)


def save_ledger(ledger: dict) -> None:
    tmp = LEDGER_PATH + ".tmp"
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(ledger, fh, indent=1, sort_keys=True)
        fh.write("\n")
    os.replace(tmp, LEDGER_PATH)  # atomic: a crash never truncates the ledger


def _row_checked(row: dict) -> bool:
    """A CORRECTNESS row counts as 'checked' if the oracle compare fully
    passed, or the driver ran the weaker rows-only check (no_oracle)."""
    if row.get("err") == "no_oracle":
        return row.get("spark_rows") is not None
    return bool(
        row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
    )


def _introducing_commit(relname: str) -> str | None:
    """Most recent commit that ADDED the file — the driver commits each
    CORRECTNESS file right after the gate, so this commit's tree is the
    gate-time code."""
    out = subprocess.run(
        [
            "git", "-C", REPO_ROOT, "log", "--diff-filter=A",
            "--format=%H", "--", relname,
        ],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.splitlines()
    return out[0] if out else None


def incorporate_correctness(ledger: dict, repo_root: str = REPO_ROOT) -> list[str]:
    """Fold any not-yet-seen CORRECTNESS_r*.json into the ledger. Each
    green query is stamped with the module fingerprint FROM THE COMMIT
    that introduced the round's file (gate-time code), so running this
    late — after new-round edits — cannot poison the ledger. A file git
    has never seen is SKIPPED with a warning (and NOT added to
    rounds_seen) — stamping it from the working tree would record
    post-gate edits as "at-green", and marking the round seen would
    prevent ever re-incorporating it with the true gate-tree
    fingerprints once committed. Returns the rounds incorporated."""
    import importlib
    import sys

    registry = importlib.import_module(f"{PACKAGE}.registry")
    seen = set(ledger.get("rounds_seen", []))
    added: list[str] = []
    # numeric round order, NOT lexicographic: r10 must process AFTER r2,
    # or a later round's ledger row gets clobbered by an earlier one
    pending = sorted(
        (
            n
            for n in os.listdir(repo_root)
            if n.startswith("CORRECTNESS_r") and n.endswith(".json")
        ),
        key=lambda n: int(n[len("CORRECTNESS_r") : -len(".json")]),
    )
    for name in pending:
        if name in seen:
            continue
        with open(os.path.join(repo_root, name), encoding="utf-8") as fh:
            rows = json.load(fh)
        rnd = int(name[len("CORRECTNESS_r") : -len(".json")])
        ref = _introducing_commit(name)
        if ref is None:
            print(
                f"WARNING: {name} has no introducing commit (untracked?); "
                "skipping — commit it and re-run to incorporate with "
                "gate-tree fingerprints",
                file=sys.stderr,
            )
            continue
        tree = _Tree(ref)
        for qname, row in rows.items():
            if qname not in registry.QUERIES or not _row_checked(row):
                continue
            fn = registry.QUERIES[qname]
            if tree.module_relpath(fn.__module__) is None:
                # module didn't exist at gate time under this name (query
                # moved files since) — treat as changed-since-green
                continue
            ledger["queries"][qname] = {
                "last_checked_round": rnd,
                "fingerprint": tree.module_fingerprint(fn.__module__),
                "module": fn.__module__,
                "gate_commit": ref,
            }
        seen.add(name)
        added.append(name)
    ledger["rounds_seen"] = sorted(seen)
    return added


def query_tier(
    name: str, registry_queries: dict, entries: dict
) -> tuple[int, int | None]:
    """The gate tier of one query against ``entries`` (a ledger's
    ``queries`` dict): 0 = never driver-checked, 1 = changed-since-green
    (current working-tree fingerprint differs from the at-green one),
    2 = current-green — plus the last-checked round (None if never).
    The single definition of tiering, shared by :func:`derive_order` and
    ``tools/stale_report.py`` so the report can never silently disagree
    with the order the driver actually uses."""
    row = entries.get(name)
    if row is None:
        return 0, None
    fn = registry_queries[name]
    if _WORKING_TREE.module_fingerprint(fn.__module__) != row.get(
        "fingerprint"
    ):
        return 1, row.get("last_checked_round")
    return 2, row.get("last_checked_round")


def derive_order(
    registry_queries: dict, oracles: "set[str] | dict | None" = None
) -> list[str]:
    """Gate-window ordering: never-checked, changed-since-green, then
    oldest-green first; registration order breaks ties. Within the
    changed-since-green tier, oldest green ALSO comes first — when shared
    deps churn (flipping most queries to that tier) the bounded window
    must still rotate through the whole registry across rounds instead of
    re-gating the same registration-order prefix forever.

    Within the two TRANSIENT tiers (never-checked, changed-since-green),
    queries WITHOUT a DuckDB oracle sort after every hash-checkable
    companion (VERDICT r9 item 6): a no-oracle row can only ever earn the
    driver's weaker rows-only check, so when a cone flip floods the
    changed-since-green tier the bounded window should spend its slots
    proving hash-green rows first — the no-oracle rows' actual
    correctness evidence is their hash-checkable ``*_recall``/
    ``*_precision``/``*_bound`` companions, which this ordering now
    re-proves earlier in the drain cycle. Both tiers DRAIN (a checked row
    leaves them), so the deferral is a delay, never an exclusion. The
    current-green tier deliberately keeps its oldest-round-first rotation
    with the no-oracle flag only breaking same-round ties: ranking the
    flag above the round there would let the 97 oracle rows monopolize
    the ~50-slot window forever and the 9 rows-only queries would never
    be re-gated in steady state. ``oracles`` defaults to the registry's
    ORACLES mapping (looked up lazily — registry.py must stay out of this
    module's import graph so editing the ordering never flips query
    fingerprints)."""
    if oracles is None:
        import importlib

        oracles = importlib.import_module(f"{PACKAGE}.registry").ORACLES
    ledger = load_ledger()
    entries = ledger.get("queries", {})
    reg_pos = {n: i for i, n in enumerate(registry_queries)}

    def rank(name: str) -> tuple:
        tier, rnd = query_tier(name, registry_queries, entries)
        no_oracle = name not in oracles
        return (
            tier,
            tier != 2 and no_oracle,
            rnd if rnd is not None else 0,
            no_oracle,
            reg_pos[name],
        )

    return sorted(registry_queries, key=rank)


# ---------------------------------------------------------------------------
# Hand escape hatch for the gate-window ordering.
#
# Lives HERE (not in registry.py) on purpose: registry.py is in every
# query's transitive fingerprint (all operator modules import the @query
# decorator from it), so editing an override list hosted there would flip
# every query to "changed since green" each round — collapsing the derived
# order back to registration order, the exact failure mode the ledger
# exists to prevent. gate_ledger.py is excluded from the fingerprint walk
# (ordering logic is not query behavior), so this list can churn freely.
# ---------------------------------------------------------------------------
PRIORITY_OVERRIDE: list[str] = [
    # Default EMPTY (VERDICT r5 item 1): every entry listed here jumps
    # the derived ordering, so a populated list starves the
    # oldest-green-first rotation.  Add a name ONLY for a known
    # wrong-answer risk that must gate before the backlog tier.  A name
    # whose code changed since its last green row is already tier 1 from
    # its fingerprint alone, so listing it here is redundant — and once it
    # gates green again, a stale entry would keep displacing the rotation
    # (tests/test_gate_ledger.py fails on any current-green override).
]
