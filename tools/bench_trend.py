#!/usr/bin/env python3
"""Cross-round bench trend: manifest every ``.benchmarks/`` snapshot, chain medians.

``bench_diff.py`` compares exactly two snapshots; its median warm ratio
cancels the box-speed factor for ONE hop. This tool extends that to the
whole history:

1. **Manifest** — walks git history for ``.benchmarks/*.json`` additions
   and writes ``.benchmarks/MANIFEST.json``: one entry per snapshot with
   its adding commit, the round it belongs to, and whether it is the
   driver's per-round gate snapshot (added by a ``round N:`` driver
   commit) or a local in-round run (added by any other commit; its round
   is the round in progress = last driver round + 1).
2. **Trend** — for one sf tier (default sf0.1), chains consecutive-pair
   ``bench_diff.diff`` medians into a cumulative box factor, so every
   snapshot's headline can be read box-adjusted against the FIRST
   snapshot's box speed, not just its immediate predecessor's. A code
   change shows up as a step in the adjusted headline; a slow box shows
   up in the raw headline only.

Usage:
    python tools/bench_trend.py [--sf 0.1] [--json] [--no-manifest]

``--no-manifest`` skips rewriting MANIFEST.json (read-only trend print).
The chained median inherits bench_diff's caveats: hops whose shared
sizable row set is empty fall back to noise rows and are flagged ``~``;
treat the cumulative factor after such a hop as approximate.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import subprocess
import sys

TOOLS = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(TOOLS)
sys.path.insert(0, TOOLS)

import bench_diff  # noqa: E402

DRIVER_RE = re.compile(r"^round (\d+):")
SF_RE = re.compile(r"_sf([0-9.]+)\.json$")

def round_after(commit_seq: list[tuple[str, str]]) -> dict[str, int]:
    """Map every commit hash -> the driver round last CLOSED at that commit.

    Built from the FULL first-parent history (``--first-parent`` in both
    git log calls, so merge-branch commits never interleave with the
    driver's round markers), not the .benchmarks-filtered one — driver
    ``round N:`` commits that added no snapshot still advance the round
    counter, otherwise early local snapshots get attributed to round 1
    forever.
    """
    closed = 0
    out = {}
    for h, subject in commit_seq:
        m = DRIVER_RE.match(subject)
        if m:
            closed = int(m.group(1))
        out[h] = closed
    return out


def snapshot_history() -> list[dict]:
    """Chronological (oldest-first) additions of .benchmarks/*.json files.

    Both git walks use ``--first-parent``, so snapshots added only on a
    merged side branch are intentionally excluded from the manifest: the
    round attribution below is defined by the driver's ``round N:``
    markers on the mainline, and a side-branch addition has no coherent
    position in that sequence. A merge-based workflow that wants such
    snapshots tracked should re-add them in a mainline commit.
    """
    full = subprocess.run(
        ["git", "-C", REPO, "log", "--reverse", "--first-parent",
         "--format=%H%x00%s"],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    commit_seq = [
        tuple(line.split("\x00", 1)) for line in full.splitlines() if "\x00" in line
    ]
    closed_at = round_after(commit_seq)
    out = subprocess.run(
        [
            "git",
            "-C",
            REPO,
            "log",
            "--reverse",
            "--first-parent",
            "--diff-filter=A",
            "--format=%x01%H%x00%s",
            "--name-only",
            "--",
            ".benchmarks/",
        ],
        capture_output=True,
        text=True,
        check=True,
    ).stdout
    entries: list[dict] = []
    commit = subject = None
    for line in out.splitlines():
        if line.startswith("\x01"):
            commit, subject = line[1:].split("\x00", 1)
            continue
        line = line.strip()
        if not line.endswith(".json") or not line.startswith(".benchmarks/"):
            continue
        if os.path.basename(line) == "MANIFEST.json":
            # the manifest this tool writes is not itself a snapshot
            continue
        m = SF_RE.search(line)
        entries.append(
            {
                "file": line,
                "commit": commit,
                "subject": subject,
                "sf": float(m.group(1)) if m else None,
            }
        )
    # round attribution: a "round N:" commit archives round N's gate
    # snapshot; anything committed after it (until "round N+1:") ran
    # during round N+1's work period — judged against the FULL history's
    # round markers, since driver commits need not touch .benchmarks/
    for e in entries:
        m = DRIVER_RE.match(e["subject"])
        if m:
            e["round"] = int(m.group(1))
            e["kind"] = "driver-gate"
        else:
            e["round"] = closed_at.get(e["commit"], 0) + 1
            e["kind"] = "local"
    return entries


def enrich(entries: list[dict]) -> list[dict]:
    """Attach headline/row-count fields from each snapshot's contents.

    The parsed document is cached on the entry under ``_doc`` (stripped
    before the manifest is written) so ``trend`` reuses this single parse
    instead of re-reading every file — which also closes the race where a
    file truncated between the two passes raised an uncaught SystemExit.
    """
    for e in entries:
        path = os.path.join(REPO, e["file"])
        if not os.path.exists(path):  # deleted later in history
            e["missing"] = True
            continue
        try:
            doc = bench_diff.load_snapshot(path)
        except (SystemExit, ValueError):
            # SystemExit: no usable snapshot inside; ValueError: truncated
            # or non-JSON file (json.JSONDecodeError subclasses it)
            e["unparseable"] = True
            continue
        e["_doc"] = doc
        e["metric"] = doc.get("metric")
        e["headline"] = doc.get("value")
        # load-robust companion + recorded steal (r16+ snapshots; absent
        # on older files) — kept on the manifest entry so a trend reader
        # can read a spike against the snapshot's own evidence
        if doc.get("value_min") is not None:
            e["headline_min"] = doc["value_min"]
        steal = ((doc.get("host_load") or {}).get("run") or {}).get(
            "steal_frac"
        )
        if steal is not None:
            e["run_steal_frac"] = steal
        e["total_warm"] = doc.get("total_query_sec")
        e["n_queries"] = len(doc.get("queries", {}))
    return entries


def trend(entries: list[dict], sf: float) -> list[dict]:
    """Chain consecutive-pair medians over one sf tier's snapshots.

    Expects entries pre-processed by :func:`enrich` (which attaches the
    parsed snapshot under ``_doc``). Entries that were never enriched —
    no ``_doc`` and not already marked ``missing``/``unparseable`` — are
    enriched here defensively, so callers passing raw
    :func:`snapshot_history` output still get a populated trend instead
    of a silently empty one. Only tier-matching entries are probed, and
    the defensive enrich runs on shallow copies: trend() never mutates
    its input (callers serializing the same list afterward see exactly
    what they passed in). Consequence of that side-effect freedom:
    missing/unparseable marks discovered during the defensive pass are
    discarded with the copies, so a caller invoking trend() repeatedly on
    the same raw list re-stats and re-parses every snapshot each call —
    callers that want the parse cached (and the marks recorded) should
    call :func:`enrich` on the list once and pass the enriched result.
    """
    tier = []
    for e in entries:
        if e.get("sf") != sf or e.get("missing") or e.get("unparseable"):
            continue
        if "_doc" not in e:
            e = dict(e)  # defensive enrich below must not touch the caller's entry
        tier.append(e)
    raw = [e for e in tier if "_doc" not in e]
    if raw:
        enrich(raw)
    tier = [e for e in tier if "_doc" in e]
    rows: list[dict] = []
    prev_doc = None
    cum = 1.0
    for e in tier:
        doc = e["_doc"]
        row = {
            "file": os.path.basename(e["file"]),
            "round": e["round"],
            "kind": e["kind"],
            "metric": e.get("metric"),
            "headline": e.get("headline"),
            "total_warm": e.get("total_warm"),
            "n_queries": e.get("n_queries"),
        }
        if e.get("headline_min") is not None:
            row["headline_min"] = e["headline_min"]
        if e.get("run_steal_frac") is not None:
            row["run_steal_frac"] = e["run_steal_frac"]
        if prev_doc is not None:
            d = bench_diff.diff(prev_doc, doc)
            med = d["median_warm_ratio"]
            row["median_vs_prev"] = med
            row["median_from_noise"] = d["median_from_noise_fallback"]
            if med == med and med > 0:  # not NaN
                cum *= med
        row["cum_box_factor"] = round(cum, 3)
        if row["headline"] is not None and cum > 0:
            row["headline_box_adjusted"] = round(row["headline"] / cum, 4)
        rows.append(row)
        prev_doc = doc
    return rows


def format_row(r: dict) -> str:
    """One human-table line for a trend row."""
    med = r.get("median_vs_prev")
    noise = "~" if r.get("median_from_noise") else ""
    # fixed-width min/steal slots BEFORE the filename ('-' for
    # pre-r16 rows) so columns stay aligned and the key stat isn't
    # pushed past the longest field (ADVICE r16)
    hmin = r.get("headline_min")
    steal = r.get("run_steal_frac")
    return (
        f"  {('r' + str(r['round'])):>6} {r['kind']:<11} "
        f"{r['headline'] if r['headline'] is not None else '-':>9} "
        f"{(str(med) + noise) if med is not None else '-':>9} "
        f"{r['cum_box_factor']:>7} "
        f"{r.get('headline_box_adjusted', '-'):>8} "
        f"{hmin if hmin is not None else '-':>7} "
        f"{steal if steal is not None else '-':>6}  {r['file']}"
    )


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--json", action="store_true")
    ap.add_argument("--no-manifest", action="store_true")
    args = ap.parse_args(argv)

    entries = enrich(snapshot_history())
    if not args.no_manifest:
        manifest_path = os.path.join(REPO, ".benchmarks", "MANIFEST.json")
        public = [
            {k: v for k, v in e.items() if not k.startswith("_")}
            for e in entries
        ]
        with open(manifest_path, "w") as fh:
            json.dump({"snapshots": public}, fh, indent=1, sort_keys=True)
            fh.write("\n")

    rows = trend(entries, args.sf)
    if args.json:
        print(json.dumps({"sf": args.sf, "trend": rows}))
        return 0

    if not args.no_manifest:
        print(f"manifest: .benchmarks/MANIFEST.json ({len(entries)} snapshots)")
    print(
        f"sf{args.sf} trend ({len(rows)} snapshots; cum = chained median "
        "warm ratio vs FIRST snapshot's box; adj = headline / cum):"
    )
    print(
        f"  {'round':>6} {'kind':<11} {'headline':>9} {'med/prev':>9} "
        f"{'cum':>7} {'adj':>8} {'min':>7} {'steal':>6}  file"
    )
    for r in rows:
        print(format_row(r))
    metrics = {r["metric"] for r in rows}
    if len(metrics) > 1:
        print(
            "note: headline metric changed across snapshots "
            f"({', '.join(sorted(m for m in metrics if m))}) — compare adj "
            "only within one metric's span"
        )
    return 0


if __name__ == "__main__":
    try:
        raise SystemExit(main(sys.argv[1:]))
    except BrokenPipeError:
        # downstream `| head` closed the pipe — normal CLI usage
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        raise SystemExit(0)
