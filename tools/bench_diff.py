"""Round-over-round bench comparison: per-query ratios + headline deltas.

Usage:
    python tools/bench_diff.py [OLD.json] [NEW.json]

With no arguments, compares the two newest ``.benchmarks/*_sf0.1.json``
snapshots. Accepts either a raw bench snapshot (``BENCH_RESULT.json`` /
``.benchmarks/*``) or a driver artifact (``BENCH_r{N}.json``, which wraps
the snapshot under ``"parsed"`` — possibly with a truncated ``queries``
summary, in which case only the overlapping rows are compared).

When both snapshots carry Spark's counters (``queries_profile`` and
``kmeans_profile``, written by bench.py), a row is called a REGRESSION
only from those counters — see ``call``; wall time and process-tree CPU
are printed beside each call as corroboration. Older snapshots get no
calls, only the wall ranking below.

The wall ranking's key output is the MEDIAN warm ratio across the
shared query rows of sizable runtime (>= MIN_SEC in either run;
sub-MIN_SEC rows are timer noise and synthetic ``_kmeans_*`` grid rows
are reported separately):
this repo's queries are code-stable across most rounds, so a median far
from 1.0 means the BOX was slower/faster, not the code — individual-row
swings should be read against that baseline before chasing a
"regression" (the r6→r8 MinHash swings were exactly this). The
"box-adjusted new headline" divides the new headline by that median so
cross-round headline deltas cancel the box factor.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import COUNTS  # noqa: E402

# rows slower than this many seconds in EITHER run are worth naming in
# the ranked output; faster rows are pure noise at sf0.1
MIN_SEC = 0.05


def load_snapshot(path: str) -> dict:
    with open(path) as fh:
        doc = json.load(fh)
    # driver artifact wrapper: {"n":..., "tail":..., "parsed": {...}}
    # (a failed driver parse records "parsed": null — and the file itself
    # may be any JSON value, so type-check before membership tests)
    if isinstance(doc, dict) and isinstance(doc.get("parsed"), dict):
        doc = doc["parsed"]
    if not isinstance(doc, dict) or "queries" not in doc:
        raise SystemExit(f"{path}: no usable bench snapshot inside")
    return doc


def newest_two() -> tuple[str, str]:
    snaps = sorted(glob.glob(os.path.join(REPO, ".benchmarks", "*_sf0.1.json")))
    if len(snaps) < 2:
        raise SystemExit("need two .benchmarks/*_sf0.1.json snapshots")
    return snaps[-2], snaps[-1]


def _end_to_end_bound(name: str) -> float:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return next(m["bound"] for m in spec["end_to_end"] if m["name"] == name)


# a row's min executor CPU may rise by this fraction before it is called:
# the repo benchmark's own bound on warm process-tree CPU
CPU_BOUND = _end_to_end_bound("warm_cpu_s")
# ...and only rows with this much executor CPU in the old run are called
# on CPU: between two sf0.1 runs of the same code on a 4-core VM, the min
# executor CPU of rows under 1 s moved 0.58-1.96x, often with both warm
# reps on one side; rows above 1 s moved 0.80-1.02x
MIN_CPU_S = 1.0


def profiles(doc: dict) -> dict | None:
    """Row -> profile over the queries and the k-means grid (whose rows
    share their names with ``kmeans_spreads``); None for a snapshot
    written before bench.py recorded Spark's counters."""
    if "queries_profile" not in doc:
        return None
    return {**doc["queries_profile"], **doc.get("kmeans_profile", {})}


def call(old: dict, new: dict, box: float = 1.0) -> str | None:
    """Why row profile ``new`` is a regression against ``old``, or None.

    A stable count (COUNTS, equal over each run's warm reps) that grew is
    a regression on its own. Otherwise the row needs at least MIN_CPU_S
    of executor CPU in the old run, and its old reps are scaled by the
    ``box`` factor (see cpu_box): the new min must lie more than
    CPU_BOUND above the scaled old min, and every new rep above every
    scaled old one."""
    if old["counts_stable"] and new["counts_stable"]:
        grew = [f"{k} {old[k]} -> {new[k]}" for k in COUNTS if new[k] > old[k]]
        if grew:
            return ", ".join(grew)
    oc, nc = old["executor_cpu_s_reps"], new["executor_cpu_s_reps"]
    scaled = [c * box for c in oc]
    if (min(oc) >= MIN_CPU_S and min(nc) > min(scaled) * (1 + CPU_BOUND)
            and min(nc) > max(scaled)):
        return (f"min executor CPU {min(oc)} -> {min(nc)} s at box factor "
                f"{box:.3f}, every new rep above every scaled old one")
    return None


def cpu_box(po: dict, pn: dict) -> float:
    """Median new/old ratio of min executor CPU over the shared rows with
    at least MIN_SEC of it. A shared host moves CPU time, not only wall
    time: over four sf0.1 runs of the same package code on a 4-core VM
    this factor read 0.81-1.24 and tracked the wall-time box factor
    within 0.06, and unscaled, the CPU call named a grid row in 3 of the
    12 ordered pairs."""
    ratios = [
        min(pn[r]["executor_cpu_s_reps"]) / min(po[r]["executor_cpu_s_reps"])
        for r in set(po) & set(pn)
        if min(po[r]["executor_cpu_s_reps"]) >= MIN_SEC
    ]
    return statistics.median(ratios) if ratios else 1.0


def regressions(old: dict, new: dict) -> dict[str, str] | None:
    """Row -> reason for every row both profiles share that ``call``
    calls; None when either snapshot has no profile."""
    po, pn = profiles(old), profiles(new)
    if po is None or pn is None:
        return None
    box = cpu_box(po, pn)
    out = {}
    for row in sorted(set(po) & set(pn)):
        why = call(po[row], pn[row], box)
        if why:
            out[row] = why
    return out


def row_wall(doc: dict, row: str) -> float | None:
    """Warm wall of a profiled row: the query's min-of-warm-reps, or the
    fastest rep of a k-means grid fit."""
    spread = (doc.get("kmeans_spreads") or {}).get(row)
    return min(spread) if spread else doc["queries"].get(row)


def diff(old: dict, new: dict) -> dict:
    qo, qn = old["queries"], new["queries"]
    shared = [
        k
        for k in qn
        if k in qo and qo[k] > 0 and qn[k] > 0  # -1 marks an errored row
    ]
    # bench.py injects synthetic "_kmeans_*" grid rows alongside the real
    # query rows; keep them out of the query-only median (it is read as
    # the box baseline) and report them on their own line instead
    qshared = [k for k in shared if not k.startswith("_")]
    grid = {k: qn[k] / qo[k] for k in shared if k.startswith("_")}
    # grid rows with no computable ratio — present on one side only (a
    # rename, or truncated out of a driver artifact) or errored (-1):
    # surfaced on the grid line as =n/a / =err so a broken grid bench is
    # visible instead of silently vanishing from every output section
    grid_bad = {}
    for k in sorted(set(qo) | set(qn)):
        if not k.startswith("_") or k in grid:
            continue
        vals = [v for v in (qo.get(k), qn.get(k)) if v is not None]
        grid_bad[k] = "err" if any(v < 0 for v in vals) else "n/a"
    ratios = {k: qn[k] / qo[k] for k in qshared}
    sizable = {k: r for k, r in ratios.items() if max(qo[k], qn[k]) >= MIN_SEC}
    ranked = sorted(sizable.items(), key=lambda kv: -kv[1])
    # the box-baseline median uses the same noise model as the rankings:
    # sub-MIN_SEC rows are timer noise, and on a truncated/tiny-sf
    # snapshot they would dominate an all-rows median that the output
    # tells users to treat as the code-attributable divisor
    med_src = sizable if sizable else ratios
    med = statistics.median(med_src.values()) if med_src else float("nan")
    # when NO shared row is sizable, the median comes from pure timer
    # noise — still printed (it is all the data there is) but flagged so
    # the box-adjusted headline is not read as a reliable code signal
    med_from_noise = not sizable and bool(ratios)
    headline_old, headline_new = old.get("value"), new.get("value")
    # box-adjusted view: divide the new headline by the median query
    # ratio, so "the box was uniformly 1.24x slower" cancels out and the
    # residual delta is attributable to code
    adj = (
        round(headline_new / med, 4)
        if headline_new is not None and med == med and med > 0
        else None
    )
    return {
        "headline": {
            "old": headline_old,
            "new": headline_new,
            "new_box_adjusted": adj,
            "metric": new.get("metric"),
        },
        # min-of-reps companion headline (None on pre-r16 files)
        "headline_min": {
            "old": old.get("value_min"),
            "new": new.get("value_min"),
        },
        "regressions": regressions(old, new),
        "median_warm_ratio": round(med, 3),
        "median_from_noise_fallback": med_from_noise,
        "grid_ratios": {k: round(r, 3) for k, r in sorted(grid.items())},
        "grid_unratioed": grid_bad,
        "n_shared": len(qshared),
        # membership lists are query-only too: a grid row present in one
        # snapshot but truncated out of the other is not an added/removed
        # QUERY; one-sided/errored grid rows surface via grid_unratioed
        "added": sorted(k for k in set(qn) - set(qo) if not k.startswith("_")),
        "removed": sorted(k for k in set(qo) - set(qn) if not k.startswith("_")),
        "errored_new": sorted(
            k for k, v in qn.items() if v < 0 and not k.startswith("_")
        ),
        # a query errored only in the OLD run is excluded from `shared`
        # (no computable ratio) yet is in neither added nor removed — name
        # it so its "recovery" timing is read without an old baseline
        "errored_old": sorted(
            k for k, v in qo.items() if v < 0 and not k.startswith("_")
        ),
        "slowest_growth": [(k, round(r, 2)) for k, r in ranked[:8]],
        "best_improvement": [(k, round(r, 2)) for k, r in ranked[-8:][::-1]],
        "total_warm": (old.get("total_query_sec"), new.get("total_query_sec")),
        "total_cold": (
            old.get("total_query_sec_cold"),
            new.get("total_query_sec_cold"),
        ),
    }


def main(argv: list[str]) -> int:
    if len(argv) == 2:
        old_path, new_path = argv
    elif not argv:
        old_path, new_path = newest_two()
    else:
        print(__doc__, file=sys.stderr)
        return 2
    old, new = load_snapshot(old_path), load_snapshot(new_path)
    d = diff(old, new)
    print(f"old: {old_path}\nnew: {new_path}")
    h = d["headline"]
    print(f"headline {h['metric']}: {h['old']} -> {h['new']}")
    hm = d["headline_min"]
    if hm["old"] is not None or hm["new"] is not None:
        # pre-r16 snapshots have no value_min: render '-' not 'None'
        hm_old = hm["old"] if hm["old"] is not None else "-"
        hm_new = hm["new"] if hm["new"] is not None else "-"
        print(
            f"  min-of-reps headline: {hm_old} -> {hm_new}"
            "  (load-robust companion; a median far above its min "
            "is box noise, not code)"
        )
    noise_tag = (
        "  [UNRELIABLE: median from sub-MIN_SEC noise rows — no sizable "
        "shared row]"
        if d["median_from_noise_fallback"]
        else ""
    )
    if h.get("new_box_adjusted") is not None:
        print(
            f"  box-adjusted new headline: {h['new_box_adjusted']}"
            "  (new / median query ratio; compare THIS to old)" + noise_tag
        )
    regs = d["regressions"]
    if regs is None:
        print("regressions: n/a (a snapshot has no profile; wall ranking "
              "below only)")
    else:
        print(f"regressions (a stable count grew, or box-scaled executor "
              f"CPU rose >{CPU_BOUND:.0%}; see call): {len(regs)}")
        po, pn = profiles(old), profiles(new)
        for row, why in regs.items():
            # wall and tree CPU only corroborate the call
            wo, wn = row_wall(old, row), row_wall(new, row)
            to, tn = (min(p[row]["tree_cpu_s_reps"]) for p in (po, pn))
            wall_s = f"{wn / wo:.2f}x" if wo and wn else "-"
            tree_s = f"{tn / to:.2f}x" if to > 0 else "-"
            print(f"  {row}: {why}  [wall {wall_s}, tree CPU {tree_s}]")
    print(
        f"median warm ratio new/old over the sizable subset of "
        f"{d['n_shared']} shared query rows: {d['median_warm_ratio']}"
        "  (far from 1.0 on code-stable rounds = box speed, not code)"
        + noise_tag
    )
    if d["grid_ratios"] or d["grid_unratioed"]:
        entries = [f"{k}={r}" for k, r in d["grid_ratios"].items()] + [
            f"{k}={tag}" for k, tag in d["grid_unratioed"].items()
        ]
        print(
            "k-means grid ratios (reported separately, excluded from median): "
            + ", ".join(entries)
        )
    print(f"total warm: {d['total_warm'][0]} -> {d['total_warm'][1]}")
    print(f"total cold: {d['total_cold'][0]} -> {d['total_cold'][1]}")
    if d["errored_new"]:
        print(f"ERRORED in new: {d['errored_new']}")
    if d["errored_old"]:
        print(
            f"errored in OLD (ratio unavailable for these): {d['errored_old']}"
        )

    def _capped(rows):
        # a driver artifact's compact line truncates `queries` to the
        # slowest few rows, so added/removed can legitimately be ~100
        # names — cap the listing, the count is the signal
        head = ", ".join(rows[:10])
        more = f" (+{len(rows) - 10} more)" if len(rows) > 10 else ""
        return f"{len(rows)}: {head}{more}"

    if d["added"]:
        print(f"added rows {_capped(d['added'])}")
    if d["removed"]:
        print(f"removed rows {_capped(d['removed'])}")
    print("slowest growth (new/old):")
    for k, r in d["slowest_growth"]:
        print(f"  {r:>6.2f}x  {k}")
    print("best improvement (new/old):")
    for k, r in d["best_improvement"]:
        print(f"  {r:>6.2f}x  {k}")
    return 0


if __name__ == "__main__":
    try:
        raise SystemExit(main(sys.argv[1:]))
    except BrokenPipeError:
        # downstream `| head` closed the pipe — normal CLI usage
        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        raise SystemExit(0)
