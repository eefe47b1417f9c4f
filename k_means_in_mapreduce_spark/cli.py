"""Drop-in CLI mirroring the reference's invocation surface.

The reference runs as
``hadoop jar kmeans.jar it.unipi.hadoop.KMeans <input> <k> <max_iter>
<output> <dim> <epsilon> <num_reducer>`` (``KMeans.java:96-109``); this
module accepts the SAME seven positional arguments so a reference user
can switch by replacing the ``hadoop jar`` prefix with
``python -m k_means_in_mapreduce_spark``:

- ``input``: text file/dir of ``<x1, x2, ...>`` lines (``KMeans.java:261-274``)
- ``k`` / ``max_iter`` / ``epsilon``: the Lloyd loop controls (C2/C3)
- ``output``: directory; receives the final centroids as
  ``clusterId<TAB><c1, c2, ...>`` text lines (``KMeans.java:90,148-150``)
  plus a structured ``_run_report.json``; a cumulative ``outputsLog.txt``
  line is appended BESIDE the output dir (C6,
  ``KMeans.java:119-127,189-193`` — the reference appends in its working
  directory; inside the output dir it would be wiped by the next run's
  overwrite)
- ``dim``: the Arrow parse (``sources.text_points.point_parse``) makes
  a line that is not exactly ``dim`` numbers, or has a malformed token, a
  NULL vector, which the fit's first job refuses: exit code 1 (the
  reference trusts each line's arity, ``Point.java:26``, and dies on a
  malformed token, ``KMeans.java:269``)
- ``num_reducer``: becomes ``spark.sql.shuffle.partitions``
  (``KMeans.java:133`` setNumReduceTasks)

Documented deltas from the reference (SURVEY §2.11 latent bugs are NOT
reproduced): init is SEEDED (env ``SPARK_GRAFT_SEED``, default 42 —
the reference's unseeded ``Random`` makes runs unrepeatable), exactly
``max_iter`` iterations may run (the reference's ``iter=1`` +
``while (iter < MAX_ITER)`` runs at most ``max_iter - 1``), and the final
centroids are written once instead of one directory per iteration (the
per-iteration text feedback loop dissolves into driver state).

``--fidelity`` restores the reference's per-iteration ``<output><i>``
directories, with one further documented delta: ``i`` numbers COMPLETED
UPDATE iterations. An empty-cluster re-init iteration (C4) produces no
centroid snapshot, so it gets no directory and shifts the numbering
relative to a reference run that hit the same event — the CLI warns on
stderr when that happens (true-raw-index numbering would need
per-iteration event metadata from the fit loop; the update-step indexing
is stable and is what a centroid-trajectory diff wants).
"""

from __future__ import annotations

import json
import os
import sys


USAGE = (
    "usage: python -m k_means_in_mapreduce_spark "
    "<input> <k> <max_iter> <output> <dim> <epsilon> <num_reducer> "
    "[--fidelity]"
)


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    # --fidelity: also write each iteration's centroids to <output><iter>
    # (1-based), reproducing the reference's per-iteration output
    # directories (KMeans.java:148, `output + iter`) for users diffing a
    # run against reference outputs. Default stays final-centroids-only.
    fidelity = "--fidelity" in argv
    argv = [a for a in argv if a != "--fidelity"]
    if len(argv) != 7:
        print(USAGE, file=sys.stderr)
        return 2
    try:
        inp, k, max_iter, out, dim, epsilon, num_reducer = (
            argv[0],
            int(argv[1]),
            int(argv[2]),
            argv[3],
            int(argv[4]),
            float(argv[5]),
            int(argv[6]),
        )
    except ValueError as ex:
        print(f"bad argument: {ex}\n{USAGE}", file=sys.stderr)
        return 2
    if k <= 0 or max_iter <= 0 or dim <= 0 or num_reducer <= 0:
        print(f"arguments must be positive\n{USAGE}", file=sys.stderr)
        return 2
    if epsilon < 0:
        # a negative tolerance can never be reached by Σ‖Δc‖₂ >= 0: the
        # fit would silently burn max_iter iterations — reject like the
        # other arguments (0 is legal: "run exactly max_iter iterations")
        print(f"epsilon must be >= 0\n{USAGE}", file=sys.stderr)
        return 2

    from .session import get_session
    from .sources.text_points import point_parse, text_lines

    seed = int(os.environ.get("SPARK_GRAFT_SEED", "42"))
    spark = get_session(
        app_name="kmeans-cli", shuffle_partitions=num_reducer
    )
    # builder configs are ignored when a session already exists (notebook /
    # embedded use); shuffle partitions is runtime-settable, so apply the
    # num_reducer mapping unconditionally (KMeans.java:133)
    spark.conf.set("spark.sql.shuffle.partitions", str(num_reducer))

    # the parse makes a line that is not exactly `dim` numbers a NULL
    # vector, which the fit's first job counts and refuses; a one-task fit
    # parses in that job's own task, and other fits cache the parse
    return _run_fit(
        text_lines(spark, inp), point_parse(dim), spark, k, dim, max_iter,
        epsilon, seed, inp, out, fidelity,
    )


def _format_vetted(base_path: str, touchable: set[int]) -> str:
    """The pre-flight's one-line disclosure of every pre-existing
    ``<output><i>`` entry it vetted as overwrite/sweep-eligible.
    Contiguous index runs collapse to shell-brace style ``<base>{a..b}``
    (``<base>a..<base>b`` glued absolute paths together: ``/tmp/res1..
    /tmp/res3`` read as one path with a ``..`` component — ADVICE r9) so a
    previous 1000-iteration run reads as one span instead of 1000 paths — but
    every index is REPRESENTED (a truncating cap would destroy entries
    it never named, defeating the disclosure); only a pathological
    alternating-gap layout overflows the 20-span cap, and the summary
    then still reports the exact count it could not name."""
    shown = sorted(touchable)
    spans: list[tuple[int, int]] = []
    for i in shown:
        if spans and i == spans[-1][1] + 1:
            spans[-1] = (spans[-1][0], i)
        else:
            spans.append((i, i))
    named = ", ".join(
        f"{base_path}{a}" if a == b else f"{base_path}{{{a}..{b}}}"
        for a, b in spans[:20]
    )
    rest = sum(b - a + 1 for a, b in spans[20:])
    more = f" (+{rest} more entries)" if rest else ""
    return (
        "--fidelity: pre-existing per-iteration entries vetted as run "
        "output and eligible for overwrite/sweep: " + named + more
    )


def _looks_like_run_output(path: str) -> bool:
    """True when ``path`` is a directory holding a previous run's Spark
    text output (_SUCCESS marker or part- files) — the ONLY thing the
    --fidelity pre-flight will allow to be overwritten and the stale
    sweep will allow to be removed. Shared by both sites so the
    accept/remove predicates can never drift apart."""
    if not os.path.isdir(path):
        return False  # a plain FILE at <out><i> is never run output
    entries = os.listdir(path)
    return "_SUCCESS" in entries or any(
        e.startswith("part-") for e in entries
    )


def _write_centroid_text(spark, centroids, path) -> None:
    """Reference TextOutputFormat shape: '<clusterId>\\t<c1, c2, ...>'
    (KMeans.java:90,150; Point.java:96-106)."""
    from pyspark.sql import functions as F

    from .functions.vector import literal_table
    from .sources.text_points import format_points

    cents = literal_table(
        spark,
        [{"cluster_id": i, "features": [float(x) for x in c]}
         for i, c in enumerate(centroids)],
        "cluster_id int, features array<double>",
    )
    lines = format_points(cents).select(
        F.concat_ws("\t", F.col("cluster_id").cast("string"), "point_str").alias(
            "value"
        )
    )
    lines.coalesce(1).write.mode("overwrite").text(path)


def _run_fit(
    lines, parse, spark, k, dim, max_iter, epsilon, seed, inp, out,
    fidelity=False,
) -> int:
    from .operators.kmeans_df import KMeansConfig, TooFewRows, fit

    # --fidelity pre-flight, BEFORE any Spark work: every pre-existing
    # local <output><i> dir will either be overwrite-written (i <= final
    # iteration count) or swept (stale from a longer previous run) — both
    # destroy it. Refuse up front unless each looks like a previous run's
    # centroid output (_SUCCESS / part-* files), so an unrelated user
    # directory matching the numeric-suffix naming is never clobbered and
    # the failure costs nothing (the reference likewise fails on existing
    # output before running, KMeans.java:139-146).
    touchable: set[int] = set()
    if fidelity and "://" not in out:
        # the touchable index set: overwrite reaches every i <= the final
        # iteration count (<= max_iter) even across gaps; the stale sweep
        # removes the REST of the touchable set beyond final — so the
        # indices to vet are 1..max_iter plus the contiguous run beyond
        # it, and nothing else (a dir like <out>2024 beyond a gap is
        # untouched and must not block the run). List the parent
        # directory ONCE and intersect with that set — a per-index
        # isdir() loop would stat max_iter paths and stall the CLI for a
        # large max_iter before any work.
        import re

        base_path = out.rstrip("/")
        parent = os.path.dirname(os.path.abspath(base_path)) or os.sep
        base = os.path.basename(base_path)
        try:
            siblings = os.listdir(parent)
        except (FileNotFoundError, NotADirectoryError):
            siblings = []  # parent doesn't exist yet: nothing to clobber
        except OSError as ex:
            # an unreadable parent (EACCES etc.) means the clobber guard
            # CANNOT vet anything — refuse rather than silently waving
            # the run through a disabled guard
            print(
                f"--fidelity: cannot list {parent!r} to vet pre-existing "
                f"<output><i> entries ({ex}); fix permissions or run "
                "without --fidelity",
                file=sys.stderr,
            )
            return 1
        # the run only ever touches '<base><i>' with i rendered by str(int)
        # — no leading zeros, no index 0 — so 'out007'/'out0' never match.
        # Plain FILES at matching names are vetted too: Spark's overwrite
        # write destroys a file just as thoroughly as a dir.
        suffix_re = re.compile(re.escape(base) + r"([1-9][0-9]*)$")
        existing = {
            int(m.group(1))
            for e in siblings
            if (m := suffix_re.fullmatch(e))
        }
        touchable = {n for n in existing if n <= max_iter}
        n = max_iter + 1
        while n in existing:  # the sweep's contiguous walk past max_iter
            touchable.add(n)
            n += 1
        for i in sorted(touchable):
            path = f"{base_path}{i}"
            if not _looks_like_run_output(path):
                print(
                    f"--fidelity: refusing to run: {path!r} exists "
                    "and does not look like a previous run's centroid "
                    "output (no _SUCCESS/part-* files) — it would be "
                    "overwritten or swept; remove or rename it first",
                    file=sys.stderr,
                )
                return 1
        if touchable:
            # name what the vet waved through BEFORE anything is
            # destroyed: a foreign sibling output that happens to match
            # the numeric-suffix naming AND look like run output (has
            # _SUCCESS/part-*) passes the vet silently — this line is the
            # user's one chance to spot it and abort
            print(_format_vetted(base_path, touchable), file=sys.stderr)

    # Fail fast like the reference (NumberFormatException kills the job,
    # KMeans.java:269): a line with a non-numeric token or not exactly
    # `dim` numbers is a NULL vector, and fit refuses those in its first job
    try:
        model = fit(
            lines,
            KMeansConfig(k=k, max_iter=max_iter, tol=epsilon, seed=seed),
            parse=parse,
        )
    except TooFewRows as ex:
        held = f"{ex.n} point(s)" if ex.n else "no points"
        print(f"invalid input: {inp} holds {held}, fewer than k={k}",
              file=sys.stderr)
        return 1
    except ValueError as ex:
        print(
            f"invalid input: {ex} (each line must be exactly dim={dim} "
            "numbers)",
            file=sys.stderr,
        )
        return 1

    # final centroids in the reference's TextOutputFormat shape
    _write_centroid_text(spark, model.centroids, out)
    sweep_refused = False
    if fidelity:
        # one directory per completed update iteration, 1-based like the
        # reference's `output + iter` (KMeans.java:148). Empty-cluster
        # re-init iterations (C4) produce no centroid snapshot, so they
        # get no directory and shift the numbering relative to a
        # reference run that hit the same event — warn so a user diffing
        # per-iteration output knows the indices are update-steps only.
        if model.reinit_count:
            print(
                f"--fidelity: {model.reinit_count} empty-cluster re-init "
                "iteration(s) produced no snapshot; <output><i> numbers "
                "completed update iterations, not raw iteration indices",
                file=sys.stderr,
            )
        for i, snap in enumerate(model.centroid_history, start=1):
            _write_centroid_text(spark, snap, f"{out.rstrip('/')}{i}")
        # a previous LONGER run on the same output path left higher-
        # numbered dirs; remove them or a user diffing per-iteration
        # output reads two runs' centroids as one (the reference fails
        # loudly on pre-existing dirs; we overwrite, so we must sweep).
        # The sweep is local-filesystem-only (os/shutil): on a URI
        # output (hdfs://, s3a://) skip it with a warning instead of
        # silently leaving stale dirs unmentioned.
        if "://" in out:
            print(
                "--fidelity: output is a URI; stale higher-numbered "
                "per-iteration dirs from a previous longer run are NOT "
                "swept (local paths only) — remove them manually",
                file=sys.stderr,
            )
        else:
            import shutil

            final = len(model.centroid_history)
            # sweep domain = every pre-flight-vetted touchable index past
            # the final snapshot (INCLUDING gapped ones <= max_iter — a
            # contiguous-only walk would stop at the first gap and leave
            # higher run-output dirs mixed with this run's), plus the
            # contiguous walk from final+1 for dirs that appeared after
            # pre-flight (e.g. a concurrent longer run).
            stale_idx = {n for n in touchable if n > final}
            n = final + 1
            while os.path.isdir(f"{out.rstrip('/')}{n}"):
                stale_idx.add(n)
                n += 1
            for i in sorted(stale_idx):
                stale = f"{out.rstrip('/')}{i}"
                if not os.path.exists(stale):
                    continue  # vetted pre-flight, removed meanwhile
                # only delete what a previous run plausibly wrote: a
                # Spark text output dir (_SUCCESS marker or part- files).
                # An unrelated user path that happens to match the
                # numeric-suffix naming must never be destroyed — this
                # re-check catches entries changed since pre-flight
                # (TOCTOU): the fit already succeeded and the centroids +
                # per-iteration dirs are on disk, so don't abandon the
                # run report/log on a refusal — warn, keep sweeping the
                # rest, and exit non-zero so the survivors get attention.
                if not _looks_like_run_output(stale):
                    print(
                        f"--fidelity: refusing to remove {stale!r}: it "
                        "does not look like a previous run's centroid "
                        "output (no _SUCCESS/part-* files); remove or "
                        "rename it manually. The fit succeeded and its "
                        "centroid outputs were already written; "
                        "_run_report.json/outputsLog.txt follow, but "
                        "this stale entry remains unswept",
                        file=sys.stderr,
                    )
                    sweep_refused = True
                    continue
                shutil.rmtree(stale)

    report = model.report()
    report.update({"input": inp, "output": out, "seed": seed})
    # os-level writes can't address a URI output (hdfs://, s3a://): the
    # centroids land remotely via the Spark writer, but the report and
    # cumulative log fall back to the CURRENT WORKING DIRECTORY — which
    # is where the reference keeps outputsLog.txt anyway (it appends in
    # its working dir, KMeans.java:189-193)
    is_uri = "://" in out
    if is_uri:
        report_dir = os.getcwd()
        print(
            f"output is a URI; writing _run_report.json and "
            f"outputsLog.txt to the working directory {report_dir!r}",
            file=sys.stderr,
        )
    else:
        report_dir = out
    with open(os.path.join(report_dir, "_run_report.json"), "w") as fh:
        json.dump(report, fh, indent=1, sort_keys=True)
    # the reference's cumulative outputsLog.txt (KMeans.java:119-127,
    # 189-193): append OUTSIDE the output dir — the overwrite text sink
    # wipes <output> at the start of every run, so a log inside it could
    # never accumulate across runs (for a URI output both files already
    # live in the working dir, beside nothing that gets wiped)
    log_path = (
        os.path.join(report_dir, "outputsLog.txt")
        if is_uri
        else os.path.join(
            os.path.dirname(os.path.abspath(out.rstrip("/"))),
            "outputsLog.txt",
        )
    )
    with open(log_path, "a") as fh:
        fh.write(
            f"k={k} dim={dim} epsilon={epsilon} iterations={report['iterations']} "
            f"converged={report['converged']} "
            f"final_movement={report['final_movement']} "
            f"wall_sec={report['wall_sec']:.3f}\n"
        )
    return 1 if sweep_refused else 0
