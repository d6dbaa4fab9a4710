"""Time registry keys layer by layer: the build wall, the execute wall
and the Spark jobs each one starts.

    python -m tools.time_keys NAME ... [--n N] [--plans DIR]

A NAME is a registry key or a ``key:phase`` from ``bench.PHASE_SPLIT``.
Each name runs N times (default 3) with bench.py's own pieces: one
``bench.warm_up`` for the session, ``clearCache()`` before every rep and
``bench.run_query`` (the noop sink).  In a rep, a ``build`` span covers
the query function, which is the driver work done before the frame is
returned, and an ``execute`` span covers running the returned plan.  A
``key:phase`` rep first builds its split's scaffold in a ``scaffold``
span, which is reported but is not part of the total; ``build`` then
covers ``operate()``, and the split's cleanup runs after ``execute``.

Spark's event log is on for the whole session, and each open span is
the job group of the jobs started under it, so perfbench's event-log
join charges every job, task, executor CPU second, shuffle byte and
spill byte to its span.  The walls are therefore taken with the event
log on, which bench.py's are not.

Prints one JSON document on stdout: ``cpus``, ``master``, ``sf_dir``,
the Spark version and, per name, the min-of-N total (bench.py's
estimator), that rep's build and execute walls and Spark counters, and
every rep's total as ``samples``.  A name that raises is recorded with
its error and the run goes on; the exit status is then 1.  ``--plans
DIR`` writes each name's timed frame's ``explain("formatted")`` to
``DIR/<name>.txt``; for a before/after pair, run each checkout with its
own directory.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import PHASE_SPLIT, phases_fn, run_query, warm_up  # noqa: E402
from hivekudu_handler_spark.registry import load_all  # noqa: E402
from hivekudu_handler_spark.session import default_sf_dir, get_spark  # noqa: E402
from perfbench.spans import Tracer, parse_event_log  # noqa: E402

USAGE = "usage: python -m tools.time_keys NAME ... [--n N | --n=N] [--plans DIR]"
# executor-side counters summed over a rep's build and execute spans
COUNTERS = ("executor_cpu_s", "shuffle_write_bytes", "spill_bytes")


def parse_args(argv: list[str]) -> tuple[list[str], int, str | None]:
    """``(names, n, plans_dir)`` from the command line.  ``--n N`` or
    ``--n=N`` sets the repeat count (default 3) and ``--plans DIR`` the
    plan directory (default none).  A bare option consumes the next
    token, so its value never leaks into the names; any other option,
    or a missing or non-integer value, exits with the usage line."""
    names: list[str] = []
    opts: dict[str, str | None] = {"--n": "3", "--plans": None}
    it = iter(argv)
    for a in it:
        opt, eq, val = a.partition("=")
        if opt in opts:
            val = val if eq else next(it, None)
            if val is None:
                raise SystemExit(f"{opt} needs a value\n{USAGE}")
            opts[opt] = val
        elif a.startswith("--"):
            raise SystemExit(f"unknown option {a!r}\n{USAGE}")
        else:
            names.append(a)
    try:
        n = int(opts["--n"])
    except ValueError:
        raise SystemExit(f"--n takes an integer, got {opts['--n']!r}\n{USAGE}") from None
    return names, n, opts["--plans"]


def summarize(names: list[str], spans, groups: dict, errors: dict[str, str]) -> dict:
    """Per-name record from the tracer's spans (layer = name, kind =
    scaffold / build / execute, ``rep`` attribute) and
    ``parse_event_log``'s job groups.  The chosen rep is the one with
    the least build + execute wall, bench.py's min-of-N; its spans'
    groups give the Spark counters.  A name in ``errors`` is recorded
    with its error alone."""
    reps: dict[str, dict[int, dict]] = {}
    for s in spans:
        reps.setdefault(s.layer, {}).setdefault(s.attrs["rep"], {})[s.kind] = s
    out: dict[str, dict] = {}
    for name in names:
        if name in errors:
            out[name] = {"error": errors[name]}
            continue
        total = {r: k["build"].duration + k["execute"].duration for r, k in reps[name].items()}
        best = reps[name][min(total, key=total.get)]

        def grp(kind: str, counter: str):
            return groups.get(best[kind].id, {}).get(counter, 0)

        rec = {
            "total_s": round(min(total.values()), 3),
            "build_s": round(best["build"].duration, 3),
            "execute_s": round(best["execute"].duration, 3),
            "build_jobs": grp("build", "jobs"),
            "execute_jobs": grp("execute", "jobs"),
            "execute_tasks": grp("execute", "tasks"),
        }
        for c in COUNTERS:
            rec[c] = round(grp("build", c) + grp("execute", c), 3)
        if "scaffold" in best:
            rec["scaffold_s"] = round(best["scaffold"].duration, 3)
            rec["scaffold_jobs"] = grp("scaffold", "jobs")
        rec["samples"] = [round(total[r], 3) for r in sorted(total)]
        out[name] = rec
    return out


def time_name(spark, tracer: Tracer, specs, sf_dir: str, name: str, n: int, plans: str | None):
    """Run ``name`` ``n`` times inside spans.  With ``plans``, each rep
    writes its frame's formatted plan, before the split's cleanup, to
    ``plans/<name>.txt``, so the last rep's plan is kept."""
    key, phase, label = name.partition(":")
    if phase and PHASE_SPLIT[key][2] != label:
        raise KeyError(f"{key}'s phase is {PHASE_SPLIT[key][2]!r}, not {label!r}")
    for rep in range(n):
        spark.catalog.clearCache()
        build, cleanup = (lambda: specs[key].fn(spark, sf_dir)), (lambda: None)
        if phase:
            with tracer.span(name, "scaffold", rep=rep):
                build, cleanup = phases_fn(key)(spark, sf_dir)
        try:
            with tracer.span(name, "build", rep=rep):
                df = build()
            with tracer.span(name, "execute", rep=rep):
                run_query(df)
            if plans:
                os.makedirs(plans, exist_ok=True)
                with open(os.path.join(plans, f"{name}.txt"), "w") as f, redirect_stdout(f):
                    df.explain("formatted")
        finally:
            cleanup()


def main(argv: list[str]) -> int:
    names, n, plans = parse_args(argv)
    names = list(dict.fromkeys(names))
    if not names or n < 1:
        raise SystemExit(USAGE)
    sf_dir = default_sf_dir()
    log_dir = tempfile.mkdtemp(prefix="time_keys_eventlog_")
    try:
        spark = get_spark("time-keys", extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        sc = spark.sparkContext
        tracer = Tracer(lambda gid: sc.setLocalProperty("spark.jobGroup.id", gid))
        specs = load_all()
        warm_up(spark)
        errors: dict[str, str] = {}
        for name in names:
            t0 = time.perf_counter()
            try:
                time_name(spark, tracer, specs, sf_dir, name, n, plans)
            except Exception as e:  # noqa: BLE001 - recorded, the run goes on
                traceback.print_exc()
                errors[name] = f"{type(e).__name__}: {e}"[:500]
            status = errors.get(name, "ok")
            print(f"  {name}: {time.perf_counter() - t0:.1f}s {status}", file=sys.stderr, flush=True)
        head = {"cpus": sc.defaultParallelism, "master": sc.master, "sf_dir": sf_dir,
                "spark": spark.version, "n": n}
        app_id = sc.applicationId
        spark.stop()  # flushes and closes the event log
        groups = parse_event_log(os.path.join(log_dir, app_id))
    finally:
        shutil.rmtree(log_dir, ignore_errors=True)
    print(json.dumps({**head, "keys": summarize(names, tracer.spans, groups, errors)}, indent=1))
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
