"""Mechanical per-key bench regression check (r18 verdict item 8).

Turns the prose regression policy (BENCH_NOTES.md "Regression policy
(r15)") plus the r18 loadavg telemetry into a computed verdict:

* **band**: a key regresses only when its candidate timing exceeds
  ``1.5 x best-quiet-reference + 0.3 s`` — the band every round's
  adjudication has applied by hand.  The +0.3 s absolute floor encodes
  the policy's corollary that a sub-second delta is never evidence.
* **load gate**: bench.py records the 1-minute load average sampled
  right after each query (``loadavg_1m``).  The bench itself saturates
  local[32], so "load > 0" means nothing — the contention signal is a
  key sampled FAR ABOVE the run's own median.  A key whose delta
  exceeds the band but whose sampled load sits more than
  ``--load-margin`` (default 4.0) above the run median is EXCUSED as
  ambient contention, not flagged: it needs a re-run, not a bisect.

Reference = per-key MINIMUM across the given reference records
(defaults to every ``tools/bench_history/*quiet*.json``) — the "best
quiet-round record" the policy names.  Keys new in the candidate have
no reference and are reported separately (first record = their initial
band, per the per-round notes' convention).

Records taken on different core counts are not comparable: when the
candidate and a reference record both carry ``cpus`` and they differ, the
comparison is refused with both counts named (exit status 2), the way
``perfbench/compare.py`` refuses mismatched hosts.

Usage:
    python -m tools.bench_compare BENCH_LOCAL.json
    python -m tools.bench_compare CAND.json REF1.json REF2.json
Exit status 1 when any key is flagged (band exceeded at quiet load).
"""

from __future__ import annotations

import glob
import json
import os
import sys

BAND_RATIO = 1.5
BAND_FLOOR_S = 0.3


def _load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def best_reference(paths: list[str]) -> dict[str, float]:
    """Per-key minimum timing across the reference records."""
    best: dict[str, float] = {}
    for p in paths:
        rec = _load(p)
        for k, v in rec.get("queries", {}).items():
            if k not in best or v < best[k]:
                best[k] = v
    return best


def cpus_refusal(candidate: dict, references: dict[str, dict]) -> str | None:
    """Why ``candidate`` must not be compared with the reference records
    (``{path: record}``): one was taken on a different core count.  A
    record without ``cpus`` is not refused."""
    want = candidate.get("cpus")
    for path, rec in references.items():
        got = rec.get("cpus")
        if want is not None and got is not None and got != want:
            return f"{path} ran on {got} cpus, the candidate on {want}"
    return None


def compare(
    candidate: dict,
    reference: dict[str, float],
    load_margin: float = 4.0,
) -> dict:
    """Classify every candidate key: ok / flagged / excused / new.

    ``flagged``: band exceeded AND the key's sampled 1-minute load is
    within ``load_margin`` of the run's median — the slowdown happened
    at the run's own load level, so it is evidence.
    ``excused``: band exceeded but sampled load is an outlier above the
    median — ambient contention; re-run before concluding anything.
    """
    timings: dict[str, float] = candidate.get("queries", {})
    loads: dict[str, float] = candidate.get("loadavg_1m", {}) or {}
    med = None
    if loads:
        vals = sorted(loads.values())
        med = vals[len(vals) // 2]
    # run-level quietness: the policy compares quiet runs to quiet
    # references.  A launch 1-minute load >= 2 means the box was busy
    # BEFORE the bench's own work started — per-key flags from such a
    # run are contention candidates wholesale (the r18/r19 notes'
    # "start_1m plus q_min far above the repo's own concurrency" rule)
    # and the run should be repeated, not bisected.
    start_1m = (candidate.get("loadavg") or {}).get("start_1m")
    run_quiet = start_1m is None or start_1m < 2.0
    out = {"band": f"{BAND_RATIO}x+{BAND_FLOOR_S}s", "load_median_1m": med,
           "run_quiet": run_quiet, "start_1m": start_1m,
           "flagged": [], "excused": [], "new": [], "ok": 0}
    for key in sorted(timings):
        cand = timings[key]
        ref = reference.get(key)
        if ref is None:
            out["new"].append({"key": key, "cand": cand})
            continue
        limit = BAND_RATIO * ref + BAND_FLOOR_S
        if cand <= limit:
            out["ok"] += 1
            continue
        entry = {
            "key": key, "cand": round(cand, 2), "ref": round(ref, 2),
            "limit": round(limit, 2), "load_1m": loads.get(key),
        }
        quiet = (
            med is None
            or loads.get(key) is None
            or loads[key] <= med + load_margin
        )
        (out["flagged"] if quiet else out["excused"]).append(entry)
    return out


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__)
        return 2
    load_margin = 4.0
    if "--load-margin" in argv:
        i = argv.index("--load-margin")
        load_margin = float(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    cand_path, *refs = argv
    if not refs:
        root = os.path.dirname(os.path.abspath(__file__))
        refs = sorted(glob.glob(os.path.join(root, "bench_history", "*quiet*.json")))
        if not refs:
            print("no quiet reference records under tools/bench_history/")
            return 2
    candidate = _load(cand_path)
    why = cpus_refusal(candidate, {p: _load(p) for p in refs})
    if why:
        print(f"refusing to compare: {why}", file=sys.stderr)
        return 2
    verdict = compare(candidate, best_reference(refs), load_margin)
    print(json.dumps(verdict, indent=1))
    if verdict["flagged"] and not verdict["run_quiet"]:
        print(
            f"note: candidate launched at 1m load {verdict['start_1m']} — "
            "NOT a quiet run; repeat on a quiet box before bisecting "
            "any of the flags above",
            file=sys.stderr,
        )
    return 1 if verdict["flagged"] and verdict["run_quiet"] else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
