"""Compare two saved benchmark outputs, refusing mismatched hosts.

    python3 perfbench/compare.py BEFORE.out AFTER.out

Each file is the stdout of one ``run.py`` invocation (its record line is
read).  Runs taken with a different core count, Spark master or workload
are not comparable: the script says why and exits with code 2.
Otherwise it prints each metric's before/after values and ratio.
"""

from __future__ import annotations

import json
import sys

GUARDED = ("nproc", "master")


def load_record(path: str) -> dict:
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith('{"record"'):
                return json.loads(line)["record"]
    raise SystemExit(f"{path}: no benchmark record line")


def refusal(a: dict, b: dict) -> str | None:
    """Why two records must not be compared, or None."""
    for k in GUARDED:
        if a["host"].get(k) != b["host"].get(k):
            return f"host {k} differs: {a['host'].get(k)} vs {b['host'].get(k)}"
    if a["workload"] != b["workload"]:
        return f"workload differs: {a['workload']} vs {b['workload']}"
    return None


def metrics(rec: dict) -> dict:
    return rec.get("per_layer") or rec["e2e"]


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = (load_record(p) for p in argv)
    why = refusal(a, b)
    if why:
        print(f"refusing to compare: {why}", file=sys.stderr)
        return 2
    ma, mb = metrics(a), metrics(b)
    for k in sorted(ma.keys() & mb.keys()):
        va, vb = ma[k], mb[k]
        if isinstance(va, (int, float)) and isinstance(vb, (int, float)):
            ratio = f"{vb / va:.3f}" if va else "-"
            print(f"{k:55s} {va:14.6g} {vb:14.6g} {ratio:>8s}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
