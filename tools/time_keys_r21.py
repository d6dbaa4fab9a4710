"""Time individual headline keys (r21 optimization round, guide §1).

Usage: python -m tools.time_keys_r21 key1 key2 ... [--n 3 | --n=3]

Same methodology as bench.py (noop sink, clearCache between passes),
but min-of-N with N configurable and one warmup action first, so
isolated before/after comparisons are cheap and stable.  Phase keys
from bench.PHASE_SPLIT can be timed as "key:phase".
"""

from __future__ import annotations

import importlib
import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from bench import PHASE_SPLIT, run_query  # noqa: E402
from hivekudu_handler_spark.registry import load_all  # noqa: E402
from hivekudu_handler_spark.session import default_sf_dir, get_spark  # noqa: E402


USAGE = "usage: python -m tools.time_keys_r21 key1 key2 ... [--n N | --n=N]"


def parse_args(argv: list[str]) -> tuple[list[str], int]:
    """``(keys, n)`` from the command line.  Both ``--n=3`` and ``--n 3``
    set the repeat count (a bare ``--n`` consumes the following token, so
    the value never leaks into the key list); any other option, or a
    missing or non-integer value, exits with the usage line."""
    keys: list[str] = []
    n = 3
    i = 0
    while i < len(argv):
        a = argv[i]
        if a == "--n" or a.startswith("--n="):
            raw = a[len("--n="):]
            if a == "--n":
                i += 1
                if i == len(argv):
                    raise SystemExit(f"--n needs a value\n{USAGE}")
                raw = argv[i]
            try:
                n = int(raw)
            except ValueError:
                raise SystemExit(f"--n takes an integer, got {raw!r}\n{USAGE}") from None
        elif a.startswith("--"):
            raise SystemExit(f"unknown option {a!r}\n{USAGE}")
        else:
            keys.append(a)
        i += 1
    return keys, n


def main() -> None:
    args, n = parse_args(sys.argv[1:])
    sf_dir = default_sf_dir()
    spark = get_spark("time-keys-r21")
    specs = load_all()
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def _ident(batches):
        yield from batches

    (
        spark.range(64).repartition(64).mapInPandas(_ident, "id long")
        .write.format("noop").mode("overwrite").save()
    )

    out = {}
    for name in args:
        if ":" in name:
            key, _ = name.split(":", 1)
            mod_name, fn_name, phase_label = PHASE_SPLIT[key]
            phases_fn = getattr(importlib.import_module(mod_name), fn_name)
            operate, cleanup = phases_fn(spark, sf_dir)
            try:
                t0 = time.time()
                run_query(operate())
                out[name] = round(time.time() - t0, 3)
            finally:
                cleanup()
            spark.catalog.clearCache()
        else:
            fn = specs[name].fn
            best = float("inf")
            for _ in range(n):
                t0 = time.time()
                run_query(fn(spark, sf_dir))
                best = min(best, time.time() - t0)
                spark.catalog.clearCache()
            out[name] = round(best, 3)
        print(f"  {name}: {out[name]}s", file=sys.stderr, flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
