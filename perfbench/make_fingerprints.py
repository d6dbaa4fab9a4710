"""Regenerate ``fingerprints.json``: each benchmarked registry key's DuckDB
oracle result over the benchmark's generated fixtures.

    python3 perfbench/make_fingerprints.py

Run from the root of a checkout after changing ``datagen.py``, a key's
oracle, or the key lists in ``run.py``.  Needs the ``duckdb`` package,
which the benchmark run itself does not.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

import datagen  # noqa: E402
from run import LLM_KEYS, OLAP_KEYS, fingerprint  # noqa: E402


def main() -> int:
    from hivekudu_handler_spark.registry import load_all

    specs = load_all()
    out = {
        "generator": {"seed": datagen.GEN_SEED, "scale": datagen.SCALE},
        "keys": {},
    }
    with tempfile.TemporaryDirectory() as tmp:
        fx = datagen.write_fixtures(tmp)
        con = duckdb.connect()
        for t in datagen.TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{fx}/{t}.parquet'")
        for key in OLAP_KEYS + LLM_KEYS:
            res = con.sql(specs[key].oracle)
            cols = [d[0] for d in res.description]
            out["keys"][key] = fingerprint(cols, res.fetchall())
            print(key, out["keys"][key]["rows"], "rows", file=sys.stderr)
    with open(os.path.join(HERE, "fingerprints.json"), "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
