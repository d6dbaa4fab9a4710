"""tools/bench_compare.py — the computed form of BENCH_NOTES.md's
regression policy (1.5x + 0.3 s band, load-gated; r18 verdict item 8).

No Spark involved: pure record arithmetic, so the pins are exact.
"""

from __future__ import annotations

from tools.bench_compare import best_reference, compare, cpus_refusal, main


def _cand(queries, loads=None):
    rec = {"queries": queries}
    if loads is not None:
        rec["loadavg_1m"] = loads
    return rec


def test_band_is_ratio_plus_floor():
    ref = {"a": 1.0, "b": 0.1}
    # a: 1.5*1.0+0.3 = 1.8 — 1.8 is inside, 1.81 is out
    v = compare(_cand({"a": 1.8, "b": 0.2}), ref)
    assert v["flagged"] == [] and v["ok"] == 2
    v = compare(_cand({"a": 1.81, "b": 0.2}), ref)
    assert [e["key"] for e in v["flagged"]] == ["a"]
    # the floor: a cheap key can triple (0.1 -> 0.44 <= 0.45) without
    # flagging — "a sub-second absolute delta is never evidence"
    v = compare(_cand({"a": 1.0, "b": 0.44}), ref)
    assert v["flagged"] == []


def test_load_gate_excuses_contended_outliers():
    ref = {"a": 1.0, "b": 1.0, "c": 1.0}
    loads = {"a": 3.0, "b": 3.2, "c": 12.0}  # c sampled under a spike
    v = compare(_cand({"a": 5.0, "b": 1.0, "c": 5.0}, loads), ref)
    assert [e["key"] for e in v["flagged"]] == ["a"]   # quiet: evidence
    assert [e["key"] for e in v["excused"]] == ["c"]   # spike: re-run
    assert v["load_median_1m"] == 3.2


def test_missing_load_telemetry_still_flags():
    # pre-r18 records carry no loadavg_1m: the band alone decides
    ref = {"a": 1.0}
    v = compare(_cand({"a": 5.0}), ref)
    assert [e["key"] for e in v["flagged"]] == ["a"]


def test_new_keys_reported_not_flagged():
    v = compare(_cand({"brand_new": 9.9}), {})
    assert v["flagged"] == [] and v["new"] == [{"key": "brand_new", "cand": 9.9}]


def test_best_reference_is_per_key_min(tmp_path):
    import json

    p1, p2 = tmp_path / "r1.json", tmp_path / "r2.json"
    p1.write_text(json.dumps({"queries": {"a": 2.0, "b": 1.0}}))
    p2.write_text(json.dumps({"queries": {"a": 1.5, "c": 3.0}}))
    assert best_reference([str(p1), str(p2)]) == {"a": 1.5, "b": 1.0, "c": 3.0}


def test_mixed_core_counts_refused(tmp_path, capsys):
    import json

    cand = {"cpus": 4, "queries": {"a": 1.0}}
    why = cpus_refusal(cand, {"ref.json": {"cpus": 32, "queries": {"a": 1.0}}})
    assert "32" in why and "4" in why and "ref.json" in why
    # same count, or a record that does not say, is compared as before
    assert cpus_refusal(cand, {"r": {"cpus": 4}, "s": {"queries": {}}}) is None
    assert cpus_refusal({"queries": {}}, {"r": {"cpus": 32}}) is None
    c, r = tmp_path / "cand.json", tmp_path / "ref.json"
    c.write_text(json.dumps(cand))
    r.write_text(json.dumps({"cpus": 32, "queries": {"a": 0.1}}))
    assert main([str(c), str(r)]) == 2
    err = capsys.readouterr().err
    assert "refusing to compare" in err and "32 cpus" in err and "on 4" in err


def test_contended_launch_marks_run_not_quiet():
    rec = {"queries": {"a": 5.0}, "loadavg": {"start_1m": 3.1}}
    v = compare(rec, {"a": 1.0})
    assert v["run_quiet"] is False and v["start_1m"] == 3.1
    # the key still lands in flagged (the band is the band) — the
    # run-level bit tells the caller to re-run, and the CLI exits 0
    assert [e["key"] for e in v["flagged"]] == ["a"]
    rec["loadavg"]["start_1m"] = 0.2
    assert compare(rec, {"a": 1.0})["run_quiet"] is True


def test_stdout_omit_subset_of_headline():
    """The bench stdout omit list (r20: keeps the load array under the
    driver's output window) must name real HEADLINE keys — a typo or a
    headline rename would silently omit nothing/shrink nothing."""
    import bench

    assert bench.STDOUT_OMIT <= set(bench.HEADLINE)
    # the omit list exists to create headroom; it must never grow to
    # the point of hiding a meaningful share of the suite
    assert len(bench.STDOUT_OMIT) <= 8


def test_default_references_refuse_a_4_cpu_candidate(tmp_path, capsys):
    """Every committed quiet record says which core count it ran on, so
    the refusal fires against the default reference set."""
    import glob
    import json
    import os

    import tools.bench_compare as bc

    refs = glob.glob(os.path.join(os.path.dirname(bc.__file__), "bench_history", "bench_r*quiet*.json"))
    assert refs and all(json.load(open(p)).get("cpus") == 32 for p in refs)
    cand = tmp_path / "cand.json"
    cand.write_text(json.dumps({"cpus": 4, "queries": {"q1_pricing_summary": 1.0}}))
    assert main([str(cand)]) == 2
    assert "refusing to compare" in capsys.readouterr().err
