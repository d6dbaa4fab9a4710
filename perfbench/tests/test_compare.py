"""The host guard: results from different core counts are not compared."""

from compare import refusal


def _rec(nproc=4, workload="olap_tpch"):
    return {"workload": workload,
            "host": {"nproc": nproc, "master": f"local[{nproc}]"},
            "e2e": {"ops_per_s": 1.0}}


def test_same_host_compares():
    assert refusal(_rec(), _rec()) is None


def test_core_count_mismatch_is_refused():
    assert "nproc" in refusal(_rec(4), _rec(32))


def test_workload_mismatch_is_refused():
    assert "workload" in refusal(_rec(), _rec(workload="keyed_rw"))
