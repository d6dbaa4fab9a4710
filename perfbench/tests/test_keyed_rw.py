"""Seed determinism and bookkeeping of the keyed_rw generator and model."""

import keyed_rw as kvw


def _base(n=300):
    return {k: (k % 7, "O", 1000.0 + k, "2-HIGH") for k in range(n)}


def _drive(seed, passes=3):
    """Generate and apply `passes` passes as if the engine agreed."""
    model = kvw.Model(_base())
    gen = kvw.Generator(seed, model)
    trace = []
    for _ in range(passes):
        for kind in gen.pass_ops():
            op = gen.make(kind)
            trace.append((op.kind, op.sql, op.expect))
            if op.is_write:
                model.apply(op)
    return trace, model


def test_same_seed_same_statements_and_model():
    t1, m1 = _drive(7)
    t2, m2 = _drive(7)
    assert t1 == t2
    assert m1.rows == m2.rows and m1.version == m2.version


def test_different_seed_different_statements():
    assert _drive(7)[0] != _drive(8)[0]


def test_pass_mix_is_fixed():
    gen = kvw.Generator(1, kvw.Model(_base()))
    for _ in range(3):
        assert sorted(gen.pass_ops()) == sorted(kvw.PASS)
    writes = sum(1 for k in kvw.PASS if k in kvw.WRITES)
    assert 0.2 <= writes / len(kvw.PASS) <= 0.5


def test_writes_commit_one_version_each_and_vacuum_none():
    model = kvw.Model(_base())
    gen = kvw.Generator(3, model)
    v = model.version
    model.apply(gen.make("upsert"))
    assert model.version == v + 1
    model.apply(gen.make("vacuum"))
    assert model.version == v + 1
    assert model.oldest == max(0, model.version - kvw.RETAIN)
    assert min(model.snapshots) == model.oldest


def test_empty_write_commits_nothing():
    model = kvw.Model(_base())
    v = model.version
    model.apply(kvw.Op("delete", "DELETE ...", changes={}))
    assert model.version == v


def test_deletes_and_updates_only_touch_live_keys():
    trace, model = _drive(11, passes=5)
    live = set(model.rows)
    gen = kvw.Generator(12, model)
    for _ in range(50):
        assert gen._key() in live
        assert gen._absent_key() not in live


def test_changefeed_labels_each_commits_changed_keys():
    _, model = _drive(5, passes=2)
    a, b = max(model.oldest, model.version - 3), model.version
    feed = model.changes(a, b)
    for v in range(a + 1, b + 1):
        old, new = model.snapshots[v - 1], model.snapshots[v]
        mine = [(k, kind, price) for k, kind, cv, price in feed if cv == v]
        changed = {k for k in old.keys() | new.keys() if old.get(k) != new.get(k)}
        assert {k for k, _, _ in mine} == changed
        for k, kind, price in mine:
            if kind in ("insert", "update_after"):
                assert price == new[k][2]
            else:
                assert price == old[k][2]
            assert (kind == "insert") == (k not in old)
            assert (kind == "delete") == (k not in new)


def test_reads_expect_model_values():
    model = kvw.Model(_base())
    gen = kvw.Generator(2, model)
    op = gen.make("point")
    k = int(op.sql.rsplit("=", 1)[1])
    assert op.expect == ([(k, *model.rows[k])] if k in model.rows else [])
    r = gen.make("range")
    assert r.expect[0][0] >= 1
