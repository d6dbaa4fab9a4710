"""The pin registry: one persisted frame per pin site, released when the
site pins again, by ``release_all``, and under concurrent pins."""

from __future__ import annotations

from hivekudu_handler_spark import pins
from hivekudu_handler_spark.registry import load_all


def test_pin_registry_releases_previous_generation(spark):
    sf = "/root/testdata/sf0.001"
    fn = load_all()["dedup_simhash"].fn
    fn(spark, sf).count()
    first = pins._PINNED["dedup.simhash.sigs"]
    assert first.is_cached
    # second call under the same tag releases the first generation —
    # a long-lived session holds ONE pinned frame per site, not one per
    # call (r21 VERDICT "what's wrong" #2)
    fn(spark, sf).count()
    second = pins._PINNED["dedup.simhash.sigs"]
    assert second is not first
    assert not first.is_cached
    assert second.is_cached
    # the explicit drain releases everything it registered
    pins.release_all()
    assert not second.is_cached
    assert pins._PINNED == {}


def test_pin_registry_covers_kmeans_and_pq(spark):
    sf = "/root/testdata/sf0.001"
    load_all()["emb_kmeans_lloyd"].fn(spark, sf).count()
    assert pins._PINNED["clustering.kmeans_fit.e"].is_cached
    load_all()["sim_pq_adc"].fn(spark, sf).count()
    assert pins._PINNED["pq.fit_encode.norm"].is_cached
    n_before = len(pins._PINNED)
    # re-running the same keys must not grow the registry
    load_all()["emb_kmeans_lloyd"].fn(spark, sf).count()
    load_all()["sim_pq_adc"].fn(spark, sf).count()
    assert len(pins._PINNED) == n_before
    pins.release_all()
    assert pins._PINNED == {}


def test_concurrent_pins_under_one_tag_leak_nothing(spark):
    """Eight threads pin distinct frames under one tag at once: each pin
    releases its predecessor under the registry lock, so after
    release_all() no frame stays persisted."""
    import threading

    sc = spark.sparkContext
    start = len(sc._jsc.getPersistentRDDs())
    frames = [spark.range(i + 1).selectExpr(f"id * {i} AS v") for i in range(8)]
    go = threading.Barrier(len(frames), timeout=60)

    def pin(df):
        go.wait()
        pins.pin("test.concurrent", df)

    threads = [threading.Thread(target=pin, args=(df,)) for df in frames]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    # a frame whose pin was lost is still persisted: counting it builds
    # its cached blocks
    for df in frames:
        df.count()
    pins.release_all()
    assert len(sc._jsc.getPersistentRDDs()) == start
    assert pins._PINNED == {}
