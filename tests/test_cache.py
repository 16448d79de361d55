"""Generation-bounded operator caches (ADVICE r4: persist() leaks)."""

from influxdb_ha_spark import cache


def test_keep_bounds_one_generation_per_tag(spark):
    cache.release()
    a = spark.range(10)
    b = spark.range(20)
    ka = cache.keep("t.x", a)
    assert ka.storageLevel.useMemory
    kb = cache.keep("t.x", b)          # same tag: previous gen unpersisted
    assert not a.storageLevel.useMemory
    assert kb.storageLevel.useMemory
    assert cache.live_tags() == ["t.x"]
    cache.release("t.x")
    assert not b.storageLevel.useMemory
    assert cache.live_tags() == []


def test_release_all(spark):
    cache.release()
    cache.keep("t.a", spark.range(1))
    cache.keep("t.b", spark.range(2))
    assert set(cache.live_tags()) == {"t.a", "t.b"}
    cache.release()
    assert cache.live_tags() == []


def test_operators_register_their_caches(spark):
    """The dedup/similarity operators route their persists through keep()
    so repeated invocations do not accumulate cached RDDs."""
    from influxdb_ha_spark.operators.dedup import (
        minhash_jaccard_estimate, minhash_near_duplicates)
    base = ("the quick brown fox jumps over the lazy dog and runs far away "
            "while the sun shines bright over the green valley today")
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " suffix"),
         (4, "completely different content about spark query planning")],
        "doc_id long, text string")
    cache.release()
    r1 = minhash_near_duplicates(df, threshold=0.5).collect()
    assert "minhash_near_duplicates.cands" in cache.live_tags()
    r2 = minhash_near_duplicates(df, threshold=0.5).collect()
    assert cache.live_tags().count("minhash_near_duplicates.cands") == 1
    assert sorted(map(tuple, r1)) == sorted(map(tuple, r2))
    minhash_jaccard_estimate(df).collect()
    assert "minhash_jaccard_estimate.sigs" in cache.live_tags()
    cache.release()


def test_concurrent_keep_leaves_one_generation(spark):
    """keep() from many threads on one tag: every generation but the last
    is unpersisted, so one stays live and release() brings the session's
    persisted RDDs back to where they were."""
    import threading
    cache.release()
    jsc = spark.sparkContext._jsc
    baseline = jsc.getPersistentRDDs().size()
    frames = [spark.range(i + 1) for i in range(8)]
    start = threading.Barrier(len(frames))

    def run(df):
        start.wait()
        cache.keep("t.race", df)

    threads = [threading.Thread(target=run, args=(f,)) for f in frames]
    for t in threads:
        t.start()
    for t in threads:
        t.join(120)
    assert cache.live_tags() == ["t.race"]
    assert sum(f.storageLevel.useMemory for f in frames) == 1
    for f in frames:   # materialises every cache still registered
        f.count()
    cache.release()
    assert cache.live_tags() == []
    assert jsc.getPersistentRDDs().size() == baseline
