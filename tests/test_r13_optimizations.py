"""Focused pins for the r13 optimization round's internal changes.

The invariant the scale-adaptive partition count relies on: `parts` is
purely a PHYSICAL layout knob — any value of util.scale_parts with
graph's dial (the session floor, or the input-size-derived adaptive
count consumed by label_propagation's vote repartition + cache)
produces row-identical results for every iterative graph loop, because
every per-round fold is an integer sum/min/count (fold-order-free). The
loops that pin the session count after the r13 negative results
(pagerank/PPR/components/kcore/bfs/sssp/hits) must be INSENSITIVE to the
dial — the same parametrized checks assert that.
"""

import pytest
from pyspark.sql import functions as F

from influxdb_ha_spark.operators.util import (conf_parts, input_bytes,
                                              scale_parts)


@pytest.fixture(scope="module")
def parquet_edges(spark, tmp_path_factory):
    """A small random graph WRITTEN TO PARQUET so input_bytes sees real
    file-source bytes (createDataFrame plans have no input files and
    always take the session-floor path)."""
    import random
    rnd = random.Random(13)
    rows = sorted({(rnd.randrange(0, 40), rnd.randrange(0, 40))
                   for _ in range(150)})
    rows = [(a, b) for a, b in rows if a < b]
    path = str(tmp_path_factory.mktemp("r13") / "edges.parquet")
    spark.createDataFrame(rows, "src long, dst long") \
        .coalesce(1).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _collect(df, *keys):
    return sorted(tuple(r) for r in df.select(*keys).collect())


def _shuffle_parts(df):
    """The partition count graph's label_propagation takes: scale_parts
    with graph's dial and cap, read at call time so monkeypatches hold."""
    from influxdb_ha_spark.operators import graph as GR
    return scale_parts(df, GR._CACHE_PART_BYTES, GR._PARTS_CAP)


def test_shuffle_parts_scales_with_input_bytes(spark, parquet_edges,
                                               monkeypatch):
    """parts == session floor on small inputs; grows ceil(bytes/dial)
    once the input outweighs the dial; never exceeds the cap."""
    from influxdb_ha_spark.operators import graph as GR
    base = conf_parts(parquet_edges)
    assert _shuffle_parts(parquet_edges) == base  # tiny file → floor
    nbytes = input_bytes(parquet_edges)
    assert nbytes > 0
    monkeypatch.setattr(GR, "_CACHE_PART_BYTES", max(1, nbytes // 10))
    grown = _shuffle_parts(parquet_edges)
    assert grown in (10, 11) and grown > base
    monkeypatch.setattr(GR, "_CACHE_PART_BYTES", 1)
    assert _shuffle_parts(parquet_edges) == min(GR._PARTS_CAP, nbytes)
    monkeypatch.setattr(GR, "_PARTS_CAP", 9)
    assert _shuffle_parts(parquet_edges) == max(base, 9)  # cap binds


def test_input_bytes_zero_for_local_frames(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    assert input_bytes(df) == 0
    assert _shuffle_parts(df) == conf_parts(df)


@pytest.mark.parametrize("op", ["pagerank", "label_propagation",
                                "components", "kcore"])
def test_adaptive_parts_row_identical(spark, parquet_edges, monkeypatch,
                                      op):
    """Force the adaptive regime (parts > conf → the explicit per-round
    repartition paths in pagerank/components engage) and assert the
    results are row-identical to the session-floor regime."""
    from influxdb_ha_spark.operators import graph as GR

    def run(edges):
        if op == "pagerank":
            return _collect(GR.pagerank(edges, iters=4),
                            "node", "pr_fp")
        if op == "label_propagation":
            return _collect(GR.label_propagation(edges, rounds=3),
                            "node", "community", "community_size")
        if op == "components":
            return _collect(GR.components(edges, rounds=4),
                            "node", "component", "component_size")
        return _collect(GR.kcore(edges, k=3, rounds=4),
                        "node", "core_degree")

    base = run(parquet_edges)
    nbytes = input_bytes(parquet_edges)
    monkeypatch.setattr(GR, "_CACHE_PART_BYTES", max(1, nbytes // 7))
    assert _shuffle_parts(parquet_edges) > conf_parts(parquet_edges)
    adaptive = run(parquet_edges)
    assert adaptive == base
    assert len(base) > 0


def test_ppr_adaptive_parts_row_identical(spark, parquet_edges,
                                          monkeypatch):
    from influxdb_ha_spark.operators import graph as GR
    seeds = parquet_edges.select(F.col("src").alias("node")).limit(3)

    def run():
        return _collect(GR.personalized_pagerank(parquet_edges, seeds,
                                                 iters=4),
                        "node", "ppr_fp")

    base = run()
    nbytes = input_bytes(parquet_edges)
    monkeypatch.setattr(GR, "_CACHE_PART_BYTES", max(1, nbytes // 7))
    adaptive = run()
    assert adaptive == base and len(base) > 0
