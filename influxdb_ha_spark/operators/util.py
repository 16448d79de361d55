"""Shared operator plumbing."""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame


def input_bytes(df: DataFrame) -> int:
    """Total size of the DISTINCT files feeding df's plan (the public
    `inputFiles` API — never a Catalyst join-size estimate, which
    inherits multiplicative blow-up). 0 when the plan has no file source
    (in-memory test frames) or file sizes are unreadable."""
    try:
        files = set(df.inputFiles())
    except Exception:
        return 0
    total = 0
    for f in files:
        path = urlparse(f).path or f
        try:
            total += os.path.getsize(path)
        except OSError:
            pass
    return total


def conf_parts(df: DataFrame) -> int:
    """The session's shuffle-partition count, with defaultParallelism as
    the fallback for non-numeric settings."""
    try:
        return int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return df.sparkSession.sparkContext.defaultParallelism


def scale_parts(df: DataFrame, part_bytes: int, cap: int) -> int:
    """Scale-adaptive partition count (r13, guide §2.1/§2.2 — size
    partitions to the data, not the cluster): the session's
    shuffle-partition setting as the FLOOR, grown with the plan's
    file-input bytes (ceil(bytes / part_bytes), capped at `cap`). The
    conf is never shrunk, so gate/bench scales keep the session shape
    and plans/fingerprints unchanged; callers own the dial constants."""
    base = conf_parts(df)
    b = input_bytes(df)
    if b <= 0:
        return base
    return max(base, min(cap, -(-b // part_bytes)))


_ONE_SPLIT = "_one_split"


def one_split(df: DataFrame) -> bool:
    """Whether Spark reads `df` as one split: projections and filters over
    one leaf that is either a file scan planned as one partition or a
    driver-held LocalRelation no larger than
    `spark.sql.files.maxPartitionBytes` by the plan's size estimate.

    Reads plans only (no job) and is cached on `df`, so it is computed
    once per DataFrame: a measurement's generation is one."""
    got = df.__dict__.get(_ONE_SPLIT)
    if got is None:
        got = df.__dict__[_ONE_SPLIT] = _one_split(df)
    return got


def _one_split(df: DataFrame) -> bool:
    qe = df._jdf.queryExecution()
    node = qe.optimizedPlan()
    while node.getClass().getSimpleName() in ("Project", "Filter"):
        node = node.children().head()
    leaf = node.getClass().getSimpleName()
    if leaf == "LocalRelation":
        limit = df.sparkSession._jsparkSession.sessionState().conf() \
            .filesMaxPartitionBytes()
        return int(qe.optimizedPlan().stats().sizeInBytes()) <= limit
    if leaf != "LogicalRelation":
        return False
    scans = qe.sparkPlan().collectLeaves()
    scan = scans.head()
    return (scans.size() == 1
            and scan.getClass().getSimpleName() == "FileSourceScanExec"
            and scan.inputRDD().getNumPartitions() == 1)


def salted_agg(df: DataFrame, keys: list[str],
               aggs: dict[str, tuple[str, str]], salt: int = 16) -> DataFrame:
    """Two-phase salted aggregation for skewed group keys.

    When one group key holds a disproportionate share of rows (the
    boilerplate document, the monitoring heartbeat series), a plain
    groupBy funnels that key's entire volume through one reducer. Salting
    splits each key into `salt` sub-groups for the first (heavy) exchange
    and merges the `salt` partials in a second (tiny — |keys|·salt rows)
    aggregation. Only algebraic aggregates can ride this: `aggs` maps
    output name → (fn, col) with fn ∈ {sum, count, min, max}.

    Note Spark's own layers already blunt skew — map-side partial
    aggregation and AQE skew handling — so reach for this only when a
    profile shows a hot reducer surviving those; it is the explicit form
    of the same two-phase idea.
    """
    from pyspark.sql import functions as F

    allowed = {"sum", "count", "min", "max"}
    bad = {f for f, _ in aggs.values()} - allowed
    if bad:
        raise ValueError(f"non-algebraic aggregate(s) {sorted(bad)}; "
                         f"salting supports {sorted(allowed)}")
    salt_col = F.pmod(F.monotonically_increasing_id(), F.lit(salt))
    partial_exprs = []
    merge_exprs = []
    for out, (fn, col) in aggs.items():
        p = f"__p_{out}"
        partial_exprs.append(getattr(F, fn)(col).alias(p))
        merge_fn = "sum" if fn in ("count", "sum") else fn
        merge_exprs.append(getattr(F, merge_fn)(p).alias(out))
    return (df.withColumn("__salt", salt_col)
            .groupBy(*keys, "__salt").agg(*partial_exprs)
            .groupBy(*keys).agg(*merge_exprs))


def ensure_min_parallelism(df: DataFrame,
                           min_parts: int | None = None) -> DataFrame:
    """Round-robin repartition iff the plan is under-partitioned.

    Parquet can't split below a row group, so a source written as one fat
    row group (or a handful of files) pins every downstream map stage —
    shingling, hashing, Pandas UDF batches — to that many cores no matter
    how wide the cluster is. AQE can coalesce partitions but never split
    them, so this is the one case where an explicit exchange buys linear
    speedup. On a well-partitioned source (the 100 TB layout: thousands of
    files × row groups > cores) the condition is false and this is a
    no-op, costing nothing.
    """
    target = min_parts or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
