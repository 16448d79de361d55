"""Retention enforcement: the RP duration made operational.

The reference stores RP definitions and copies them between nodes
(syncing/models.go:3-9, importer.go:555-577) but relies on InfluxDB itself
to expire shards. Spark-side, expiry is a maintenance pass: drop rows (or,
for partitioned storage, whole partitions/files) older than now − duration.

At 100 TB the in-place filter is the wrong shape — `enforce_retention`
operates on the catalog view immediately (queries stop seeing expired
rows), and `expired_partition_predicate` gives the storage-level predicate
a compaction/VACUUM job would push down to delete whole time partitions
without rewriting live data.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .model import Catalog, Measurement, TIME_COL
from .timeutil import parse_duration_ns


def enforce_retention(catalog: Catalog, database: str, now_ns: int) -> dict:
    """Apply the database's default RP duration to every measurement.

    Returns {measurement: cutoff_ns} for measurements that were trimmed.
    Duration "0s"/absent means keep-forever (InfluxDB semantics).

    Each measurement is trimmed under its `Catalog.write_lock`, so a
    concurrent /write cannot merge into the untrimmed generation. The rows
    of a measurement held by the driver are trimmed in Arrow (no Spark
    job), so the next write merges into the trimmed rows.
    """
    rps = catalog.retention_policies.get(database, [])
    default = next((r for r in rps if r.get("default")), None)
    if not default:
        return {}
    dur = parse_duration_ns(default.get("duration") or "0s")
    if dur <= 0:
        return {}
    cutoff = now_ns - dur
    out = {}
    for name in list(catalog.databases.get(database, {})):
        with catalog.write_lock(database, name):
            m = catalog.databases.get(database, {}).get(name)
            if m is None:
                continue
            if m.rows is None:
                m.df = m.df.where(F.col(TIME_COL) >= F.lit(cutoff))
            else:
                import pyarrow.compute as pc
                m.hold(m.rows.filter(pc.field(TIME_COL) >= cutoff))
        out[name] = cutoff
    return out


def expired_partition_predicate(duration_ns: int, now_ns: int) -> str:
    """SQL predicate selecting expired rows — push to `DELETE WHERE` on a
    transactional table or a partition-drop job on hive layout."""
    return f"{TIME_COL} < {now_ns - duration_ns}"


def compact_measurement(spark, path: str, partition_cols: list[str],
                        target_rows_per_file: int = 1_000_000) -> dict:
    """Small-files compaction for a partitioned measurement table — the
    operational analog of the reference's token rebalance jobs
    (syncing/importer.go): streaming ingest produces one file per
    partition per micro-batch; periodically rewrite each hive partition
    into ~target-sized files.

    Returns {"files_before": n, "files_after": m, "rows": r}. The rewrite
    is one job: read → repartition within partitions → overwrite (dynamic
    partition overwrite keeps untouched partitions intact on real
    storage; local parquet overwrites the whole path atomically enough
    for tests).
    """
    import glob
    import math

    def count_files():
        return len([p for p in glob.glob(os.path.join(path, "**", "*.parquet"),
                                         recursive=True)])

    before = count_files()
    df = spark.read.parquet(path)
    rows = df.count()
    nfiles = max(1, math.ceil(rows / target_rows_per_file))
    writer = (df.repartition(nfiles, *[F.col(c) for c in partition_cols])
              if partition_cols else df.repartition(nfiles))
    tmp = path.rstrip("/") + "__compact_tmp"
    w = writer.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(tmp)
    # swap (local-fs test path; object stores would write-then-repoint)
    import shutil
    shutil.rmtree(path)
    os.rename(tmp, path)
    return {"files_before": before, "files_after": count_files(),
            "rows": rows}
