"""Write path: the Spark analog of the reference's /write pipeline.

Reference flow (service/write_handler.go:36-137, SURVEY §3.2): parse line
protocol → validate partition-key tags (reject if missing —
cluster/partitioner.go:110-121) → group points by FNV hash of partition-tag
values → relay each group to its replica nodes → hinted-handoff on failure.

Spark flow: parse (lineprotocol.py) → validate (dead-letter rows with null
partition tags) → `repartition(partition cols)` → transactional append to
the measurement table, partitioned by the key tags. Replication, retry, and
handoff collapse into storage-layer guarantees + task retry; idempotent
re-ingest is `dropDuplicates` on (time, tags, fields) — the hashPoint dedup
of coordinator.go:97-118.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .model import Catalog, Measurement, PartitionKey, TIME_COL

if TYPE_CHECKING:
    import pyarrow as pa


@dataclass
class IngestResult:
    accepted: DataFrame     # wide rows that passed validation
    rejected: DataFrame     # dead-letter rows + reason
    n_accepted: int
    n_rejected: int


def fnv1a_32(s: str) -> int:
    """Byte-identical port of the reference's placement hash
    (hash/hash.go:8-12, FNV-1a 32 over the joined compound key —
    consumed by cluster/partitioner.go:83-107). Kept so exported series
    manifests can be compared 1:1 with a live reference cluster's
    placements during migration; the known goldens from
    service/query_handler_test.go:101-103 (gold=3966162835,
    silver=3042244896, trash=1583631877) pin it in tests."""
    h = 2166136261
    for b in s.encode("utf-8"):
        h = ((h ^ b) * 16777619) & 0xFFFFFFFF
    return h


def reference_placement_manifest(wide: DataFrame,
                                 pk: PartitionKey) -> DataFrame:
    """One row per distinct compound partition key with the reference's
    FNV-1a hash — the migration artifact that maps this engine's
    partitions onto a reference cluster's token ring. Distinct-first
    (series count, not row count) then a tiny Arrow-batched hash pass."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def hash_series(keys):
        return keys.map(fnv1a_32)

    hash_series.__annotations__ = {"keys": pd.Series, "return": pd.Series}
    h = pandas_udf(hash_series, "long")
    key = F.concat_ws("", *[F.col(t) for t in pk.tags])
    return (wide.select(*pk.tags).distinct()
            .withColumn("compound_key", key)
            .withColumn("placement_hash", h(F.col("compound_key"))))


def validate_partition_key(wide: DataFrame, pk: PartitionKey | None
                           ) -> tuple[DataFrame, DataFrame]:
    """Split rows into (valid, dead-letter) on partition-key completeness.

    Mirrors `Partitioner.FulfillsKey` (partitioner.go:110-121) — a write
    missing any key tag is rejected, surfaced like write_handler.go:104-112.
    """
    if pk is None or not pk.tags:
        return wide, wide.limit(0).withColumn("reject_reason", F.lit(""))
    cond = None
    for t in pk.tags:
        c = F.col(t).isNull() if t in wide.columns else F.lit(True)
        cond = c if cond is None else (cond | c)
    rejected = wide.where(cond).withColumn(
        "reject_reason",
        F.lit(f"missing partition key tags {pk.tags}"))
    return wide.where(~cond), rejected


def write_measurement(wide: DataFrame, path: str, pk: PartitionKey | None,
                      mode: str = "append") -> None:
    """Append rows to a measurement table partitioned by its key tags.

    `partitionBy(tags)` gives directory-level pruning (the batch analog of
    the reference's hash routing); the pre-write `repartition` on the same
    columns co-locates each partition's rows into one task → one file per
    partition per batch instead of tasks×partitions small files — the
    classic 100 TB ingest mistake avoided.
    """
    tags = [t for t in (pk.tags if pk else []) if t in wide.columns]
    writer = wide
    if tags:
        writer = wide.repartition(*[F.col(t) for t in tags])
    w = writer.write.mode(mode)
    if tags:
        w = w.partitionBy(*tags)
    w.parquet(path)


def ingest_lines(catalog: Catalog, lines: DataFrame, database: str,
                 measurement: str, tag_keys: list[str], table_path: str,
                 default_time_ns: int | None = None) -> IngestResult:
    """Full batch /write: parse → pivot → validate → partitioned append →
    register/refresh the measurement in the catalog."""
    from .lineprotocol import parse_lines_df, pivot_points

    long_df = parse_lines_df(lines, default_time_ns=default_time_ns)
    wide = pivot_points(long_df, measurement, tag_keys)
    pk = catalog.partition_key_for(database, measurement)
    valid, rejected = validate_partition_key(wide, pk)
    write_measurement(valid, table_path, pk)

    spark = lines.sparkSession
    stored = spark.read.parquet(table_path)
    fields = [c for c in stored.columns if c != TIME_COL and c not in tag_keys]
    catalog.register(Measurement(name=measurement, database=database,
                                 tags=list(tag_keys), fields=fields,
                                 df=stored))
    return IngestResult(accepted=valid, rejected=rejected,
                        n_accepted=valid.count(), n_rejected=rejected.count())


def dedup_replicated(wide: DataFrame) -> DataFrame:
    """Idempotent replicated-ingest dedup (coordinator.go:97-118 hashPoint):
    identical points arriving from multiple replicas collapse to one."""
    return wide.dropDuplicates()


def mirror_measurement(m: Measurement, target_path: str,
                       bookmark_ns: int | None,
                       pk: PartitionKey | None = None) -> int | None:
    """Incremental cross-deployment copy with a time bookmark.

    The reference's mirror tool re-imports each measurement with
    `WHERE time > '<bookmark>'`, persisting the max imported timestamp per
    measurement (syncing/importer.go:114-139; cmd/mirror/main.go:90-123).
    Here: one filtered scan (predicate pushed to parquet) + partitioned
    append; returns the new bookmark (max time copied, ns) or the old one
    if nothing new. Streaming-checkpoint ingest supersedes this for live
    feeds; this is the batch/backfill form.
    """
    src = m.df
    if bookmark_ns is not None:
        src = src.where(F.col(TIME_COL) > F.lit(bookmark_ns))
    hi = src.agg(F.max(TIME_COL)).first()[0]
    if hi is None:
        return bookmark_ns
    write_measurement(src, target_path, pk)
    return hi


def upsert_points(existing: DataFrame, incoming: DataFrame,
                  tags: list[str]) -> DataFrame:
    """InfluxDB point-overwrite semantics: a new point with the same
    (time, tagset) replaces the old one's field values field-by-field
    (nulls don't clobber). write_handler.go relays verbatim and InfluxDB
    upserts server-side; in Spark it's a groupBy on the series+time key
    keeping the newest non-null value per field.

    `existing` and `incoming` may have different field columns (schema
    grows on write); output has the union. One shuffle on (time, tags).
    The result is lazy: `server.write_lines` uses it for measurements whose
    rows live outside the driver (file-backed, ingested by Spark, SELECT …
    INTO targets), so a write neither shuffles nor copies the table.
    Measurements born from /write are merged by `upsert_rows` instead.
    """
    old = existing.withColumn("__gen", F.lit(0))
    new = incoming.withColumn("__gen", F.lit(1))
    both = old.unionByName(new, allowMissingColumns=True)
    keys = [TIME_COL] + [t for t in tags if t in both.columns]
    fields = [c for c in both.columns if c not in keys + ["__gen"]]
    aggs = [F.max_by(c, F.when(F.col(c).isNotNull(), F.col("__gen")))
            .alias(c) for c in fields]
    return both.groupBy(*keys).agg(*aggs)


def upsert_rows(existing: pa.Table, incoming: pa.Table,
                tags: list[str]) -> pa.Table:
    """`upsert_points` on the driver, for rows held as `pyarrow.Table`s:
    the same rule (same (time, tagset) → newest non-null field wins), the
    same output columns in the same order, and no Spark job.

    The rows are concatenated old then new, with missing columns filled
    with nulls, and grouped on (time, tags) in input order
    (`use_threads=False`), keeping each field's last non-null value. The
    merged table becomes the measurement's next held generation
    (`Measurement.held`): no DataFrame is built over it, and no row
    crosses to the JVM, until a Spark plan reads it; the reads /query
    finishes on the driver aggregate it in pyarrow."""
    import pyarrow as pa

    both = pa.concat_tables([existing, incoming], promote_options="default")
    keys = [TIME_COL] + [t for t in tags if t in both.column_names]
    fields = [c for c in both.column_names if c not in keys]
    # positional names, so no "<field>_last" output name can collide with
    # another column's
    k = [f"k{i}" for i in range(len(keys))]
    f = [f"f{i}" for i in range(len(fields))]
    out = (both.select(keys + fields).rename_columns(k + f)
           .group_by(k, use_threads=False)
           .aggregate([(c, "last") for c in f]))
    return out.select(k + [f"{c}_last" for c in f]) \
        .rename_columns(keys + fields)


class FieldTypeConflict(ValueError):
    """InfluxDB rejects writes whose field type conflicts with the
    first-written type for that field (first-write-wins typing)."""


def check_field_types(existing: dict[str, str], incoming: pa.Schema,
                      tags: list[str]) -> None:
    """Raise FieldTypeConflict if the incoming Arrow schema sends a field
    with another type than the measurement holds it as. `existing` maps
    its columns to Spark type names (`Measurement.column_types`, read from
    a held measurement's Arrow schema)."""
    from pyspark.sql.pandas.types import from_arrow_type

    for c, t in zip(incoming.names, incoming.types):
        if c == TIME_COL or c in tags or c.startswith("__"):
            continue
        t = from_arrow_type(t).simpleString()
        old = existing.get(c)
        if old is not None and old != t:
            raise FieldTypeConflict(
                f"field {c!r} already exists as {old}, write sends {t}")
