"""InfluxDB data model on Spark: databases, measurements, tags, fields, series.

Reference model (SURVEY.md §1.1): a measurement holds points = (time ns,
tag set, field set); tags are string dimensions (the only columns allowed in
partition keys — cluster/partitioner.go:208-232), fields are typed values,
and a *series* is a unique (measurement, tagset) combination — the unit the
reference distributes by consistent hashing (README.md:4-6).

Spark mapping: one DataFrame/table per measurement, long format:
``time LongType(ns)`` + tag columns (StringType) + field columns. Tag/field
kind is carried in engine metadata (not guessable from data) so the SHOW
surface answers from schema, like the reference reconstructs via
`SHOW TAG KEYS` (syncing/importer.go:369-391, 596-612). The partition key
becomes the table's physical partition columns → Catalyst partition pruning
replaces hash routing (coordinator.go:304-362).
"""

from __future__ import annotations

import os
import threading
import weakref
from collections import OrderedDict
from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.util import one_split
from .result import local_result
from .timeutil import timestamp_to_ns

if TYPE_CHECKING:
    import pyarrow as pa

TIME_COL = "time"


def _is_utc_zone(tz: str | None) -> bool:
    """True iff the session-timezone spelling denotes UTC (offset 0).

    Resolved by offset, not by a spelling whitelist (ADVICE r4): named
    zones go through zoneinfo ('Etc/GMT', 'GMT0', 'UCT', 'Zulu', …) and
    fixed-offset forms are parsed ('Z', '+00:00', '-0:00', 'UTC+00').
    Zones with historical non-zero offsets but current offset 0 (none in
    tzdata's UTC aliases) would need full-history inspection; checking a
    fixed instant matches how Spark resolves NTZ wall-clocks at read."""
    if not tz:
        return False
    s = tz.strip()
    import re
    m = re.fullmatch(r"(?:UTC|GMT|UT)?([+-])?(\d{1,2})(?::(\d{1,2}))?"
                     r"(?::(\d{1,2}))?", s)
    if m and (m.group(1) or m.group(2)):
        return all(int(g or 0) == 0 for g in m.groups()[1:])
    # compact forms ZoneOffset.of accepts: +HHMM / +HHMMSS (r5: '+0000'
    # previously fell through to zoneinfo, which rejects it)
    m = re.fullmatch(r"(?:UTC|GMT|UT)?([+-])(\d{4}|\d{6})", s)
    if m:
        return int(m.group(2)) == 0
    if s in ("Z", "UTC", "GMT", "UT"):
        return True
    try:
        from datetime import datetime
        from zoneinfo import ZoneInfo
        off = datetime(2020, 1, 1, tzinfo=ZoneInfo(s)).utcoffset()
        return off is not None and off.total_seconds() == 0
    except Exception:
        return False


# Together the driver copies of one-split generations
# (`Measurement.answer_rows`) hold at most this many bytes of the driver's
# heap: taking a copy drops the least recently read others first, and a
# copy larger than the whole budget answers once and is not kept.
COPY_BUDGET_BYTES = 256 << 20
# keys of a generation's DataFrame `__dict__`: its copy's Arrow schema
# (False when it takes no copy), the copy, and the lock it is taken under
_COPY_SCHEMA, _COPY, _COPY_LOCK = ("_driver_copy_schema", "_driver_copy",
                                   "_driver_copy_lock")
# id(df) → (weakref to df, copy bytes), least recently read first; the
# lock guards this bookkeeping only and is never held over a Spark job
_copies: OrderedDict[int, tuple[weakref.ref, int]] = OrderedDict()
_copies_lock = threading.Lock()


def _copy_schema(m: Measurement, df: DataFrame) -> pa.Schema | None:
    """The Arrow schema of the driver copy of `df`, from its plan (no
    job), or None when it takes none: `df` is not read as one split
    (`operators.util.one_split`), its time is not a BIGINT, two of its
    column names are equal up to case, or the plan's size estimate of the
    copied columns is over COPY_BUDGET_BYTES. The copy keeps only what
    pyarrow's answers read: the time, the string tags and the BIGINT,
    DOUBLE and BOOLEAN fields (not a string field such as `events.props`)."""
    import pyarrow as pa

    if not one_split(df):
        return None
    types = dict(df.dtypes)
    if (types.get(TIME_COL) != "bigint"
            or len({c.lower() for c in types}) != len(types)):
        return None
    arrow = {"string": pa.string(), "bigint": pa.int64(),
             "double": pa.float64(), "boolean": pa.bool_()}
    cols = [TIME_COL] + [t for t in m.tags if types.get(t) == "string"] + [
        f for f in m.fields if types.get(f) in ("bigint", "double", "boolean")]
    size = _copy_frame(df, cols)._jdf.queryExecution().optimizedPlan() \
        .stats().sizeInBytes()
    if int(size) > COPY_BUDGET_BYTES:
        return None
    return pa.schema([(c, arrow[types[c]]) for c in cols])


def _copy_frame(df: DataFrame, cols: list[str]) -> DataFrame:
    return df.select(*[F.col("`" + c.replace("`", "``") + "`") for c in cols])


def _keep_copy(df: DataFrame, table: pa.Table) -> None:
    """Keep `table` as the driver copy of `df` within COPY_BUDGET_BYTES,
    dropping the least recently read copies of other generations first;
    a table larger than the budget is not kept, and its generation takes
    no copy again."""
    size = table.nbytes
    with _copies_lock:
        if size > COPY_BUDGET_BYTES:
            df.__dict__[_COPY_SCHEMA] = False
            return
        for key, (ref, _) in list(_copies.items()):
            if ref() is None:   # a dead generation: its copy went with it
                del _copies[key]
        used = sum(n for _, n in _copies.values())
        while _copies and used + size > COPY_BUDGET_BYTES:
            _, (ref, n) = _copies.popitem(last=False)
            old = ref()
            if old is not None:
                old.__dict__.pop(_COPY, None)
            used -= n
        _copies[id(df)] = (weakref.ref(df), size)
        df.__dict__[_COPY] = table


def _touch_copy(df: DataFrame) -> None:
    with _copies_lock:
        got = _copies.get(id(df))
        if got is not None and got[0]() is df:
            _copies.move_to_end(id(df))


@dataclass
class Measurement:
    """A measurement: schema roles + a DataFrame provider.

    A measurement born from /write is held by the driver: `rows` is its
    `pyarrow.Table` and `df`, the LocalRelation over those rows, is built
    only when first read (once per generation), so a write and a read the
    driver answers from `rows` never ship the rows to the JVM. `rows` is
    None for file-backed, Spark-ingested and SELECT … INTO measurements;
    the write, DELETE and retention paths read it as "the driver holds
    the source of truth".

    /query's answer plan may also read a driver copy of a generation the
    driver does not hold (`answer_rows`): one `toArrow()` of the time, tag
    and numeric field columns of a `df` Spark reads as one split, kept on
    that DataFrame, so it lives no longer than the generation; all such
    copies share COPY_BUDGET_BYTES."""

    name: str
    database: str
    tags: list[str]
    fields: list[str]
    # None when `rows` is given: built from them when first read
    df: DataFrame | None = field(repr=False)
    retention_policy: str = "autogen"
    path: str | None = None  # physical location when hive-partitioned
    rows: pa.Table | None = field(default=None, repr=False)
    # the session a held measurement's `df` is built in
    spark: SparkSession | None = field(default=None, repr=False)

    def __post_init__(self):
        if self.rows is not None and self.df is None:
            del self.df   # __getattr__ builds it when first read

    def __getattr__(self, name: str):
        # only reached while a held generation's `df` is not built yet
        if name != "df" or self.__dict__.get("rows") is None:
            raise AttributeError(name)
        df = self.__dict__["df"] = self.spark.createDataFrame(self.rows)
        return df

    @classmethod
    def held(cls, spark: SparkSession, name: str, database: str,
             tags: list[str], rows: pa.Table) -> Measurement:
        """A measurement whose rows the driver holds; its DataFrame is
        built when first read."""
        return cls(name=name, database=database, tags=list(tags),
                   fields=[c for c in rows.column_names
                           if c != TIME_COL and c not in tags],
                   df=None, rows=rows, spark=spark)

    def hold(self, rows: pa.Table) -> None:
        """Replace a held measurement's rows; the DataFrame over them is
        built when next read."""
        self.rows = rows
        self.__dict__.pop("df", None)

    def answer_schema(self) -> pa.Schema | None:
        """The Arrow schema of `answer_rows`, read without a Spark job: the
        held rows' schema, or the driver copy's (`_copy_schema`, cached on
        `df`), or None when there are no such rows."""
        if self.rows is not None:
            return self.rows.schema
        df = self.df
        got = df.__dict__.get(_COPY_SCHEMA)
        if got is None:
            got = df.__dict__[_COPY_SCHEMA] = _copy_schema(self, df) or False
        return got or None

    def answer_rows(self) -> pa.Table | None:
        """The rows /query's answer plan reads on the driver: the held
        rows, or else the driver copy of the current generation when it
        takes one (`answer_schema`), or else None.

        The copy is one `toArrow()` job of the schema's columns, taken the
        first time an answer asks for it and kept on `df` (as `one_split`
        caches its result), so a DELETE or retention that replaces `df`
        drops the copy with the old frame; COPY_BUDGET_BYTES bounds all
        copies together. A write into a measurement that is not held
        registers an upsert over its scan, which is not one split."""
        if self.rows is not None:
            return self.rows
        schema = self.answer_schema()
        if schema is None:
            return None
        df = self.df
        got = df.__dict__.get(_COPY)
        if got is not None:   # a kept copy never waits for another's job
            _touch_copy(df)
            return got
        # concurrent first answers of one generation take one copy
        with df.__dict__.setdefault(_COPY_LOCK, threading.Lock()):
            got = df.__dict__.get(_COPY)
            if got is None:
                got = _copy_frame(df, schema.names).toArrow()
                if got.schema.types != schema.types:
                    got = got.cast(schema)
                _keep_copy(df, got)
        return got

    def column_types(self) -> dict[str, str]:
        """Column name → Spark type name (`DataFrame.dtypes`), read from a
        held measurement's Arrow schema without building its DataFrame."""
        if self.rows is None:
            return dict(self.df.dtypes)
        from pyspark.sql.pandas.types import from_arrow_type
        return {f.name: from_arrow_type(f.type).simpleString()
                for f in self.rows.schema}

    def series_df(self) -> DataFrame:
        """SHOW SERIES: distinct tag combinations (importer.go FetchSeries,
        syncing/series.go:14-29 — `measurement,tag1=v1,...` keys). A held
        measurement answers from its rows as a VALUES relation."""
        spark = self.spark if self.rows is not None else self.df.sparkSession
        if not self.tags:
            return local_result(spark, [(self.name,)], [("key", "STRING")])
        if self.rows is not None and set(self.tags) <= set(
                self.rows.column_names):
            combos = self.rows.select(self.tags).group_by(
                self.tags, use_threads=False).aggregate([]).to_pylist()
            # concat_ws skips a null tag's value: the part is the bare key
            keys = sorted(",".join([self.name] + [
                t if c[t] is None else f"{t}={c[t]}" for t in self.tags])
                for c in combos)
            return local_result(spark, [(k,) for k in keys],
                                [("key", "STRING")])
        key = F.concat_ws(",", F.lit(self.name), *[
            F.concat_ws("=", F.lit(t), F.col(t)) for t in self.tags])
        return (self.df.select(*self.tags).distinct()
                .select(key.alias("key")).orderBy("key"))


@dataclass
class PartitionKey:
    """Admin-defined ordered tag list (cluster/partitioner.go:208-232).

    Measurement-level key wins over database-level (partitioner.go:131-137).
    """

    database: str
    measurement: str  # "" = database-level key
    tags: list[str]


class Catalog:
    """Engine catalog: databases → measurements, partition keys, RPs.

    Replaces the reference's etcd-backed meta storages (partition keys:
    cluster/partitioner.go:145-206; RPs: syncing/models.go:3-9) with an
    in-process registry; on a real deployment this would be a metastore.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.databases: dict[str, dict[str, Measurement]] = {}
        self.partition_keys: list[PartitionKey] = []
        self.retention_policies: dict[str, list[dict]] = {}
        self.replication_factors: dict[str, int] = {"": 2}  # resolver.go:36 default 2
        self._write_locks: dict[tuple[str, str], threading.Lock] = {}
        self._write_locks_guard = threading.Lock()

    def write_lock(self, database: str, name: str) -> threading.Lock:
        """The lock held on one measurement by everything that reads its
        current generation and replaces it: /write, DELETE / DROP SERIES
        and retention enforcement."""
        with self._write_locks_guard:
            return self._write_locks.setdefault((database, name),
                                                threading.Lock())

    # -- registration -----------------------------------------------------
    def register(self, m: Measurement) -> None:
        self.databases.setdefault(m.database, {})[m.name] = m

    def register_dataframe(self, database: str, name: str, df: DataFrame,
                           time_col: str, tags: list[str],
                           fields: list[str] | None = None) -> Measurement:
        """Adopt an arbitrary DataFrame as a measurement.

        `time_col` may be LongType ns already or a TimestampType to convert.
        Everything not time/tag becomes a field unless `fields` is given.
        """
        dtype = dict(df.dtypes)[time_col]
        if dtype == "timestamp_ntz":
            # A TIMESTAMP_NTZ wall-clock is interpreted in the session
            # timezone when cast to LTZ (timeutil.timestamp_to_ns). The
            # engine's convention (and the DuckDB oracle's epoch_ns) is
            # UTC; under any other session zone the ns values would shift
            # silently. Fail loudly instead (ADVICE r3).
            tz = self.spark.conf.get("spark.sql.session.timeZone")
            if not _is_utc_zone(tz):
                raise ValueError(
                    f"register_dataframe: time column {time_col!r} is "
                    f"TIMESTAMP_NTZ but spark.sql.session.timeZone={tz!r}; "
                    "NTZ wall-clocks are read as UTC instants — set the "
                    "session timezone to UTC (session.get_spark does) or "
                    "convert to epoch-ns yourself before registering")
        if dtype in ("timestamp", "timestamp_ntz"):
            df = df.withColumn(TIME_COL, timestamp_to_ns(F.col(time_col)))
            if time_col != TIME_COL:
                df = df.drop(time_col)
        elif time_col != TIME_COL:
            df = df.withColumnRenamed(time_col, TIME_COL)
        if fields is None:
            fields = [c for c in df.columns if c != TIME_COL and c not in tags]
        m = Measurement(name=name, database=database, tags=list(tags),
                        fields=list(fields), df=df)
        self.register(m)
        return m

    # -- lookup -----------------------------------------------------------
    def get(self, database: str, name: str) -> Measurement:
        try:
            return self.databases[database][name]
        except KeyError:
            raise KeyError(f"measurement not found: {database}.{name}") from None

    def partition_key_for(self, database: str, measurement: str) -> PartitionKey | None:
        """Measurement-level key beats db-level (partitioner.go:131-137)."""
        db_key = None
        for pk in self.partition_keys:
            if pk.database != database:
                continue
            if pk.measurement == measurement:
                return pk
            if pk.measurement == "":
                db_key = pk
        return db_key

    # -- SHOW surface (routing.go:121-135 first-available statements) -----
    # Answers built from catalog metadata are driver-local VALUES
    # relations (result.local_result): collecting them runs no Spark job.
    def show_databases(self) -> DataFrame:
        return local_result(self.spark, [(d,) for d in sorted(self.databases)],
                            [("name", "STRING")])

    def show_measurements(self, database: str) -> DataFrame:
        return local_result(
            self.spark, [(m,) for m in sorted(self.databases.get(database, {}))],
            [("name", "STRING")])

    def show_tag_keys(self, database: str, measurement: str | None = None) -> DataFrame:
        rows = []
        for name, m in sorted(self.databases.get(database, {}).items()):
            if measurement and name != measurement:
                continue
            rows += [(name, t) for t in m.tags]
        return local_result(self.spark, rows,
                            [("measurement", "STRING"), ("tagKey", "STRING")])

    def show_field_keys(self, database: str, measurement: str | None = None) -> DataFrame:
        rows = []
        for name, m in sorted(self.databases.get(database, {}).items()):
            if measurement and name != measurement:
                continue
            dtypes = m.column_types()
            rows += [(name, f, dtypes.get(f, "unknown")) for f in m.fields]
        return local_result(self.spark, rows,
                            [("measurement", "STRING"), ("fieldKey", "STRING"),
                             ("fieldType", "STRING")])

    def show_tag_values(self, database: str, measurement: str, tag: str,
                        answer: bool = False) -> DataFrame:
        """The distinct values of one tag, nulls first. Over rows the
        driver holds, or with `answer` (/query's answer) over the driver
        copy of a one-split source (`Measurement.answer_rows`), they are a
        VALUES relation and run no Spark job."""
        import pyarrow as pa

        m = self.get(database, measurement)
        schema = m.answer_schema() if answer or m.rows is not None else None
        if schema is not None and tag in schema.names \
                and schema.field(tag).type == pa.string():
            rows = m.answer_rows()
            if rows is not None:
                values = rows.column(tag).unique().to_pylist()
                values.sort(key=lambda v: (v is not None, v))
                return local_result(self.spark, [(tag, v) for v in values],
                                    [("key", "STRING"), ("value", "STRING")])
        # the distinct values are few (a tag's cardinality): gathered into
        # one partition, the sort needs no range-partitioner sampling job
        return (m.df.select(F.lit(tag).alias("key"), F.col(tag).alias("value"))
                .distinct().coalesce(1).orderBy("value"))

    def show_series(self, database: str, measurement: str | None = None) -> DataFrame:
        dfs = [m.series_df() for name, m in
               sorted(self.databases.get(database, {}).items())
               if measurement is None or name == measurement]
        if not dfs:
            return local_result(self.spark, [], [("key", "STRING")])
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver's synthetic tables (TESTDATA.md) as DataFrames."""
    names = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]
    out = {}
    for n in names:
        p = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(p):
            out[n] = spark.read.parquet(p)
    return out


def events_measurement(spark: SparkSession, sf_dir: str) -> tuple[Catalog, Measurement]:
    """Register the driver `events` table as a measurement.

    Role mapping per FIXTURES.md §6: ts → time (ns), event_type → tag,
    value → field; event_id/user_id/props ride along as fields.
    """
    cat = Catalog(spark)
    df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    m = cat.register_dataframe("default", "events", df, time_col="ts",
                               tags=["event_type"],
                               fields=["value", "event_id", "user_id", "props"])
    cat.partition_keys.append(PartitionKey("default", "events", ["event_type"]))
    return cat, m
