"""fill() semantics: bucket-spine generation + the four fill modes.

In the reference, `fill(...)` is propagated verbatim to the InfluxDB data
nodes which gap-fill server-side (merge/query_merge.go:72-81); Spark has no
built-in equivalent, so this is real engine work (SURVEY.md §4 item 2):

1. build the complete bucket spine for the query time range via
   `sequence()` + `explode` (per series group — a lateral explode of
   distinct-groups × spine, NOT a driver loop);
2. left-join the aggregated buckets onto the spine;
3. fill: `null` (default), `none` (drop), number (`coalesce(lit)`),
   `previous` (`last(ignorenulls) over`), `linear` (lead/lag interpolation).

Where the fill runs: a plain aggregate with `GROUP BY time()` whose answer
the driver collects (/query, not SELECT … INTO, not a subquery), without
tz(), is finished on the driver. Spark runs only its aggregated frame (or
pyarrow aggregates the rows the driver holds, `aggregates.held_aggregate`)
and `fill_collected` fills each collected series over `collected_spine`, with
the same bounds, cap and arithmetic as the plan below (result.FinishSpec
holds the choice). /query plans no spine for such an answer: the planner
stops at the aggregated frame and takes the filled columns' types from
`fill_values` applied to it, analysed only. Every other answer keeps the
Spark spine built here: SELECT … INTO, subqueries, tz(), outer transforms
such as derivative(mean(…)); so do the full plans that EXPLAIN shows and
the contract keys run.

Scale notes: the spine size is range/interval buckets per series — bounded
by the query's WHERE time range, exactly like InfluxDB (which refuses
unbounded GROUP BY time() queries). The join key is (group tags, bucket),
tags matched null-safely. The executed plan broadcasts the AGGREGATED side
(the build side of the left join) and streams the spine.

An ungrouped spine whose answer the driver collects lives in ONE
partition: it is exploded from a one-split Range, or from the one-row
bounds aggregate (open bounds). Generate, the spine-streaming broadcast
join and Project keep that SinglePartition output, so the planner's
`ORDER BY time` and the keyless window of fill(previous|linear) need no
Exchange: no range-partitioner sampling job, no range shuffle. That
partition holds one series, at most MAX_SPINE_BUCKETS rows, which the
driver collects in full. A grouped spine keeps the partitioning of its
distinct series groups, because its rows grow with the series count. An
ungrouped spine whose answer stays in Spark (SELECT … INTO persists it, a
subquery feeds it on: `one_partition=False`) is exploded from a
multi-split Range, so the time sort behind it spreads the rows over its
range partitions.

Bounds: an explicit WHERE range is a literal, floored to the bucket grid in
Python (and refused above MAX_SPINE_BUCKETS before any job runs). A missing
bound is resolved IN THE PLAN from a one-row min/max aggregate over the
aggregated frame feeding `sequence()`; the same cap is an in-plan
`raise_error` whose text `spine_cap_error` maps back to the QueryError the
bounded path raises. The one eager bounds job left is
`_resolve_open_bounds`, for an ungrouped previous/linear fill whose answer
stays in Spark (see there).

Ungrouped previous/linear fills over a LARGE spine (a year of 1 s buckets is
31 M rows) do not use a keyless Window: the spine is evenly spaced with
bounds known at plan time, so rows are segmented into fixed bucket ranges
and stitched with per-segment carry partials (the segmented-scan trick —
see functions/scan.py for the irregular-time variant). Spines up to
`_SMALL_SPINE` rows keep the plain single-window plan.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..errors import QueryError

_SMALL_SPINE = 65_536
_DAY_NS = 86_400_000_000_000
# Hard refusal above this many buckets — mirroring InfluxDB, which rejects
# GROUP BY time() queries whose bucket count explodes (max-select-buckets).
# A 100M-row generated spine is never what the user meant (1 s buckets over
# 3 years); erroring beats silently materializing it.
MAX_SPINE_BUCKETS = 100_000_000
_CAP_TEXT = ("GROUP BY time() would generate %d buckets (max %d); narrow "
             "the time range or widen the interval")
_CAP_RE = re.compile(re.escape(_CAP_TEXT).replace("%d", r"-?\d+"))


def _floor_bucket(t_ns: int, interval_ns: int, offset_ns: int) -> int:
    """Python twin of timeutil.time_bucket (epoch-aligned floor + offset)."""
    shifted = t_ns - offset_ns
    return shifted - (shifted % interval_ns) + offset_ns


def spine_cap_error(exc: BaseException) -> QueryError | None:
    """The bounded path's QueryError for an in-plan spine-cap refusal
    (a Spark error whose text carries the cap message), else None."""
    m = _CAP_RE.search(str(exc))
    return QueryError(m.group(0)) if m else None


def _spine_source(df_aggregated: DataFrame, bucket_col: str,
                  interval_ns: int, start_ns: int | None, end_ns: int | None,
                  group_cols: list[str], offset_ns: int, tz: str | None,
                  one_partition: bool) -> DataFrame:
    """group_cols + `__first` (first UTC bucket, or for tz the start
    instant, floored later in local time) + `__stop` (exclusive end), one
    row per series group.

    Ungrouped with `one_partition`, the row sits in one partition; a
    grouped source is the distinct groups, partitioned as their distinct
    left them. Explicit bounds are literals; a missing one comes from the
    one-row min/max bucket aggregate of the aggregated frame (observed
    buckets are already aligned, so they need no floor), broadcast onto
    the groups. The bucket-count cap rides on `__stop`."""
    spark = df_aggregated.sparkSession
    if start_ns is not None and tz is None:
        start_ns = _floor_bucket(start_ns, interval_ns, offset_ns)
    open_bounds = start_ns is None or end_ns is None
    if open_bounds:
        bounds = df_aggregated.agg(F.min(bucket_col).alias("__lo"),
                                   F.max(bucket_col).alias("__hi"))
    if not group_cols and one_partition:
        src = bounds if open_bounds else spark.range(0, 1, 1, 1)
    else:
        src = (df_aggregated.select(*group_cols).distinct() if group_cols
               else spark.range(1))
        if open_bounds:
            src = src.crossJoin(F.broadcast(bounds))
    if not open_bounds:
        return src.select(*group_cols, F.lit(start_ns).alias("__first"),
                          F.lit(end_ns).alias("__stop"))
    first = F.lit(start_ns) if start_ns is not None else F.col("__lo")
    stop = (F.lit(end_ns) if end_ns is not None
            else F.col("__hi") + F.lit(interval_ns))
    framed = src.select(*group_cols, first.alias("__first"),
                        stop.alias("__stop"))
    # exact integer twin of _spine_size (`div` on longs, no double)
    n = F.expr(f"(__stop - 1 - __first) div {interval_ns} + 1")
    capped = F.when(n > F.lit(MAX_SPINE_BUCKETS), F.raise_error(
        F.format_string(_CAP_TEXT, n, F.lit(MAX_SPINE_BUCKETS)))
    ).otherwise(F.col("__stop"))
    return framed.select(*group_cols, "__first", capped.alias("__stop"))


def bucket_spine(df_aggregated: DataFrame, bucket_col: str, interval_ns: int,
                 start_ns: int | None, end_ns: int | None,
                 group_cols: list[str], offset_ns: int = 0,
                 tz: str | None = None,
                 one_partition: bool = True) -> DataFrame:
    """All buckets in [start, end) per distinct group combination (an
    ungrouped spine in one partition when `one_partition`).

    The spine MUST align with the bucket values the aggregation produced
    (timeutil.time_bucket / time_bucket_tz), so it honors the same
    `GROUP BY time(interval, offset)` offset and tz(): a misaligned spine
    left-joins to nothing and fill() silently nulls out every row.

    tz spines are generated as an arithmetic sequence in LOCAL wall-clock ns
    (where buckets are evenly spaced even across DST) and each edge is
    mapped back to its UTC instant with to_utc_timestamp — the exact inverse
    walk time_bucket_tz does per data row, so edges match bit-for-bit.

    A missing bound is the observed min bucket / max bucket + interval
    (InfluxDB bounds the spine by the WHERE time range; min/max is the
    sensible batch analog), resolved in the plan. No data in range gives no
    spine rows.
    """
    src = _spine_source(df_aggregated, bucket_col, interval_ns, start_ns,
                        end_ns, group_cols, offset_ns, tz, one_partition)
    first, stop = F.col("__first"), F.col("__stop")
    step = F.lit(interval_ns)
    if tz is None:
        buckets = F.when(stop > first, F.sequence(first, stop - 1, step))
        return src.select(*group_cols, F.explode(buckets).alias(bucket_col))
    # Uniform local-ns sequence starting at floor_local(start), one extra
    # day of steps as DST slack, mapped back to UTC and clipped at end.
    first_us = F.expr("(__first - pmod(__first, 1000)) div 1000")
    base = F.unix_micros(F.from_utc_timestamp(
        F.timestamp_micros(first_us), tz)) * F.lit(1000)
    shifted = base - F.lit(offset_ns)
    first_local = shifted - F.pmod(shifted, step) + F.lit(offset_ns)
    steps = F.when(stop > first, F.sequence(
        F.lit(0).cast("long"), stop - first + F.lit(_DAY_NS), step))
    edges = (src.select(*group_cols, first_local.alias("__local0"),
                        stop.alias("__stop"), F.explode(steps).alias("__step"))
             .select(*group_cols, "__stop",
                     (F.col("__local0") + F.col("__step")).alias("__local")))
    utc = F.unix_micros(F.to_utc_timestamp(
        F.timestamp_micros((F.col("__local") / F.lit(1000)).cast("long")),
        tz)) * F.lit(1000)
    return (edges.select(*group_cols, utc.alias(bucket_col), "__stop")
            .where(F.col(bucket_col) < F.col("__stop"))
            .select(*group_cols, bucket_col).distinct())


def fill_buckets(df_aggregated: DataFrame, bucket_col: str, interval_ns: int,
                 mode: str | float | int | None, value_cols: list[str],
                 group_cols: list[str] | None = None,
                 start_ns: int | None = None,
                 end_ns: int | None = None,
                 offset_ns: int = 0,
                 tz: str | None = None,
                 one_partition: bool = True) -> DataFrame:
    """Apply fill() to a bucket-aggregated DataFrame.

    mode: None → 'null' semantics (emit empty buckets as null);
          'none' → drop empty buckets (no spine join needed);
          'previous' | 'linear' | numeric constant.
    one_partition: the driver collects the answer, so an ungrouped spine
          may sit in one partition (False for INTO and subqueries).
    """
    group_cols = group_cols or []
    if mode == "none":
        preds = [F.col(c).isNotNull() for c in value_cols]
        keep = preds[0]
        for p in preds[1:]:
            keep = keep | p
        return df_aggregated.where(keep)

    windowed = mode in ("previous", "linear")
    if windowed and not group_cols and not one_partition \
            and (start_ns is None or end_ns is None):
        start_ns, end_ns = _resolve_open_bounds(
            df_aggregated, bucket_col, interval_ns, start_ns, end_ns)
    nbuckets = None
    if start_ns is not None and end_ns is not None:
        nbuckets = checked_spine_size(start_ns, end_ns, interval_ns,
                                      offset_ns)
    spine = bucket_spine(df_aggregated, bucket_col, interval_ns,
                         start_ns, end_ns, group_cols, offset_ns, tz,
                         one_partition)
    joined = _join_spine(spine, df_aggregated, bucket_col, group_cols)

    if mode is None or mode == "null":
        return joined
    if not group_cols and windowed and nbuckets is not None \
            and nbuckets > _SMALL_SPINE:
        return _fill_ungrouped_segmented(joined, bucket_col, interval_ns,
                                         mode, value_cols, nbuckets)
    return joined.select(*group_cols, bucket_col,
                         *fill_values(mode, value_cols, bucket_col,
                                      group_cols))


def fill_values(mode: str | float | int | None, value_cols: list[str],
                bucket_col: str, group_cols: list[str]) -> list:
    """The value columns of fill(mode) over the spine-joined frame
    (group_cols, bucket_col, value_cols), each keeping its name.

    `fill_buckets` selects them; the planner applies them to the
    aggregated frame, analysed only, to read the types Spark's coercion
    gives the filled columns (count() under fill(linear) is DOUBLE,
    fill(0) on a string aggregate is a string)."""
    if mode is None or mode in ("null", "none"):
        return [F.col(c) for c in value_cols]
    if isinstance(mode, (int, float)) and not isinstance(mode, bool):
        return [F.coalesce(F.col(c), F.lit(mode)).alias(c)
                for c in value_cols]
    if mode == "previous":
        w = (Window.partitionBy(*group_cols).orderBy(bucket_col)
             if group_cols else Window.orderBy(bucket_col))
        wprev = w.rowsBetween(Window.unboundedPreceding, 0)
        return [F.coalesce(F.col(c),
                           F.last(F.col(c), ignorenulls=True).over(wprev)).alias(c)
                for c in value_cols]
    if mode == "linear":
        w = (Window.partitionBy(*group_cols).orderBy(bucket_col)
             if group_cols else Window.orderBy(bucket_col))
        wprev = w.rowsBetween(Window.unboundedPreceding, -1)
        wnext = w.rowsBetween(1, Window.unboundedFollowing)
        exprs = []
        for c in value_cols:
            v = F.col(c)
            prev_v = F.last(v, ignorenulls=True).over(wprev)
            next_v = F.first(v, ignorenulls=True).over(wnext)
            prev_b = F.last(F.when(v.isNotNull(), F.col(bucket_col)),
                            ignorenulls=True).over(wprev)
            next_b = F.first(F.when(v.isNotNull(), F.col(bucket_col)),
                             ignorenulls=True).over(wnext)
            interp = prev_v + (next_v - prev_v) * (
                (F.col(bucket_col) - prev_b).cast("double")
                / (next_b - prev_b).cast("double"))
            exprs.append(F.coalesce(v, interp).alias(c))
        return exprs
    raise ValueError(f"unknown fill mode: {mode!r}")


def _join_spine(spine: DataFrame, df_aggregated: DataFrame, bucket_col: str,
                group_cols: list[str]) -> DataFrame:
    """Left join of the aggregated buckets onto the spine: group_cols,
    bucket_col, then the aggregated value columns. Tags match null-safely,
    so a series whose tag is null keeps its values (a plain equi-join
    would fill every bucket of it)."""
    if not group_cols:
        return spine.join(df_aggregated, on=[bucket_col], how="left")
    values = [c for c in df_aggregated.columns
              if c not in group_cols and c != bucket_col]
    right = df_aggregated.select(
        *[F.col(g).alias(f"__g{i}") for i, g in enumerate(group_cols)],
        F.col(bucket_col).alias("__b"), *values)
    cond = F.col(bucket_col) == F.col("__b")
    for i, g in enumerate(group_cols):
        cond = cond & F.col(g).eqNullSafe(F.col(f"__g{i}"))
    return spine.join(right, cond, "left").select(*group_cols, bucket_col,
                                                  *values)


def _resolve_open_bounds(df_aggregated: DataFrame, bucket_col: str,
                         interval_ns: int, start_ns: int | None,
                         end_ns: int | None) -> tuple[int | None, int | None]:
    """Eager min/max bucket for an open bound: fill.py's only eager job.

    Only ungrouped previous/linear whose answer stays in Spark (SELECT …
    INTO, a subquery) calls it. Their plan SHAPE depends on the spine size
    (a keyless window up to _SMALL_SPINE rows, the segmented scan above),
    and a shape has to be chosen before the plan exists. A one-partition
    spine always takes the keyless window, which needs no partitioning, so
    it and every other fill resolve open bounds in the plan. With no data
    the bounds stay open and the in-plan spine is empty."""
    lo, hi = df_aggregated.agg(F.min(bucket_col), F.max(bucket_col)).first()
    if lo is None:
        return start_ns, end_ns
    return (lo if start_ns is None else start_ns,
            hi + interval_ns if end_ns is None else end_ns)


def _spine_size(start_ns: int, end_ns: int, interval_ns: int,
                offset_ns: int = 0) -> int:
    """Bucket count of the spine (exact for UTC; tz spines may differ by the
    DST hours in range — irrelevant for the segmented-path size cutoff)."""
    first_bucket = _floor_bucket(start_ns, interval_ns, offset_ns)
    return max(0, (end_ns - 1 - first_bucket) // interval_ns + 1)


def checked_spine_size(start_ns: int, end_ns: int, interval_ns: int,
                       offset_ns: int = 0) -> int:
    """`_spine_size`, refused with the cap's QueryError above
    MAX_SPINE_BUCKETS."""
    n = _spine_size(start_ns, end_ns, interval_ns, offset_ns)
    if n > MAX_SPINE_BUCKETS:
        raise QueryError(_CAP_TEXT % (n, MAX_SPINE_BUCKETS))
    return n


def collected_spine(buckets: list[int], interval_ns: int,
                    start_ns: int | None, end_ns: int | None,
                    offset_ns: int = 0) -> range:
    """The spine of an answer the driver finishes (see `fill_collected`).

    Explicit bounds are taken as `_spine_source` takes them (the start
    floored to the bucket grid). A missing bound comes from the collected
    `buckets`, as the in-plan min/max bucket does, so it costs no second
    scan and no job; with no data the spine is empty. An open-bounded
    spine over MAX_SPINE_BUCKETS is refused here, before any filled row
    exists, with the bounded path's text (the planner refuses an
    explicit-bounded one while planning, before any job runs)."""
    if start_ns is not None:
        start_ns = _floor_bucket(start_ns, interval_ns, offset_ns)
    if start_ns is None or end_ns is None:
        if not buckets:
            return range(0)
        if start_ns is None:
            start_ns = min(buckets)
        if end_ns is None:
            end_ns = max(buckets) + interval_ns
        checked_spine_size(start_ns, end_ns, interval_ns, offset_ns)
    return range(start_ns, end_ns, interval_ns)


def fill_collected(spine: range, observed: dict[int, tuple],
                   mode: str | float | int | None,
                   fill_values: tuple, width: int) -> list[tuple]:
    """Driver twin of `fill_buckets` for one collected series: the value
    tuple of every spine bucket, in spine order.

    `observed` maps a bucket to its aggregated values; a bucket off the
    spine is dropped, as the spine's left join drops it. `fill_values`
    holds the numeric fill literal per value column, already coerced to
    the planned column's type. Linear interpolation keeps the Spark
    expression's order of operations, so the doubles are identical."""
    empty = (None,) * width
    rows = [observed.get(b, empty) for b in spine]
    if mode is None or mode == "null" or not rows:
        return rows
    if mode not in ("previous", "linear"):
        return [tuple(f if v is None else v for v, f in zip(r, fill_values))
                for r in rows]
    cols = [list(c) for c in zip(*rows)]
    for col in cols:
        known = [i for i, v in enumerate(col) if v is not None]
        if mode == "previous":
            for i, j in zip(known, known[1:] + [len(col)]):
                col[i + 1:j] = [col[i]] * (j - i - 1)
            continue
        for i, j in zip(known, known[1:]):
            prev_v, next_v = col[i], col[j]
            prev_b, next_b = spine[i], spine[j]
            for k in range(i + 1, j):
                col[k] = prev_v + (next_v - prev_v) * (
                    float(spine[k] - prev_b) / float(next_b - prev_b))
    return list(zip(*cols))


def _fill_ungrouped_segmented(joined: DataFrame, bucket_col: str,
                              interval_ns: int, mode: str,
                              value_cols: list[str], nbuckets: int) -> DataFrame:
    """previous/linear fill over one big evenly-spaced spine, P-way parallel.

    Segment id = bucket position // rows-per-segment (pure projection —
    the spine is arithmetic, so no range shuffle or sampling). Per-segment
    windows handle in-segment gaps; cross-segment gaps are stitched with
    per-segment extreme partials (P rows) broadcast back — a segmented scan.
    """
    spark = joined.sparkSession
    try:
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        parts = 32
    rpp = max(1, math.ceil(nbuckets / parts))
    pos = (F.col(bucket_col) / F.lit(interval_ns)).cast("long")
    d = joined.withColumn("__pid", (pos / F.lit(rpp)).cast("long"))

    def nn(c):  # non-null (bucket, value) struct for ordering
        return F.when(F.col(c).isNotNull(),
                      F.struct(F.col(bucket_col).alias("b"),
                               F.col(c).alias("v")))

    # per-segment extreme partials: P rows — tiny by construction
    partials = d.groupBy("__pid").agg(
        *[F.max(nn(c)).alias(f"__last_{c}") for c in value_cols],
        *([F.min(nn(c)).alias(f"__first_{c}") for c in value_cols]
          if mode == "linear" else []))
    wfwd = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    wbwd = Window.orderBy(F.col("__pid").desc()) \
        .rowsBetween(Window.unboundedPreceding, -1)
    carry_cols = [F.max(F.col(f"__last_{c}")).over(wfwd).alias(f"__cprev_{c}")
                  for c in value_cols]
    if mode == "linear":
        carry_cols += [F.min(F.col(f"__first_{c}")).over(wbwd)
                       .alias(f"__cnext_{c}") for c in value_cols]
    carries = partials.select("__pid", *carry_cols)
    d = d.join(F.broadcast(carries), on="__pid", how="left")

    w = Window.partitionBy("__pid").orderBy(bucket_col)
    exprs = []
    if mode == "previous":
        wprev = w.rowsBetween(Window.unboundedPreceding, 0)
        for c in value_cols:
            within = F.last(nn(c), ignorenulls=True).over(wprev)
            prev = F.coalesce(within, F.col(f"__cprev_{c}"))
            exprs.append(F.coalesce(F.col(c), prev["v"]).alias(c))
    else:  # linear
        wprev = w.rowsBetween(Window.unboundedPreceding, -1)
        wnext = w.rowsBetween(1, Window.unboundedFollowing)
        for c in value_cols:
            prev = F.coalesce(F.last(nn(c), ignorenulls=True).over(wprev),
                              F.col(f"__cprev_{c}"))
            nxt = F.coalesce(F.first(nn(c), ignorenulls=True).over(wnext),
                             F.col(f"__cnext_{c}"))
            interp = prev["v"] + (nxt["v"] - prev["v"]) * (
                (F.col(bucket_col) - prev["b"]).cast("double")
                / (nxt["b"] - prev["b"]).cast("double"))
            exprs.append(F.coalesce(F.col(c), interp).alias(c))
    return d.select(bucket_col, *exprs)
