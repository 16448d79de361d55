"""InfluxQL aggregate calls as native Catalyst aggregate expressions.

The reference implements these as merge-tree nodes doing partial+final
combine across data nodes (service/merge/calls.go, query_merge.go:106-209).
Catalyst generates exactly that split (HashAggregate partial → shuffle →
HashAggregate final) for every expression below — with map-side combine,
codegen, and *exact* semantics where the reference's merge is approximate:

- median   — reference: count-weighted mean of per-node medians (calls.go:75-103,
             approximate) → exact `F.median`.
- stddev   — reference: count-weighted mean of per-node stddevs (calls.go:105-133,
             not the pooled formula) → exact `F.stddev` (sample stddev, matching
             InfluxDB's own definition).
- percentile — reference: count-weighted mean of per-node percentiles
             (calls.go:46-73) → exact `F.percentile`. InfluxQL percentile is
             nearest-rank on the sorted set; we expose exact interpolated
             percentile (ANSI) plus `percentile_approx` for the 100 TB path.
- mode     — reference: mode of per-node modes (calls.go:305-333, approximate)
             → exact `F.mode`.
- distinct — reference: set-union with a known bug (calls.go:252-276 FIXME)
             → exact `collect_set`/`array_distinct`.

At 100 TB every one of these is a single shuffle on the group keys; the
approx variants (`approx_count_distinct`, `percentile_approx`) are offered
for when exact distinct/percentile state would be the bottleneck.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _count(col: Column) -> Column:       # calls.go:335-355 (sum of counts)
    return F.count(col)


def _sum(col: Column) -> Column:         # calls.go:375-389
    return F.sum(col)


def _mean(col: Column) -> Column:        # calls.go:278-303 (Σsum/Σcount)
    return F.avg(col)


def _min(col: Column) -> Column:         # query_merge.go:145-146 via bottom(f,1)
    return F.min(col)


def _max(col: Column) -> Column:         # query_merge.go:143-144 via top(f,1)
    return F.max(col)


def _spread(col: Column) -> Column:      # calls.go:219-250 (max(maxs)-min(mins))
    return F.max(col) - F.min(col)


def _stddev(col: Column) -> Column:      # calls.go:105-133 → exact sample stddev
    return F.stddev(col)


def _median(col: Column) -> Column:      # calls.go:75-103 → exact median
    return F.median(col)


def _mode(col: Column) -> Column:        # calls.go:305-333 → exact global mode
    return F.mode(col)


def _percentile(col: Column, p: float) -> Column:  # calls.go:46-73 → exact
    return F.percentile(col, F.lit(p / 100.0))


def _percentile_approx(col: Column, p: float) -> Column:
    return F.percentile_approx(col, F.lit(p / 100.0))


def _count_distinct(col: Column) -> Column:
    return F.count_distinct(col)


def _approx_count_distinct(col: Column) -> Column:
    return F.approx_count_distinct(col)


def _first(col: Column, time_col: Column) -> Column:
    # InfluxQL first(f) = value at the earliest time. Unsupported by the
    # reference's merge path (query_merge.go:174-182: partials carry no
    # timestamps); trivial as min_by in Spark.
    return F.min_by(col, time_col)


def _last(col: Column, time_col: Column) -> Column:
    return F.max_by(col, time_col)


def _first_time(col: Column, time_col: Column) -> Column:
    return F.min(time_col)


def _last_time(col: Column, time_col: Column) -> Column:
    return F.max(time_col)


def _top_array(col: Column, n: int) -> Column:
    """top(f,N) values as a sorted array (calls.go:153-180 top-K merge).

    `sort_array(collect_list(...), asc=False)[0:N]` keeps partial state
    bounded only at small N; the planner's row-producing top/bottom uses a
    window `row_number` instead (scales via per-group shuffle sort).
    """
    return F.slice(F.sort_array(F.collect_list(col), asc=False), 1, n)


def _bottom_array(col: Column, n: int) -> Column:  # calls.go:190-217
    return F.slice(F.sort_array(F.collect_list(col), asc=True), 1, n)


# name → (builder, needs_time, n_extra_args)
AGGREGATES: dict[str, tuple] = {
    "count": (_count, False, 0),
    "sum": (_sum, False, 0),
    "mean": (_mean, False, 0),
    "min": (_min, False, 0),
    "max": (_max, False, 0),
    "spread": (_spread, False, 0),
    "stddev": (_stddev, False, 0),
    "median": (_median, False, 0),
    "mode": (_mode, False, 0),
    "percentile": (_percentile, False, 1),
    "percentile_approx": (_percentile_approx, False, 1),
    "count_distinct": (_count_distinct, False, 0),
    "approx_count_distinct": (_approx_count_distinct, False, 0),
    "first": (_first, True, 0),
    "last": (_last, True, 0),
    "top": (_top_array, False, 1),
    "bottom": (_bottom_array, False, 1),
}


# The five aggregates the reference merges exactly (Σcounts, Σsums,
# Σsum/Σcount, min of mins, max of maxes: calls.go:278-389,
# query_merge.go:143-146). Over rows the driver holds they run in pyarrow
# (`held_aggregate`) instead of Spark. name → whether its field must be
# a number.
ARROW_AGGREGATES: dict[str, bool] = {"count": False, "sum": True,
                                     "mean": True, "min": True, "max": True}


def held_aggregate(rows, keep, time_col: str, interval_ns: int,
                   offset_ns: int, group_tags: list[str],
                   values: list[tuple[str, str, str]]):
    """`GROUP BY time(interval, offset), group_tags` of driver-held rows
    (a `pyarrow.Table`) in pyarrow: the aggregated frame the planner
    would run in Spark, with columns `time_col`, `group_tags`, then one per
    `values` entry (output name, ARROW_AGGREGATES name, field). `keep`
    maps the rows to the WHERE mask (a null drops the row, as in Spark's
    WHERE), or is None.

    The values equal Spark's over the same rows in one partition: groups
    are built in row order (`use_threads=False`), so each float sum adds
    in row order from 0.0, as Spark's Sum and Average do; mean sums its
    field as double and divides by the count, as Spark's avg does; min and
    max keep the first of equal values (0.0 and -0.0), as Greatest and
    Least do. NaN orders differently in Spark, so the planner only sends
    NaN-free fields here."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from ..timeutil import time_bucket_values

    if keep is not None:
        rows = rows.filter(keep(rows))
    cols = {"b": time_bucket_values(rows.column(time_col), interval_ns,
                                    offset_ns)}
    keys = ["b"]
    for i, t in enumerate(group_tags):
        keys.append(f"k{i}")
        cols[keys[-1]] = rows.column(t)
    # positional names: no output name can collide with a column's
    calls = list(dict.fromkeys((fn, f) for _, fn, f in values))
    aggs = []
    for j, (fn, f) in enumerate(calls):
        if fn == "mean":
            cols[f"v{j}"] = rows.column(f).cast(pa.float64())
            aggs += [(f"v{j}", "sum"), (f"v{j}", "count")]
        else:
            cols[f"v{j}"] = rows.column(f)
            aggs.append((f"v{j}", fn))
    out = pa.table(cols).group_by(keys, use_threads=False).aggregate(aggs)
    done = {}
    for j, (fn, f) in enumerate(calls):
        if fn == "mean":
            done[fn, f] = pc.divide(out[f"v{j}_sum"],
                                    out[f"v{j}_count"].cast(pa.float64()))
        else:
            done[fn, f] = out[f"v{j}_{fn}"]
    return pa.Table.from_arrays(
        [out["b"], *[out[k] for k in keys[1:]],
         *[done[fn, f] for _, fn, f in values]],
        names=[time_col, *group_tags, *[n for n, _, _ in values]])


def is_aggregate(name: str) -> bool:
    return name.lower() in AGGREGATES


def agg_column(name: str, col: Column, time_col: Column | None = None,
               args: tuple = ()) -> Column:
    """Build the Catalyst aggregate expression for an InfluxQL call."""
    builder, needs_time, _ = AGGREGATES[name.lower()]
    if needs_time:
        if time_col is None:
            raise ValueError(f"{name} requires a time column")
        return builder(col, time_col)
    return builder(col, *args)
