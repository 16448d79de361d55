"""Inputs for the benchmark workloads and the answers they should get.

The `events` table is written once per checkout with the repo's
deterministic generator; the seed picks only the windows and tags the queries use. The
ingest points are seeded numpy. Every expected answer is computed here in
plain pandas, independently of the engine under test.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

JAN1_NS = 1_704_067_200_000_000_000      # 2024-01-01T00:00:00Z
FEB1_NS = 1_706_745_600_000_000_000      # 2024-02-01T00:00:00Z
NOW_NS = 1_717_200_000_000_000_000       # fixed now() for every statement
HOUR_NS = 3_600_000_000_000
DAY_NS = 24 * HOUR_NS

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


EVENTS_ROWS = 100_000     # sf0.1
EVENTS_USERS = 1500
EVENTS_DAYS = 30          # gen_events spreads the rows over Jan 1-30


def write_events(spark, cache_dir: str) -> str:
    """Write the sf0.1 `events` table with the repo's own deterministic
    generator (tools/gen_scale.gen_events) as one parquet file set;
    returns the directory holding `events.parquet`. The table is the same
    for every seed, so it is written once into `cache_dir`, under a name
    that changes with the generator's source, and later runs reuse it."""
    import hashlib
    import shutil
    import tools.gen_scale as gen_scale
    with open(gen_scale.__file__, "rb") as f:
        digest = hashlib.sha256(f.read()).hexdigest()[:16]
    out = os.path.join(cache_dir,
                       f"events-{EVENTS_ROWS}-{EVENTS_USERS}-{digest}")
    if os.path.isdir(out):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    (gen_scale.gen_events(spark, EVENTS_ROWS, EVENTS_USERS).coalesce(1)
     .write.mode("overwrite").parquet(os.path.join(tmp, "events.parquet")))
    try:
        os.rename(tmp, out)
    except OSError:   # another run got there first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def read_events(events_dir: str) -> pd.DataFrame:
    """The written table as (t ns, event_type, value, event_id)."""
    ev = pd.read_parquet(os.path.join(events_dir, "events.parquet"),
                         columns=["ts", "event_type", "value", "event_id"])
    t = ev["ts"].astype("datetime64[us]").astype("int64") * 1000
    return ev.drop(columns="ts").assign(t=t.to_numpy())


# -- expected /query answers -------------------------------------------------
# Each returns (columns, rows) in the layout `workloads.series_table` gives a
# response: the tag columns, then the series columns. Empty GROUP BY time()
# buckets of a bounded window read null (InfluxQL's default fill).

def _buckets(ev, lo, hi, every):
    sel = ev[(ev["t"] >= lo) & (ev["t"] < hi)]
    return sel.assign(b=(sel["t"] // every) * every)


def _spine(lo, hi, every):
    return range((lo // every) * every, hi, every)


def expected_query(kind: str, p: dict, ev: pd.DataFrame):
    lo, hi = p.get("lo"), p.get("hi")
    if kind == "group_1h":
        g = _buckets(ev, lo, hi, HOUR_NS).groupby("b")["value"].mean()
        return ["time", "mean"], [(b, _num(g.get(b)))
                                  for b in _spine(lo, hi, HOUR_NS)]
    if kind == "group_1h_tag":
        sel = _buckets(ev, lo, hi, HOUR_NS)
        g = sel[sel["event_type"] == p["tag"]].groupby("b")["value"].agg(
            ["count", "max"])
        return ["time", "count", "max"], [
            (b, int(g.loc[b, "count"]), float(g.loc[b, "max"]))
            if b in g.index else (b, None, None)
            for b in _spine(lo, hi, HOUR_NS)]
    if kind == "group_1d_tag":
        g = _buckets(ev, lo, hi, DAY_NS).groupby(["event_type", "b"])[
            "value"].agg(["mean", "sum"])
        tags = sorted(g.index.get_level_values(0).unique())
        return ["event_type", "time", "mean", "sum"], [
            (tag, b) + ((float(g.loc[(tag, b), "mean"]),
                         float(g.loc[(tag, b), "sum"]))
                        if (tag, b) in g.index else (None, None))
            for tag in tags for b in _spine(lo, hi, DAY_NS)]
    if kind == "raw_limit":
        sel = ev[(ev["t"] >= lo) & (ev["t"] < hi)
                 & (ev["event_type"] == p["tag"])]
        sel = sel.sort_values(["t", "event_id"]).head(p["limit"])
        return ["time", "value", "event_id"], [
            (int(t), float(v), int(i)) for t, v, i in
            zip(sel["t"], sel["value"], sel["event_id"])]
    if kind == "fill_linear":
        every = p["every"]
        sel = _buckets(ev, lo, hi, every)
        g = sel[sel["event_type"] == p["tag"]].groupby("b")["value"].sum()
        return ["time", "sum"], list(zip(
            _spine(lo, hi, every),
            linear_fill([_num(g.get(b)) for b in _spine(lo, hi, every)],
                        list(_spine(lo, hi, every)))))
    if kind == "fill_open":
        # open lower bound: buckets from the first one holding data up to
        # the fixed now(), empty ones read 0
        t = ev.loc[ev["event_type"] == p["tag"], "t"]
        counts = ((t // DAY_NS) * DAY_NS).value_counts()
        start = int(counts.index.min())
        return ["time", "count"], [(b, int(counts.get(b, 0)))
                                   for b in range(start, NOW_NS, DAY_NS)]
    if kind == "subquery":
        daily = _buckets(ev, lo, hi, DAY_NS).groupby(
            ["event_type", "b"]).size()
        g = daily.groupby(level=0).agg(["max", "min"])
        return ["event_type", "max", "min"], [
            (tag, int(r["max"]), int(r["min"])) for tag, r in g.iterrows()]
    if kind == "show_tag_values":
        return ["key", "value"], [("event_type", t) for t in
                                  sorted(ev["event_type"].unique())]
    if kind == "show_measurements":
        return ["name"], [("events",)]
    raise KeyError(kind)


def _num(x):
    return None if x is None or pd.isna(x) else float(x)


def linear_fill(vals: list, times: list) -> list:
    """InfluxQL fill(linear): a null between two values is interpolated
    on time; leading and trailing nulls stay null."""
    out = list(vals)
    known = [i for i, v in enumerate(vals) if v is not None]
    for a, b in zip(known, known[1:]):
        for i in range(a + 1, b):
            out[i] = vals[a] + (vals[b] - vals[a]) * (
                (times[i] - times[a]) / (times[b] - times[a]))
    return out


def rows_match(got: list[tuple], want: list[tuple],
               rel: float = 1e-9) -> bool:
    """Row sets equal, floats to `rel` relative error."""
    def key(r):
        return tuple((v is None, v if not isinstance(v, float) else 0)
                     for v in r)
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(b, float) and a is not None:
                if abs(a - b) > rel * max(1.0, abs(b)):
                    return False
            elif a != b:
                return False
    return True


# -- ingest -----------------------------------------------------------------

INGEST_HOSTS = 50
INGEST_REGIONS = 5
INGEST_BATCH = 1000
INGEST_DEPTH = 10          # writes (each followed by a read) per cycle
INGEST_T0_NS = JAN1_NS
INGEST_STEP_NS = 10_000_000_000   # 10 s between a host's points


def ingest_batches(seed: int) -> list[pd.DataFrame]:
    """One cycle's `INGEST_DEPTH` batches of `INGEST_BATCH` points each.

    Every point is (time, host, region, usage, load). A host always lives
    in the same region. About one point in ten of batches 2.. repeats a
    (time, host) pair written earlier in the cycle, so the engine has to
    upsert; the newest field values win."""
    rng = np.random.default_rng(seed)
    hosts = np.arange(INGEST_HOSTS)
    region_of = rng.integers(0, INGEST_REGIONS, INGEST_HOSTS)
    batches = []
    slot = 0
    for b in range(INGEST_DEPTH):
        n_dup = 0 if b == 0 else INGEST_BATCH // 10
        n_new = INGEST_BATCH - n_dup
        # fresh points: consecutive time slots, every host once per slot
        idx = np.arange(slot, slot + n_new)
        slot += n_new
        host = hosts[idx % INGEST_HOSTS]
        t = INGEST_T0_NS + (idx // INGEST_HOSTS) * INGEST_STEP_NS
        if n_dup:
            prev = rng.choice(slot - n_new, n_dup, replace=False)
            host = np.concatenate([host, hosts[prev % INGEST_HOSTS]])
            t = np.concatenate(
                [t, INGEST_T0_NS + (prev // INGEST_HOSTS) * INGEST_STEP_NS])
        n = len(t)
        batches.append(pd.DataFrame({
            "time": t.astype(np.int64),
            "host": [f"h{h:02d}" for h in host],
            "region": [f"r{region_of[h]}" for h in host],
            "usage": np.round(rng.uniform(0, 100, n), 2),
            "load": rng.integers(0, 64, n).astype(np.int64),
        }).sample(frac=1.0, random_state=int(rng.integers(1 << 31)))
            .reset_index(drop=True))
    return batches


def line_protocol(batch: pd.DataFrame, measurement: str) -> str:
    return "\n".join(
        f"{measurement},host={h},region={r} usage={u!r},load={ld}i {t}"
        for t, h, r, u, ld in zip(batch["time"], batch["host"],
                                  batch["region"], batch["usage"],
                                  batch["load"]))


def upserted(batches: list[pd.DataFrame]) -> pd.DataFrame:
    """InfluxDB upsert semantics: the last write of a (time, tagset) wins."""
    both = pd.concat(batches, ignore_index=True)
    return both.drop_duplicates(["time", "host", "region"], keep="last")


def expected_read(points: pd.DataFrame) -> dict[tuple[str, int], tuple]:
    """Expected `SELECT count(usage), sum(usage), max(load) …
    GROUP BY time(10m), region fill(none)` → {(region, bucket): values}."""
    bucket = (points["time"] // (600 * 10**9)) * (600 * 10**9)
    g = points.assign(bucket=bucket).groupby(["region", "bucket"])
    out = {}
    for (region, b), grp in g:
        out[(region, int(b))] = (int(grp["usage"].count()),
                                 round(float(grp["usage"].sum()), 2),
                                 int(grp["load"].max()))
    return out
