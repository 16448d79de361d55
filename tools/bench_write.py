"""Write-path micro-benchmark — the analog of the reference's only
benchmark (`BenchmarkRouting`, service/write_test.go:38-57: 100-point
line-protocol batches through WriteHandler with a mocked writer).

Measures `write_lines` (parse → pivot → validate → upsert-merge) into an
in-memory Engine. Prints one JSON line with points/sec per batch size into
a new measurement, and, under "existing", the median seconds of five
1000-point writes into an existing measurement plus the median latency of
five runs of a one-week GROUP BY query on it afterwards (after one
untimed run), for two kinds of measurement:
`events`, the parquet table of $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1), and `written`, 100k points built by /write.

    python tools/bench_write.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WEEK_NS = 7 * 86_400 * 10**9


def _into_existing(eng, database: str, bodies: list[str], q: str) -> dict:
    from influxdb_ha_spark.server import write_lines

    write_s = []
    for body in bodies:
        t0 = time.perf_counter()
        write_lines(eng, database, body)
        write_s.append(time.perf_counter() - t0)
    query_s = []
    for _ in range(6):
        t0 = time.perf_counter()
        res = eng.query(q, database)
        query_s.append(time.perf_counter() - t0)
        assert "error" not in res["results"][0], res
    return {"write_sec": round(statistics.median(write_s), 3),
            "query_sec": round(statistics.median(query_s[1:]), 3)}


def main():
    from pyspark.sql import functions as F

    from influxdb_ha_spark.model import Catalog, events_measurement
    from influxdb_ha_spark.server import Engine, write_lines
    from influxdb_ha_spark.session import get_spark

    spark = get_spark(app_name="bench_write")
    spark.range(1000).count()  # warm

    results = {}
    for n in (100, 1000, 10000):
        lines = "\n".join(
            f"cpu,host=h{i % 50},region=r{i % 5} usage={i % 97}.5,"
            f"load={i % 13}i {1_700_000_000_000_000_000 + i * 1000}"
            for i in range(n))
        eng = Engine(Catalog(spark), database="bench")
        t0 = time.time()
        accepted = write_lines(eng, "bench", lines)
        dt = time.time() - t0
        assert accepted == n, (accepted, n)
        results[str(n)] = {"sec": round(dt, 3),
                           "points_per_sec": round(n / dt)}

    existing = {}
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cat, m = events_measurement(spark, sf_dir)
    lo, hi = m.df.agg(F.min("time"), F.max("time")).first()
    types = sorted(r[0] for r in m.df.select("event_type").distinct()
                   .collect())
    step = (hi - lo) // 5000
    bodies = ["\n".join(
        f"events,event_type={types[i % len(types)]} value={i % 97}.5 "
        f"{lo + (b * 1000 + i) * step + 1}" for i in range(1000))
        for b in range(5)]
    existing["events"] = _into_existing(
        Engine(cat, database="default"), "default", bodies,
        f"SELECT mean(value) FROM events WHERE time >= {lo} "
        f"AND time < {lo + WEEK_NS} GROUP BY time(1d), event_type")

    base = 1_700_000_000_000_000_000
    point = "written,host=h{h},region=r{r} usage={u}.5,load={l}i {t}"
    eng = Engine(Catalog(spark), database="bench")
    for b in range(10):  # 100k points, untimed
        write_lines(eng, "bench", "\n".join(
            point.format(h=i % 50, r=i % 5, u=i % 97, l=i % 13,
                         t=base + i * 10**10)
            for i in range(b * 10_000, (b + 1) * 10_000)))
    bodies = ["\n".join(
        point.format(h=i % 50, r=i % 5, u=b, l=b, t=base + i * 10**10)
        for i in range(b * 20_000, b * 20_000 + 1000)) for b in range(5)]
    existing["written"] = _into_existing(
        eng, "bench", bodies,
        f"SELECT mean(usage) FROM written WHERE time >= {base} "
        f"AND time < {base + WEEK_NS} GROUP BY time(1d), region")

    print(json.dumps({"metric": "write_path", "batches": results,
                      "existing": existing}))
    spark.stop()


if __name__ == "__main__":
    main()
