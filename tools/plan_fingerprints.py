"""Plan-fingerprint regression gate: pin the physical-plan shape of every
__spark_entry__.queries() entry so a silent plan regression — a new
Exchange, a broadcast join degrading to sort-merge, a Python row UDF
sneaking in — fails loudly in the next round's diff instead of showing up
as an unexplained bench slowdown.

Usage:
    python tools/plan_fingerprints.py --record [sf_dir]   # pin baseline
    python tools/plan_fingerprints.py [sf_dir]            # compare vs pin

The fingerprint is `explain_audit.audit_plan`'s counters (exchanges,
single-partition funnels, one-partition producers feeding a join/sort/
window, broadcast/sort-merge join counts, cartesian / Arrow-UDF flags).
Every counter is compared for every key. Comparison is directional:
MORE exchanges, FEWER broadcast joins, MORE sort-merge joins, or a new
cartesian/row-Python/single-partition is a regression; an IMPROVEMENT
(fewer shuffles) is reported and should be re-pinned with --record. Plan
shape, not data, is fingerprinted — the default sf0.001 keeps the run
fast.

Caveat: counters are TEXTUAL occurrences in the executed-plan string. A
`persist()`ed subtree prints its full child plan under every
InMemoryRelation reference, so adding a cache can inflate the exchange
count even though the subtree executes once — when a flagged
"regression" coincides with an intentional persist, check the runtime
(bench/scale_report) before believing the counter, then re-record.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from tools.explain_audit import audit_plan

BASELINE_PATH = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "PLAN_FINGERPRINTS.json")

# fields where a strictly larger value is a scale regression
WORSE_IF_MORE = ("exchanges", "single_part", "one_part", "sortmerge_joins")
# fields where a strictly smaller value is a regression (lost broadcast)
WORSE_IF_FEWER = ("broadcast_joins",)
# boolean fields that must never newly appear
WORSE_IF_NEW = ("cartesian", "py_row_udf", "keyless_window")


def fingerprints(sf_dir: str) -> dict[str, dict]:
    # Capture MUST be order-independent (r8 verdict What's-wrong #2):
    # queries() iterates in the evidence-rotation order — a function of
    # committed CORRECTNESS_r*.json files — and operators share keep()
    # persist tags, so a key captured after a sibling that populated the
    # cache prints InMemoryRelation subtrees (fewer textual exchanges)
    # while the same key captured first prints the expanded pipeline.
    # Iterating sorted() and releasing the operator cache before every
    # capture makes the fingerprint a pure function of the code, so a
    # new evidence file can no longer flip a pin (the r8 doc_cross_dedup
    # 4->7 phantom regression).
    from influxdb_ha_spark import cache
    from influxdb_ha_spark.session import get_spark
    spark = get_spark(app_name="plan_fingerprints")
    out = {}
    for name, fn in sorted(entry_mod.queries().items()):
        cache.release()
        try:
            plan = fn(spark, sf_dir)._jdf.queryExecution() \
                .executedPlan().toString()
            out[name] = audit_plan(plan)
        except Exception as e:  # noqa: BLE001 — recorded, not swallowed
            out[name] = {"error": f"{type(e).__name__}: {e}"[:200]}
    cache.release()
    spark.stop()
    return out


def compare(base: dict, cur: dict) -> tuple[list[str], list[str]]:
    regressions, improvements = [], []
    for name, c in cur.items():
        b = base.get(name)
        if b is None:
            improvements.append(f"{name}: NEW query — re-record to pin")
            continue
        if "error" in c or "error" in b:
            if c.get("error") and not b.get("error"):
                regressions.append(f"{name}: now errors: {c['error']}")
            continue
        for f in WORSE_IF_MORE:
            if c[f] > b[f]:
                regressions.append(f"{name}: {f} {b[f]} -> {c[f]}")
            elif c[f] < b[f]:
                improvements.append(f"{name}: {f} {b[f]} -> {c[f]}")
        for f in WORSE_IF_FEWER:
            if c[f] < b[f]:
                regressions.append(f"{name}: {f} {b[f]} -> {c[f]} "
                                   "(lost broadcast)")
            elif c[f] > b[f]:
                improvements.append(f"{name}: {f} {b[f]} -> {c[f]}")
        for f in WORSE_IF_NEW:
            if c[f] and not b[f]:
                regressions.append(f"{name}: {f} newly present")
            elif b[f] and not c[f]:
                improvements.append(f"{name}: {f} gone")
    for name in base:
        if name not in cur:
            improvements.append(f"{name}: removed from queries()")
    return regressions, improvements


def main():
    args = [a for a in sys.argv[1:]]
    record = "--record" in args
    args = [a for a in args if a != "--record"]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"

    cur = fingerprints(sf_dir)
    if record:
        with open(BASELINE_PATH, "w") as f:
            json.dump(cur, f, indent=1, sort_keys=True)
        print(f"recorded {len(cur)} fingerprints -> {BASELINE_PATH}")
        return
    if not os.path.exists(BASELINE_PATH):
        print(f"no baseline at {BASELINE_PATH}; run with --record first")
        sys.exit(2)
    with open(BASELINE_PATH) as f:
        base = json.load(f)
    regressions, improvements = compare(base, cur)
    for line in improvements:
        print(f"improved  {line}")
    for line in regressions:
        print(f"REGRESSED {line}")
    if regressions:
        print(f"\n{len(regressions)} plan regressions vs {BASELINE_PATH}")
        sys.exit(1)
    print(f"\nall {len(cur)} plans match the pinned fingerprints"
          + (f" ({len(improvements)} improvements — re-record to pin)"
             if improvements else ""))


if __name__ == "__main__":
    main()
