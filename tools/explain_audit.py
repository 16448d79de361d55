"""Physical-plan audit: scan every __spark_entry__.queries() plan for
scale red flags.

For each query, counts shuffles (Exchange), flags single-partition funnels
(`Exchange SinglePartition`, keyless Window, and a one-partition producer —
`Coalesce 1` or a one-split `Range` — feeding a join, sort or window
without a shuffle in between), cartesian/nested-loop joins, and
row-at-a-time Python (BatchEvalPython = non-Arrow UDF). These are the
shapes that break at 100 TB even when sf0.01 correctness is green.

Usage: python tools/explain_audit.py [sf_dir]   (default sf0.001 — plan
shape, not data, is what's audited). Prints a table; exits non-zero if a
query trips a HARD flag that is not on the allowlist below.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

# Queries where a single-partition funnel (an Exchange SinglePartition, a
# keyless window, or a one-partition producer feeding a join/sort/window)
# is by-construction bounded.
# Every entry MUST carry a bounded-size justification; the audit fails on
# an empty one, and flags STALE entries whose plans no longer funnel
# (so the allowlist can't silently rot into a blanket waiver). Spine-based
# entries are additionally guarded at runtime: functions/fill.py refuses
# spines above MAX_SPINE_BUCKETS.
BOUNDED_SINGLE_PARTITION = {
    "ev_ab_cuped": "the 1-row six-moment global aggregate (partials "
                   "combine map-side — the final exchange carries P "
                   "partial rows of six DECIMAL sums each, regardless "
                   "of data size); the per-unit build upstream is "
                   "unit-keyed",
    "graph_modularity": "the 1-row edge-count scalar (partial counts "
                        "combine map-side; final = P partial rows); "
                        "every data-sized stage is node- or "
                        "community-keyed",
    "emb_hybrid_rrf": "the two rank windows run on ALREADY-TRUNCATED "
                      "top-k retrieval lists (≤ 20 rows each — bounded "
                      "by the lists' k PARAMETERS, the text_zipf "
                      "argument), and bm25's 1-row stats aggregate; "
                      "the corpus-sized work happened upstream in the "
                      "allowlisted retrieval operators",
    "diag_skew": "the 1-row (total_rows, n_keys) global aggregate over "
                 "the key-count table (partials combine map-side; final "
                 "= P partial rows); the top slice is a "
                 "TakeOrderedAndProject bounded by the top parameter — "
                 "the key-keyed count shuffle is the only data-sized "
                 "stage",
    "sk_bloom": "four 1-row count scalars (each a partial-count "
                "gather of P partial rows); the bitmap build "
                "collapses to <= m/64 = 16 word rows and the probe "
                "is map-side — no data-sized funnel anywhere",
    "sk_join_sample": "four 1-row count scalars folded (each a "
                      "partial-count gather of P partial rows); the "
                      "sampled join shuffles ~1/rate of each side and "
                      "the audit join is the exact reference this "
                      "probe replaces at scale",
    "diag_join_advisor": "three 1-row scalar aggregates (two per-side "
                         "summaries folding the key-count tables — "
                         "partials combine map-side — and the sampled "
                         "join's count); the key-keyed count groupBys "
                         "and the ~1/rate sample join are the only "
                         "data-sized stages",
    "priv_t_closeness": "cumulative windows over the B-row global-CDF "
                        "table, bounded by the sensitive-bucket "
                        "VOCABULARY (B = 7 kilobuckets at the gate — "
                        "the sk_hist_quantile bins argument); the "
                        "data-sized stages are the two map-combinable "
                        "count shuffles",
    "ev_ab_ks": "same value-vocabulary cumulative pass as "
                "ev_ab_ranksum (the two tests share the per-value "
                "count machinery) + the 1-row D fold; vocabulary "
                "ENFORCED <= max_vocab (default 2e6) by ks_test's "
                "eager pre-window cap probe (timeseries.py) — an "
                "unbounded continuous metric raises before the "
                "window runs",
    "ev_ab_bucketed": "rank-sum + KS cumulative passes over the "
                      "BUCKETED value vocabulary — bounded by "
                      "range/bucket_width by construction (ab_test's "
                      "floor(v/w)*w coarsening), the packaged form of "
                      "the pre-bucket advisory; 1-row test folds",
    "text_fuzzy_pairs": "the 1-row (n_blocks_dropped, "
                        "n_strings_dropped) loud-cap counter fold — "
                        "an ungrouped aggregate over the block-size "
                        "table (|blocks| rows, map-side partials)",
    "text_entities": "the same 1-row dropped-block counter fold as "
                     "text_fuzzy_pairs, inherited from the pair stage",
    "graph_hits": "the 1-row max in/out-degree overflow-guard scalar "
                  "(partial max map-side over the degree tables) — "
                  "the only post-lineage-truncation funnel; per-round "
                  "renorm maxima live inside the truncated rounds",
    "ev_ab_chisq": "the N window and microunit fold run over the "
                   "|R|·|C|-bounded contingency-cell table (category "
                   "VOCABULARIES — 5×2 at the gate), never the rows; "
                   "the one data-sized stage is the map-combinable "
                   "(row, col) count",
    "ev_ab_ranksum": "the cumulative pass runs over the per-VALUE "
                     "count table — bounded by the metric's value "
                     "VOCABULARY (fixed-decimal events.value ≤ 51200 "
                     "cells; continuous metrics pre-bucket via "
                     "_hist_bin_cols per the docstring) — plus the "
                     "1-row test-statistic fold; the only data-sized "
                     "stage is the map-combinable value count",
    "sk_kmv_diff": "same 1-row scalar aggregates as sk_kmv_setops "
                   "(theta + three survivor counts, each folding <= k "
                   "sketch rows); identical build, different final "
                   "estimators",
    "sk_kmv_intersect_k": "the (n_groups, theta) fold and the 1-row "
                          "all-groups survivor count — both over the "
                          "<= G*k-row sketch table (the sk_kmv_union_k "
                          "argument)",
    "sk_kmv_union_k": "the (n_groups, theta) fold over the G-row "
                      "per-group theta table and the 1-row distinct-"
                      "union survivor count over <= G*k sketch rows — "
                      "everything after the sketch build is G*k-"
                      "bounded by construction (kmv_setops argument)",
    "sk_kmv_setops": "the θ / n_a / n_b / n_common 1-row scalar "
                     "aggregates, each folding ≤ k (=256, the sketch "
                     "parameter) rows — everything after the sketch "
                     "build is k-bounded by construction; the sketch "
                     "rank itself partitions on the group key",
    "iq_fill_previous": "ungrouped fill spine window: rows = bucket count, "
                        "<= MAX_SPINE_BUCKETS (fill.py hard cap); spines "
                        "above _SMALL_SPINE switch to the segmented scan",
    "iq_fill_linear": "ungrouped fill spine window, capped (fill.py); "
                      "segmented above _SMALL_SPINE",
    # one-partition fill spines (fill.py): an ungrouped spine whose answer
    # the driver collects is exploded in ONE partition, so ORDER BY time
    # needs no range shuffle; the sort runs over the answer itself (one
    # series), which the driver collects in full
    "iq_fill_zero": "one-partition spine feeding the time sort: rows = "
                    "bucket count (124 here), <= MAX_SPINE_BUCKETS "
                    "(fill.py hard cap) — the collected answer itself",
    "iq_fill_null": "one-partition spine feeding the time sort: rows = "
                    "bucket count, <= MAX_SPINE_BUCKETS (fill.py cap)",
    "iq_fill_offset": "one-partition offset-aligned spine feeding the time "
                      "sort: rows = bucket count, <= MAX_SPINE_BUCKETS",
    "iq_fill_tz": "one-partition tz spine (buckets + one day of DST "
                  "slack) feeding its distinct and the time sort: rows "
                  "= bucket count, <= MAX_SPINE_BUCKETS",
    "show_tag_values": "SHOW TAG VALUES sorts the DISTINCT values of one "
                       "tag in one partition: rows = the tag's cardinality "
                       "(a series-count bound), after a keyed distinct",
    # a tag-grouped aggregate without GROUP BY time() whose answer the
    # driver collects sorts its series by tag set in one partition
    # (planner.Planner.plan), as SHOW TAG VALUES sorts its values
    **dict.fromkeys(
        ["iq_count_distinct", "iq_first_last", "iq_math_over_agg",
         "iq_regex_tag", "iq_slimit", "iq_spread_tag", "iq_stats",
         "iq_subquery", "iq_where_math"],
        "the series sort of a collected aggregate without GROUP BY time(): "
        "rows = one per series (a series-count bound), after the keyed "
        "aggregate"),
    "emb_kmeans_train": "two 1-row global-aggregate summaries joined",
    "text_zipf": "the rank window runs on the top_n-row (default 500) "
                 "TakeOrderedAndProject result — bounded by the "
                 "PARAMETER, not by data; the token-count shuffle "
                 "before it is fully keyed",
    "emb_pq_topk": "the recall gate's n_hits/n_total 1-row global "
                   "aggregates; result data is per-query windowed",
    "emb_ivfpq_topk": "same recall-gate 1-row global aggregates as "
                      "emb_pq_topk; the search itself shuffles on "
                      "centroid_id / query_id only",
    "show_cardinality": "three 1-row cardinality counts joined",
    "show_cardinality_est": "two 1-row HLL register folds joined (the "
                            "sketch's ≤256-row fold per count — the "
                            "estimated path exists precisely to keep "
                            "this stage sketch-sized)",
    "doc_pack_sequences": "distributed prefix sum's offset table: the "
                          "keyless window ranks only the P per-bucket "
                          "partial sums (P = bucket count ~ partitions), "
                          "never the data rows (functions/scan.py)",
    "ts_deadman": "the anchored-'now' form's 1-row global-max aggregate "
                  "(partial max map-side; final = P partials)",
    "doc_quality_sample": "the 1-row exact-percentile threshold "
                          "aggregate (percentile is non-algebraic — "
                          "percentile_approx is the documented 100 TB "
                          "swap); scores themselves stay map-side",
    "ev_funnel": "the final 1-row fold of k per-step counts: partial "
                 "agg collapses each partition to one row of k longs "
                 "before the SinglePartition exchange (P rows total); "
                 "the funnel itself is one entity-keyed window shuffle",
    "ev_funnel_window": "same bounded k-count fold as ev_funnel (the "
                        "within_ns form only adds a window predicate "
                        "to the step conditions)",
    "ev_funnel_times": "same bounded fold as ev_funnel but k*4 scalars "
                       "(count/min/median/max per step); the exact "
                       "percentile is the one non-algebraic term — "
                       "percentile_approx is the documented 100 TB swap",
    "tpch_q6": "the query IS one global scalar aggregate: partial agg "
               "collapses every partition to one (sum, count) row "
               "map-side, the SinglePartition exchange carries P rows",
    "tpch_q14": "same 1-row global-aggregate gather as tpch_q6 (two "
                "decimal sums); the join below it is a broadcast dim",
    "tpch_q19": "same 1-row global-aggregate gather as tpch_q6/q14 "
                "(one decimal sum + count); the disjunctive predicate "
                "and part join collapse map-side before it",
    "ev_heavy_hitters": "the 1-row total-count aggregate (partial "
                        "count map-side, final = P partials); the key "
                        "counts themselves shuffle on the key",
    "ev_dau_anomaly": "two 1-row global median/MAD aggregates over the "
                      "|days|-row DAU table (spine-class bounded; "
                      "non-algebraic medians — percentile_approx is "
                      "the documented 100 TB swap)",
    "tpch_q15": "the 1-row global-max aggregate over the per-supplier "
                "revenue table (partial max map-side, final = P "
                "partials); the revenue agg itself shuffles on suppkey",
    "tpch_q17": "the final 1-row (count, sum) gather — same shape as "
                "tpch_q6; both screen passes collapse map-side under "
                "the brand broadcast before it",
    "tpch_q22": "the 1-row global (sum, count) positive-balance "
                "aggregate (partial agg map-side, P partial rows "
                "gathered); the anti-join shuffles on custkey",
    "tpch_q11": "the 1-row global part-value total (partial sum "
                "map-side, P partial rows gathered); the per-part "
                "agg itself shuffles on partkey",
    "text_burstiness": "the 1-row corpus doc-count aggregate (partial "
                       "count map-side); the token-moment agg itself "
                       "shuffles on (doc, token) then token keys",
    "graph_assortativity": "the final 1-row moment aggregate (six "
                           "decimal partials per partition gathered); "
                           "the degree joins shuffle on node keys",
    "ev_lifecycle": "the 1-row max-bucket right-censoring anchor "
                    "(partial max map-side, final = P partials) — the "
                    "ts_deadman anchored-'now' pattern; the lifecycle "
                    "window shuffles on the entity key",
    "ev_mix_drift": "the 1-row grand-total aggregate (partial count "
                    "map-side); everything downstream lives on the "
                    "|buckets|x|types| spine (spine-class bounded)",
    "ev_basket_rules": "the 1-row basket-count aggregate (partial "
                       "count map-side); pair generation shuffles on "
                       "the (entity, bucket) key with the [2, 64] "
                       "basket cap",
    "ev_markov": "the 1-row state-count aggregate for π₀ = 10¹² div S "
                 "(partial count map-side over the |states|-row table; "
                 "replaced the eager construction-time count) — "
                 "everything downstream lives on |states|-row vectors",
    "doc_dedup_recall": "the three 1-row pair-set counts (n_exact, "
                        "n_found, n_hit — partial count map-side over "
                        "LSH/prefix-bounded PAIR lists, never the "
                        "corpus) folded into the single eval row",
}

# Cartesian/nested-loop joins that are the *intended* plan (same rules:
# justification required, stale entries flagged).
ALLOWED_CARTESIAN = {
    "doc_dedup_recall": "1-row x 1-row crossJoins folding the three "
                        "pair-set count scalars into the single eval "
                        "row (the sk_join_sample pattern); the hit "
                        "computation is a pair-keyed left-semi join "
                        "between two result-sized pair lists",
    "ev_ab_bucketed": "the 1-row rank-sum fold x broadcast(1-row KS "
                      "fold) final combine — two scalar test results "
                      "joined into the single readout row",
    "ev_ab_chisq": "the R-margin x C-margin spine crossJoin — "
                   "bounded by the two category vocabularies (5x2 at "
                   "the gate), the t_closeness spine argument",
    "graph_modularity": "the 1-row edge-count scalar broadcast onto "
                        "the per-community fold (≤ |communities| rows "
                        "— the q11/tpch_q15 scalar-anchor pattern); "
                        "e_c/d_c themselves are node/community-keyed "
                        "equi-joins",
    "emb_hybrid_rrf": "inherits emb_brute_topk's allowlisted corpus x "
                      "broadcast(1 query vector) exact baseline for its "
                      "semantic list (swap in ivf/pq at scale) plus "
                      "bm25's 1-row stats scalar; the fusion itself is "
                      "a full-outer join of two ≤k(=20)-row lists",
    "diag_skew": "the 1-row (total_rows, n_keys) scalar aggregate "
                 "broadcast onto the ≤top(=20)-row heavy-key slice — "
                 "the q11/tpch_q15 scalar-anchor pattern",
    "priv_t_closeness": "the |groups|-row summary x broadcast(B-row "
                        "bucket vocabulary) spine — bounded by the "
                        "bucket vocabulary on one side and the QI "
                        "group count on the other, never by data rows",
    "diag_join_advisor": "1-row x 1-row crossJoins only: the two "
                         "per-side summary scalars and the 1-row "
                         "sample-join count folded into the single "
                         "decision row (the sk_join_sample pattern)",
    "sk_bloom": "1-row x 1-row crossJoins folding the four count "
                "scalars into the single audit row (the "
                "sk_join_sample pattern); the probe itself is a "
                "map-side literal-bitmap bit test — zero join on the "
                "big side",
    "sk_join_sample": "1-row x 1-row crossJoins folding the four "
                      "count scalars into the single output row",
    "sk_kmv_diff": "same 1-row scalar crossJoins as sk_kmv_setops "
                   "(theta broadcast onto the two <= k-row sketch "
                   "sides, three 1-row counts folded into the output "
                   "row)",
    "text_fuzzy_pairs": "the 1-row (n_blocks_dropped, "
                        "n_strings_dropped) loud-cap counter broadcast "
                        "onto every pair row (the n_clamped "
                        "convention); the pair stage itself is a "
                        "block-keyed equi-join",
    "graph_hits": "the 1-row degree-guard scalar broadcast onto the "
                  "final (node, hub, auth) join — the q11/tpch_q15 "
                  "scalar-anchor pattern (per-round renorm maxima use "
                  "the same shape inside the truncated rounds)",
    "text_entities": "the same 1-row dropped-block counter broadcast "
                     "as text_fuzzy_pairs, carried through the "
                     "closure onto every entity row",
    "sk_kmv_intersect_k": "1-row scalar crossJoins only: (n_groups, "
                          "theta) broadcast onto the <= G*k-row sketch "
                          "table for the all-groups survivor filter, "
                          "then the 1-row count folded into the output "
                          "row (the sk_kmv_union_k pattern)",
    "sk_kmv_union_k": "1-row scalar crossJoins only: theta broadcast "
                      "onto the <= G*k-row distinct sketch union, "
                      "then the 1-row survivor count folded into the "
                      "output row (the sk_kmv_setops pattern)",
    "sk_kmv_setops": "1-row scalar crossJoins only: θ broadcast onto "
                     "the two ≤k-row sketch sides (the tpch_q15 "
                     "scalar-anchor pattern), then the three 1-row "
                     "counts crossJoined into the single output row",
    "emb_brute_topk": "corpus x broadcast(queries) exact baseline; corpus "
                      "never shuffles, cost |Q| dot products per row",
    "doc_quality_sample": "broadcast of the 1-row threshold aggregate "
                          "onto the scored scan — the ts_deadman "
                          "anchored-'now' crossJoin pattern",
    "emb_recall": "inherits emb_brute_topk's allowlisted corpus x "
                  "broadcast(queries) baseline as its exact side; the "
                  "recall computation itself is result-sized "
                  "(|Q|*k rows) query-keyed joins only",
    "emb_ivf_topk": "row x broadcast(C centroids) assignment, bounded by C",
    "emb_near_dup_pairs": "exact all-pairs reference (quadratic by "
                          "definition); production path is emb_near_dup_lsh",
    "emb_kmeans_train": "1-row x 1-row crossJoin of global aggregates",
    "emb_pq_topk": "ADC pass is codes x broadcast(queries) by design (m "
                   "bytes/vector scanned, |Q| bounded); plus 1-row recall "
                   "crossJoins and the brute reference for the recall gate",
    "emb_ivfpq_topk": "query x broadcast(C centroids) probe selection "
                      "(bounded by C) + the same brute-reference and "
                      "1-row recall crossJoins as emb_pq_topk; the ADC "
                      "pass itself is an equi-join on centroid_id",
    "show_cardinality": "1-row x 1-row crossJoins of cardinality counts",
    "show_cardinality_est": "1-row x 1-row crossJoin of the two "
                            "estimated counts",
    "emb_mmr_topk": "candidate pooling is brute_force_topk's corpus x "
                    "broadcast(queries) exact baseline (swap in ivf/pq "
                    "at scale); the greedy stage touches |Q|*pool rows",
    "ts_deadman": "per-series rows x broadcast(1-row global-max 'now' "
                  "anchor) — bounded by the series count",
    "ts_xcorr": "two 1-row denominator scalars broadcast onto the "
                "(2*max_lag+1)-row lag table — everything downstream of "
                "the bucket agg is sketch-sized",
    "tpch_q22": "broadcast of the 1-row (sum, count) balance-threshold "
                "aggregate onto the customer scan — the "
                "doc_quality_sample scalar-filter pattern",
    "tpch_q11": "broadcast of the 1-row global value total onto the "
                "per-part value table (the decorrelated Q11 group-"
                "global threshold) — the tpch_q22 scalar-filter "
                "pattern; Spark reuses the per-part shuffle for both "
                "the group rows and the total",
    "ev_lifecycle": "broadcast of the 1-row max-bucket censoring "
                    "anchor onto the |buckets|-bounded churn-event "
                    "table — the ts_deadman pattern",
    "ev_mix_drift": "|buckets|-row x broadcast(|types|-row) spine "
                    "build + the 1-row grand-total broadcast — both "
                    "spine-class bounded (the fill convention)",
    "ev_basket_rules": "broadcast of the 1-row basket-count "
                       "denominator onto the pair-rule table (output "
                       "bounded by distinct type pairs)",
    "ev_heavy_hitters": "broadcast of the 1-row total-count aggregate "
                        "onto the key-count table — the "
                        "doc_quality_sample threshold pattern",
    "text_burstiness": "broadcast of the 1-row doc-count denominator "
                       "onto the token-moment table (output bounded "
                       "by top_n) — the quality_sample pattern",
    "ev_dau_anomaly": "1-row median/MAD scalars broadcast onto the "
                      "|days|-row DAU table — the quality_sample "
                      "pattern on a spine-class bounded table",
    "ev_markov": "broadcast of the 1-row state-count scalar onto the "
                 "|states|-row state table for π₀ — the tpch_q15 "
                 "scalar-anchor pattern (in-plan replacement for the "
                 "eager states.count())",
    "sk_overlap_matrix": "the g_a < g_b pair enumeration is a "
                         "|G|x|G| nested-loop join of the G-row theta "
                         "summary — bounded by the GROUP COUNT, never "
                         "the data; every other join is an equi-join "
                         "on the G*k-row sketch table",
}


def check_allowlists(queries: dict) -> list[str]:
    """Structural hygiene: every allowlist entry names a live query and
    carries a non-empty justification."""
    problems = []
    for table_name, table in (("BOUNDED_SINGLE_PARTITION",
                               BOUNDED_SINGLE_PARTITION),
                              ("ALLOWED_CARTESIAN", ALLOWED_CARTESIAN)):
        for q, why in table.items():
            if q not in queries:
                problems.append(f"{table_name}[{q}]: not in queries()")
            if not (why or "").strip():
                problems.append(f"{table_name}[{q}]: missing justification")
    return problems


def _tree_depth(line: str) -> int:
    """Indent depth of a plan-tree line: length of the leading box-drawing
    prefix (spaces, ':', '|', '+', '-')."""
    i = 0
    while i < len(line) and line[i] in " :|+-":
        i += 1
    return i


def canonicalize_plan(plan: str) -> str:
    """Cache-invariant plan text: a persist()ed subtree prints its FULL
    child plan under every InMemoryRelation reference, so raw textual
    counters (exchanges, joins) depend on how many times the cached
    subtree happens to be referenced / re-printed — the r5 fingerprint
    gate cried wolf on exactly this (doc_minhash_estimate 5 -> 8
    exchanges with zero real plan change). Keep the FIRST print of each
    distinct cached subtree (so regressions inside it still count, once)
    and collapse repeats to a one-line marker. Expression ids (#123) are
    normalized in the dedup key only — the emitted text is untouched."""
    lines = plan.splitlines()
    out, seen = [], set()
    i = 0
    while i < len(lines):
        line = lines[i]
        if "InMemoryRelation" in line:
            d = _tree_depth(line)
            j = i + 1
            while j < len(lines) and _tree_depth(lines[j]) > d:
                j += 1
            key = re.sub(r"#\d+L?", "#x", "\n".join(lines[i:j]))
            if key in seen:
                out.append(line[:d] + "InMemoryRelation [cached-subtree-ref]")
            else:
                seen.add(key)
                out.extend(lines[i:j])
            i = j
            continue
        out.append(line)
        i += 1
    return "\n".join(out)


_ONE_PART_SOURCE = re.compile(
    r"\bCoalesce 1\b|\bRange \(-?\d+, -?\d+, step=-?\d+, splits=1\)")
_FUNNEL_CONSUMER = re.compile(r"^(Sort|Window|\w*Join)\b")


def one_partition_funnels(plan: str) -> int:
    """One-partition producers (`Coalesce 1`, a one-split `Range`) whose
    single partition reaches a join, sort or window with no Exchange in
    between — the operator then runs in ONE task over whatever the
    producer emits, a funnel no `Exchange SinglePartition` shows."""
    lines = plan.splitlines()
    n = 0
    for i, line in enumerate(lines):
        if not _ONE_PART_SOURCE.search(line):
            continue
        depth = _tree_depth(line)
        for anc in reversed(lines[:i]):   # walk up the ancestor chain
            d = _tree_depth(anc)
            if d >= depth:
                continue
            depth = d
            node = anc[d:]
            if re.match(r"\w*Exchange\b", node):
                break
            if _FUNNEL_CONSUMER.match(node):
                n += 1
                break
    return n


def audit_plan(plan: str) -> dict:
    plan = canonicalize_plan(plan)
    out = {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "single_part": len(re.findall(r"Exchange SinglePartition", plan)),
        "one_part": one_partition_funnels(plan),
        "cartesian": bool(re.search(r"CartesianProduct|BroadcastNestedLoop", plan)),
        "py_row_udf": bool(re.search(r"BatchEvalPython", plan)),
        "arrow_udf": bool(re.search(r"ArrowEvalPython|MapInPandas|"
                                    r"FlatMapGroupsInPandas|MapInArrow",
                                    plan)),
        "broadcast_joins": len(re.findall(r"BroadcastHashJoin", plan)),
        "sortmerge_joins": len(re.findall(r"SortMergeJoin", plan)),
        "keyless_window": False,
    }
    for line in plan.splitlines():
        m = re.search(r"windowspecdefinition\((.*)", line.lower())
        if m and not re.match(r"\s*\w+#\d+[^,]*,.*\bpartitionby\b", m.group(1)):
            # heuristic: Spark prints "windowspecdefinition(part1, part2, ord ASC..."
            # a keyless spec starts directly with the order column + sort dir
            first = m.group(1).split(",")[0]
            if " asc" in first or " desc" in first:
                out["keyless_window"] = True
    return out


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from influxdb_ha_spark.session import get_spark
    spark = get_spark(app_name="explain_audit")

    qs = entry_mod.queries()
    failures = list(check_allowlists(qs))
    stale: list[str] = []
    print(f"{'query':28s} {'xchg':>4} {'1part':>5} {'1src':>4} {'bhj':>3} "
          f"{'smj':>3} flags")
    for name, fn in qs.items():
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            print(f"{name:28s} ERROR {type(e).__name__}: {e}")
            failures.append(name)
            continue
        a = audit_plan(plan)
        flags = []
        if a["cartesian"] and name not in ALLOWED_CARTESIAN:
            flags.append("CARTESIAN")
        if a["py_row_udf"]:
            flags.append("ROW_PYTHON")
        if a["keyless_window"] and name not in BOUNDED_SINGLE_PARTITION:
            # bounded allowlist: spines below _SMALL_SPINE rows keep the
            # plain window; large spines switch to the segmented scan
            flags.append("KEYLESS_WINDOW")
        if a["single_part"] and name not in BOUNDED_SINGLE_PARTITION:
            flags.append(f"SINGLE_PARTITION×{a['single_part']}")
        if a["one_part"] and name not in BOUNDED_SINGLE_PARTITION:
            flags.append(f"ONE_PARTITION_FUNNEL×{a['one_part']}")
        if flags:
            failures.append(name) if any(
                f.startswith(("CARTESIAN", "ROW_PYTHON", "KEYLESS_WINDOW",
                              "SINGLE_PARTITION", "ONE_PARTITION_FUNNEL"))
                for f in flags) else None
        # staleness: allowlisted funnels that no longer appear mean the
        # waiver outlived the plan it excused
        if name in BOUNDED_SINGLE_PARTITION and not (
                a["single_part"] or a["keyless_window"] or a["one_part"]):
            stale.append(f"BOUNDED_SINGLE_PARTITION[{name}]")
        if name in ALLOWED_CARTESIAN and not a["cartesian"]:
            stale.append(f"ALLOWED_CARTESIAN[{name}]")
        print(f"{name:28s} {a['exchanges']:>4} {a['single_part']:>5} "
              f"{a['one_part']:>4} {a['broadcast_joins']:>3} "
              f"{a['sortmerge_joins']:>3} "
              f"{' '.join(flags) or '-'}")

    spark.stop()
    if stale:
        print(f"\nstale allowlist entries (plan no longer funnels — remove "
              f"them): {stale}")
    if failures:
        print(f"\n{len(failures)} queries tripped hard flags: {failures}")
        sys.exit(1)
    print("\nall plans clean" + ("" if not stale else
                                 f" ({len(stale)} stale allowlist entries)"))


if __name__ == "__main__":
    main()
