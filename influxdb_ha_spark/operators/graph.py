"""Graph analytics over co-occurrence edge lists (added scope).

The reference proxies InfluxQL only (service/routing.go:137-138 — no graph
surface), but a training-data platform leans on graph structure constantly:
kNN-graph community pruning, co-occurrence statistics, dedup-cluster
analysis, link-based quality signals (PageRank over a citation/co-purchase
graph). This module supplies the batch graph core on plain DataFrames:

- co_occurrence_edges : distinct undirected edges from items sharing a
                        group (parts co-ordered in one order, docs sharing
                        a dedup bucket, ...), with a group-size cap so one
                        hot group can't materialize C(n,2) pairs.
- triangles           : per-node triangle counts + clustering coefficient
                        via degree-ordered edge orientation (the classic
                        O(E^1.5) wedge-check bound; Suri & Vassilvitskii
                        2011 "Counting Triangles and the Curse of the Last
                        Reducer" is the MapReduce formulation).
- pagerank            : fixed-iteration PageRank in EXACT fixed-point
                        integer arithmetic (parts-per-10^12), so every
                        engine reproduces it bit-for-bit — float PageRank
                        is fold-order sensitive, integer PageRank is not
                        (the seasonal-MK exact-numerator discipline).
- components          : bounded-round min-label propagation (label(v) :=
                        min over closed neighborhood, r rounds) — integer-
                        exact; the production escalation for high-diameter
                        graphs is the large-star/small-star algorithm
                        (Kiveris et al. 2014), documented in SCALE.md.

Everything is built-in DataFrame ops — zero Python UDFs, zero windows —
and every shuffle is keyed by group/node/edge (high-cardinality keys, no
single-reducer funnels). The iterative ops (pagerank, components) run a
small driver loop; each round localCheckpoint(eager)s its frontier
(truncating lineage — stacked persists kept every prior round's logical
plan and OOM'd the driver merely rendering the AQE plan string), so
calling them executes one job per round (the cluster_assign eager-probe
convention).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .util import conf_parts, ensure_min_parallelism, scale_parts


def _truncate_lineage(df: DataFrame, reliable: bool) -> DataFrame:
    """Frontier checkpoint for the iterative ops (r8, prescribed by the
    r7 verdict's task 8): localCheckpoint stores the materialized rows
    in EXECUTOR block storage — fast, but lossy under executor churn
    (dynamic allocation, spot kills): a lost replica makes every later
    round's lineage unrecoverable and fails the job. `reliable=True`
    switches to checkpoint(), which writes the frontier to the
    cluster's fault-tolerant checkpoint dir (HDFS/S3) and survives any
    executor loss — the right default on a 1000-executor cluster with
    dynamic allocation, at the price of one distributed write per
    round. Requires SparkContext.setCheckpointDir; the error for a
    missing dir is re-raised with the fix spelled out rather than
    Spark's bare IllegalStateException.
    """
    if not reliable:
        return df.localCheckpoint(eager=True)
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        raise ValueError(
            "reliable=True needs a fault-tolerant checkpoint dir: call "
            "spark.sparkContext.setCheckpointDir('hdfs://... or s3://...') "
            "first (localCheckpoint — reliable=False — has no such "
            "requirement but does not survive executor loss)")
    return df.checkpoint(eager=True)


def co_occurrence_edges(df: DataFrame, group_col: str, item_col: str,
                        max_group_size: int = 64) -> DataFrame:
    """Distinct undirected co-occurrence edges (src < dst) between items
    appearing in the same group.

    Scale shape: (group, item) dedups on the group key (one shuffle);
    the within-group self-join reuses that partitioning (co-partitioned
    equi-join, no extra exchange); the final distinct shuffles edge keys.
    `max_group_size` bounds per-group fan-out at C(cap, 2): groups above
    the cap are DROPPED (loudly countable via the returned plan — a hot
    group like "the empty document's dedup bucket" would otherwise emit
    billions of pairs). TPC-H orders carry ≤7 lineitems so the default
    cap never binds on the gate tables; the contract (and the oracle)
    mirrors the cap exactly either way.
    """
    return _co_pairs(df, group_col, item_col, max_group_size).distinct()


def co_occurrence_weights(df: DataFrame, group_col: str, item_col: str,
                          max_group_size: int = 64) -> DataFrame:
    """Co-occurrence edges WITH multiplicity: (src, dst, n_groups) where
    n_groups = how many (capped) groups contain both items — the edge
    strength that weighted graph ops (sssp, weighted link prediction)
    consume. Same pair generation and group-size cap as
    co_occurrence_edges; the final shuffle is the same edge-keyed
    aggregation, just count instead of distinct (identical scale shape:
    partial counts combine map-side)."""
    return (_co_pairs(df, group_col, item_col, max_group_size)
            .groupBy("src", "dst")
            .agg(F.count(F.lit(1)).alias("n_groups")))


def _co_pairs(df: DataFrame, group_col: str, item_col: str,
              max_group_size: int) -> DataFrame:
    """Per-group ordered item pairs (src < dst), one row per (group,
    pair) — the shared core of co_occurrence_edges (distinct) and
    co_occurrence_weights (count)."""
    gi = (ensure_min_parallelism(df)
          .select(F.col(group_col).alias("__g"), F.col(item_col).alias("__i"))
          .where(F.col("__g").isNotNull() & F.col("__i").isNotNull())
          .distinct())
    # group-size cap without a window: aggregate sizes, semi-join back
    ok = (gi.groupBy("__g").agg(F.count(F.lit(1)).alias("__n"))
          .where((F.col("__n") >= 2) & (F.col("__n") <= max_group_size))
          .select("__g"))
    kept = gi.join(ok, "__g")
    a = kept.select("__g", F.col("__i").alias("src"))
    b = kept.select("__g", F.col("__i").alias("dst"))
    return (a.join(b, "__g")
            .where(F.col("src") < F.col("dst"))
            .select("src", "dst"))


def _symmetric(edges: DataFrame) -> DataFrame:
    """Both directions of an undirected (src<dst) edge list."""
    return edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


# Source-parquet bytes per partition for the label_prop vote exchange
# and cache, via util.scale_parts (r13, guide §2.1/§2.2 "size partitions to the data, not the
# cluster"): r12 measured the session-fixed shuffle count as the residual
# sf10 super-linearity — isolated label_prop at shuffle=128 ran 0.58× vs
# the 32 default (SCALE_r12.json shuffle_dial_sf10). 8 MiB of source
# parquet per partition reproduces that optimum at sf10 (~1.1 GB of
# lineitem-derived leaves → ~150 partitions; measured 0.35-0.37×
# interleaved vs the same-day session-count base) and leaves every
# gate/bench scale at the session floor (sf0.1 leaves ≈ 11 MB → floor),
# so small-scale plans, fingerprints and the driver's bench are
# unchanged. Env-dialed for clusters whose per-core memory differs from
# this 4 GiB/core box. NOT applied to the other loops: the same-day
# interleaved A/Bs showed pagerank (with a pre-agg repartition) at
# 1.85× WORSE and kcore (cache-only) at ~1.3× worse — only the
# vote-count shuffle's |E|·rounds row volume profits from the dial;
# negative results recorded at those loops.
_CACHE_PART_BYTES = int(os.environ.get("SPARK_GRAFT_CACHE_PART_BYTES",
                                       str(8 * 1024 * 1024)))
_PARTS_CAP = 8192  # runaway-input backstop: 8192 × 8 MiB ≈ 64 GB source


def _keyed_persist(df: DataFrame, key: str,
                   parts: int | None = None) -> DataFrame:
    """Hash-partition by the per-round join key BEFORE persisting (r12,
    guide §2.4 'two operations keyed the same way share one exchange'):
    an iterative loop that joins the persisted edge list on `key` every
    round used to re-shuffle the full |E| rows each round the moment the
    frontier side outgrew the broadcast threshold (measured at the r12
    sf10 decade: |V|≈2M tipped pagerank's contribution join from
    broadcast to sort-merge, and 10 rounds of |E|=75M shuffle+sort read
    12.7× on a 10× step). A cache partitioned on `key` satisfies the
    join's ClusteredDistribution at every round — the edge side never
    exchanges again; only the O(|V|) frontier moves. One extra |E|
    shuffle is paid ONCE at persist time (vs rounds× without it).
    Values are untouched — purely a physical-layout change, and every
    downstream fold in this module is integer/order-free.

    `parts` (r13): callers that must share ONE partition count between
    the cache and other per-round exchanges pass the scale_parts
    value they computed; default recomputes it here. NOTE (r12 advice):
    when the count comes from the session conf (the base regime), the
    zero-exchange re-attach property of downstream aggregations is
    AQE-initial-plan shape — AQE may coalesce an ENSURE_REQUIREMENTS
    aggregation exchange below this count at runtime, re-introducing a
    small O(|V|) exchange; the adaptive regime's explicit
    REPARTITION_BY_NUM exchanges are never coalesced."""
    parts = parts or scale_parts(df, _CACHE_PART_BYTES, _PARTS_CAP)
    return df.repartition(parts, key).persist()


# Frontier-side join hint for the per-round edge join: SHUFFLE_HASH
# builds the O(|V|) frontier into per-partition hash tables and STREAMS
# the pre-partitioned edge cache — no |E| exchange, no |E| sort, at any
# scale (sort-merge would re-sort the edges every round; broadcast dies
# past ~10 MB of frontier). The build side is per-node rows (unique
# keys, hash-balanced), so the per-partition build is |V|/P with no
# skew hazard.
FRONTIER_JOIN_HINT = "shuffle_hash"


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node degree of the undirected graph: one node-keyed agg."""
    return (_symmetric(edges).groupBy(F.col("src").alias("node"))
            .agg(F.count(F.lit(1)).alias("degree")))


def degree_histogram(edges: DataFrame) -> DataFrame:
    """Power-of-two degree histogram — the skew audit every graph job
    runs BEFORE choosing a join strategy (a heavy log-log tail says
    "salt the hubs / cap the centers" before a shuffle discovers it the
    hard way): bucket = floor(log2(degree)), computed EXACTLY as
    length(bin(degree)) − 1 — a binary-digit count, no float log and
    therefore no IEEE boundary at the powers of two; both engines share
    the bin() builtin. Output per bucket: (bucket, lo, hi, n_nodes,
    max_degree) with lo/hi = the exact [2^b, 2^(b+1)−1] range.

    Shape at scale: one node-keyed degree agg (partial counts), then
    one ~64-row histogram agg — nothing else moves.
    """
    deg = degrees(edges)
    b = (F.length(F.conv(F.col("degree"), 10, 2)) - 1).cast("long")
    lo = F.expr("shiftleft(1L, cast(bucket as int))")
    hi = F.expr("shiftleft(1L, cast(bucket as int) + 1) - 1")
    return (deg.groupBy(b.alias("bucket"))
            .agg(F.count(F.lit(1)).alias("n_nodes"),
                 F.max("degree").alias("max_degree"))
            .select("bucket", lo.alias("lo"), hi.alias("hi"),
                    "n_nodes", "max_degree"))


def degree_assortativity(edges: DataFrame, round_to: int = 6) -> DataFrame:
    """Degree assortativity coefficient r (Newman 2002, "Assortative
    mixing in networks", Phys. Rev. Lett. 89) — the one-number answer
    to "do hubs link to hubs?" that decides the salting strategy the
    degree_histogram hints at: r > 0 (assortative) means hub–hub edges
    concentrate shuffle keys and the pair stages need hub caps; r < 0
    (disassortative, the common web/co-purchase shape) means hubs fan
    out to leaves and per-edge work is naturally spread.

    r is the Pearson correlation of the degree pairs (deg(u), deg(v))
    over the DIRECTED symmetric edge list (each undirected edge
    contributes both orientations — Newman's eq. 4 form, which makes
    the two marginals identical by construction). Every moment is an
    exact integer — M, Σx, Σy, Σxy, Σx², Σy² accumulated in
    DECIMAL(38,0) (HUGEINT in DuckDB), fold-order-free — and r is
    num/(√d1·√d2) with exactly one double division and two correctly-
    rounded IEEE sqrts at the very end, floor-rounded at `round_to`
    (the triangles discipline). Degenerate graphs (all degrees equal,
    d1 = d2 = 0) report NULL — never NaN/Inf into the gate.

    Returns ONE row: (m_directed, r).

    Shape at 100 TB: the degree table joins each endpoint UNHINTED
    (O(|V|) rows — the link_predict r8 discipline: AQE broadcasts it
    only when the graph is genuinely small), then ONE 1-row global
    moment aggregate; only (src, dst, two longs) ride the exchanges.
    DECIMAL(38,0) headroom: M·Σxy needs M·d̄² ≲ 10³⁸ — safe through
    ~10¹⁵ edges at 10⁴ mean degree; the formula divides the two
    factors BEFORE multiplying (√d1·√d2, not √(d1·d2)) for the same
    reason.
    """
    sym = _symmetric(edges)
    deg = degrees(edges)
    e = (sym
         .join(deg.select(F.col("node").alias("src"),
                          F.col("degree").alias("__dx")), "src")
         .join(deg.select(F.col("node").alias("dst"),
                          F.col("degree").alias("__dy")), "dst"))
    # cast each factor BEFORE multiplying — a long·long product would
    # wrap silently past 2^63 on a billion-degree hub
    dx = F.col("__dx").cast("decimal(19,0)")
    dy = F.col("__dy").cast("decimal(19,0)")
    mom = e.agg(F.count(F.lit(1)).alias("m_directed"),
                F.sum(dx).alias("__sx"),
                F.sum(dy).alias("__sy"),
                F.sum(dx * dy).alias("__sxy"),
                F.sum(dx * dx).alias("__sxx"),
                F.sum(dy * dy).alias("__syy"))
    m = F.col("m_directed").cast("decimal(38,0)")
    num = (m * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
    d1 = (m * F.col("__sxx") - F.col("__sx") * F.col("__sx"))
    d2 = (m * F.col("__syy") - F.col("__sy") * F.col("__sy"))
    s = float(10 ** round_to)
    r = (F.floor(num.cast("double")
                 / (F.sqrt(d1.cast("double")) * F.sqrt(d2.cast("double")))
                 * F.lit(s) + F.lit(0.5)) / F.lit(s))
    return mom.select(
        F.col("m_directed").cast("long").alias("m_directed"),
        F.when((d1 > 0) & (d2 > 0), r).alias("r"))


def triangles(edges: DataFrame, round_to: int = 6) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient.

    Degree-ordered orientation: each undirected edge points from the
    endpoint with the smaller (degree, id) to the larger, so every
    node's ORIENTED out-neighborhood is O(sqrt(E)) on skewed graphs —
    the wedge join (pairs of oriented out-neighbors, closed by an
    oriented edge probe) does O(sum outdeg^2) = O(E^1.5) work instead of
    the hub-quadratic naive form. Each triangle {a,b,c} materializes
    exactly once (at its lowest-ranked vertex), then explodes to its 3
    corners for the per-node count.

    clustering = 2*T / (deg*(deg-1)), both operands exact integers, one
    IEEE division + half-up round — engine-independent.
    """
    deg = degrees(edges)
    da = deg.select(F.col("node").alias("src"), F.col("degree").alias("__ds"))
    db = deg.select(F.col("node").alias("dst"), F.col("degree").alias("__dd"))
    ranked = (_symmetric(edges).join(da, "src").join(db, "dst"))
    oriented = (ranked.where(
        (F.col("__ds") < F.col("__dd"))
        | ((F.col("__ds") == F.col("__dd")) & (F.col("src") < F.col("dst"))))
        .select("src", "dst", "__dd"))
    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"),
                         F.col("__dd").alias("__dv"))
    e2 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"),
                         F.col("__dd").alias("__dw"))
    wedges = (e1.join(e2, "u")
              .where((F.col("__dv") < F.col("__dw"))
                     | ((F.col("__dv") == F.col("__dw"))
                        & (F.col("v") < F.col("w"))))
              .select("u", "v", "w"))
    closer = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tris = wedges.join(closer, ["v", "w"])
    corners = (tris.select(F.explode(F.array("u", "v", "w")).alias("node"))
               .groupBy("node").agg(F.count(F.lit(1)).alias("triangles")))
    return (deg.join(corners, "node", "left")
            .select("node", "degree",
                    F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"))
            .withColumn(
                "clustering",
                F.when(F.col("degree") < 2, F.lit(0.0)).otherwise(
                    F.floor(2.0 * F.col("triangles")
                            / (F.col("degree") * (F.col("degree") - 1))
                            * (10 ** round_to) + F.lit(0.5))
                    / (10 ** round_to))))


SCALE_FP = 10 ** 12  # PageRank fixed-point unit: parts-per-10^12


def pagerank(edges: DataFrame, iters: int = 10,
             damping_pct: int = 85, reliable: bool = False) -> DataFrame:
    """Fixed-iteration PageRank on the symmetric closure of an undirected
    edge list, in exact fixed-point integers (SCALE_FP units).

    pr_0(v)   = SCALE // N
    pr_i+1(v) = (100-d)*SCALE // (100*N) + d * (sum over in-neighbors u of
                pr_i(u) // outdeg(u)) // 100

    Every operand is a BIGINT and every division is a floor — the
    per-node contribution sum is an INTEGER sum, so fold order cannot
    perturb the result (float PageRank differs in the last ulps between
    engines/partitionings; this one is bit-stable by construction).
    Floor truncation leaks ≤1 unit per in-edge per iteration — at
    SCALE=1e12 that is a ~1e-9 relative artifact, identically replayed
    by the oracle.

    Scale shape per iteration: one streamed edge join (contributions
    keyed by edge src = the cache partitioning) + one node-keyed agg +
    one exchange-free outdeg re-attach (the agg's partitioning matches
    the persisted outdeg table — the frontier carries outdeg). The
    driver loop localCheckpoint(eager)s each frontier — persist alone
    keeps the whole logical plan, and ten stacked iterations of it blew
    the driver heap just RENDERING the AQE plan string; checkpointing
    truncates lineage to the materialized rows, the production shape
    for any iterative DataFrame algorithm. iters jobs total; N and the
    two literal divisors are the only driver-side scalars.
    """
    # r12: the edge cache is hash-partitioned by the per-round join key
    # (src) ONCE; outdeg derives FROM the partitioned cache so its
    # aggregation reuses its partitioning (no extra exchange). On the
    # symmetric closure out ≡ the node set, so the separate
    # nodes.distinct() pass (a second full |E| aggregation at setup) is
    # gone — n, the initial frontier, and the final output all derive
    # from `out`.
    #
    # r13 NEGATIVE RESULT (recorded so it isn't retried): the
    # scale-adaptive partition count that wins for label_prop was
    # generalized here as cache@adaptive + an explicit pre-aggregation
    # repartition(parts, dst) to keep summed ⋈ out exchange-free — and
    # LOST 1.85× at sf10 (interleaved A/B on one box/day: r12 shape
    # 359.9 s vs adaptive 666.8/734.4 s). The pre-agg repartition
    # forfeits the map-side partial sum, so the per-round exchange
    # carries the RAW |E| contribution rows (~2× the bytes of the
    # partial-agged exchange at sf10's ~1.15 rows/key map-side density)
    # — for pagerank the partial aggregation is worth more than the
    # partition-count dial. The cache therefore stays at the SESSION
    # count, keeping the whole r12 zero-per-round-exchange round shape
    # byte-for-byte.
    sym = _symmetric(edges)
    edges_k = _keyed_persist(sym, "src", conf_parts(sym))
    out = (edges_k.groupBy(F.col("src").alias("node"))
           .agg(F.count(F.lit(1)).alias("outdeg"))).persist()
    n = out.count()
    if n == 0:
        res = out.select("node").withColumn("pr_fp", F.lit(0).cast("long"))
        out.unpersist()
        edges_k.unpersist()
        return res
    base = ((100 - damping_pct) * SCALE_FP) // (100 * n)
    # r12: the frontier CARRIES outdeg (node, pr_fp, outdeg), so the
    # per-round contribution is a projection of the checkpointed rows —
    # the old frontier ⋈ out join ran at the top of every round against
    # a checkpoint whose partitioning Catalyst no longer knows
    # (localCheckpoint → UnknownPartitioning), costing one O(|V|)
    # exchange + two sort-merge sorts per round. outdeg is re-attached
    # at the BOTTOM of the round instead: `summed` leaves its
    # aggregation hash-partitioned on node, exactly the persisted
    # partitioning of `out`, so the SHUFFLE_HASH join is exchange-free
    # and sort-free (guide §2.4 "two operations keyed the same way
    # share one exchange"). Values identical: same ops, same integer
    # arithmetic, one round later in the loop body.
    pr = _truncate_lineage(
        out.select("node", F.lit(SCALE_FP // n).cast("long").alias("pr_fp"),
                   "outdeg"), reliable)
    for _ in range(iters):
        # `div` is Spark's exact BIGINT integral division — a DOUBLE `/`
        # + cast would round-to-nearest in the 53-bit mantissa and can
        # land one unit above the true floor near exact boundaries
        contrib = pr.select(F.col("node").alias("src"),
                            F.expr("pr_fp div outdeg").alias("__c"))
        summed = (edges_k.join(contrib.hint(FRONTIER_JOIN_HINT), "src")
                  .groupBy(F.col("dst").alias("node"))
                  .agg(F.sum("__c").alias("__s")))
        # r11: no nodes-left-join per round — on the SYMMETRIC closure
        # every node has an in-edge (in ≡ out), so `summed` already
        # carries every node and the resurrection join was a redundant
        # per-round stage; values identical, measured 72.3 -> 42.4 s at
        # sf1 in one session
        nxt = (summed.join(out.hint(FRONTIER_JOIN_HINT), "node")
               .select("node",
                       (F.lit(base) + F.expr(f"({damping_pct} * __s) div 100"))
                       .cast("long").alias("pr_fp"),
                       "outdeg"))
        pr = _truncate_lineage(nxt, reliable)
    res = pr.select("node", "pr_fp")
    edges_k.unpersist()
    out.unpersist()
    return res


def components(edges: DataFrame, rounds: int = 8,
               reliable: bool = False) -> DataFrame:
    """Bounded-round min-label propagation: label(v) starts as v's own id
    and each round takes the min over the CLOSED neighborhood (self +
    neighbors). After r rounds every vertex within graph distance r of
    its component's minimum id carries that id — the documented contract
    is exactly r rounds, not convergence, so the oracle unrolls the same
    r joins. Returns (node, component, component_size at round r).

    Integer min is fold-order-free: partitioning cannot perturb it.
    Scale shape per round: one join keyed by the closed-adjacency src +
    one node-keyed min agg; the adjacency persists once and each label
    frontier is localCheckpoint(eager)ed to truncate lineage (see the
    pagerank note — stacked persists OOM'd the driver on plan strings
    alone). High-diameter graphs (> r) need the large-star/small-star
    contraction instead — see SCALE.md.
    """
    sym = _symmetric(edges)
    nodes = sym.select(F.col("src").alias("node")).distinct()
    # r12: closed-adjacency cache partitioned by the per-round join key
    # + SHUFFLE_HASH label join (see _keyed_persist). r13: the CACHE
    # takes the scale-adaptive count; the per-round min-aggregation
    # keeps Catalyst's partial+final shape at the session count — a
    # pre-aggregation repartition to the cache count was tried on the
    # (identically-shaped) pagerank round and LOST 1.85× at sf10
    # because it forfeits the map-side partial fold (negative result
    # recorded at the pagerank loop).
    closed = sym.unionByName(nodes.select(F.col("node").alias("src"),
                                          F.col("node").alias("dst")))
    adj = _keyed_persist(closed, "src", conf_parts(closed))
    lab = _truncate_lineage(
        nodes.withColumn("component", F.col("node").cast("long")), reliable)
    for _ in range(rounds):
        lab = _truncate_lineage(
            adj.join(lab.select(F.col("node").alias("src"), "component")
                     .hint(FRONTIER_JOIN_HINT), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("component")), reliable)
    sizes = lab.groupBy("component").agg(
        F.count(F.lit(1)).alias("component_size"))
    res = lab.join(sizes, "component").select("node", "component",
                                              "component_size")
    adj.unpersist()
    return res


def kcore(edges: DataFrame, k: int = 3, rounds: int = 8,
          reliable: bool = False) -> DataFrame:
    """Bounded-round k-core peeling (Seidman 1983's cores; the
    Matula–Beck peeling loop, SIMULTANEOUS variant): each round removes
    EVERY node whose degree in the surviving subgraph is < k, all at
    once — simultaneous removal makes the result independent of any
    per-node processing order (the property that lets two engines and
    any partitioning agree bit-for-bit), and the fixed point IS the
    k-core. The documented contract is exactly `rounds` rounds (the
    components convention — the oracle unrolls the same r joins); a
    graph needing deeper peeling wants more rounds, and real peeling
    cascades are short (each round must remove ≥1 node or the loop has
    converged — `rounds` ≥ peel depth gives the true core).

    Returns the surviving nodes with their residual in-core degree:
    (node, core_degree), core_degree ≥ k.

    The k-core is THE cheap dense-substructure screen of the graph
    toolkit — community seeding, spam/bot ring detection, and the
    pruning step before triangle-heavy algorithms (a node outside the
    2-core is in no triangle at all).

    Shape per round (r12 decremental form): one streamed join of the
    src-keyed edge cache against the JUST-REMOVED node set + one small
    exchange of the matched edges + one O(|V|) survivor join — induced
    degrees update by subtraction, so the full |E| is touched once at
    setup, not per round (see the in-code equivalence note). MEMORY
    DISCIPLINE (r8 scale fix, found by scale_report at sf0.1): the
    checkpointed frontier is the O(|V|) (node, degree) table, never the
    O(|E|) edge list, so `rounds` edge-table copies are never pinned in
    block storage (the earlier form OOM'd a default-heap local session
    at sf0.1 before touching any real scale). reliable=True swaps in
    fault-tolerant checkpoint() (the pagerank r8 convention).
    """
    if k < 1:
        raise ValueError("kcore: k must be >= 1")
    if rounds < 1:
        raise ValueError("kcore: rounds must be >= 1")
    # r13: session-count cache — the adaptive count was A/B'd here too
    # (cache-only change) and LOST ~1.3× at sf10 (65.5-72.8 s at conf vs
    # 88.5 s adaptive, interleaved); only label_prop's vote exchange
    # profits from the data-proportional count (see _CACHE_PART_BYTES).
    #
    # r12 DECREMENTAL peeling (guide §1.2 step 1 — change the
    # algorithm, not the constants): the old loop re-filtered the FULL
    # |E| edge list by the cumulative survivor set and re-aggregated
    # full degrees every round (one |E| exchange × rounds). But induced
    # degrees update by SUBTRACTION: with S_0 = V, D_0 = deg_G,
    # S_{r+1} = {v ∈ S_r : D_r(v) ≥ k} and R_r = S_r \ S_{r+1},
    #   D_{r+1}(v) = D_r(v) − #neighbors(v) ∩ R_r   for v ∈ S_{r+1}
    # (removing R_r deletes exactly the G[S_r]-edges touching R_r), so
    # the checkpointed frontier carries (node, D_r) — still O(|V|), the
    # r8 memory discipline — and each round touches only the edges
    # INCIDENT TO THE JUST-REMOVED nodes: a streamed join of the
    # src-keyed cache against the removed set + one small exchange of
    # the matched subset, instead of |E| work. The setup degree
    # aggregation keys on src and reuses the cache partitioning
    # (zero-exchange). An empty removed set ends the loop early —
    # sound exactly like bfs's empty frontier: no removal means every
    # later round is the identical fixed point. The output after
    # `rounds` rounds, cur.where(D ≥ k) = (S_{rounds+1}, D_rounds), is
    # row-identical to the old final block by the equivalence above
    # (pinned at sf0.01/sf0.1 and the k/rounds boundary cases in
    # tests/test_r12_optimizations.py; measured 140.2/122.0 →
    # 56.7/59.3 s at sf10, k=80, 8 rounds).
    raw = _symmetric(edges)
    sym = _keyed_persist(raw, "src", conf_parts(raw))
    cur = _truncate_lineage(
        sym.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("__d")), reliable)
    for _ in range(rounds):
        removed = cur.where(F.col("__d") < k).select("node")
        if not removed.take(1):
            break
        # removed rides the join as the streamed cache's src key; the
        # per-survivor decrement counts by dst (≡ src on the symmetric
        # closure)
        dec = (sym.join(removed.select(F.col("node").alias("src"))
                        .hint(FRONTIER_JOIN_HINT), "src")
               .groupBy(F.col("dst").alias("node"))
               .agg(F.count(F.lit(1)).alias("__dec")))
        cur = _truncate_lineage(
            cur.where(F.col("__d") >= k)
            .join(dec.hint(FRONTIER_JOIN_HINT), "node", "left")
            .select("node",
                    (F.col("__d") - F.coalesce(F.col("__dec"), F.lit(0)))
                    .alias("__d")), reliable)
    # cur is checkpointed (materialized rows, no reference to sym), so
    # the lazy final filter is safe across the unpersist
    final = (cur.where(F.col("__d") >= k)
             .select("node", F.col("__d").alias("core_degree")))
    sym.unpersist()
    return final


def label_propagation(edges: DataFrame, rounds: int = 4,
                      reliable: bool = False) -> DataFrame:
    """Bounded-round SYNCHRONOUS label propagation (Raghavan, Albert &
    Kumara 2007, "Near linear time algorithm to detect community
    structures in large-scale networks") — the community-detection
    companion of `components`: where min-label propagation finds
    CONNECTIVITY, LPA finds the denser-than-surroundings blocks inside
    one component. Every node starts with its own id as label; each
    round EVERY node simultaneously adopts the most frequent label in
    its closed neighborhood (self + neighbors — the components
    convention; the self-vote also damps the bipartite flip-flop the
    paper notes for synchronous updates), ties broken by SMALLEST
    label. Synchronous update + total tie order = deterministic and
    partitioning/engine-independent (the kcore discipline — the
    paper's asynchronous random-order variant converges faster but is
    unreproducible by construction). The contract is exactly `rounds`
    rounds, oracle-unrolled; labels that survive are community seeds,
    not converged communities — callers wanting the fixed point raise
    `rounds` (real cores stabilize in a handful of sweeps per the
    paper's ~5-iteration observation).

    Returns (node, community, community_size) at round `rounds`.

    Shape per round: one join keyed by the adjacency src + ONE
    (node, label)-keyed vote count + one node-keyed argmax — the
    argmax is min(struct(−votes, label)), a single fold-order-free
    aggregate, not a window (no per-node sort, no second shuffle).
    The self-vote is folded in POST-join (r12, the pagerank per-round-
    stage lesson): each node's own (node, community) row is unioned
    into the vote count's input instead of materializing |V| self-loop
    rows in the persisted adjacency — identical closed-neighborhood
    counts by construction (own label + 1 wherever it also appears
    among neighbors), but the self rows no longer ride the per-round
    join exchange × rounds. The adjacency persists once; each label
    frontier is checkpoint-truncated (the pagerank lineage discipline;
    reliable=True swaps in fault-tolerant checkpoint()).
    """
    # r12: src-partitioned edge cache + SHUFFLE_HASH frontier join — the
    # per-round |E| re-shuffle (and the sort-merge sort that appears the
    # moment |V| outgrows the broadcast threshold) collapses to one
    # persist-time exchange (see _keyed_persist). r13: `parts` is the
    # scale-adaptive count (input-size-derived), computed once and
    # shared by the cache and the per-round vote repartition below.
    raw = _symmetric(edges)
    parts = scale_parts(raw, _CACHE_PART_BYTES, _PARTS_CAP)
    sym = _keyed_persist(raw, "src", parts)
    nodes = sym.select(F.col("src").alias("node")).distinct()
    lab = _truncate_lineage(
        nodes.withColumn("community", F.col("node").cast("long")), reliable)
    for _ in range(rounds):
        neigh = (sym.join(lab.select(F.col("node").alias("src"),
                                     "community")
                          .hint(FRONTIER_JOIN_HINT), "src")
                 .select(F.col("dst").alias("node"), "community"))
        # r12: ONE explicit repartition on node feeds BOTH aggregates —
        # hash(node) satisfies the ClusteredDistribution of the
        # (node, community) vote count AND of the node-keyed argmax, so
        # the round's two exchanges (count keyed (node, community),
        # then argmax keyed node — together up to ~2·|E| rows moved,
        # the src-partitioned neighbor stream barely combines map-side)
        # collapse to one |E|+|V|-row exchange (guide §2.4). Measured
        # at sf10: per-round sums 182.2 → 133.9 s and 156.1 → 137.1 s
        # over two interleaved sessions; counts identical (the same
        # rows meet the same aggregates, partitioning is not an input
        # to either fold).
        votes = (neigh.unionByName(lab.select("node", "community"))
                 .repartition(parts, "node")
                 .groupBy("node", "community")
                 .agg(F.count(F.lit(1)).alias("__c")))
        lab = _truncate_lineage(
            votes.groupBy("node")
            .agg(F.min(F.struct((-F.col("__c")).alias("__neg"),
                                F.col("community").alias("__l")))
                 .alias("__best"))
            .select("node", F.col("__best.__l").alias("community")),
            reliable)
    sizes = lab.groupBy("community").agg(
        F.count(F.lit(1)).alias("community_size"))
    res = lab.join(sizes, "community").select("node", "community",
                                              "community_size")
    sym.unpersist()
    return res


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community modularity contributions (Newman & Girvan 2004) of
    a node partition over an undirected (src < dst) edge list — the
    quality score that turns label_propagation's output from "here are
    blocks" into "these blocks beat random": Q = Σ_c [e_c/m −
    (d_c/2m)²], reported per community so the weak communities are
    identifiable, with Q itself = the sum of `q_contrib`.

    EXACT arithmetic: the per-community numerator 4·m·e_c − d_c² is
    computed in int64 (m = edge count, e_c = intra-community edges,
    d_c = community degree sum — all exact counts) and divided by
    (2m)² in ONE floor-round-6 IEEE division, so both engines agree
    bit-for-bit. m is guarded at 2³⁰ edges in-plan (the pettitt loud-
    overflow convention — beyond that 4m² leaves int64 and the
    documented swap is DECIMAL(38,0) numerators, which DuckDB's
    HUGEINT mirrors natively).

    Shape: two node-keyed label joins + one community-keyed count for
    e_c, one node-keyed degree agg + community-keyed sum for d_c, the
    edge count as a 1-row broadcast scalar (q11 convention). Labels
    ride the shuffles, never the adjacency twice. Communities with no
    intra edges report e_c = 0 (left join), so a partition that
    shattered a component is visible, not absent.

    Output: (community, n_nodes, e_intra, d_total, q_contrib).
    """
    lab = labels.select("node", "community")
    e = edges.select("src", "dst")
    m_row = e.agg(F.count(F.lit(1)).cast("long").alias("__m"))
    intra = (e.join(lab.select(F.col("node").alias("src"),
                               F.col("community").alias("__cs")), "src")
             .join(lab.select(F.col("node").alias("dst"),
                              F.col("community").alias("__cd")), "dst")
             .where(F.col("__cs") == F.col("__cd"))
             .groupBy(F.col("__cs").alias("community"))
             .agg(F.count(F.lit(1)).cast("long").alias("e_intra")))
    dc = (degrees(e).join(lab, "node").groupBy("community")
          .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
               F.sum("degree").cast("long").alias("d_total")))
    m = F.col("__m")
    e_c = F.coalesce(F.col("e_intra"), F.lit(0).cast("long"))
    num = (F.when(m > F.lit(1 << 30),
                  F.raise_error(F.lit(
                      "modularity: edge count exceeds 2^30 — 4m^2 "
                      "leaves int64; switch the numerator to "
                      "DECIMAL(38,0) (see docstring)")).cast("long"))
           .otherwise(F.lit(4) * m * e_c
                      - F.col("d_total") * F.col("d_total")))
    denom = (F.lit(2) * m) * (F.lit(2) * m)
    return (dc.join(intra, "community", "left")
            .crossJoin(F.broadcast(m_row))
            .select("community", "n_nodes", e_c.alias("e_intra"),
                    "d_total",
                    (F.floor(num.cast("double") / denom.cast("double")
                             * F.lit(1000000.0) + F.lit(0.5))
                     / F.lit(1000000.0)).alias("q_contrib")))


def link_predict(edges: DataFrame, k: int = 3, min_common: int = 2,
                 center_cap: int = 256, round_to: int = 6) -> DataFrame:
    """Top-k link suggestions per node by neighbor-overlap Jaccard
    (Liben-Nowell & Kleinberg 2003's common-neighbors/Jaccard
    predictors): for every NON-adjacent pair sharing ≥ `min_common`
    neighbors, jaccard = common / (deg_u + deg_v − common) — both
    operands exact integers, one IEEE division floor-rounded — then
    each node keeps its k best candidates by (jaccard DESC, common
    DESC, candidate id ASC), a deterministic order because the ranking
    key is the ROUNDED value.

    Scale shape: the wedge join (two-hop pairs through a shared
    neighbor) does Σ_x deg(x)² work — the same hub hazard as triangle
    counting, but un-orientable here because both endpoints need their
    full neighborhoods. `center_cap` bounds it: nodes with degree >
    center_cap are excluded from the CENTER role (their pair mass is
    mostly reachable through other shared neighbors; the recall loss is
    the documented trade, and the oracle mirrors the cap exactly). The
    per-node ranking window partitions on the node key — no funnel.
    The degree join-back is unhinted (r8): the degree table is O(|V|),
    so it must be free to shuffle-join on the high-cardinality u/v
    keys; AQE still broadcasts it on small graphs.
    """
    sym = _symmetric(edges)
    deg = degrees(edges)
    centers = deg.where(F.col("degree") <= F.lit(int(center_cap))) \
                 .select(F.col("node").alias("src"))
    via = sym.join(centers, "src")
    a = via.select(F.col("src").alias("__x"), F.col("dst").alias("u"))
    b = via.select(F.col("src").alias("__x"), F.col("dst").alias("v"))
    pairs = (a.join(b, "__x")
             .where(F.col("u") < F.col("v"))
             .groupBy("u", "v")
             .agg(F.count(F.lit(1)).alias("common"))
             .where(F.col("common") >= F.lit(int(min_common))))
    non_adj = pairs.join(
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        ["u", "v"], "left_anti")
    du = deg.select(F.col("node").alias("u"), F.col("degree").alias("__du"))
    dv = deg.select(F.col("node").alias("v"), F.col("degree").alias("__dv"))
    # unhinted equi-joins on u/v (r8): the degree table is O(|V|) —
    # billions of rows on a production co-occurrence graph — so forcing
    # a broadcast OOMs at exactly the scale this operator targets; AQE
    # still broadcasts when |V| is genuinely small (the SemDeDup
    # anti-join precedent from r5)
    scored = (non_adj.join(du, "u").join(dv, "v")
              .select("u", "v", "common",
                      (F.floor(F.col("common")
                               / (F.col("__du") + F.col("__dv")
                                  - F.col("common"))
                               * (10 ** round_to) + F.lit(0.5))
                       / (10 ** round_to)).alias("jaccard")))
    both = scored.select(F.col("u").alias("node"),
                         F.col("v").alias("candidate"),
                         "common", "jaccard").unionByName(
        scored.select(F.col("v").alias("node"),
                      F.col("u").alias("candidate"),
                      "common", "jaccard"))
    w = Window.partitionBy("node").orderBy(
        F.col("jaccard").desc(), F.col("common").desc(),
        F.col("candidate").asc())
    return (both.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= F.lit(int(k))))


def bfs(edges: DataFrame, seeds: DataFrame, rounds: int = 4,
        reliable: bool = False) -> DataFrame:
    """Multi-source bounded-depth breadth-first distance: every node
    within `rounds` hops of any seed gets its exact hop distance to the
    nearest seed; nodes further away are absent. The reachability /
    blast-radius primitive — "which parts co-order within 3 hops of the
    recalled part", "which docs sit within 2 dedup hops of a
    contaminated benchmark doc" — and the ego-network extractor in
    front of the heavier graph ops.

    FRONTIER form (not the components-style full relabeling): round i
    expands only the nodes first reached at round i−1, so total work is
    O(Σ frontier-adjacent edges) ≤ O(|E|) across ALL rounds — the same
    result as min-plus label propagation at a fraction of the traffic,
    and the iteration stops early once a frontier comes back empty
    (sound: an empty frontier can never produce a later one). Hop
    distances are integers and the frontier sets are determined purely
    by set algebra — no ordering anywhere — so any partitioning and any
    engine agree exactly; the oracle unrolls the same expand/anti-join
    rounds as CTEs (the components convention).

    Returns (node, dist): dist = 0 for seeds, ≤ `rounds` otherwise.

    Shape per round: one src-keyed join (frontier × adjacency), one
    distinct, one node-keyed anti-join against the reached set; the
    reached set and each frontier are checkpoint-truncated (the
    pagerank lineage discipline; reliable=True swaps in fault-tolerant
    checkpoint()). Seeds outside the graph are kept at dist 0 (the
    caller asked about them; they simply expand nowhere).
    """
    if rounds < 1:
        raise ValueError("bfs: rounds must be >= 1")
    # r12: src-partitioned edge cache + SHUFFLE_HASH frontier join (see
    # _keyed_persist) — the expand join streams the cache every round.
    # Session-count cache (the r13 kcore/pagerank negative result).
    raw = _symmetric(edges)
    sym = _keyed_persist(raw, "src", conf_parts(raw))
    reached = _truncate_lineage(
        seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
        .withColumn("dist", F.lit(0)), reliable)
    frontier = reached.select("node")
    for i in range(1, rounds + 1):
        new = _truncate_lineage(
            sym.join(frontier.select(F.col("node").alias("src"))
                     .hint(FRONTIER_JOIN_HINT), "src")
            .select(F.col("dst").alias("node")).distinct()
            .join(reached.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(i)), reliable)
        if not new.take(1):
            break
        reached = _truncate_lineage(reached.unionByName(new), reliable)
        frontier = new.select("node")
    sym.unpersist()
    return reached


def closeness(edges: DataFrame, seeds: DataFrame, rounds: int = 4,
              reliable: bool = False) -> DataFrame:
    """Sampled-source closeness centrality (Eppstein & Wang 2001): every
    node's exact distances to a SAMPLE of k seed nodes, folded into
    n_seeds_reached / Σdist — the estimator that makes closeness (an
    all-pairs-BFS quantity, hopeless at scale) a k-BFS quantity with
    O(1/√k) relative error. "Which parts sit structurally central to
    the co-order graph", "which docs are hubs of the near-dup graph" —
    the centrality that rewards being CLOSE to everything, where
    PageRank rewards being POINTED AT.

    The frontier carries a seed column: state rows are (node, seed,
    dist) pairs, expansion is bfs's expand/anti-join with (node, seed)
    as the reached key — per-seed BFS runs fused into one plan, total
    work O(k·|E|) bounded by the same frontier argument, early stop on
    an empty frontier. Distances are integers and every step pure set
    algebra, so both engines agree exactly; the oracle unrolls the
    same rounds over (node, seed) pairs.

    Output (node, n_seeds, sum_dist, closeness): seeds at dist ≥ 1
    only (a seed's distance-0 self-pair would inflate its own score),
    closeness = n_seeds / sum_dist floor-rounded at 6 — the
    sample-relative value; Eppstein–Wang's population rescale is a
    constant factor the caller applies. Nodes reaching no seed within
    `rounds` hops are absent. State is O(k·|V|) pair checkpoints —
    the deliberate k× trade against running k sequential BFS jobs.
    """
    if rounds < 1:
        raise ValueError("closeness: rounds must be >= 1")
    reached = _seed_distances(edges, seeds, rounds, reliable)
    n = F.count(F.lit(1))
    s = F.sum("dist")
    return (reached.where(F.col("dist") >= 1)
            .groupBy("node")
            .agg(n.cast("long").alias("n_seeds"),
                 s.cast("long").alias("sum_dist"))
            .select("node", "n_seeds", "sum_dist",
                    (F.floor(F.col("n_seeds").cast("double")
                             / F.col("sum_dist").cast("double")
                             * F.lit(1000000.0) + F.lit(0.5))
                     / F.lit(1000000.0)).alias("closeness")))


def _seed_distances(edges: DataFrame, seeds: DataFrame, rounds: int,
                    reliable: bool = False) -> DataFrame:
    """The fused k-seed BFS state table (node, seed, dist ≤ rounds) —
    closeness's frontier pipeline factored out so the centrality folds
    (closeness's n/Σd, harmonic's Σ1/d) share ONE distance
    computation and cannot drift apart."""
    # r12: src-partitioned edge cache + SHUFFLE_HASH frontier join
    # (see _keyed_persist); session-count cache (r13 negative result)
    raw = _symmetric(edges)
    sym = _keyed_persist(raw, "src", conf_parts(raw))
    reached = _truncate_lineage(
        seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
        .select("node", F.col("node").alias("seed"))
        .withColumn("dist", F.lit(0)), reliable)
    frontier = reached
    for i in range(1, rounds + 1):
        new = _truncate_lineage(
            sym.join(frontier.select(F.col("node").alias("src"), "seed")
                     .hint(FRONTIER_JOIN_HINT), "src")
            .select(F.col("dst").alias("node"), "seed").distinct()
            .join(reached.select("node", "seed"), ["node", "seed"],
                  "left_anti")
            .withColumn("dist", F.lit(i)), reliable)
        if not new.take(1):
            break
        reached = _truncate_lineage(reached.unionByName(new), reliable)
        frontier = new
    sym.unpersist()
    return reached


def harmonic(edges: DataFrame, seeds: DataFrame, rounds: int = 4,
             reliable: bool = False) -> DataFrame:
    """Sampled-source HARMONIC centrality — Σ over reached seeds of
    1/dist (Marchiori & Latora 2000's harmonic mean variant; the
    centrality Boldi & Vigna 2014 argue is the axiomatically sound one
    of the closeness family): unlike closeness it handles DISCONNECTED
    graphs gracefully — an unreachable seed contributes 0 instead of
    making the score undefined, so nodes of small components keep
    comparable scores and the operator emits every node that reached
    ≥ 1 seed without a reachability footnote.

    Shares closeness's fused k-seed BFS state (_seed_distances — one
    frontier plan, O(k·|E|) total) and differs only in the fold, which
    is EXACT-integer here too: dist ≤ rounds, so every 1/dist is a
    multiple of 1/L with L = lcm(1..rounds) — the fold carries
    h_fp = Σ L div dist as a BIGINT (the ev_markov fixed-point
    convention) and performs ONE IEEE division h_fp / L at the end,
    floor-rounded at 6. No float ever enters a shuffle or a sum.

    Returns (node, n_seeds, h_fp, harmonic): sample-relative like
    closeness — the population rescale is the caller's constant.

    Scale shape: identical to closeness (the shared state IS the
    cost); the fold is one node-keyed integer aggregation.
    """
    if rounds < 1:
        raise ValueError("harmonic: rounds must be >= 1")
    L = math.lcm(*range(1, rounds + 1))
    if L > 1 << 44:          # lcm(1..30) ~ 2^41; 43+ leaves int64
        raise ValueError(
            f"harmonic: lcm(1..{rounds}) = {L} exhausts the int64 "
            f"fixed-point headroom (h_fp <= n_seeds * L); use rounds "
            f"<= 30 or switch h_fp to DECIMAL(38,0)")
    # h_fp <= n_seeds * L: raise loudly before the sum can wrap (the
    # pettitt/ams convention — r10 review: this operator had no guard)
    seed_cap = (1 << 62) // L
    reached = _seed_distances(edges, seeds, rounds, reliable)
    n_seeds_c = F.count(F.lit(1)).cast("long")
    guarded_n = (F.when(n_seeds_c > F.lit(seed_cap),
                        F.raise_error(F.lit(
                            "harmonic: n_seeds * lcm(1..rounds) leaves "
                            "int64 — lower rounds or switch h_fp to "
                            "DECIMAL(38,0)")).cast("long"))
                 .otherwise(n_seeds_c))
    return (reached.where(F.col("dist") >= 1)
            .groupBy("node")
            .agg(guarded_n.alias("n_seeds"),
                 F.sum(F.expr(f"{L}L div dist")).cast("long")
                 .alias("h_fp"))
            .select("node", "n_seeds", "h_fp",
                    (F.floor(F.col("h_fp").cast("double")
                             / F.lit(float(L))
                             * F.lit(1000000.0) + F.lit(0.5))
                     / F.lit(1000000.0)).alias("harmonic")))


def sssp(edges: DataFrame, seeds: DataFrame, rounds: int = 6,
         cost_col: str = "cost", reliable: bool = False) -> DataFrame:
    """Multi-source weighted shortest paths, bounded-hop Bellman–Ford
    with a frontier: after r rounds every node holds the EXACT minimum
    path cost over paths of ≤ r edges from the nearest seed (and the
    loop stops early at the true fixpoint — an empty improvement set
    can never seed a later one, the bfs argument verbatim). The
    weighted companion of `bfs`: "how CLOSE is each part to a recalled
    part when edges carry co-order strength", "cheapest contamination
    path from a benchmark doc through the near-dup graph".

    FRONTIER relaxation (Bellman–Ford restricted to last round's
    improved set): a node's distance can only improve through a
    neighbor that itself improved last round, so round i joins ONLY the
    improved set against the adjacency — total relaxation work is
    O(Σ frontier-adjacent edges), not rounds·|E| — and each round is
    one src-keyed join + two node-keyed integer-min aggregations (all
    partials combine map-side). Costs are cast to long and every
    combining op is an integer min over sums — no ordering, no floats —
    so any partitioning and any engine agree exactly; the oracle
    unrolls the identical relax/merge/improve rounds as CTEs (the bfs
    convention). The distance and frontier tables are
    checkpoint-truncated per round (the pagerank lineage discipline;
    `reliable=True` swaps in fault-tolerant checkpoint()).

    At 100 TB the bounded-round form IS the production algorithm
    (Δ-stepping's bucket loop degenerates to this on a BSP engine);
    the dist table is O(|reached nodes|) and edges never replicate —
    only the improved set moves each round.

    `edges` is an undirected (src < dst) list carrying `cost_col`;
    seeds' first column is the node id. Returns (node, dist): 0 for
    seeds, the bounded-hop minimum cost otherwise; unreached nodes are
    absent.
    """
    if rounds < 1:
        raise ValueError("sssp: rounds must be >= 1")
    w = edges.select("src", "dst", F.col(cost_col).cast("long").alias("__c"))
    # r12: src-partitioned edge cache + SHUFFLE_HASH frontier join
    # (see _keyed_persist); session-count cache (r13 negative result)
    raw = w.unionByName(
        w.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                 "__c"))
    sym = _keyed_persist(raw, "src", conf_parts(raw))
    dist = _truncate_lineage(
        seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
        .withColumn("dist", F.lit(0).cast("long")), reliable)
    frontier = dist
    for _ in range(rounds):
        cand = (sym.join(frontier.select(F.col("node").alias("src"),
                                         F.col("dist").alias("__d"))
                        .hint(FRONTIER_JOIN_HINT), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min(F.col("__d") + F.col("__c")).alias("dist")))
        merged = _truncate_lineage(
            dist.unionByName(cand)
            .groupBy("node").agg(F.min("dist").alias("dist")), reliable)
        improved = _truncate_lineage(
            merged.join(dist.select("node", F.col("dist").alias("__old")),
                        "node", "left")
            .where(F.col("__old").isNull() | (F.col("dist") < F.col("__old")))
            .select("node", "dist"), reliable)
        if not improved.take(1):
            break
        dist = merged
        frontier = improved
    sym.unpersist()
    return dist


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          iters: int = 10, damping_pct: int = 85,
                          reliable: bool = False) -> DataFrame:
    """Personalized PageRank (Page et al. 1999 §6; the random walk
    with restart of Jeh & Widom 2002's personalization vector) — the
    RECOMMENDATION form of pagerank: the teleport mass returns to a
    SEED set instead of spreading uniformly, so scores rank nodes by
    proximity-with-authority AROUND the seeds ("users who touched
    this basket of parts land here next"). Same exact fixed-point
    integer discipline as pagerank (SCALE_FP units, BIGINT sums,
    floor `div` everywhere — bit-stable across engines and
    partitionings by construction):

      ppr_0(v)   = SCALE // |S| if v ∈ S else 0
      ppr_i+1(v) = [v ∈ S]·(100−d)·SCALE // (100·|S|)
                   + d · (Σ over in-neighbors u of
                          ppr_i(u) // outdeg(u)) // 100

    Nodes the walk never reaches keep score 0 and stay in the output
    — distance-to-seeds information, not noise.

    Scale shape: identical to pagerank — one co-partitioned
    contribution join + one node-keyed integer agg per iteration,
    lineage truncated per round; the seed membership rides as a
    broadcast |S|-row flag join.
    """
    if iters < 1:
        raise ValueError("personalized_pagerank: iters must be >= 1")
    # r12: src-partitioned edge cache, a SHUFFLE_HASH contribution join
    # (see _keyed_persist), and the pagerank frontier treatment: outdeg
    # AND the seed flag ride the persisted `out` table (node, outdeg,
    # __seed) and the checkpointed frontier carries outdeg, so each
    # round is projection → streamed edge join → node-keyed sum → one
    # exchange-free SHUFFLE_HASH join back onto `out` (summed leaves
    # its aggregation partitioned exactly like the persisted out).
    # The old per-round shape paid a frontier ⋈ out sort-merge (the
    # checkpoint's partitioning is unknown to Catalyst) PLUS a
    # nodes-left-join resurrection — redundant on the SYMMETRIC
    # closure, where every node has an in-edge and `summed` already
    # carries all of them (the r11 pagerank lesson; the coalesce(__s,
    # 0) branch was dead). A separate nodes.distinct() pass is gone
    # too — `out` IS the node set here.
    # (session-count cache — the pagerank r13 negative result applies
    # verbatim: this loop shares its round shape)
    sym = _symmetric(edges)
    edges_k = _keyed_persist(sym, "src", conf_parts(sym))
    outdeg = (edges_k.groupBy(F.col("src").alias("node"))
              .agg(F.count(F.lit(1)).alias("outdeg")))
    sd = (seeds.select(F.col(seeds.columns[0]).alias("node")).distinct()
          .join(outdeg, "node", "left_semi").persist())
    ns = sd.count()
    if ns == 0:
        sd.unpersist()
        edges_k.unpersist()
        raise ValueError("personalized_pagerank: no seed is a node "
                         "of the graph")
    base_seed = ((100 - damping_pct) * SCALE_FP) // (100 * ns)
    flag = sd.withColumn("__seed", F.lit(1))
    out = (outdeg.join(F.broadcast(flag), "node", "left")
           .select("node", "outdeg",
                   F.col("__seed").isNotNull().alias("__is_seed"))
           ).persist()
    pr = _truncate_lineage(
        out.select("node",
                   F.when(F.col("__is_seed"), F.lit(SCALE_FP // ns))
                   .otherwise(F.lit(0)).cast("long").alias("ppr_fp"),
                   "outdeg"), reliable)
    for _ in range(iters):
        contrib = pr.select(F.col("node").alias("src"),
                            F.expr("ppr_fp div outdeg").alias("__c"))
        summed = (edges_k.join(contrib.hint(FRONTIER_JOIN_HINT), "src")
                  .groupBy(F.col("dst").alias("node"))
                  .agg(F.sum("__c").alias("__s")))
        nxt = (summed.join(out.hint(FRONTIER_JOIN_HINT), "node")
               .select("node",
                       (F.when(F.col("__is_seed"), F.lit(base_seed))
                        .otherwise(F.lit(0))
                        + F.expr(f"({damping_pct} * __s) div 100"))
                       .cast("long").alias("ppr_fp"),
                       "outdeg"))
        pr = _truncate_lineage(nxt, reliable)
    res = pr.select("node", "ppr_fp")
    edges_k.unpersist()
    out.unpersist()
    sd.unpersist()
    return res


def hits(edges: DataFrame, iters: int = 8,
         reliable: bool = False) -> DataFrame:
    """HITS hubs & authorities on a DIRECTED edge list (Kleinberg
    1999) — the two-sided citation/endorsement ranking pagerank's
    single score can't express: a good HUB points at good
    authorities, a good AUTHORITY is pointed at by good hubs
    (user→item bipartite graphs are the classic fit — hub quality of
    users, authority quality of items — which is why the gate runs it
    on the user→event_type engagement graph). Same exact fixed-point
    integer discipline as pagerank:

      a_0 = h_0 = SCALE_FP
      a'_{i+1}(v) = Σ over in-edges (u→v) of h_i(u)
      h'_{i+1}(u) = Σ over out-edges (u→v) of a_{i+1}(v)

    with each vector renormalized per round by an integer floor
    division a = (a'·SCALE) div max(a') against the round's 1-row
    global max (the q11 scalar convention) — the standard L∞
    normalization made exact: every operand BIGINT, every division a
    floor, so any engine and any partitioning agree bit-for-bit
    (float HITS normalizes by an L2 norm whose sqrt and fold order
    both wobble; the L∞ integer form has neither).

    Overflow headroom: Σ h over in-edges ≤ indegree·SCALE, safe up to
    degree ≈ 4.6·10⁶ (= 2⁶²/SCALE_FP); both guards are IN-PLAN (no
    eager job at construction — the markov r9 lesson). The renorm
    raises on any NEGATIVE per-round sum (a wrap into [2⁶³, 2⁶⁴)),
    and — because a sum past 2⁶⁴ lands positive again and would
    otherwise renormalize garbage silently — the ACTUAL OPERAND is
    guarded too: the graph's max in/out-degree is folded once into a
    1-row scalar and the output raises when it exceeds 2⁶²/SCALE_FP,
    which bounds every per-round sum inside int64 by construction
    (DECIMAL(38,0) is the documented swap past that degree).

    Returns (node, hub_fp, auth_fp) in SCALE_FP units — every node of
    the directed graph, sources with auth 0 and sinks with hub 0
    staying visible.

    Scale shape per round: two edge-keyed joins + two node-keyed
    integer sums + two 1-row max scalars; lineage truncated per round
    (the pagerank convention).
    """
    if iters < 1:
        raise ValueError("hits: iters must be >= 1")
    # r12: the auth update joins edges on src, the hub update on dst —
    # TWO keyed caches (16 bytes/row each) so neither per-round join
    # ever re-shuffles the edge list (see _keyed_persist); the dst copy
    # derives from the src cache so the distinct is computed once
    raw = (edges.select(F.col(edges.columns[0]).alias("src"),
                        F.col(edges.columns[1]).alias("dst"))
           .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
           .distinct())
    e = _keyed_persist(raw, "src", conf_parts(raw))
    e_dst = _keyed_persist(e, "dst", conf_parts(raw))
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct().persist())
    # degree-operand overflow guard (in-plan 1-row scalar): max degree
    # > 2^62/SCALE_FP means a per-round sum can pass 2^64 and land
    # POSITIVE — invisible to the negative-sum renorm guard below
    degcap = (1 << 62) // SCALE_FP
    deg = (e.groupBy("src").agg(F.count(F.lit(1)).alias("__d"))
           .select("__d")
           .unionByName(e.groupBy("dst")
                        .agg(F.count(F.lit(1)).alias("__d"))
                        .select("__d"))
           .agg(F.max("__d").alias("__degmax")))
    hub = _truncate_lineage(
        nodes.withColumn("hub_fp", F.lit(SCALE_FP).cast("long")),
        reliable)
    auth = _truncate_lineage(
        nodes.withColumn("auth_fp", F.lit(SCALE_FP).cast("long")),
        reliable)

    def _renorm(df, col):
        mx = df.agg(F.max(col).alias("__mx"),
                    F.min(col).alias("__mn"))
        # a wrapped int64 sum of positive terms is negative: raise
        # loudly instead of renormalizing garbage (the in-plan guard)
        return (df.crossJoin(F.broadcast(mx))
                .select("node",
                        F.when(F.col("__mn") < 0,
                               F.raise_error(F.lit(
                                   "hits: a score sum wrapped int64 "
                                   "(degree * SCALE headroom) — "
                                   "switch the sums to DECIMAL(38,0)"))
                               .cast("long"))
                        .when(F.col("__mx") > 0,
                              # DECIMAL(38,0) product: raw*SCALE can
                              # reach ~1e30 — far past int64, well
                              # inside decimal; quotient <= SCALE
                              F.expr(f"CAST((CAST({col} AS "
                                     f"DECIMAL(38,0)) * {SCALE_FP}) "
                                     f"div __mx AS LONG)"))
                        .otherwise(F.lit(0)).cast("long").alias(col)))

    for _ in range(iters):
        a_raw = (e.join(hub.select(F.col("node").alias("src"),
                                   "hub_fp")
                        .hint(FRONTIER_JOIN_HINT), "src")
                 .groupBy(F.col("dst").alias("node"))
                 .agg(F.sum("hub_fp").alias("__s")))
        auth = _truncate_lineage(_renorm(
            nodes.join(a_raw, "node", "left")
            .select("node", F.coalesce("__s", F.lit(0)).cast("long")
                    .alias("auth_fp")), "auth_fp"), reliable)
        h_raw = (e_dst.join(auth.select(F.col("node").alias("dst"),
                                        "auth_fp")
                            .hint(FRONTIER_JOIN_HINT), "dst")
                 .groupBy(F.col("src").alias("node"))
                 .agg(F.sum("auth_fp").alias("__s")))
        hub = _truncate_lineage(_renorm(
            nodes.join(h_raw, "node", "left")
            .select("node", F.coalesce("__s", F.lit(0)).cast("long")
                    .alias("hub_fp")), "hub_fp"), reliable)
    # the degree guard wraps BOTH outputs: if only hub_fp carried it, a
    # downstream projection selecting just (node, auth_fp) would let
    # column pruning erase the raise_error and the 2^64 positive-wrap
    # overflow would be silent again for auth-only consumers
    def _guarded(col: str) -> Column:
        return (F.when(F.col("__degmax") > F.lit(int(degcap)),
                       F.raise_error(F.lit(
                           "hits: max in/out-degree exceeds "
                           f"2^62/SCALE_FP ({int(degcap)}) — a "
                           "per-round score sum can pass 2^64 and "
                           "wrap back POSITIVE; switch the sums "
                           "to DECIMAL(38,0)")).cast("long"))
                .otherwise(F.col(col)).alias(col))
    out = (hub.join(auth, "node")
           .crossJoin(F.broadcast(deg))
           .select("node", _guarded("hub_fp"), _guarded("auth_fp")))
    e.unpersist()
    e_dst.unpersist()
    nodes.unpersist()
    return out
