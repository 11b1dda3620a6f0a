"""Bounded graph traversal: k-hop BFS distances over an edge relation.

Complements the dedup clustering operators (operators/dedup.py implements
connected components via label propagation and large-star/small-star):
those answer "which component", BFS answers "how far" — recommendation
radii ("parts bought within 2 hops of this part"), blast-radius and
lineage queries, feature generation (distance-to-seed as a model input).

Spark has no recursive CTE. khop_distances picks its venue from the
row counts observed on its two input cuts: a graph of at most
KHOP_DRIVER_ROWS edge plus seed rows is collected once and expanded on
the driver, because each distributed hop costs 3-4 jobs of scheduling
whatever its size (the sf0.01 co-purchase graph: 7 jobs per call on
the driver, 24 in the hop loop). A larger graph runs the BFS loop in the
DRIVER while every iteration's work is a declarative DataFrame step.
The loop picks each hop's join strategy from row counts it observed
(broadcast the frontier and the settled set while they fit, leave the
join to AQE when they do not). This is the textbook Pregel-lite shape:

    dist_0 = seeds at distance 0
    frontier_i = nodes first reached at distance i
    frontier_{i+1} = (frontier_i JOIN edges) \\ dist_so_far
    dist = union of frontiers

Scale notes (100 TB lens):
  * Each hop sizes its two build sides from exact counts: the frontier
    count is observed on the frontier's cut, and the settled count is
    the running sum of those counts (the frontiers are disjoint). While
    frontier_i fits joins.BROADCAST_MAX_BYTES it is broadcast and the
    edge relation streams past it where it lies, so the hop moves no
    edge row; the settled set is broadcast to the anti-join the same
    way. Past the bound the join is left unhinted for AQE. Counts, not
    estimates, because a cut keeps the size estimate of the plan it
    was cut from and the estimate compounds hop over hop: on the
    sf0.01 co-purchase graph the 6,890-row edge cut reads as 28 GB and
    the 440-row hop-4 frontier as 2.3e44 bytes. Planned from those
    numbers every hop after the first was a SortMergeJoin that
    shuffled the frontier AND the whole edge relation before AQE
    converted it to a broadcast at runtime: 7 jobs a hop.
  * The anti-join against settled nodes keeps frontiers shrinking, so
    a hop costs the edges incident to its frontier, not the whole
    graph.
  * max_hops bounds the rounds (k joins total). Unbounded reachability
    belongs to the connected-components operators whose round count is
    O(log^2 n), not BFS.
  * Every piece of loop state is CUT, never cached: the edge relation,
    the seed frontier and each hop's frontier go through
    session.cut_lineage (an eager checkpoint), so a hop plans a join
    over materialized scans. Caching looked equivalent but is not: a
    cached frontier's InMemoryRelation embeds the plan of the settled
    set it was anti-joined against, which embeds every earlier cached
    frontier's plan, so the plan text grew ~5x per hop (on a 14-node
    chain: 117 KB at 2 hops, 11.3 MB at 5; at 6 a 3 GB driver ran out
    of heap). Spark renders that text into every SQL execution's plan
    description, and the SQL status store keeps it. A cut frontier's
    plan is one scan, so planning and plan rendering stay flat in the
    hop count.
  * The per-hop row count (the emptiness probe and the broadcast
    size) is an observed metric riding the frontier's cut, so it costs
    no separate count job, and the settled set is a flat union of the
    cut frontiers. Nothing is cached, so there is nothing to release on
    return.
  * Distances are integers — the whole result is oracle-exact against a
    recursive-CTE twin.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_online_retail_spark.operators.joins import size_guarded_broadcast
from etl_online_retail_spark.session import cut_lineage, cut_observed


# Largest edge-plus-seed row count whose BFS runs on the driver. Below
# it a distributed hop is 3-4 jobs of scheduling for a few hundred
# rows; collecting both cuts once and expanding in a dict is cheaper.
# Sweep, local[4], random graphs with 8 out-edges per node, seeds every
# 499th node, 4 hops, best of 3 warm calls, in memory (Arrow collect)
# vs distributed, two runs: 16,384 edges 0.94/0.55 vs 4.06/1.77 s;
# 131,072: 1.15/1.07 vs 3.18/2.38; 262,144: 1.28/1.32 vs 2.55/3.33;
# 524,288: 2.59/2.37 vs 3.39/3.46; 786,432: 3.19 vs 4.11;
# 1,048,576: 4.32/4.81 vs 3.97/4.45. The venues cross between 786k and
# 1M rows; the bound sits one power of two below, where the driver
# still wins by ~1.4x.
KHOP_DRIVER_ROWS = 524_288


def khop_distances(edges: DataFrame, seeds: DataFrame,
                   max_hops: int) -> DataFrame:
    """BFS distances from a seed set, bounded at max_hops.

    edges: (src, dst) directed edge relation (feed both directions for an
    undirected graph). seeds: (node) relation, distance 0. Returns
    (node, dist INT) for every node reachable within max_hops — each node
    once, at its MINIMUM distance. node has Spark's widened type of the
    seeds' node and the edges' dst.

    Nulls: a null node is one node. A null seed, or a null dst reached
    by a hop, appears once, at its minimum distance; an edge whose src
    is null never expands (null matches no frontier node).

    Venue: both inputs are cut and their row counts observed on the
    cuts. At most KHOP_DRIVER_ROWS edge plus seed rows are collected
    and expanded on the driver; past the bound every hop is a
    distributed join. Both venues return the same rows and schema.
    """
    if max_hops < 0:
        raise ValueError("max_hops must be >= 0")
    # the edge relation feeds EVERY hop's join: one materialization of
    # its construction lineage (e.g. the co-purchase self-join + support
    # agg) instead of one per hop. At 100 TB this is a reliable cut
    # ($SPARK_GRAFT_CHECKPOINT_DIR) or a staged edge table.
    count = F.count(F.lit(1)).alias("n")
    e, m = cut_observed(edges.select(F.col("src"), F.col("dst")), count)
    n_edges = m["n"]
    # no distinct(): the row count bounds the distinct seeds from above
    # and costs one job without a shuffle
    s, m = cut_observed(seeds.select(F.col("node")), count)
    # the union's analysis widens the two types; it runs no job
    node_type = (s.unionByName(e.select(F.col("dst").alias("node")))
                 .schema["node"].dataType)
    if n_edges + m["n"] <= KHOP_DRIVER_ROWS:
        return _khop_on_driver(e, s, max_hops, node_type)
    frontier, m = cut_observed(
        s.distinct().select(F.col("node").cast(node_type),
                            F.lit(0).alias("dist")),
        count)
    n_frontier = m["n"]
    out = [frontier]
    settled_nodes = frontier.select(F.col("node").alias("_settled"))
    n_settled = n_frontier
    for i in range(1, max_hops + 1):
        front = size_guarded_broadcast(frontier, rows=n_frontier)
        reached = (front.join(e, front["node"] == e["src"])
                   .select(F.col("dst").alias("node"))
                   .distinct())
        # null-safe: a null node reached again is already settled
        settled = size_guarded_broadcast(settled_nodes, rows=n_settled)
        frontier, m = cut_observed(
            reached.join(settled,
                         F.col("node").eqNullSafe(F.col("_settled")),
                         "left_anti")
            .withColumn("dist", F.lit(i)),
            count)
        n_frontier = m["n"]
        if n_frontier == 0:
            break
        out.append(frontier)
        settled_nodes = settled_nodes.unionByName(
            frontier.select(F.col("node").alias("_settled")))
        n_settled += n_frontier
    result = out[0]
    for f in out[1:]:
        result = result.unionByName(f)
    return result


def _khop_on_driver(e: DataFrame, s: DataFrame, max_hops: int,
                    node_type: T.DataType) -> DataFrame:
    """khop_distances' in-memory venue over the collected edge and seed
    cuts: the same hop rule, one dict lookup per frontier node. The
    result goes back through Arrow, as a pandas frame whose node column
    holds the collected Python values (object dtype, so a BIGINT id
    never passes through float64)."""
    edges = e.toArrow()
    adj: dict = {}
    for src, dst in zip(edges.column("src").to_pylist(),
                        edges.column("dst").to_pylist()):
        if src is not None:
            adj.setdefault(src, []).append(dst)
    dist = dict.fromkeys(s.toArrow().column("node").to_pylist(), 0)
    frontier = list(dist)
    for i in range(1, max_hops + 1):
        reached = []
        for node in frontier:
            for dst in adj.get(node, ()):
                if dst not in dist:
                    dist[dst] = i
                    reached.append(dst)
        if not reached:
            break
        frontier = reached
    pdf = pd.DataFrame({"node": pd.Series(list(dist), dtype=object),
                        "dist": pd.Series(list(dist.values()),
                                          dtype="int32")})
    schema = T.StructType([T.StructField("node", node_type),
                           T.StructField("dist", T.IntegerType(), False)])
    return e.sparkSession.createDataFrame(pdf, schema)


def copurchase_edges(lineitem: DataFrame, min_orders: int = 2) -> DataFrame:
    """Undirected co-purchase edge relation: two distinct parts are
    connected iff >= min_orders DISTINCT orders contain both. The support
    threshold is what keeps the graph meaningful AND sparse — every basket
    pairs everything with everything once, so min_orders=1 approaches a
    clique mush, while repeat co-occurrence is signal (the same reason
    frequent-itemset mining thresholds on support).

    The self-join runs on the order key — on the co-bucketed staged layout
    (catalog.BUCKETED_TABLES) it plans with NO Exchange; per-order fan-out
    is bounded by order size, not corpus size; the support count is one
    map-side-combinable agg on the pair key. Emits both directions
    (src<>dst) for undirected BFS.
    """
    a = lineitem.select(F.col("l_orderkey").alias("_ok"),
                        F.col("l_partkey").alias("src"))
    b = lineitem.select(F.col("l_orderkey").alias("_ok"),
                        F.col("l_partkey").alias("dst"))
    return (a.join(b, "_ok")
            .filter(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.count_distinct("_ok").alias("_n"))
            .filter(F.col("_n") >= min_orders)
            .select("src", "dst"))


def copurchase_pmi(lineitem: DataFrame, min_orders: int = 2) -> DataFrame:
    """Association scores for co-purchased part pairs: support, lift and
    PMI — the market-basket step up from copurchase_edges' boolean
    membership (Amazon's 'frequently bought together' ranks by exactly
    this kind of co-occurrence-vs-chance score, not raw counts).

        lift(a,b) = N * supp(a,b) / (supp(a) * supp(b))
        pmi(a,b)  = ln(lift)             -- > 0 iff above-chance

    counted over DISTINCT orders (a basket contributes once however many
    line items repeat a part). Pairs are canonical a < b and thresholded
    at min_orders joint support — the same sparsifier as the edge
    relation, applied BEFORE the per-part join-backs so the scored
    relation is support-bounded.

    Scale shape: one distinct (order, part) projection feeds both the
    per-part supports (hash agg) and the pair supports (self-join on the
    order key — shuffle-free on the co-bucketed staging — then a
    map-combinable pair agg); the two support join-backs key on a part
    each, broadcast when the part dimension fits. Floats appear only in
    the final row-local arithmetic: lift is one IEEE division of exact
    integers, pmi is ln(lift) rounded to 9dp (the workload's float
    discipline), so the result is oracle-hash-exact.

    Output: (src, dst, n_both, n_src, n_dst, lift DOUBLE, pmi DOUBLE).
    """
    # cut: the projection feeds the supports, both pair legs and N
    # (rule 7). Uncut, those legs push different null filters into
    # their lineitem scans, so the exchanges differ and nothing is
    # reused: three scans. A cut, unlike a cache, is released with
    # the plan instead of pinning storage after the call.
    op = cut_lineage(lineitem.select(F.col("l_orderkey").alias("_ok"),
                                     F.col("l_partkey").alias("_pk"))
                     .distinct())
    # N rides along as a broadcast 1-row crossJoin (the relevance.py
    # corpus-stats pattern) — fully lazy, no driver-side action
    n_rel = op.agg(F.count_distinct("_ok").alias("_n"))
    supp = op.groupBy("_pk").agg(F.count(F.lit(1)).alias("_s"))
    a = op.select(F.col("_ok"), F.col("_pk").alias("src"))
    b = op.select(F.col("_ok"), F.col("_pk").alias("dst"))
    pairs = (a.join(b, "_ok")
             .filter(F.col("src") < F.col("dst"))
             .groupBy("src", "dst")
             .agg(F.count(F.lit(1)).alias("n_both"))
             .filter(F.col("n_both") >= min_orders))
    lift = (F.col("_n").cast("double") * F.col("n_both").cast("double")
            / (F.col("n_src").cast("double") * F.col("n_dst").cast("double")))
    return (pairs
            .join(supp.select(F.col("_pk").alias("src"),
                              F.col("_s").alias("n_src")), "src")
            .join(supp.select(F.col("_pk").alias("dst"),
                              F.col("_s").alias("n_dst")), "dst")
            .crossJoin(F.broadcast(n_rel))
            .select("src", "dst", "n_both", "n_src", "n_dst",
                    lift.alias("lift"),
                    F.round(F.log(lift), 9).alias("pmi")))


def copurchase_rules(lineitem: DataFrame, min_orders: int = 2,
                     min_confidence: float = 0.0) -> DataFrame:
    """Directed association rules a -> b from the co-purchase pairs:

        confidence(a -> b) = supp(a,b) / supp(a)     (P(b | a))
        lift as in copurchase_pmi (symmetric)

    The recommender reads this, not PMI: "customers who bought a also
    bought b with probability c". Each undirected support pair emits
    BOTH directions (confidence is asymmetric); min_confidence prunes
    the emission, min_orders the support relation before it.

    Scale shape: copurchase_pmi's plan plus one projection — the
    directed expansion is output-bound. Confidence is one IEEE division
    of exact integers: oracle-hash-exact.

    Output: (antecedent, consequent, n_both, n_antecedent, confidence,
    lift).
    """
    # the scored pair relation feeds BOTH direction projections; the
    # two legs are the same plan over copurchase_pmi's cut, so the
    # physical plan reuses each exchange (ReusedExchange) and needs
    # no cache
    scored = copurchase_pmi(lineitem, min_orders=min_orders)
    fwd = scored.select(
        F.col("src").alias("antecedent"), F.col("dst").alias("consequent"),
        "n_both", F.col("n_src").alias("n_antecedent"), "lift")
    rev = scored.select(
        F.col("dst").alias("antecedent"), F.col("src").alias("consequent"),
        "n_both", F.col("n_dst").alias("n_antecedent"), "lift")
    conf = (F.col("n_both").cast("double")
            / F.col("n_antecedent").cast("double"))
    return (fwd.unionByName(rev)
            .withColumn("confidence", conf)
            .filter(F.col("confidence") >= min_confidence)
            .select("antecedent", "consequent", "n_both", "n_antecedent",
                    "confidence", "lift"))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle participation counts over an undirected graph.

    edges: (src, dst) with BOTH directions present (copurchase_edges
    emits src<>dst pairs symmetrically). Canonicalizes to src < dst so
    each undirected edge appears once, then enumerates each triangle
    exactly once as an ordered wedge a<b<c closed by edge (a, c):

        E(a,b) |x|_b E(b,c) |x|_(a,c) E(a,c)

    and explodes each triangle to its three corners for the per-node agg.

    This is the standard distributed formulation (the MapReduce
    node-iterator of Suri & Vassilvitskii's "Counting Triangles and the
    Curse of the Last Reducer"): two shuffle joins + one hash agg. The
    a<b<c ordering is also the classic skew bound — a hub node's wedge
    set is built only from its HIGHER-numbered neighbors, splitting hub
    work instead of concentrating it (their degree-ordering refinement
    substitutes degree for id when hub skew is extreme; id-ordering keeps
    the result oracle-exact here). The wedge relation before closure is
    sum-of-squares(higher-degree) — the support threshold applied when
    BUILDING the edge relation (copurchase_edges min_orders) is what keeps
    that bounded at 100 TB, the same sparsification every production
    triangle count applies.

    Output: (node, n_triangles BIGINT) for nodes in >= 1 triangle —
    integers, oracle-hash-exact. Sum over nodes = 3x triangle count.
    """
    # feeds three join legs (rule 7): they share the distinct's
    # shuffle through ReusedExchange, so no cache is needed
    canon = (edges.select("src", "dst")
             .filter(F.col("src") < F.col("dst"))
             .distinct())
    e1 = canon.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = canon.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = canon.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    # one explode, not three unioned selects: a union would re-execute the
    # two-join triangle enumeration once per corner
    corners = tri.select(
        F.explode(F.array("a", "b", "c")).alias("node"))
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles"))


# Fixed-point scale for exact-mode power iteration: ranks live in
# [0, 1] so the int64 carrier is rank * 10^12; every operation is then
# integer add / multiply / truncating divide — bit-identical on any
# engine and any partitioning by construction (no IEEE rounding anywhere
# until the final scale-down to DOUBLE). Headroom: d_num(<=100) * any
# mass sum <= 1e14, far inside int64. All values are non-negative, so
# Spark's `div` (truncate toward zero) and DuckDB's `//` (floor) agree.
PR_FP_SCALE = 10 ** 12


def _damping_pct(damping: float) -> int:
    d_num = int(round(damping * 100))
    if not 0 <= d_num <= 100 or abs(d_num - damping * 100) > 1e-9:
        raise ValueError(
            "exact mode needs damping expressible in percent "
            f"(got {damping})")
    return d_num


def _rank(edges: DataFrame, seeds: DataFrame | None, max_iter: int,
          damping: float, exact: bool) -> DataFrame:
    """The power iteration behind pagerank and personalized_pagerank:
    teleport and dangling mass return uniformly to the seed set, and
    seeds=None seeds every node (global PageRank, n_seeds = n).

    The edge relation and the static node relation (out-degree and seed
    flag folded in) are cut once, and n / n_seeds are observed on the
    node cut, so a round joins only rank x edges and node x incoming.
    Both joins broadcast their rank side by the count n (exact for the
    rank vector, an upper bound for incoming): a cut keeps the
    compounding size estimate of the plan it came from, so planned from
    estimates every round was a SortMergeJoin that shuffled the edges.
    Dangling mass stays in-plan as a 1-row broadcast crossJoin, and each
    round's one action is its cut, which next round's two consumers
    scan. Nothing is cached."""
    d_num = _damping_pct(damping) if exact else None
    e = cut_lineage(edges.select("src", "dst").distinct())
    nodes = (e.select(F.col("src").alias("node"))
             .unionByName(e.select(F.col("dst").alias("node")))
             .distinct())
    if seeds is None:
        nodes = nodes.withColumn("_s", F.lit(1))
    else:
        nodes = nodes.join(seeds.select(F.col("node")).distinct()
                           .withColumn("_s", F.lit(1)), "node", "left")
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("_deg"))
    nd, m = cut_observed(
        nodes.join(outdeg, nodes["node"] == outdeg["src"], "left")
             .select("node", "_deg", "_s"),
        F.count(F.lit(1)).alias("n"), F.count("_s").alias("n_seeds"))
    n, n_seeds = m["n"], m["n_seeds"]
    if n == 0:
        # an empty edge relation is one min_orders threshold away
        raise ValueError(
            "pagerank: the edge relation is empty (no nodes); "
            "check the edge-construction thresholds")
    if n_seeds == 0:
        raise ValueError("personalized_pagerank: no seed is in the graph")

    is_seed = F.col("_s").isNotNull()
    if exact:
        init = F.lit(PR_FP_SCALE // n_seeds).cast("long")
        zero = F.lit(0).cast("long")
    else:
        init, zero = F.lit(1.0 / n_seeds), F.lit(0.0)
    ranks = nd.select(
        "node", "_deg", "_s",
        F.when(is_seed, init).otherwise(zero).alias("rank"))
    for _ in range(max_iter):
        dang = (ranks.filter(F.col("_deg").isNull())
                .agg(F.coalesce(F.sum("rank"), zero).alias("_dang")))
        per_edge = (F.expr("rank div _deg") if exact
                    else F.col("rank") / F.col("_deg"))
        src = size_guarded_broadcast(
            ranks.filter(F.col("_deg").isNotNull()), rows=n)
        spread = (src.join(e, src["node"] == e["src"])
                  .select(F.col("dst").alias("node"), per_edge.alias("_c")))
        incoming = spread.groupBy("node").agg(F.sum("_c").alias("_in"))
        if exact:
            # same integer arithmetic as the unrolled oracles: all terms
            # non-negative, so Spark's truncating div == floor //
            teleport = F.expr(
                f"(({100 - d_num} * {PR_FP_SCALE}L) + {d_num} * _dang) "
                f"div {100 * n_seeds}")
            walk = F.expr(f"({d_num} * coalesce(_in, 0L)) div 100")
        else:
            teleport = ((F.lit(1.0 - damping)
                         + F.lit(damping) * F.col("_dang"))
                        * F.lit(1.0 / n_seeds))
            walk = F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
        ranks = cut_lineage(
            nd.join(size_guarded_broadcast(incoming, rows=n), "node", "left")
              .crossJoin(F.broadcast(dang))
              .select("node", "_deg", "_s",
                      (F.when(is_seed, teleport).otherwise(zero) + walk)
                      .alias("rank")))
    return ranks.select("node", "rank")


def personalized_pagerank(edges: DataFrame, seeds: DataFrame,
                          max_iter: int = 10, damping: float = 0.85,
                          exact: bool = False) -> DataFrame:
    """Personalized PageRank: the random walk teleports back to the SEED
    set instead of everywhere — rank becomes "importance relative to
    these nodes", the standard relatedness score behind
    people-also-bought recommendations and seed-expansion labeling
    (vs global pagerank's corpus-wide prestige).

        r'(v) = (1-d) * s(v) + d * (sum_{u->v} r(u)/outdeg(u)
                                     + dangling_mass * s(v))

    with s uniform over `seeds` (a (node) relation) and 0 elsewhere —
    dangling mass also returns to the seeds, keeping total mass 1.
    ValueError if no seed is in the graph.

    Float ranks are order-of-summation sensitive at ulp level, so the
    default mode is rows-only for the driver gate; exact=True runs the
    whole iteration in FIXED-POINT int64 (rank * 10^12, truncating
    integer divides — see PR_FP_SCALE), so a fixed iteration count
    hash-verifies against an unrolled SQL oracle; the returned rank is
    then fp/10^12 as DOUBLE. Invariants (mass conservation, seed
    locality, teleport floor on seeds) are pytest-asserted on the float
    mode.
    """
    return _rank(edges, seeds, max_iter, damping, exact)


def pagerank(edges: DataFrame, max_iter: int = 10,
             damping: float = 0.85, exact: bool = False) -> DataFrame:
    """PageRank over a (src, dst) edge relation -> (node, rank), ranks
    summing to 1. Standard power iteration with dangling-mass
    redistribution:

        r'(v) = (1-d)/N + d * (sum_{u->v} r(u)/outdeg(u) + dangling/N)

    i.e. personalized_pagerank with every node a seed, and run as that
    loop (same exact and float modes). ValueError on an empty edge
    relation. Invariants (mass conservation, hub dominance,
    uniform-cycle fixpoint) are pytest-asserted on the float mode.
    """
    return _rank(edges, None, max_iter, damping, exact)
