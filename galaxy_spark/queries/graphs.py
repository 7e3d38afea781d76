"""Weighted iterative graph analytics (r5).

``operators/graph.py`` gives the engine its connected-components
primitive (min-label propagation for dedup clustering); this module
adds the other canonical iterative-graph shape: fixed-round
PageRank over a co-occurrence graph — per-round float discipline
(round contributions at 1e-9, DECIMAL-sum incoming mass) makes the
iteration bit-reproducible across engines, so the DuckDB oracle
runs the SAME five rounds as unrolled CTEs and must land on the
identical ranks.

Scale notes (100 TB): the graph materializes once per round as an
edges ⋈ ranks equi-join + a dst-keyed agg — one shuffle per round,
rounds fixed (5). Rank state is |V| rows. On a real cluster edges
would be persisted across rounds (here the scan re-reads; the
testdata fact table is small, and bench isolates steady-state);
the per-round plan is identical either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from galaxy_spark.operators.util import (state_broadcast,
                                         within_broadcast_budget)
from galaxy_spark.registry import register
from galaxy_spark.tables import load_table

_PR_ROUNDS = 5
_PR_DAMP = 0.85


def _pr_oracle() -> str:
    head = """
    WITH pairs AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), half AS (
        SELECT DISTINCT a.p AS src, b.p AS dst
        FROM pairs a JOIN pairs b ON a.o = b.o AND a.p < b.p
    ), edges AS (
        SELECT src, dst FROM half
        UNION ALL
        SELECT dst AS src, src AS dst FROM half
    ), deg AS (
        SELECT src AS node, COUNT(*) AS deg FROM edges GROUP BY src
    ), nv AS (
        SELECT COUNT(*) * 1.0 AS n FROM deg
    ), tele AS (
        SELECT CAST(ROUND(0.15 / nv.n, 9) AS DECIMAL(28,9)) AS t FROM nv
    ), r0 AS (
        SELECT node, deg, ROUND(1.0 / nv.n, 9) AS rank FROM deg, nv
    )"""
    rounds = []
    for k in range(1, _PR_ROUNDS + 1):
        rounds.append(f"""
    , c{k} AS (
        SELECT e.dst AS node,
               CAST(ROUND(r.rank / r.deg, 9) AS DECIMAL(28,9)) AS c
        FROM edges e JOIN r{k - 1} r ON e.src = r.node
    ), r{k} AS (
        SELECT d.node, d.deg,
               CAST(tele.t + CAST({_PR_DAMP} AS DECIMAL(3,2))
                    * CAST(SUM(s.c) AS DECIMAL(20,9)) AS DOUBLE) AS rank
        FROM c{k} s JOIN deg d ON s.node = d.node, tele
        GROUP BY d.node, d.deg, tele.t
    )""")
    tail = f"""
    SELECT node AS part, deg, rank FROM r{_PR_ROUNDS}
    """
    return head + "".join(rounds) + tail


@register("graph_pagerank_parts", oracle=_pr_oracle())
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (5 rounds, d=0.85) over the part co-purchase graph
    (parts sharing an order are linked; the graph is symmetrized,
    so every node has in- and out-edges and there are no dangling
    sinks). The analytics shape a recommender runs on a
    billion-node catalog.

    Per-round determinism (the oracle runs the identical rounds):
    each node's outgoing contribution rank/deg is a single float64
    division rounded at 1e-9; incoming mass is summed as
    DECIMAL(28,9) so partition/order can't move it; the damped
    update ``tele + 0.85 * mass`` runs ENTIRELY in decimal — mass
    is an exact multiple of 1e-9, so ``0.85 * mass`` lands exactly
    on decimal half-boundaries at digit 9, where the engines'
    double ROUNDs disagree (this shipped as a 153-row 1-ulp
    mismatch before the decimal form; see git history) — and only
    the final cast back to double (correctly-rounded, identical
    both engines) leaves decimal. Every round is one edges ⋈ ranks
    join + one dst-keyed agg — shuffle count = rounds, state = |V|
    rows, the same budget as the CC operator's label rounds.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pairs = li.select(F.col("l_orderkey").alias("o"),
                      F.col("l_partkey").alias("p")).distinct()
    half = (pairs.alias("a")
            .join(pairs.alias("b").hint("SHUFFLE_HASH"),
                  (F.col("a.o") == F.col("b.o"))
                  & (F.col("a.p") < F.col("b.p")))
            .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
            .distinct())
    # the edge list feeds every round — cut lineage once (lazy
    # localCheckpoint, materialized by the first action) so the
    # scan + self-join + distincts run ONCE, not rounds× (13 s ->
    # 4 s at sf0.1); bench.py releases the blocks between queries
    edges = (half.union(half.select(F.col("dst").alias("src"),
                                    F.col("src").alias("dst")))
             .localCheckpoint(eager=False))
    deg = (edges.groupBy(F.col("src").alias("node"))
           .agg(F.count("*").alias("deg"))
           .localCheckpoint(eager=False))
    nv = deg.agg((F.count("*") * F.lit(1.0)).alias("n"))
    tele = nv.select(F.round(F.lit(0.15) / F.col("n"), 9)
                     .cast("decimal(28,9)").alias("t"))
    ranks = (deg.crossJoin(F.broadcast(nv))
             .select("node", "deg", F.round(F.lit(1.0) / F.col("n"), 9)
                     .alias("rank")))
    # rank state is |V| rows — broadcast it into the edge scan so a
    # round shuffles only the partial-aggregated contributions, not
    # the 2x-|E| edge frame (2.0 s -> 0.6 s a round at sf0.1). At
    # |V| beyond broadcast reach the hints DROP THEMSELVES (r15,
    # the r14 verdict's scale-safety fix): the gate is one count of
    # the checkpointed |V|-row degree frame — blocks the first
    # round materializes anyway — against the configured budget
    # (operators.util.bcast_max_rows), and past it the same plan
    # runs as a shuffle join on src — one more exchange per round,
    # still linear, never a forced over-budget broadcast.
    # r14: the per-node out-contribution rank/deg is computed on
    # the |V|-row frame BEFORE the broadcast, not per edge row
    # after the join — the decimal round runs |V| times a round
    # instead of 2|E| times (interleaved A/B 6.59 -> 5.36 s median
    # at sf0.1 under load; identical ranks, the division is
    # per-node constant either way)
    small = within_broadcast_budget(deg)
    for _ in range(_PR_ROUNDS):
        outc = ranks.select("node",
                            F.round(F.col("rank") / F.col("deg"), 9)
                            .cast("decimal(28,9)").alias("c"))
        contrib = (edges.join(state_broadcast(outc, small),
                              edges.src == outc.node)
                   .select(F.col("dst").alias("cnode"), "c"))
        ranks = (contrib.groupBy("cnode")
                 .agg(F.sum("c").alias("mass"))
                 .join(state_broadcast(deg, small),
                       F.col("cnode") == F.col("node"))
                 .crossJoin(F.broadcast(tele))
                 .select("node", "deg",
                         (F.col("t")
                          + F.lit(_PR_DAMP).cast("decimal(3,2)")
                          * F.col("mass").cast("decimal(20,9)"))
                         .cast("double").alias("rank")))
    return ranks.select(F.col("node").alias("part"), "deg", "rank")


def cap_mega_baskets(baskets: DataFrame, k_max: int | None,
                     order_col: str = "o",
                     item_col: str = "p") -> DataFrame:
    """Deterministic mega-basket cap for basket self-joins (r12
    verdict #2): keep at most ``k_max`` items per basket, chosen by
    HASH order (md5 over the (order, item) pair, ties on the item),
    so the sample is a property of the data — stable across runs,
    partitionings and engines, never a ``rand()`` — and the emitted
    pair fan-out per basket is bounded by k_max(k_max-1) instead of
    k(k-1). A basket of k items emits k(k-1) pair rows in the
    self-join; TPC-H baskets are bounded (<= 7 lines) so the
    default is OFF (``k_max=None``, a no-op preserving the exact
    oracles), but at 100x on power-law baskets one mega-basket is a
    straggler task — e.g. k = 100k items is 10^10 pair rows in ONE
    join partition. Recall impact (SCALE.md): a pair inside a
    capped basket survives that basket with probability about
    (k_max/k)^2; pairs supported by MANY baskets keep their support
    nearly intact (mega-baskets are the rarest and the least
    informative — everything co-occurs with everything), which is
    exactly the A-priori/CF folk rationale for capping.

    The cap itself is one window over the basket frame — a
    row_number per order in hash order — partial top-k'd below the
    exchange (WindowGroupLimit) like every bounded-rank window in
    this repo, so it never materializes the uncapped fan-out it
    exists to prevent."""
    if k_max is None:
        return baskets
    if k_max < 2:
        raise ValueError(f"basket cap must allow pairs: {k_max!r}")
    w = Window.partitionBy(order_col).orderBy(
        F.md5(F.concat_ws("\x1f",
                          F.col(order_col).cast("string"),
                          F.col(item_col).cast("string"))),
        item_col)
    return (baskets
            .withColumn("_cap_rank", F.row_number().over(w))
            .filter(F.col("_cap_rank") <= k_max)
            .drop("_cap_rank"))


@register(
    "mining_frequent_pairs",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), item_count AS (
        SELECT p, COUNT(*) AS n_baskets FROM baskets GROUP BY p
    ), pair_support AS (
        SELECT a.p AS src, b.p AS dst, COUNT(*) AS support
        FROM baskets a JOIN baskets b ON a.o = b.o AND a.p < b.p
        GROUP BY a.p, b.p
    )
    SELECT ps.src, ps.dst, ps.support,
           ROUND(ps.support * 1.0 / ic.n_baskets, 4) AS confidence
    FROM pair_support ps JOIN item_count ic ON ps.src = ic.p
    WHERE ps.support >= 2
    """,
)
def mining_frequent_pairs(spark: SparkSession, sf_dir: str,
                          basket_cap: int | None = None) -> DataFrame:
    """Market-basket mining, A-priori level 2: part pairs
    co-occurring in >= 2 orders, with confidence(src -> dst) =
    support / baskets(src). The shape every co-occurrence
    recommender ("customers also bought") starts from — and the
    same edge generator PageRank consumes, here kept with its
    support weights instead of collapsed to 0/1.

    Shape at scale: baskets dedup is one shuffle on (order, part);
    the pair join shuffles on the order key and its output
    partial-aggregates on (src, dst) before the support exchange —
    the classic hot-basket hazard (one order with 10k items ->
    50M pairs) is handled by ``basket_cap`` (see
    ``cap_mega_baskets``): default OFF at TPC-H basket widths
    (<10) so the oracle stays exact, ON (k_max ~ 50-200) for
    power-law corpora. Item counts broadcast into the confidence
    join. Integer support and a single rounded double division
    keep both engines hash-identical with no decimal machinery.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # baskets feed three subtrees (item counts + both join sides) —
    # checkpoint the distinct (order, part) frame so the fact scan
    # and dedup shuffle run once
    baskets = (cap_mega_baskets(
        li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct(),
        basket_cap)
        .localCheckpoint(eager=False))
    item_count = baskets.groupBy("p").agg(F.count("*").alias("n_baskets"))
    pair_support = (baskets.alias("a")
                    .join(baskets.alias("b").hint("SHUFFLE_HASH"),
                          (F.col("a.o") == F.col("b.o"))
                          & (F.col("a.p") < F.col("b.p")))
                    .groupBy(F.col("a.p").alias("src"),
                             F.col("b.p").alias("dst"))
                    .agg(F.count("*").alias("support"))
                    .filter(F.col("support") >= 2))
    # the |items|-row count side broadcasts while the checkpointed
    # basket frame (its upper bound) fits the budget; past it the
    # confidence join degrades to a shuffle join (r15 size gate)
    return (pair_support
            .join(state_broadcast(item_count,
                                  within_broadcast_budget(baskets)),
                  F.col("src") == F.col("p"))
            .select("src", "dst", "support",
                    F.round(F.col("support") * F.lit(1.0)
                            / F.col("n_baskets"), 4).alias("confidence")))


@register(
    "mining_pair_lift",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), nb AS (
        SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM baskets
    ), item_count AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS n_baskets
        FROM baskets GROUP BY p
    ), pair_support AS (
        SELECT a.p AS src, b.p AS dst,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM baskets a JOIN baskets b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2
    )
    SELECT ps.src, ps.dst, ps.support,
           CAST(ps.support * nb.n * 10000
                // (ia.n_baskets * ib.n_baskets) AS BIGINT)
               AS lift_bp
    FROM pair_support ps
    CROSS JOIN nb
    JOIN item_count ia ON ps.src = ia.p
    JOIN item_count ib ON ps.dst = ib.p
    WHERE ps.support >= 2
    """,
)
def mining_pair_lift(spark: SparkSession, sf_dir: str,
                     basket_cap: int | None = None) -> DataFrame:
    """Market-basket LIFT — the association-rule metric that
    corrects confidence for item popularity: lift(A, B) =
    P(A,B) / (P(A)·P(B)) = support·N / (n_A·n_B). Confidence
    (``mining_frequent_pairs``) flags any pair containing a
    popular item; lift > 1 flags genuinely associated pairs —
    both metrics off the SAME support/count frames, the A-priori
    level-2 pattern completed.

    Cross-engine determinism: lift in integer BASIS POINTS —
    support·N·10000 DIV (n_A·n_B), BIGINT floor division in both
    engines — never a float ratio. Headroom: support ≤ min(n_A,
    n_B) keeps support·N·10⁴ < 2⁶³ through ~10¹⁴ basket-item
    pairs; past that, the same expression in DECIMAL(38,0)
    (documented variant, the OLS discipline).

    Shape at scale: identical to ``mining_frequent_pairs`` — one
    (order, part) dedup shuffle, the order-keyed pair self-join
    with partial-agged support (``basket_cap`` for power-law
    baskets), item counts and the 1-row basket total BROADCAST
    into the scoring projection (no extra exchange for N)."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (cap_mega_baskets(
        li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct(),
        basket_cap)
        .localCheckpoint(eager=False))
    nb = baskets.agg(F.countDistinct("o").alias("n"))
    item_count = baskets.groupBy("p").agg(
        F.count("*").cast("long").alias("d"))
    pair_support = (baskets.alias("a")
                    .join(baskets.alias("b").hint("SHUFFLE_HASH"),
                          (F.col("a.o") == F.col("b.o"))
                          & (F.col("a.p") < F.col("b.p")))
                    .groupBy(F.col("a.p").alias("part_a"),
                             F.col("b.p").alias("part_b"))
                    .agg(F.count("*").alias("n_co_orders")))
    # the scoring tail is shared with the streaming item-CF hub's
    # lift reader (imported, not copied); the checkpointed basket
    # frame bounds the |items|-row degree side (r15 size gate)
    return pair_lift_from_counts(pair_support, item_count, nb,
                                 within_broadcast_budget(baskets))


@register(
    "graph_triangle_count",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), edges AS (
        SELECT DISTINCT a.p AS src, b.p AS dst
        FROM baskets a JOIN baskets b ON a.o = b.o AND a.p < b.p
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
           CAST(COUNT(DISTINCT e1.src) AS BIGINT) AS n_apex_nodes
    FROM edges e1
    JOIN edges e2 ON e1.dst = e2.src
    JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the co-purchase graph (parts joined by
    shared orders — same edge set as mining_frequent_pairs): count
    closed triples a<b<c where all three edges exist, plus the
    distinct apex (smallest-id) nodes. Each triangle is counted
    exactly once because id orientation (a<b) fixes the traversal.

    Plan: the EDGE-ITERATOR formulation — per-node successor
    adjacency lists (one edge-keyed agg), then each edge (a, b)
    joins both endpoints' lists and counts |succ(a) ∩ succ(b)|
    scan-local via array_intersect. Measured 1.9x faster at sf0.1
    than the wedge two-join (6.7 s -> 3.6 s, identical results):
    the wedge join MATERIALIZES every open path a->b->c (1.9M+ rows
    here, quadratic in degree) before closing it, while the
    intersect folds each edge's triangles without emitting wedges.
    Edges build once (localCheckpoint) and feed the adjacency agg +
    both join sides. Skew = hot-node adjacency arrays; the 100 TB
    refinement is degree orientation (edges point low-degree ->
    high-degree so every array is bounded by sqrt-ish degree — the
    classic fix), same plan with a different orientation predicate;
    id order keeps the oracle exact here where TPC-H basket sizes
    are bounded (<=7).
    """
    li = load_table(spark, sf_dir, "lineitem")
    # build once, read 3x; the closure runs on the SHARED
    # triangle-credit engine (r14): the per-edge intersect-size
    # fold is exactly the oriented triangle frame — sum(nc) is its
    # row count, the apex set is its distinct ta — so the query
    # rides `_oriented_triangles_from_half`'s broadcast-adjacency
    # plan (no sort_array: counts are order-free, the sort cost
    # +0.1 s was measured and dropped in the r14 audit; the
    # symmetric-join form measured 4.03 -> 3.16 s median in the
    # interleaved A/B)
    half = _copurchase_half(li).localCheckpoint(eager=False)
    tri = _oriented_triangles_from_half(half)
    return tri.agg(
        F.count("*").cast("long").alias("n_triangles"),
        F.countDistinct("ta").alias("n_apex_nodes"))


_BFS_ROUNDS = 3

#: shared DuckDB CTE head for the symmetrized part co-purchase
#: graph — keep in lockstep with ``_copurchase_edges`` below (the
#: pagerank/triangle oracles predate it and carry their own copies)
_EDGES_CTE = """
    WITH baskets AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), half AS (
        SELECT DISTINCT a.p AS src, b.p AS dst
        FROM baskets a JOIN baskets b ON a.o = b.o AND a.p < b.p
    ), edges AS (
        SELECT src, dst FROM half
        UNION ALL
        SELECT dst AS src, src AS dst FROM half
    )"""


def _copurchase_half(li: DataFrame) -> DataFrame:
    """ID-oriented (src < dst) part co-purchase edge list — the
    build half of ``_copurchase_edges``, exposed separately for
    consumers that never need the symmetric frame (the exact
    common-neighbors path materializes HALF the rows this way —
    the r14 audit's first win).

    Build-shape audit (r14): an array-explode alternative (per-
    order part arrays + scan-local a<b pair explode, one exchange
    fewer) WON the standalone build microbenchmark (3.06 ->
    2.56 s at sf0.1 on ``half.count()``) but LOST the in-query
    interleaved A/B on the symmetric-edge consumers (label
    propagation medians 8.2 vs 6.6 s — per-iteration interleaved
    so host drift hits both alike) and was a wash on the
    half-only consumers; reverted, details in SCALE.md r14. The
    microbenchmark-vs-in-plan reversal is the recorded lesson:
    the union/checkpoint context changes which build wins.

    r14 follow-up: the order-keyed self-join is pinned to a
    SHUFFLED HASH join (hint on one arm). Unhinted, Catalyst's
    size estimate auto-BROADCAST the distinct basket frame — an
    O(|fact|) side collected to the driver and hashed on every
    executor, exactly the frame the 100 TB story must never
    broadcast (at scale the estimate crosses the threshold and the
    plan silently degrades to sort-merge instead). The hint makes
    the scale-honest plan the measured-fastest one locally too:
    interleaved A/B on graph_triangle_count (the consumer where
    the build dominates) 3.47 -> 2.87 s median, wins every pair;
    an order-alternating rerun 3.15 -> 2.77 agreed. Per-partition
    build memory is one order-key slice of the basket frame — AQE
    sizes those partitions, the guide's endorsed shuffled-hash
    case. A no-distinct build (dedup folded into the edge
    distinct) was also measured and LOST in-query (CN 4.35 ->
    5.13, LPA 3.97 -> 4.34) — the baskets distinct stays."""
    baskets = (li.select(F.col("l_orderkey").alias("o"),
                         F.col("l_partkey").alias("p")).distinct())
    return (baskets.alias("a")
            .join(baskets.alias("b").hint("SHUFFLE_HASH"),
                  (F.col("a.o") == F.col("b.o"))
                  & (F.col("a.p") < F.col("b.p")))
            .select(F.col("a.p").alias("src"),
                    F.col("b.p").alias("dst"))
            .distinct())


def _copurchase_edges(li: DataFrame) -> DataFrame:
    """Symmetrized part co-purchase edge list (src, dst), lazily
    localCheckpointed: the build (scan + order self-join + two
    distincts) materializes once and feeds every round/consumer."""
    half = _copurchase_half(li)
    return (half.union(half.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
            .localCheckpoint(eager=False))


def _bfs_oracle() -> str:
    head = _EDGES_CTE + """
    , seeds AS (
        SELECT DISTINCT e.src AS node
        FROM edges e JOIN part ON p_partkey = e.src
        WHERE p_size = 1
    ), v0 AS (
        SELECT node, 0 AS dist FROM seeds
    ), f0 AS (
        SELECT node FROM seeds
    )"""
    rounds = []
    for k in range(1, _BFS_ROUNDS + 1):
        rounds.append(f"""
    , c{k} AS (
        SELECT DISTINCT e.dst AS node
        FROM edges e JOIN f{k - 1} f ON e.src = f.node
    ), f{k} AS (
        SELECT c.node FROM c{k} c
        WHERE NOT EXISTS (SELECT 1 FROM v{k - 1} v WHERE v.node = c.node)
    ), v{k} AS (
        SELECT node, dist FROM v{k - 1}
        UNION ALL
        SELECT node, {k} AS dist FROM f{k}
    )""")
    tail = f"""
    SELECT node AS part, CAST(dist AS INTEGER) AS dist
    FROM v{_BFS_ROUNDS}
    """
    return head + "".join(rounds) + tail


@register("graph_bfs_levels", oracle=_bfs_oracle())
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS: shortest hop distance (<= 3) from the seed
    set (size-1 parts) over the symmetric co-purchase graph — the
    "distance to a curated seed" primitive behind seed-expansion
    labeling (quality propagation from vetted documents, spam-ring
    radius, feature-store neighborhood signals).

    Plan: the DELTA-FRONTIER formulation — each round joins only
    the nodes DISCOVERED LAST ROUND against the edge list, then
    anti-joins the visited set to keep first (= shortest) arrivals:
    per-round work is O(edges touched by the frontier), not
    O(visited x edges) as the naive union+min-groupBy re-fold
    would be — on a 100 TB graph the frontier collapses after a
    few rounds while visited keeps growing, which is exactly when
    re-folding the full visited set per round becomes the
    bottleneck. Rounds are fixed (3) so the oracle unrolls the
    identical iterations as CTEs; distances are pure integers —
    no float discipline needed anywhere. Edges build once
    (localCheckpoint) and feed all rounds; each round is one
    frontier⋈edges shuffle + one anti-join against visited
    (broadcast while the visited set is small; at billion-node
    visited sets the anti-join becomes a shuffle join on node id —
    same plan, one more exchange). Unreached nodes are absent from
    the output (no sentinel row), matching the streaming/iterative
    contract of connected_components (operators/graph.py).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    edges = _copurchase_edges(li)
    # frontier and visited are ≤|V|-row state — BROADCAST both into
    # their joins (r14: unhinted, the checkpointed frames carry no
    # size estimate, so each round planned a sort-merge shuffle of
    # the 2|E| edge frame; interleaved A/B 6.82 -> 4.70 s median at
    # sf0.1). r15 scale-safety: the hints are SIZE-GATED on one
    # count of the checkpointed edge frame (|visited| ≤ |V| ≤ |E|
    # on this symmetric graph) — at billion-node visited sets the
    # gate drops them and the same plan runs as shuffle joins, one
    # more exchange per round, instead of a forced broadcast.
    small = within_broadcast_budget(edges)
    seeds = (edges.select("src").distinct()
             .join(state_broadcast(
                 part.filter(F.col("p_size") == 1)
                 .select(F.col("p_partkey").alias("src")), small),
                   "src")
             .select(F.col("src").alias("node")))
    visited = seeds.withColumn("dist", F.lit(0))
    frontier = seeds
    for k in range(1, _BFS_ROUNDS + 1):
        cand = (edges.join(state_broadcast(frontier, small),
                           edges.src == frontier.node)
                .select(F.col("dst").alias("node")).distinct())
        # `new` is consumed TWICE (union into visited + next round's
        # frontier) and closes over the whole previous round — cut
        # lineage HERE, so round k+1 reads a materialized frontier
        # instead of re-executing rounds 1..k (the quadratic-rounds
        # trap); `visited` then unions only checkpointed frames and
        # needs no checkpoint of its own
        new = (cand.join(state_broadcast(visited.select("node"), small),
                         "node", "left_anti")
               .withColumn("dist", F.lit(k))
               .localCheckpoint(eager=False))
        visited = visited.union(new)
        frontier = new.select("node")
    return visited.select(F.col("node").alias("part"),
                          F.col("dist").cast("int").alias("dist"))


_HB_ROUNDS = 2                 # ball radius
_HB_SAMPLE_MOD = 41            # exact instrument on ~2.4% of nodes


def _hb_oracle() -> str:
    from galaxy_spark.operators.sketch import (HLL_M as _HLL_M,
                                               HLL_WBITS as _HLL_WBITS,
                                               HLL_2P50 as _HLL_2P50)
    wmask = 1 << _HLL_WBITS
    head = _EDGES_CTE + f"""
    , nodes AS (
        SELECT DISTINCT src AS node FROM edges
    ), h AS (
        SELECT node,
               CAST(('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 12))
                    AS BIGINT) AS hv
        FROM nodes
    ), r0 AS (
        SELECT node, hv // {wmask} AS bucket,
               CASE WHEN strpos(lpad(bin(hv % {wmask}),
                                     {_HLL_WBITS}, '0'), '1') = 0
                    THEN {_HLL_WBITS + 1}
                    ELSE strpos(lpad(bin(hv % {wmask}),
                                     {_HLL_WBITS}, '0'), '1')
               END AS register
        FROM h
    )"""
    rounds = [f"""
    , p1 AS (
        SELECT e.dst AS node, r.bucket, r.register
        FROM edges e JOIN r0 r ON e.src = r.node
    ), r1 AS (
        SELECT node, bucket, MAX(register) AS register
        FROM (SELECT * FROM r0 UNION ALL SELECT * FROM p1)
        GROUP BY 1, 2
    ), samp AS (
        SELECT node FROM nodes WHERE node % {_HB_SAMPLE_MOD} = 0
    ), p2 AS (
        SELECT e.dst AS node, r.bucket, r.register
        FROM edges e JOIN samp t ON e.dst = t.node
                     JOIN r1 r ON e.src = r.node
    ), r2 AS (
        SELECT node, bucket, MAX(register) AS register
        FROM (SELECT r1.* FROM r1 JOIN samp s ON r1.node = s.node
              UNION ALL SELECT * FROM p2)
        GROUP BY 1, 2
    )"""]
    tail = f"""
    , agg AS (
        SELECT r.node, CAST(COUNT(*) AS BIGINT) AS occupied,
               CAST(SUM(CAST(POW(2, 50 - register) AS BIGINT))
                    AS BIGINT) AS t_occ
        FROM r{_HB_ROUNDS} r JOIN samp s ON r.node = s.node
        GROUP BY 1
    ), ball AS (
        SELECT s.node, s.node AS w FROM samp s
        UNION
        SELECT s.node, e.dst AS w
        FROM samp s JOIN edges e ON e.src = s.node
        UNION
        SELECT s.node, e2.dst AS w
        FROM samp s JOIN edges e1 ON e1.src = s.node
                    JOIN edges e2 ON e2.src = e1.dst
    ), exact AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS exact_ball2
        FROM ball GROUP BY 1
    ), t AS (
        SELECT a.node, a.occupied,
               CAST(a.t_occ + ({_HLL_M} - a.occupied) * {_HLL_2P50}
                    AS BIGINT) AS harmonic_num,
               x.exact_ball2
        FROM agg a JOIN exact x ON a.node = x.node
    ), f AS (
        SELECT node, occupied, harmonic_num,
               ROUND((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                     * 1125899906842624.0 / harmonic_num, 6) AS est,
               exact_ball2,
               CASE WHEN exact_ball2 >= {(_HLL_M * 5) // 2}
                    THEN 'raw' ELSE 'small' END AS regime
        FROM t
    )
    SELECT node AS part, occupied, harmonic_num, est, exact_ball2,
           regime,
           (regime = 'small'
            OR ABS(est - exact_ball2) <= 0.195 * exact_ball2) AS ok
    FROM f
    """
    return head + "".join(rounds) + tail


@register("graph_hyperball_ball2", oracle=_hb_oracle())
def graph_hyperball_ball2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperBall (Boldi & Vigna 2013): per-NODE HyperLogLog
    registers propagated along edges, estimating ball-2 size
    (|nodes within <= 2 hops|) without materializing neighborhoods
    — the published algorithm behind billion-node neighborhood-
    function / centrality runs, where exact per-node ball counts
    are Theta(sum deg^2) and infeasible. Certified against the
    exact ball-2 count on a deterministic ~2.4% node sample
    (node % 41 = 0): raw-regime nodes (exact >= 2.5m = 640) must
    land within 3 standard errors (19.5%); smaller balls are
    marked 'small' — the raw estimator is biased there and the
    linear-counting branch needs ln(), which is not cross-engine-
    stable (the agg_hll_cardinality_bound limit, same rationale).

    The register algebra IS agg_hll_cardinality_bound's (shared
    hll_bucket_rho helper; the oracle repeats its proven md5-slice
    / lpad-bin / strpos / integer-harmonic arithmetic), lifted from
    one global sketch to a (node, bucket) keyed frame — per-node
    state is <= 256 rows, and a round is one edges ⋈ registers
    join + a (node, bucket) max-agg: the MAX monoid partial-
    aggregates map-side, so the propagation join's output collapses
    to occupied-bucket rows per node before the exchange. Round 1
    runs over the FULL graph (|E| join rows — r0 is one row per
    node); round 2 — whose unrestricted cost is |E| x occupied,
    the true HyperBall iteration cost — is computed only where the
    certification reads it, by semi-joining the edge list to the
    sampled targets first (r2(s) depends only on r1 over N(s));
    the all-nodes run is the identical plan with that semi-join
    dropped. Rounds are unrolled identically in the oracle. The
    exact instrument likewise only expands the SAMPLED nodes'
    2-hop wedges (samp ⋈ edges ⋈ edges) — on a 100 TB graph that
    sample is how you'd validate the sketch without paying the
    quadratic cost the sketch exists to avoid.
    """
    from galaxy_spark.operators.sketch import (HLL_M as _HLL_M,
                                               HLL_2P50 as _HLL_2P50,
                                               hll_bucket_rho)
    li = load_table(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li)
    # r15 scale-safety: every broadcast below (the sample set, the
    # into-sample edge slice, the sample's 1/2-hop frontiers) is
    # bounded by the edge count, so one count of the checkpointed
    # edge frame gates them all; past the budget they degrade to
    # shuffle joins on node id — the hints' documented fallback.
    small = within_broadcast_budget(edges)
    nodes = edges.select("src").distinct().select(F.col("src").alias("node"))
    samp = (nodes.filter(F.col("node") % _HB_SAMPLE_MOD == 0)
            .localCheckpoint(eager=False))
    bucket, rho = hll_bucket_rho(F.col("node"))
    r0 = nodes.select("node", bucket, rho).select(
        "node", "bucket", F.col("rho").alias("register"))
    # round 1: full propagation — r1(v) for EVERY node. r0(src) is
    # a PURE EXPRESSION of the src id (md5 bucket/rho), so the
    # propagated registers are computed SCAN-LOCALLY on the edge
    # list instead of joining r0 back in (r13: the join-shuffle
    # form re-partitioned |E| rows on src for values the row
    # already determines; measured 2.9 -> 1.9 s for the r1 stage
    # at sf0.1, and one exchange fewer in the plan). Later rounds
    # genuinely need the join — r1 is accumulated state, not a
    # function of the id.
    b_src, rho_src = hll_bucket_rho(F.col("src"))
    p1 = (edges.select(F.col("dst").alias("node"), b_src, rho_src)
          .select("node", "bucket", F.col("rho").alias("register")))
    r1 = (r0.union(p1)
          .groupBy("node", "bucket")
          .agg(F.max("register").alias("register"))
          .localCheckpoint(eager=False))
    # round 2 restricted to the certified sample: r2(s) only needs
    # r1 over N(s), so filter the edge list to dst ∈ samp BEFORE
    # joining registers — |E_into_S| x occupied rows instead of
    # |E| x occupied (measured 22 s -> ~3 s at sf0.1; the
    # unrestricted all-nodes run is this same plan with the samp
    # semi-join dropped)
    # e_in is |S| x avg-degree rows — small while the sample is, so
    # BROADCAST it into the register join instead of shuffling the
    # |V| x occupied r1 frame (2.4 s -> 1.8 s at sf0.1); at a
    # sample x degree beyond broadcast reach, drop the hint and the
    # same plan runs as a shuffle join on src
    e_in = edges.join(state_broadcast(samp, small),
                      edges.dst == samp.node, "left_semi")
    p2 = (state_broadcast(e_in, small).join(r1, e_in.src == r1.node)
          .select(F.col("dst").alias("node"), "bucket", "register"))
    r2 = (r1.join(state_broadcast(samp, small), "node").select(
              "node", "bucket", "register")
          .union(p2)
          .groupBy("node", "bucket")
          .agg(F.max("register").alias("register")))
    agg = (r2.groupBy("node")
           .agg(F.count("*").cast("long").alias("occupied"),
                F.sum(F.pow(F.lit(2.0), F.lit(50) - F.col("register"))
                      .cast("long")).cast("long").alias("t_occ")))
    h0 = samp.select("node", F.col("node").alias("w"))
    h1 = (edges.join(state_broadcast(samp, small),
                     edges.src == samp.node)
          .select("node", F.col("dst").alias("w")))
    h2 = (state_broadcast(h1.withColumnRenamed("w", "mid"), small)
          .join(edges, F.col("mid") == edges.src)
          .select("node", F.col("dst").alias("w")))
    # exact ball size = COUNT(DISTINCT w) per sampled node, planned
    # as hash aggregation: a map-side partial dedup on (node, w)
    # (ball members repeat heavily across the 2-hop wedges), an
    # exchange on (node, w), then a partial count per node and an
    # exchange on node. Every stage is keyed hash-aggregate state,
    # which spills; a per-node collect_set is one aggregation buffer
    # per node that cannot spill, up to |V| entries at a hub.
    exact = (h0.union(h1).union(h2)
             .groupBy("node")
             .agg(F.count_distinct("w").cast("long")
                  .alias("exact_ball2")))
    t = (agg.join(exact, "node")
         .select("node", "occupied",
                 (F.col("t_occ") + (F.lit(_HLL_M) - F.col("occupied"))
                  * F.lit(_HLL_2P50)).cast("long").alias("harmonic_num"),
                 "exact_ball2"))
    from galaxy_spark.operators.sketch import global_hll_estimate

    est = global_hll_estimate(F.col("harmonic_num"))
    regime = F.when(F.col("exact_ball2") >= (_HLL_M * 5) // 2,
                    F.lit("raw")).otherwise(F.lit("small"))
    return (t.select(F.col("node").alias("part"), "occupied",
                     "harmonic_num", est.alias("est"), "exact_ball2",
                     regime.alias("regime"))
            .withColumn("ok", (F.col("regime") == "small")
                        | (F.abs(F.col("est") - F.col("exact_ball2"))
                           <= F.lit(0.195) * F.col("exact_ball2"))))


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peeling: s_i = nodes of s_{i-1} whose degree WITHIN
    s_{i-1} is >= k. Each level is referenced twice (both join
    sides), so every CTE is MATERIALIZED — DuckDB's default
    inlining re-evaluates a twice-referenced CTE per reference,
    which goes exponential over 20 levels (measured: it exhausted
    file handles re-opening the scan before it exhausted time).
    ``rounds`` must be >= the true peel depth; the Spark side
    converges exactly and a short oracle budget would surface as a
    value mismatch (the connected_components budget argument)."""
    head = """
    WITH baskets AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), half AS (
        SELECT DISTINCT a.p AS src, b.p AS dst
        FROM baskets a JOIN baskets b ON a.o = b.o AND a.p < b.p
    ), edges AS MATERIALIZED (
        SELECT src, dst FROM half
        UNION ALL
        SELECT dst AS src, src AS dst FROM half
    ), s0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges)"""
    for i in range(1, rounds + 1):
        head += f""", s{i} AS MATERIALIZED (
        SELECT e.src AS node FROM edges e
        JOIN s{i - 1} a ON a.node = e.src
        JOIN s{i - 1} b ON b.node = e.dst
        GROUP BY e.src HAVING COUNT(*) >= {k})"""
    return head + f"""
    SELECT e.src AS node, CAST(COUNT(*) AS INTEGER) AS core_degree
    FROM edges e JOIN s{rounds} a ON a.node = e.src
                 JOIN s{rounds} b ON b.node = e.dst
    GROUP BY e.src"""


_KCORE_K = 64


@register("graph_kcore", oracle=_kcore_oracle(_KCORE_K, 20))
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the co-purchase graph (k=64): the
    maximal subgraph where every node keeps >= k neighbors INSIDE
    the subgraph — the classic density filter for mining cohesive
    part communities (and, in the LLM-pipeline reading, for
    pruning weakly-connected near-dup clusters before manual
    review). Output: surviving nodes + their within-core degree.

    Algorithm: iterative peeling — drop nodes under degree k,
    recompute degrees among survivors, repeat to fixpoint. Each
    round is ONE semi-join-shaped reduction (edges x survivors on
    both endpoints, then a partial-agg count per src): one shuffle
    per round, rounds = peel depth (2-3 on this graph; the
    convergence count is a driver-side int, never row data). The
    eager localCheckpoint per round is the connected_components
    discipline — without it round r re-evaluates every earlier
    round twice (the survivor frame feeds BOTH join sides).

    k sits above the graph's minimum degree (~42-49 across SFs) so
    peeling genuinely iterates; the oracle unrolls 20 rounds, a
    budget the measured depth (<= 7 across SFs and k sweeps) clears
    with cushion — a regenerated-testdata graph that peels deeper
    would surface as a loud mismatch, not silence."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li)
    survivors = (edges.select(F.col("src").alias("node")).distinct()
                 .localCheckpoint(eager=True))
    n_prev = survivors.count()
    for _ in range(25):
        deg = (edges
               .join(survivors.withColumnRenamed("node", "src"),
                     "src", "left_semi")
               .join(survivors.withColumnRenamed("node", "dst"),
                     "dst", "left_semi")
               .groupBy("src")
               .agg(F.count("*").alias("deg")))
        nxt = (deg.filter(F.col("deg") >= _KCORE_K)
               .select(F.col("src").alias("node"))
               .localCheckpoint(eager=True))
        # ONE driver action per round: the previous round's count
        # is carried, not recomputed (r11 verdict #7 — the
        # checkpoint already materialized nxt, so count() is a
        # metadata read of it, and survivors.count() repeated the
        # same read a second time per round)
        n_next = nxt.count()
        survivors = nxt
        if n_next == n_prev or n_next == 0:
            break
        n_prev = n_next
    else:
        raise RuntimeError(
            "k-core peeling did not converge in 25 rounds; the "
            "oracle's unrolled budget (20) would also be short — "
            "raise both together")
    return (edges
            .join(survivors.withColumnRenamed("node", "src"),
                  "src", "left_semi")
            .join(survivors.withColumnRenamed("node", "dst"),
                  "dst", "left_semi")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count("*").cast("integer").alias("core_degree")))


_SSSP_ROUNDS = 4


def _sssp_oracle(rounds: int) -> str:
    """Unrolled hop-bounded Bellman-Ford: d_k(v) = min cost over
    paths of <= k edges — each level is referenced twice (carry +
    relax), so every CTE is MATERIALIZED (the k-core lesson:
    DuckDB's default inlining re-evaluates per reference)."""
    head = """
    WITH baskets AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), halfw AS MATERIALIZED (
        SELECT a.p AS src, b.p AS dst, COUNT(*) AS cnt
        FROM baskets a JOIN baskets b ON a.o = b.o AND a.p < b.p
        GROUP BY 1, 2
    ), edges AS MATERIALIZED (
        SELECT src, dst, CAST(6 - LEAST(cnt, 5) AS BIGINT) AS w
        FROM halfw
        UNION ALL
        SELECT dst AS src, src AS dst,
               CAST(6 - LEAST(cnt, 5) AS BIGINT) AS w
        FROM halfw
    ), d0 AS MATERIALIZED (
        SELECT DISTINCT e.src AS node, CAST(0 AS BIGINT) AS cost
        FROM edges e JOIN part ON p_partkey = e.src
        WHERE p_size = 1
    )"""
    for k in range(1, rounds + 1):
        head += f""", d{k} AS MATERIALIZED (
        SELECT node, MIN(cost) AS cost FROM (
            SELECT node, cost FROM d{k - 1}
            UNION ALL
            SELECT e.dst AS node, d.cost + e.w AS cost
            FROM edges e JOIN d{k - 1} d ON e.src = d.node
        ) GROUP BY node)"""
    return head + f"""
    SELECT node AS part, cost FROM d{rounds}
    """


@register("graph_sssp_weighted", oracle=_sssp_oracle(_SSSP_ROUNDS))
def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted multi-source shortest paths, hop-bounded at 4 edges:
    min path cost from the seed set (size-1 parts) over co-purchase
    edges whose weight falls with co-purchase multiplicity
    (w = 6 - LEAST(cnt, 5) ∈ [1,5] — strongly co-bought parts are
    "close"). The weighted upgrade of ``graph_bfs_levels``: hop
    distance treats a once-co-bought pair like a thousand-times
    pair; path COST is the recommendation/substitution radius that
    actually ranks. Hop-bounding makes the answer well-defined on
    both engines regardless of convergence — d_k is EXACTLY "min
    cost over paths of <= k edges", a pure-integer quantity.

    Plan: frontier Bellman-Ford — each round relaxes ONLY edges
    out of nodes whose cost improved last round (a node that
    improved in round j re-relaxes at j+1 with the improved value,
    so every <= k-edge path is delivered by round k; a node never
    improved stays out of the join). Per-round work is O(frontier
    edges) + one anti-join refresh of the running map, the same
    delta-frontier discipline as BFS/CC — at 100 TB the frontier
    collapses while the settled map grows, exactly when the naive
    full-relax (all edges x all dists per round, the textbook and
    the oracle's form) stops scaling. Weights are small exact
    integers (COUNT folds + LEAST), so no float discipline is
    needed; costs fold under MIN, a true monoid, making the
    per-round partial aggregation map-side-combinable. Rounds are
    a fixed 4, matching the oracle's unroll level-for-level.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    baskets = (li.select(F.col("l_orderkey").alias("o"),
                         F.col("l_partkey").alias("p")).distinct())
    halfw = (baskets.alias("a")
             .join(baskets.alias("b").hint("SHUFFLE_HASH"),
                   (F.col("a.o") == F.col("b.o"))
                   & (F.col("a.p") < F.col("b.p")))
             .groupBy(F.col("a.p").alias("src"),
                      F.col("b.p").alias("dst"))
             .agg(F.count("*").alias("cnt")))
    w = (F.lit(6) - F.least(F.col("cnt"), F.lit(5))).cast("long")
    edges = (halfw.select("src", "dst", w.alias("w"))
             .union(halfw.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst"),
                                 w.alias("w")))
             .localCheckpoint(eager=False))
    # frontier / dist / improved are ≤|V|-row state — BROADCAST
    # them into the relax and refresh joins (r14: unhinted, the
    # checkpointed frames have no size estimate, so every round
    # planned sort-merge shuffles of the 2|E| weighted-edge frame;
    # interleaved A/B 4.98 -> 4.40 s median at sf0.1). r15
    # scale-safety: the hints are size-gated on one count of the
    # checkpointed edge frame (|dist| ≤ |V| ≤ |E| here) — at
    # billion-node settled maps the gate drops them and the same
    # plan runs as shuffle joins, one more exchange per join.
    small = within_broadcast_budget(edges)
    seeds = (edges.select("src").distinct()
             .join(state_broadcast(
                 part.filter(F.col("p_size") == 1)
                 .select(F.col("p_partkey").alias("src")), small),
                   "src")
             .select(F.col("src").alias("node"),
                     F.lit(0).cast("long").alias("cost")))
    dist = seeds.localCheckpoint(eager=False)
    frontier = dist
    for k in range(1, _SSSP_ROUNDS + 1):
        cand = (edges
                .join(state_broadcast(frontier.select(
                    F.col("node").alias("src"),
                    F.col("cost").alias("fcost")), small), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.min(F.col("fcost") + F.col("w"))
                     .alias("cost")))
        improved = (cand
                    .join(state_broadcast(
                        dist.withColumnRenamed("cost", "old"), small),
                          "node", "left_outer")
                    .filter(F.col("old").isNull()
                            | (F.col("cost") < F.col("old")))
                    .select("node", "cost"))
        # both `improved` and the refreshed map are re-consumed next
        # round — cut lineage on each (the BFS quadratic-rounds
        # trap; dist is REWRITTEN here, not appended, so it needs
        # its own). The LAST round stays unmaterialized so the
        # output plan exposes the relax/refresh shape over
        # checkpointed parents for the plan pin
        # (tests/test_plans.py); the cost is that `improved` is
        # planned twice (anti-join probe + union branch —
        # ReuseExchange dedups the shuffle, the post-exchange
        # filter/project runs twice), acceptable ONLY because the
        # round-4 frontier has collapsed to near-empty by then
        if k < _SSSP_ROUNDS:
            improved = improved.localCheckpoint(eager=False)
            dist = (dist.join(state_broadcast(improved, small),
                              "node", "left_anti")
                    .union(improved)
                    .localCheckpoint(eager=False))
        else:
            dist = (dist.join(state_broadcast(improved, small),
                              "node", "left_anti")
                    .union(improved))
        frontier = improved
    return dist.select(F.col("node").alias("part"), "cost")


@register(
    "similarity_item_cf_topk",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ), pairs AS (
        SELECT a.p AS part_a, b.p AS part_b,
               CAST(COUNT(*) AS BIGINT) AS n_co_orders
        FROM baskets a JOIN baskets b
          ON a.o = b.o AND a.p <> b.p
        GROUP BY 1, 2
    ), deg AS (
        SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM baskets GROUP BY 1
    ), scored AS (
        SELECT part_a, part_b, n_co_orders,
               CAST(n_co_orders * n_co_orders * 10000
                    // (da.d * db.d) AS BIGINT) AS cos2_bp
        FROM pairs
        JOIN deg da ON part_a = da.p
        JOIN deg db ON part_b = db.p
    )
    SELECT part_a, part_b, n_co_orders, cos2_bp,
           CAST(rnk AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (
              PARTITION BY part_a
              ORDER BY cos2_bp DESC, part_b) AS rnk
          FROM scored) t
    WHERE rnk <= 3
    """,
)
def similarity_item_cf_topk(spark: SparkSession, sf_dir: str,
                            basket_cap: int | None = None
                            ) -> DataFrame:
    """Item-item collaborative filtering: for every part, the top-3
    most-similar parts by co-occurrence cosine over order baskets —
    sim(a,b) = co(a,b) / sqrt(|a| |b|) — the classic
    "customers who bought X also bought" neighborhood model, and the
    recommendation-side reading of the co-purchase graph the
    PageRank/k-core queries mine structurally.

    Cross-engine determinism: the cosine is ranked through its
    SQUARE in integer basis points — cos2_bp = floor(co^2 * 10^4 /
    (|a|·|b|)) via BIGINT floor-div on both engines — because
    sqrt() is a libm call whose last bit differs across engines and
    a last-bit flip at a rank boundary flips the emitted row set.
    Squaring is monotone on non-negatives, so the ranking is the
    cosine ranking exactly; ties break on part_b.

    Shape at scale: basket self-join blocked on the order key (never
    all-pairs across parts — a part pair meets only inside an
    order), pair counts partial-aggregate onto (a, b), degrees onto
    |parts| rows broadcast back, and the top-3 runs as row_number
    over the pair frame — Spark plans a WindowGroupLimit partial
    top-k below the exchange, so the full ranked set never
    shuffles. Skew note: a basket of k parts emits k(k-1) pairs;
    TPC-H orders are bounded (<= 7 lines), and for power-law
    baskets ``basket_cap`` applies the standard fix — a
    deterministic hash-order sample to k_max items per basket
    BEFORE the self-join (``cap_mega_baskets``; default OFF to
    keep the oracle exact)."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = (cap_mega_baskets(
        li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("p")).distinct(),
        basket_cap)
        .localCheckpoint(eager=False))
    pairs = (baskets.alias("a")
             .join(baskets.alias("b").hint("SHUFFLE_HASH"),
                   (F.col("a.o") == F.col("b.o"))
                   & (F.col("a.p") != F.col("b.p")))
             .groupBy(F.col("a.p").alias("part_a"),
                      F.col("b.p").alias("part_b"))
             .agg(F.count("*").cast("long").alias("n_co_orders")))
    deg = baskets.groupBy(F.col("p")).agg(
        F.count("*").cast("long").alias("d"))
    # the checkpointed basket frame bounds the |items|-row degree
    # side (r15 size gate)
    return cf_score_topk(pairs, deg, within_broadcast_budget(baskets))


def cf_score_topk(pairs: DataFrame, deg: DataFrame,
                  small: bool | None = None) -> DataFrame:
    """The item-CF scoring tail over any (part_a, part_b,
    n_co_orders) + (p, d) degree frame — shared with the streaming
    co-occurrence hub's reader (state_store), imported not copied,
    so the integer-basis-point cosine and the top-3 rank can never
    drift between tiers. ``small`` size-gates the |items|-row
    degree broadcasts (r15): callers with a cheaper bound pass it;
    ``None`` counts ``deg`` itself (in the streaming reader that is
    a parquet-state scan with real statistics)."""
    if small is None:
        small = within_broadcast_budget(deg)
    scored = (pairs
              .join(state_broadcast(deg.withColumnRenamed("p", "part_a")
                                    .withColumnRenamed("d", "da"), small),
                    "part_a")
              .join(state_broadcast(deg.withColumnRenamed("p", "part_b")
                                    .withColumnRenamed("d", "db"), small),
                    "part_b")
              .select("part_a", "part_b", "n_co_orders",
                      F.expr("CAST(n_co_orders * n_co_orders * 10000"
                             " DIV (da * db) AS BIGINT)")
                      .alias("cos2_bp")))
    w = Window.partitionBy("part_a").orderBy(
        F.col("cos2_bp").desc(), F.col("part_b"))
    return (scored.withColumn("rank",
                              F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= 3)
            .select("part_a", "part_b", "n_co_orders", "cos2_bp",
                    "rank"))


def frequent_pairs_from_counts(cooc: DataFrame, deg: DataFrame,
                               small: bool | None = None) -> DataFrame:
    """The frequent-pairs tail (support >= 2 + confidence) over
    any ordered co-occurrence + degree frame — the
    ``mining_frequent_pairs`` output shape, shared with the
    streaming hub's second reader. ``small`` size-gates the degree
    broadcast (r15; ``None`` counts ``deg``)."""
    if small is None:
        small = within_broadcast_budget(deg)
    return (cooc.filter((F.col("part_a") < F.col("part_b"))
                        & (F.col("n_co_orders") >= 2))
            .select(F.col("part_a").alias("src"),
                    F.col("part_b").alias("dst"),
                    F.col("n_co_orders").alias("support"))
            .join(state_broadcast(deg.withColumnRenamed("p", "src")
                                  .withColumnRenamed("d", "n_baskets"),
                                  small),
                  "src")
            .select("src", "dst", "support",
                    F.round(F.col("support") * F.lit(1.0)
                            / F.col("n_baskets"), 4)
                    .alias("confidence")))


def pair_lift_from_counts(cooc: DataFrame, deg: DataFrame,
                          nb: DataFrame,
                          small: bool | None = None) -> DataFrame:
    """The pair-lift tail (support >= 2 + integer-basis-point lift)
    over ordered co-occurrence + degree frames and a 1-row basket
    total — the ``mining_pair_lift`` output shape, shared with the
    streaming hub's third reader. ``small`` size-gates the degree
    broadcasts (r15; ``None`` counts ``deg``); the 1-row ``nb``
    total always broadcasts."""
    if small is None:
        small = within_broadcast_budget(deg)
    ia = deg.select(F.col("p").alias("src"),
                    F.col("d").alias("na"))
    ib = deg.select(F.col("p").alias("dst"),
                    F.col("d").alias("nb_"))
    return (cooc.filter((F.col("part_a") < F.col("part_b"))
                        & (F.col("n_co_orders") >= 2))
            .select(F.col("part_a").alias("src"),
                    F.col("part_b").alias("dst"),
                    F.col("n_co_orders").cast("long")
                    .alias("support"))
            .join(state_broadcast(ia, small), "src")
            .join(state_broadcast(ib, small), "dst")
            .crossJoin(F.broadcast(nb))
            .select("src", "dst", "support",
                    F.expr("CAST(support * n * 10000 DIV "
                           "(na * nb_) AS BIGINT)")
                    .alias("lift_bp")))


_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    """Unrolled synchronous label propagation: every level is
    referenced by the next round's count CTE, so each is
    MATERIALIZED (the k-core lesson: DuckDB's default inlining of
    multiply-referenced CTEs re-evaluates per reference)."""
    head = _EDGES_CTE + """
    , l0 AS MATERIALIZED (
        SELECT DISTINCT src AS node, src AS label FROM edges
    )"""
    rounds = []
    for k in range(1, _LPA_ROUNDS + 1):
        rounds.append(f"""
    , c{k} AS MATERIALIZED (
        SELECT e.dst AS node, l.label,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM edges e JOIN l{k - 1} l ON e.src = l.node
        GROUP BY 1, 2
    ), l{k} AS MATERIALIZED (
        SELECT node, label FROM (
            SELECT node, label, ROW_NUMBER() OVER (
                PARTITION BY node ORDER BY cnt DESC, label) AS rn
            FROM c{k}) t
        WHERE rn = 1
    )""")
    tail = f"""
    SELECT node AS part, CAST(label AS BIGINT) AS community,
           CAST(COUNT(*) OVER (PARTITION BY label) AS BIGINT)
               AS community_size
    FROM l{_LPA_ROUNDS}
    """
    return head + "".join(rounds) + tail


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (3
    rounds) over the part co-purchase graph: every node starts as
    its own label, and each round adopts the label held by the
    PLURALITY of its neighbors (ties -> smallest label) — the
    near-linear community algorithm recommenders and near-dup
    cluster pre-segmentation run where modularity methods don't
    scale. Completes the graph family's third axis: connectivity
    (CC/BFS/k-core), centrality (PageRank), now community
    structure.

    Determinism across engines: synchronous updates with a FIXED
    round count and a total tie order — the winner per node
    minimizes (-count, label), unique because labels are distinct
    within a node's ballot — so both engines step through identical
    label states; no float appears anywhere.

    Shape at scale: round 1 collapses to one partial-aggregated
    MIN fold over the edge list (identity labels make every ballot
    a distinct unit count — see the in-code note); each later
    round is one edges ⋈ broadcast(labels) equi-join, one
    partial-aggregated (node, label) ballot count, and one max_by
    fold onto |V| rows — two bounded exchanges per round, rounds
    fixed, the PageRank budget exactly. Label state is |V| rows,
    eagerly checkpointed per round (the CC/k-core discipline) so
    round r never re-evaluates rounds 1..r-1; the final
    community_size window runs over |V| rows partitioned by
    label."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = _copurchase_edges(li)
    # Round 1 is SCAN-LOCAL (r14, the HyperBall-r1 move): l0 is the
    # identity labeling, so every round-1 ballot is a distinct
    # (dst, src) pair with cnt = 1 — the plurality winner under the
    # (cnt, -label) order is simply MIN(src) per dst. One
    # partial-aggregated fold replaces round 1's join + two-key
    # ballot exchange. Rounds 2..k BROADCAST the |V|-row label
    # state into the edge join (unhinted, the localCheckpointed
    # frames have no size estimate and each round planned a
    # sort-merge shuffle of the 2|E| edge frame). Interleaved A/B
    # at sf0.1: 6.41 -> 4.15 s median (loaded window). At |V|
    # beyond broadcast reach drop the hint — same plan, one more
    # exchange per round.
    labels = (edges.groupBy(F.col("dst").alias("node"))
              .agg(F.min("src").alias("label"))
              .localCheckpoint(eager=True))
    # r15 size gate: |V| counted off the eagerly-checkpointed
    # round-1 labels (free — blocks already materialized); past the
    # budget the hint drops and the rounds run as shuffle joins
    small = within_broadcast_budget(labels)
    for _ in range(_LPA_ROUNDS - 1):
        ballots = (edges.join(state_broadcast(labels, small),
                              edges.src == labels.node)
                   .groupBy(F.col("dst").alias("bnode"), "label")
                   .agg(F.count("*").alias("cnt")))
        labels = (ballots.groupBy(F.col("bnode").alias("node"))
                  .agg(F.max_by(
                      "label",
                      F.struct(F.col("cnt"),
                               (-F.col("label")).alias("nl")))
                      .alias("label"))
                  .localCheckpoint(eager=True))
    w = Window.partitionBy("label")
    return labels.select(
        F.col("node").alias("part"),
        F.col("label").cast("long").alias("community"),
        F.count("*").over(w).cast("long").alias("community_size"))


@register(
    "graph_common_neighbors",
    oracle=_EDGES_CTE + """
    , deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM edges GROUP BY 1
    ), pairs AS (
        SELECT src AS a, dst AS b FROM edges WHERE src < dst
    ), cn AS (
        SELECT p.a, p.b, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM pairs p
        JOIN edges e1 ON e1.src = p.a
        JOIN edges e2 ON e2.src = p.b AND e2.dst = e1.dst
        GROUP BY 1, 2
    )
    SELECT a, b, n_common,
           CAST(n_common * 10000
                // (da.d + db.d - n_common) AS BIGINT)
               AS jaccard_bp
    FROM cn JOIN deg da ON a = da.node JOIN deg db ON b = db.node
    ORDER BY n_common DESC, jaccard_bp DESC, a, b
    LIMIT 50
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str,
                           max_degree: int | None = None
                           ) -> DataFrame:
    """Link-prediction features over the co-purchase graph: for
    each existing edge (a < b), the common-neighbor count and the
    neighbor-set Jaccard — the two classic similarity features
    behind "related items" edges and graph-completion training
    labels; top-50 strongest pairs. Completes the graph axis's
    PER-PAIR reading next to the global structural ones (triangle
    count, communities, k-core).

    Cross-engine determinism: Jaccard ranks through integer basis
    points (BIGINT floor-div — no float division in the sort key),
    and the top-50 ORDER BY ends in (a, b), a total order.

    Shape at scale (r13 verdict #1, the cost audit): an edge's
    common-neighbor count IS its per-edge TRIANGLE count, so the
    exact path enumerates triangles once over ID-ORIENTED
    successor arrays (a<b<c; only the oriented half-frame is ever
    materialized — half the symmetric rows — and arrays hold only
    higher-id neighbors, half the symmetric length) and EXPLODES
    each triangle into credits for its three edges, folded by one
    partial-aggregated (edge) count. vs r13's symmetric-adjacency
    join (full N(a), N(b) arrays shipped per pair — Σ deg² array
    elements through the shuffle) this was measured 7.8 s → 5.5 s
    at sf0.1, identical result (SCALE.md r14, with the variants
    that LOST: aggregating the base edge's own credit to cut
    explode volume re-evaluated or over-projected the join; a
    min(deg) upper-bound prune keeps 100% of pairs on TPC-H's
    near-uniform degrees). Degrees join as a broadcast-size
    |V|-row scalar side at the end; the top-50 runs as
    TakeOrderedAndProject. The 100 TB refinement is the same as
    the triangle query's note: DEGREE orientation bounds every
    array at ~sqrt(|E|) — same plan, different orientation
    predicate.

    ``max_degree`` is the hot-node lever (the BENCH_FULL_r13
    price note): adjacency arrays cap at k neighbors chosen in
    md5-hash order per node (``cap_mega_baskets`` over the edge
    list — the same deterministic-sample discipline as the basket
    cap), turning the per-edge intersect cost from O(max deg) to
    O(k) at the price of SAMPLED-neighbor features (Jaccard over
    hash-sampled neighbor sets — still deterministic, still
    comparable across nodes because every node samples the same
    way, and every feature bounded by k). The cap keeps the r13
    symmetric-array formulation: triangle-credit counting under a
    capped sample would un-bound per-edge counts (credits arrive
    from OTHER base edges' intersects), breaking the k-bound the
    knob promises. Default OFF so the oracle stays exact."""
    li = load_table(spark, sf_dir, "lineitem")
    if max_degree is not None:
        return common_neighbors_capped_from_edges(
            _copurchase_edges(li), max_degree)
    half = _copurchase_half(li).localCheckpoint(eager=False)
    return common_neighbors_from_half(half)


def common_neighbors_capped_from_edges(edges: DataFrame,
                                       max_degree: int) -> DataFrame:
    """The sampled-feature path over a SYMMETRIC edge frame — the
    cap bounds the ADJACENCY ARRAYS only; the pair universe stays
    every existing edge (r13 review: capping the edge list itself
    silently dropped most of a hot node's edges from the OUTPUT,
    which is feature-row loss, not feature sampling). Exposed
    edges-first so the streaming hub reader can pass the same knob
    over state-derived edges (``streaming_common_neighbors``)."""
    adj = (cap_mega_baskets(edges, max_degree,
                            order_col="src", item_col="dst")
           .groupBy(F.col("src").alias("node"))
           .agg(F.collect_set("dst").alias("nbrs"))
           .localCheckpoint(eager=False))   # both join sides
    pairs = edges.filter(F.col("src") < F.col("dst")) \
        .select(F.col("src").alias("a"), F.col("dst").alias("b"))
    na = adj.select(F.col("node").alias("a"),
                    F.col("nbrs").alias("nbrs_a"))
    nb = adj.select(F.col("node").alias("b"),
                    F.col("nbrs").alias("nbrs_b"))
    n_common = F.size(F.array_intersect("nbrs_a", "nbrs_b")) \
        .cast("long")
    # the capped adjacency frames are ≤|V| rows of ≤max_degree
    # arrays — broadcast both arms (r14, the engine-wide hint
    # discipline; the cap makes the broadcast bound EXPLICIT)
    return (pairs.join(F.broadcast(na), "a").join(F.broadcast(nb), "b")
            .withColumn("n_common", n_common)
            .filter(F.col("n_common") >= 1)
            .select("a", "b", "n_common",
                    F.expr("CAST(n_common * 10000 DIV "
                           "(size(nbrs_a) + size(nbrs_b) "
                           "- n_common) AS BIGINT)")
                    .alias("jaccard_bp"))
            .orderBy(F.col("n_common").desc(),
                     F.col("jaccard_bp").desc(), "a", "b")
            .limit(50))


def common_neighbors_from_half(half: DataFrame) -> DataFrame:
    """The exact common-neighbors tail over an id-oriented half
    edge frame (caller localCheckpoints it). Shared verbatim by
    ``graph_common_neighbors`` and the streaming item-CF hub's
    reader (``streaming_common_neighbors``)."""
    # one size gate per query: the half count bounds the adjacency
    # payload AND the |V|-row degree frame (|V| ≤ 2·|half|)
    small = within_broadcast_budget(half)
    tri = _oriented_triangles_from_half(half, small)
    credits = (tri.select(F.explode(F.array(
                   F.struct(F.col("ta").alias("a"),
                            F.col("tb").alias("b")),
                   F.struct(F.col("ta").alias("a"),
                            F.col("tc").alias("b")),
                   F.struct(F.col("tb").alias("a"),
                            F.col("tc").alias("b")))).alias("e"))
               .select("e.a", "e.b"))
    cn = (credits.groupBy("a", "b")
          .agg(F.count("*").cast("long").alias("n_common")))
    deg = _half_degrees(half)
    # |V|-row degree side broadcasts (r14): unhinted, the two
    # scalar joins each re-shuffled the 1.2M-row cn frame
    return (cn
            .join(state_broadcast(deg.select(F.col("node").alias("a"),
                                             F.col("d").alias("da")),
                                  small), "a")
            .join(state_broadcast(deg.select(F.col("node").alias("b"),
                                             F.col("d").alias("db")),
                                  small), "b")
            .select("a", "b", "n_common",
                    F.expr("CAST(n_common * 10000 DIV "
                           "(da + db - n_common) AS BIGINT)")
                    .alias("jaccard_bp"))
            .orderBy(F.col("n_common").desc(),
                     F.col("jaccard_bp").desc(), "a", "b")
            .limit(50))


def _oriented_triangles_from_half(half: DataFrame,
                                  small: bool | None = None) -> DataFrame:
    """Triangle frame (ta < tb < tc) over an id-oriented (src <
    dst) half edge frame — each triangle enumerated exactly once
    via its lowest edge (a, b): c ∈ succ(a) ∩ succ(b) over
    id-oriented successor arrays. Exposed half-first so streaming
    readers can run the same enumeration over edges derived from
    store state (the cooc store's n ≥ 1 pairs ARE the co-purchase
    edges).

    r14: the |V|-row adjacency frame BROADCASTS into both join
    arms — without the hints the localCheckpointed half frame has
    no size estimate, so Catalyst planned SortMergeJoins whose
    second exchange shipped every half row WITH its succ_a array
    (Σ deg array elements through the wire); AQE's runtime
    conversion still paid that map-side shuffle write. Measured in
    interleaved A/B at sf0.1 on each consumer: common-neighbors
    7.88 -> 6.18, clustering 5.27 -> 4.22, RA 5.71 -> 4.45,
    triangle 4.03 -> 3.16 s median (loaded-host window; plan diff:
    2 SMJ + 2 edge exchanges -> 2 BHJ, the edge frame never
    shuffles). r15 scale-safety: the hints are SIZE-GATED — the
    adjacency payload is exactly Σ successor-array lengths = the
    half-edge count, so one count of the caller-checkpointed half
    frame against the budget (``operators.util.bcast_max_rows``)
    decides them; past broadcast reach the same plan runs as a
    shuffle join with one more exchange instead of a forced
    broadcast (degree-orienting first —
    ``operators.graph.degree_orient`` bounds every array at
    ~sqrt(|E|) — remains the 100 TB refinement)."""
    if small is None:
        small = within_broadcast_budget(half)
    adj = (half.groupBy("src")
           .agg(F.collect_set("dst").alias("succ")))
    return (half
            .join(state_broadcast(adj.select("src",
                                             F.col("succ").alias("sa")),
                                  small),
                  "src")
            .join(state_broadcast(adj.select(F.col("src").alias("dst"),
                                             F.col("succ").alias("sb")),
                                  small),
                  "dst")
            .select(F.col("src").alias("ta"),
                    F.col("dst").alias("tb"),
                    F.explode(F.array_intersect("sa", "sb"))
                    .alias("tc")))


def clustering_from_half(half: DataFrame) -> DataFrame:
    """The clustering-coefficient tail over an id-oriented half
    edge frame (caller localCheckpoints it — it feeds four join
    sides): triangle enumeration, 1-column vertex credits, degree
    LEFT join, integer-bp projection. Shared verbatim by
    ``graph_clustering_coefficient`` and the streaming item-CF
    hub's reader (``streaming_clustering_coefficient``), so the
    twin equality is structural."""
    small = within_broadcast_budget(half)
    tri = _oriented_triangles_from_half(half, small)
    credits = tri.select(F.explode(F.array(
        F.col("ta"), F.col("tb"), F.col("tc"))).alias("node"))
    tcount = (credits.groupBy("node")
              .agg(F.count("*").cast("long").alias("n_triangles")))
    deg = _half_degrees(half)
    # the ≤|V|-row triangle-count side broadcasts into the LEFT
    # join (r14, build-right; part of the engine-wide 5.27 ->
    # 4.22 s interleaved A/B), size-gated since r15
    return (deg.filter(F.col("d") >= 2)
            .join(state_broadcast(tcount, small), "node", "left")
            .select(F.col("node").alias("part"),
                    F.col("d").cast("long").alias("degree"),
                    F.coalesce(F.col("n_triangles"), F.lit(0))
                    .cast("long").alias("n_triangles"),
                    F.expr("CAST(coalesce(n_triangles, 0) * 20000 "
                           "DIV (d * (d - 1)) AS BIGINT)")
                    .alias("clustering_bp")))


def _half_degrees(half: DataFrame) -> DataFrame:
    """Symmetric degrees (node, d) off the oriented half frame,
    lazily checkpointed for reuse across join sides."""
    ends = half.select(F.col("src").alias("node")).unionAll(
        half.select(F.col("dst").alias("node")))
    return (ends.groupBy("node").agg(F.count("*").alias("d"))
            .localCheckpoint(eager=False))


@register(
    "graph_resource_allocation",
    oracle=_EDGES_CTE + """
    , deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM edges GROUP BY 1
    ), pairs AS (
        SELECT src AS a, dst AS b FROM edges WHERE src < dst
    ), cn AS (
        SELECT p.a, p.b, e1.dst AS c
        FROM pairs p
        JOIN edges e1 ON e1.src = p.a
        JOIN edges e2 ON e2.src = p.b AND e2.dst = e1.dst
    )
    SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common,
           CAST(SUM(1000000 // dc.d) AS BIGINT) AS ra_micro
    FROM cn JOIN deg dc ON cn.c = dc.node
    GROUP BY a, b
    ORDER BY ra_micro DESC, n_common DESC, a, b
    LIMIT 50
    """,
)
def graph_resource_allocation(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Resource-allocation link-prediction index over the
    co-purchase graph: for each existing edge (a < b), RA(a,b) =
    Σ_{c ∈ N(a)∩N(b)} 1/deg(c) — the Zhou-Lü-Zhang index, the
    degree-penalized refinement of raw common-neighbor counts
    (a promiscuous shared neighbor is weak evidence; RA and its
    log-sibling Adamic-Adar consistently beat CN on link
    prediction benchmarks). Top-50 strongest pairs.

    Cross-engine determinism: the weight is INTEGER micro-units —
    1,000,000 DIV deg(c) (floor division in both engines) summed
    as BIGINT — never a float 1/d; Adamic-Adar's 1/log d is NOT
    registered precisely because log is float-only. The top-50
    ORDER BY ends in (a, b), a total order.

    Shape at scale: the triangle-credit engine shared with
    ``graph_common_neighbors`` (RA(edge) is a weighted per-edge
    triangle count): triangles enumerate once over id-oriented
    successor arrays, each explodes into three (edge, third-vertex)
    credits, ONE broadcast-size degree join keys the weight off
    the third vertex, and a partial-aggregated (edge) SUM folds —
    no wedge materialization, no symmetric adjacency shipping."""
    li = load_table(spark, sf_dir, "lineitem")
    half = _copurchase_half(li).localCheckpoint(eager=False)
    return resource_allocation_from_half(half)


def resource_allocation_from_half(half: DataFrame) -> DataFrame:
    """The RA tail over an id-oriented half edge frame (caller
    localCheckpoints it). Shared verbatim by
    ``graph_resource_allocation`` and the streaming item-CF hub's
    reader (``streaming_resource_allocation``)."""
    small = within_broadcast_budget(half)
    tri = _oriented_triangles_from_half(half, small)
    # credit each triangle's three edges, carrying the OPPOSITE
    # vertex whose degree prices the credit
    mk = lambda x, y, z: F.struct(x.alias("a"), y.alias("b"),
                                  z.alias("c"))
    credits = (tri.select(F.explode(F.array(
                   mk(F.col("ta"), F.col("tb"), F.col("tc")),
                   mk(F.col("ta"), F.col("tc"), F.col("tb")),
                   mk(F.col("tb"), F.col("tc"), F.col("ta"))))
                   .alias("e"))
               .select("e.a", "e.b", "e.c"))
    deg = _half_degrees(half)
    # |V|-row degree side broadcasts (r14): unhinted, pricing the
    # credits re-shuffled the 3·#tri credit frame on c
    return (credits
            .join(state_broadcast(deg.select(F.col("node").alias("c"),
                                             F.col("d").alias("dc")),
                                  small), "c")
            .groupBy("a", "b")
            .agg(F.count("*").cast("long").alias("n_common"),
                 F.sum(F.expr("1000000 DIV dc")).cast("long")
                 .alias("ra_micro"))
            .orderBy(F.col("ra_micro").desc(),
                     F.col("n_common").desc(), "a", "b")
            .limit(50))


@register(
    "graph_clustering_coefficient",
    oracle=_EDGES_CTE + """
    , deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree
        FROM edges GROUP BY 1
    ), tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst AND e1.dst < e2.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
        WHERE e1.src < e1.dst
    ), credit AS (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
    ), tcount AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM credit GROUP BY 1
    )
    SELECT d.node AS part, d.degree,
           COALESCE(t.n_triangles, 0) AS n_triangles,
           CAST(COALESCE(t.n_triangles, 0) * 20000
                // (d.degree * (d.degree - 1)) AS BIGINT)
               AS clustering_bp
    FROM deg d LEFT JOIN tcount t ON d.node = t.node
    WHERE d.degree >= 2
    """,
)
def graph_clustering_coefficient(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node over the co-purchase
    graph: cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for every node
    with degree ≥ 2 — Watts-Strogatz's node-level "how clique-like
    is this neighborhood" measure, the NODE-level reading of the
    triangle structure next to the global count
    (``graph_triangle_count``) and the per-EDGE link features
    (``graph_common_neighbors`` / ``graph_resource_allocation``).
    Recommenders use it to separate hub parts (high degree, low
    cc — bridges between unrelated baskets) from community parts
    (lower degree, high cc — tight co-purchase cliques).

    Cross-engine determinism: the coefficient is INTEGER basis
    points — tri(v)·20000 DIV (deg·(deg−1)), BIGINT floor division
    in both engines (the 2 in 2·tri folds into the 20000) — no
    float anywhere; full |V≥2| output, no ordering needed.

    Shape at scale: the shared ``_oriented_triangles_from_half`` engine —
    triangles enumerate ONCE over id-oriented successor arrays
    (each materialized array holds only higher-id neighbors), each
    triangle explodes into three 1-column vertex credits folded by
    a partial-aggregated per-node count (O(3·#tri) rows of one
    long each through the exchange — strictly less traffic than
    the per-edge queries' 2-col credits), and the |V|-row degree
    frame LEFT-joins the counts (triangle-free nodes keep row
    membership with cc = 0). The 100 TB refinement is the triangle
    query's: DEGREE orientation bounds every successor array at
    ~sqrt(|E|)."""
    li = load_table(spark, sf_dir, "lineitem")
    half = _copurchase_half(li).localCheckpoint(eager=False)
    return clustering_from_half(half)


@register(
    "graph_degree_assortativity",
    oracle=_EDGES_CTE + """
    , deg AS (
        SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d
        FROM edges GROUP BY 1
    ), ends AS (
        SELECT da.d AS dx, db.d AS dy
        FROM edges e
        JOIN deg da ON e.src = da.node
        JOIN deg db ON e.dst = db.node
    ), s AS (
        SELECT CAST(COUNT(*) AS HUGEINT) AS m,
               CAST(SUM(dx) AS HUGEINT) AS sx,
               CAST(SUM(dx * dx) AS HUGEINT) AS sxx,
               CAST(SUM(dx * dy) AS HUGEINT) AS sxy
        FROM ends
    )
    SELECT CAST(m AS BIGINT) AS n_edge_ends,
           ROUND((m * sxy - sx * sx) * 1.0
                 / (m * sxx - sx * sx), 6) AS assortativity
    FROM s
    """,
)
def graph_degree_assortativity(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — Newman's
    r: the Pearson correlation of the degrees at the two ends of
    every (directed) edge. One scalar that says whether hub parts
    co-purchase with hub parts (r > 0, assortative — popularity
    begets baskets of staples) or with niche parts (r < 0,
    disassortative — hubs bridge the long tail, the shape most
    recommendation graphs have), the global summary the
    clustering-coefficient query reads node-locally.

    Cross-engine determinism: the five sufficient statistics (M,
    Σdx, Σdx², Σdx·dy — Σdy/Σdy² collapse onto Σdx/Σdx² because
    the edge list is SYMMETRIC) are exact integers folded as
    DECIMAL(38,0) / HUGEINT, so both engines divide the SAME two
    exact integers; the single double division and ROUND(..., 6)
    are IEEE-identical on identical inputs — the OLS queries'
    sufficient-statistics discipline (queries/ml.py) applied to a
    graph moment.

    Shape at scale: degrees partial-aggregate off the half frame;
    the two degree joins shuffle on node id (the |V|-row side
    co-partitions with the edge ends); everything after is ONE
    4-column partial-aggregated fold to a 1-row frame — no
    window, no driver loop. At 100 TB the only care is the
    integer headroom: per-row dx·dy stays under 2⁶³ up to degree
    ~3·10⁹, and the DECIMAL(38,0) sums absorb the rest."""
    li = load_table(spark, sf_dir, "lineitem")
    half = _copurchase_half(li).localCheckpoint(eager=False)
    return assortativity_from_half(half)


def assortativity_from_half(half: DataFrame) -> DataFrame:
    """The assortativity tail over an id-oriented half edge frame
    (caller localCheckpoints it — it feeds the symmetrization and
    the degree fold). Shared verbatim by
    ``graph_degree_assortativity`` and the streaming item-CF hub's
    reader (``streaming_degree_assortativity``)."""
    edges = half.union(half.select(F.col("dst").alias("src"),
                                   F.col("src").alias("dst")))
    deg = _half_degrees(half)
    # |V|-row degree sides broadcast (r14): unhinted, each scalar
    # join re-shuffled the 2|E| edge-end frame (interleaved A/B
    # 4.92 -> 3.49 s median at sf0.1); size-gated since r15 — at
    # |V| beyond the budget the hints drop themselves and the same
    # plan runs with two more exchanges
    small = within_broadcast_budget(half)
    ends = (edges
            .join(state_broadcast(deg.select(F.col("node").alias("src"),
                                             F.col("d").alias("dx")),
                                  small), "src")
            .join(state_broadcast(deg.select(F.col("node").alias("dst"),
                                             F.col("d").alias("dy")),
                                  small), "dst")
            .select("dx", "dy"))
    dec = "decimal(38,0)"
    s = ends.agg(
        F.count("*").cast(dec).alias("m"),
        F.sum("dx").cast(dec).alias("sx"),
        F.sum(F.col("dx") * F.col("dx")).cast(dec).alias("sxx"),
        F.sum(F.col("dx") * F.col("dy")).cast(dec).alias("sxy"))
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    return s.select(
        F.col("m").cast("long").alias("n_edge_ends"),
        F.round(num.cast("double") / den.cast("double"), 6)
        .alias("assortativity"))
