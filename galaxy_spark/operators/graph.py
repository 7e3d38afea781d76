"""Distributed graph primitives for corpus curation.

The one graph problem an LLM-data pipeline cannot avoid: near-dup
PAIRS (from any dedup tier in ``operators.dedup``) must become
near-dup CLUSTERS before a canonical document can be chosen —
pairwise kill-lists over-delete (A~B, B~C kills B twice and may
kill both A and C) and under-delete (keeps one doc per PAIR, not
one per cluster).

Algorithm: Pregel-style minimum-label propagation (the GraphX /
GraphFrames connected-components strategy): every vertex starts
labeled with its own id and repeatedly takes the min of its
neighbors' labels until fixpoint. Each round is one shuffle (a
groupBy on dst) + one join; rounds needed = graph diameter. Dedup
graphs are unions of quasi-cliques (every member of a duplicate
cluster collides with most others), so the diameter is tiny (2-3)
regardless of corpus size — the O(diameter) bound that makes
min-propagation a poor fit for web-link graphs makes it the RIGHT
fit here. Lineage is cut with localCheckpoint every round so the
plan doesn't grow with iterations; the convergence check costs two
Spark jobs per round — the eager checkpoint does the cluster work,
then the changed-count re-reads the checkpointed blocks (cheap,
O(1) driver data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from galaxy_spark.operators.util import (state_broadcast,
                                         within_broadcast_budget)


def _symmetrize(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Both orientations of each edge in ONE pass: an explode of the
    two (src, dst) structs. A self-union would evaluate the edge
    subtree twice — for dedup graphs that subtree is the whole pair
    generation pipeline, the most expensive part of the job."""
    return (edges.select(F.explode(F.array(
        F.struct(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        F.struct(F.col(dst_col).alias("src"), F.col(src_col).alias("dst")),
    )).alias("e")).select("e.src", "e.dst"))


def connected_components(vertices: DataFrame, edges: DataFrame,
                         id_col: str = "id",
                         src_col: str = "src", dst_col: str = "dst",
                         max_iter: int = 25) -> DataFrame:
    """Label every vertex with the smallest vertex id reachable from
    it (its component id). Returns ``(id, component)``.

    ``edges`` is an undirected pair list (each pair once, either
    orientation); isolated vertices keep ``component = id``.
    Raises if fixpoint isn't reached in ``max_iter`` rounds — for
    dedup-cluster graphs that means the edge set isn't the
    quasi-clique shape this operator is documented for.

    The per-round broadcast hints on the edge list and the
    improvement frame (see the in-loop note) are size-derived from
    one count of the already-materialized edge checkpoint against
    the budget in ``operators.util.bcast_max_rows`` — edge lists
    past broadcast reach degrade to the shuffle-join plan.
    """
    sym = _symmetrize(edges, src_col, dst_col)
    labels = vertices.select(F.col(id_col).alias("id"),
                             F.col(id_col).alias("component"))
    # Materialize the (small relative to corpus) edge list once; it
    # is re-joined every round.
    sym = sym.localCheckpoint(eager=True)
    broadcast_state = within_broadcast_budget(sym)
    # Broadcast discipline (r14): the DUP-PAIR edge list and the
    # per-round improvement frame are both far smaller than the
    # corpus-sized label state (dedup graphs: |E| ~ Σ cluster²,
    # nbr_min ≤ touched nodes), and the checkpointed frames carry
    # no size estimate, so unhinted every round planned sort-merge
    # shuffles of the |corpus| label frame. With the hints a round
    # is ONE exchange (the dst-keyed min fold). At an edge list
    # beyond broadcast reach the size gate drops the hints — same
    # plan, shuffle joins, the docstring's scale note.
    for _ in range(max_iter):
        nbr_min = (state_broadcast(sym, broadcast_state)
                   .join(labels, sym["src"] == labels["id"])
                   .groupBy("dst")
                   .agg(F.min("component").alias("nbr_component")))
        stepped = (labels.join(state_broadcast(nbr_min, broadcast_state),
                               labels["id"] == nbr_min["dst"],
                               "left")
                   .select(labels["id"],
                           F.col("component"),
                           F.least(F.col("component"),
                                   F.coalesce(F.col("nbr_component"),
                                              F.col("component")))
                           .alias("new_component")))
        # two jobs per round: the eager checkpoint materializes the
        # round (all the cluster work); the count below re-reads the
        # checkpointed blocks, so only the first job is expensive
        stepped = stepped.localCheckpoint(eager=True)
        changed = stepped.filter(
            F.col("new_component") < F.col("component")).count()
        labels = stepped.select("id",
                                F.col("new_component").alias("component"))
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "edge set is not dedup-cluster shaped (use a log-round "
        "star-contraction algorithm for high-diameter graphs)")


def connected_components_fixed(vertices: DataFrame, edges: DataFrame,
                               id_col: str = "id",
                               src_col: str = "src", dst_col: str = "dst",
                               rounds: int = 6) -> DataFrame:
    """``connected_components`` as ONE lazy plan: a fixed number of
    min-propagation rounds with no driver actions, no checkpoints.

    Correct iff ``rounds >= graph diameter``. For dedup graphs
    (quasi-cliques, diameter 2-3) a small fixed budget is safe and
    removes every driver-side action: nothing blocks on per-round
    convergence counts, so ALL cluster work happens when the caller
    finally acts on the result. Use the convergence-checked variant
    when the diameter is unknown; an insufficient budget here shows
    up as a wrong component id — which is exactly what the
    transitive-closure SQL oracle checks at certification scale.

    Each round is cut with a LAZY localCheckpoint (materialized on
    first use, then reused). Without it the recursion is
    structurally exponential: labels(k) references labels(k-1)
    twice (join probe + min source), so a fully-lazy tree evaluates
    labels(0) 2^rounds times — measured 23 s vs ~1 s at sf0.1 for
    rounds=6 — and the edge subtree (the expensive pair generation
    upstream) would re-run every round as the streamed side of a
    broadcast join, which has no exchange for Spark to reuse.

    The per-round hints are size-gated exactly as in the checked
    variant, at the cost of ONE driver action at build time (a
    count that materializes the lazy edge checkpoint — work the
    first consumer action pays anyway).
    """
    sym = _symmetrize(edges, src_col, dst_col).localCheckpoint(eager=False)
    broadcast_state = within_broadcast_budget(sym)
    labels = vertices.select(F.col(id_col).alias("id"),
                             F.col(id_col).alias("component"))
    # same broadcast discipline as the checked variant above: the
    # dup-pair edges and per-round min frame broadcast (size-gated
    # since r15), the corpus-sized label state never shuffles
    # through a join while the gate holds
    for _ in range(rounds):
        nbr_min = (state_broadcast(sym, broadcast_state)
                   .join(labels, sym["src"] == labels["id"])
                   .groupBy("dst")
                   .agg(F.min("component").alias("nbr_component")))
        labels = (labels.join(state_broadcast(nbr_min, broadcast_state),
                              labels["id"] == nbr_min["dst"],
                              "left")
                  .select(labels["id"],
                          F.least(F.col("component"),
                                  F.coalesce(F.col("nbr_component"),
                                             F.col("component")))
                          .alias("component"))
                  .localCheckpoint(eager=False))
    return labels


def components_with_size(vertices: DataFrame, edges: DataFrame,
                         id_col: str = "id",
                         src_col: str = "src",
                         dst_col: str = "dst",
                         rounds: int | None = 6) -> DataFrame:
    """``(id, component, component_size)`` — one shuffle on the
    component id past the propagation fixpoint. ``rounds=None``
    selects the convergence-checked iterative variant; an integer
    selects the lazy fixed-round plan (default: dedup-graph safe).
    The propagation's hints are size-gated; the size join back onto
    the labels broadcasts the ≤|components|-row count frame
    unconditionally (output-contract bounded)."""
    if rounds is None:
        comp = connected_components(vertices, edges, id_col,
                                    src_col, dst_col)
    else:
        comp = connected_components_fixed(vertices, edges, id_col,
                                          src_col, dst_col, rounds)
    sizes = comp.groupBy("component").agg(
        F.count("*").alias("component_size"))
    # the ≤|components|-row size frame broadcasts back onto the
    # label frame (r14: unhinted this was the one SortMergeJoin
    # left in the cluster queries' output plans)
    return comp.join(F.broadcast(sizes), "component").select(
        "id", "component", "component_size")


def degree_orient(edges: DataFrame, src_col: str = "src",
                  dst_col: str = "dst") -> DataFrame:
    """Re-orient an UNDIRECTED edge set so every edge points from
    its lower-degree endpoint to its higher-degree one (ties broken
    by id) — the classic skew fix for triangle counting
    (Suri & Vassilvitskii 2011 / Chiba-Nishizeki ordering): under
    degree orientation every node's out-adjacency is bounded by
    O(sqrt(|E|)), so the hot-node adjacency arrays the id-oriented
    edge-iterator builds (bounded only by max degree) cannot form.
    Input: one row per undirected edge in either id order; output:
    one row per edge, (src, dst) with src the lower-(degree, id)
    endpoint. Total triangle counts are orientation-invariant
    (each triangle has exactly one cyclic ordering under ANY
    acyclic orientation), which
    tests/test_graph.py::test_degree_oriented_triangles pins
    against the id-oriented query.

    Plan: one degree aggregation over the symmetrized ends (one
    shuffle), then a (|V| rows) degree join onto each endpoint, and
    a scan-local CASE to flip. The degree join broadcasts only when
    |V| fits the budget in ``operators.util.bcast_max_rows`` (the
    degree frame is localCheckpointed and counted once, like
    ``connected_components``' edge list); past it, e.g. at
    billion-node |V|, it is a shuffle join. Cost is O(|E|) with no
    new skew: degrees partial-aggregate map-side.
    """
    # _symmetrize always emits columns named src/dst — group on
    # those, not the caller's names (non-default src_col/dst_col
    # used to raise UNRESOLVED_COLUMN here)
    sym = _symmetrize(edges, src_col, dst_col)
    deg = (sym.groupBy(F.col("src").alias("node"))
           .agg(F.count("*").alias("deg")))
    deg = deg.localCheckpoint(eager=False)
    broadcast_state = within_broadcast_budget(deg)
    da = deg.select(F.col("node").alias("__a"), F.col("deg").alias("da"))
    db = deg.select(F.col("node").alias("__b"), F.col("deg").alias("db"))
    lower_first = ((F.col("da") < F.col("db"))
                   | ((F.col("da") == F.col("db"))
                      & (F.col(src_col) < F.col(dst_col))))
    return (edges
            .join(state_broadcast(da, broadcast_state),
                  edges[src_col] == F.col("__a"))
            .join(state_broadcast(db, broadcast_state),
                  edges[dst_col] == F.col("__b"))
            .select(F.when(lower_first, F.col(src_col))
                    .otherwise(F.col(dst_col)).alias(src_col),
                    F.when(lower_first, F.col(dst_col))
                    .otherwise(F.col(src_col)).alias(dst_col)))


def triangle_count_oriented(edges: DataFrame) -> DataFrame:
    """Edge-iterator triangle count over a DEGREE-ORIENTED edge set
    (see degree_orient): same successor-adjacency intersect plan as
    the registered graph_triangle_count query, but with adjacency
    arrays bounded by O(sqrt(|E|)) instead of max degree — the
    100x-scale variant the query's docstring names. Returns a
    single row (n_triangles,). The closure condition intersects
    succ(a) with succ(b) for each oriented edge (a, b); because the
    orientation is acyclic, every triangle is counted exactly once
    from its unique source-of-two-edges node. The degree join is
    size-gated in ``degree_orient``."""
    oriented = degree_orient(edges).localCheckpoint(eager=False)
    adj = oriented.groupBy("src").agg(
        F.sort_array(F.collect_set("dst")).alias("succ"))
    per_edge = (oriented
                .join(adj.select(F.col("src"), F.col("succ")
                                 .alias("succ_a")), "src")
                .join(adj.select(F.col("src").alias("dst"),
                                 F.col("succ").alias("succ_b")), "dst")
                .select(F.size(F.array_intersect("succ_a", "succ_b"))
                        .alias("nc")))
    return per_edge.agg(F.sum("nc").cast("long").alias("n_triangles"))
