"""operators.graph: connected components on synthetic graphs —
shapes the oracle fixture can't isolate (paths, isolated vertices,
multi-cluster merges, the non-convergence guard)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from galaxy_spark.operators import graph


def _cc(spark, n_vertices, edges, **kw):
    v = spark.createDataFrame([(i,) for i in range(n_vertices)], "id long")
    e = spark.createDataFrame(edges or [(None, None)], "src long, dst long")
    if not edges:
        e = e.filter(F.col("src").isNotNull())
    out = graph.connected_components(v, e, **kw)
    return {r["id"]: r["component"] for r in out.collect()}


def test_two_cliques_and_isolated(spark):
    # {0,1,2} clique, {3,4} pair, 5 isolated
    comp = _cc(spark, 6, [(0, 1), (1, 2), (0, 2), (3, 4)])
    assert comp == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 5}


def test_path_graph_converges_to_min(spark):
    # a 6-long path needs multiple propagation rounds
    comp = _cc(spark, 6, [(i, i + 1) for i in range(5)])
    assert set(comp.values()) == {0}


def test_edge_orientation_irrelevant(spark):
    a = _cc(spark, 4, [(2, 0), (1, 2)])
    b = _cc(spark, 4, [(0, 2), (2, 1)])
    assert a == b == {0: 0, 1: 0, 2: 0, 3: 3}


def test_no_edges_all_singletons(spark):
    comp = _cc(spark, 4, [])
    assert comp == {i: i for i in range(4)}


def test_max_iter_guard_raises(spark):
    with pytest.raises(RuntimeError, match="did not converge"):
        _cc(spark, 8, [(i, i + 1) for i in range(7)], max_iter=2)


def test_components_with_size(spark):
    v = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    e = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    out = graph.components_with_size(
        v, e, id_col="doc_id", src_col="id_a", dst_col="id_b")
    rows = {r["id"]: (r["component"], r["component_size"])
            for r in out.collect()}
    assert rows == {0: (0, 3), 1: (0, 3), 2: (0, 3), 3: (3, 1), 4: (4, 1)}


def test_fixed_rounds_matches_iterative(spark):
    v = spark.createDataFrame([(i,) for i in range(8)], "id long")
    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (6, 7)]
    e = spark.createDataFrame(edges, "src long, dst long")
    it = {r["id"]: r["component"]
          for r in graph.connected_components(v, e).collect()}
    fx = {r["id"]: r["component"]
          for r in graph.connected_components_fixed(v, e, rounds=6).collect()}
    assert it == fx


def test_fixed_rounds_insufficient_budget_is_wrong(spark):
    # documents the contract: rounds < diameter -> stale labels
    v = spark.createDataFrame([(i,) for i in range(7)], "id long")
    e = spark.createDataFrame([(i, i + 1) for i in range(6)],
                              "src long, dst long")
    fx = {r["id"]: r["component"]
          for r in graph.connected_components_fixed(v, e, rounds=2).collect()}
    assert fx[6] != 0  # label 0 cannot travel 6 hops in 2 rounds


def _union_find_reference(n, edges):
    """Driver-side union-find — the independent reference."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonicalize: component id = min member id
    comp = {}
    for v in range(n):
        comp.setdefault(find(v), []).append(v)
    return {v: min(members) for members in comp.values() for v in members}


def test_random_graphs_match_union_find(spark):
    """Deterministic pseudo-random graph battery vs union-find —
    shapes (cycles, stars, bridges) the fixture corpus can't
    produce. Uses the convergence-checked variant (unknown
    diameter)."""
    import random
    rng = random.Random(42)
    for trial in range(4):
        n = rng.randint(5, 24)
        m = rng.randint(0, n * 2)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]
        expect = _union_find_reference(n, edges)
        got = _cc(spark, n, edges or [], max_iter=n + 1)
        assert got == expect, f"trial {trial}: n={n} edges={edges}"


def test_fixed_round_budget_covers_real_dedup_graph_at_driver_scale(spark):
    """ADVICE r4: dedup_cluster_canonical's fixed rounds=6 budget is
    only correct while 6 >= the real pair graph's eccentricity, and a
    testdata regeneration could silently break that. Pin it at the
    driver's certification scale: the lazy fixed-round labels must
    equal the convergence-checked fixpoint on the ACTUAL MinHash pair
    graph (not a synthetic one). A failure here means the budget —
    not the operator — needs raising."""
    from pyspark.sql import functions as F

    from galaxy_spark.operators import dedup
    from galaxy_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.01", "documents")
    pairs = dedup.minhash_near_dups(docs, n=5, n_hashes=32, bands=8,
                                    threshold=0.5) \
        .select("id_a", "id_b").localCheckpoint(eager=True)
    v = docs.select(F.col("doc_id").alias("id"))
    fixed = {(r.id, r.component) for r in
             graph.connected_components_fixed(
                 v, pairs, src_col="id_a", dst_col="id_b",
                 rounds=6).collect()}
    converged = {(r.id, r.component) for r in
                 graph.connected_components(
                     v, pairs, src_col="id_a", dst_col="id_b").collect()}
    assert fixed == converged


def test_bpe_merge_steps_match_python_reference(spark):
    """The 3 iterated BPE merges must equal a plain-Python
    implementation of Sennrich-style training (pair count over the
    freq-weighted vocab, argmax with (count desc, pair asc)
    tie-break, greedy left-to-right merge) run on the same corpus."""
    from collections import Counter

    from galaxy_spark.registry import all_queries
    from galaxy_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    texts = [r.text for r in
             load_table(spark, sf, "documents").select("text").collect()]
    wf = Counter(w for t in texts for w in t.strip().split())
    syms = {w: tuple(w) for w in wf}

    expected = []
    for step in range(1, 4):
        pc = Counter()
        for w, f in wf.items():
            s = syms[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += f
        (a, b), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((step, f"{a} {b}", cnt))
        merged = a + b
        for w in syms:
            s, out, i = syms[w], [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                    out.append(merged)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            syms[w] = tuple(out)

    got = [(r.step, r.merged_pair, r.pair_count) for r in
           all_queries()["text_bpe_merge_steps"](spark, sf)
           .orderBy("step").collect()]
    assert got == expected


def test_bpe_merge_fold_is_boundary_anchored_greedy(spark):
    """The merge fold's two failure modes under a plain substring
    replace, pinned: (a) a run of identical symbols merges greedily
    left-to-right ('a a a a' -> 'aa aa', not 'aa a a'); (b) a
    multi-char symbol ENDING in `a` is never eaten by the pair
    (a, b) ('ca b' stays 'ca b')."""
    from pyspark.sql import functions as F

    from galaxy_spark.queries.indexing import _BPE_SEP, _bpe_merge_fold

    cases = [
        (["a", "a", "a", "a"], ("a", "a"), ["aa", "aa"]),
        (["a", "a", "a"], ("a", "a"), ["aa", "a"]),
        (["ca", "b"], ("a", "b"), ["ca", "b"]),
        (["c", "a", "b", "a", "b"], ("a", "b"), ["c", "ab", "ab"]),
        (["ab", "b"], ("a", "b"), ["ab", "b"]),
        (["a"], ("a", "a"), ["a"]),
    ]
    df = spark.createDataFrame(
        [(i, _BPE_SEP.join(toks)) for i, (toks, _, _) in
         enumerate(cases)], "i int, sym string")
    for i, (_, (a, b), want) in enumerate(cases):
        got = (df.filter(F.col("i") == i)
               .select(F.aggregate(F.split("sym", _BPE_SEP),
                                   F.lit(""), _bpe_merge_fold(a, b))
                       .alias("out"))
               .collect()[0]["out"])
        assert got == _BPE_SEP.join(want), (i, got, want)


def test_hll_registers_merge_across_strata(spark):
    """The mergeability the HLL query's 100 TB story rests on,
    demonstrated in data: registers computed independently PER
    STRATUM (event_type — any partitioning works) then cell-wise
    MAX-merged equal the registers computed globally. This is the
    property that lets one sketch per day/table/partition union
    into a corpus cardinality without re-reading anything."""
    from pyspark.sql import functions as F

    from galaxy_spark.queries.indexing import hll_registers
    from galaxy_spark.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    direct = {(r.bucket, r.register)
              for r in hll_registers(ev, F.col("event_id")).collect()}

    types = [r[0] for r in ev.select("event_type").distinct().collect()]
    assert len(types) >= 3
    merged: dict = {}
    for t in types:
        part = hll_registers(ev.filter(F.col("event_type") == t),
                             F.col("event_id"))
        for r in part.collect():
            merged[r.bucket] = max(merged.get(r.bucket, 0), r.register)
    assert {(b, m) for b, m in merged.items()} == direct
    """Triangle closure vs a brute-force set-intersection count on
    the same co-purchase edges."""
    from galaxy_spark.registry import all_queries
    from galaxy_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem") \
        .select("l_orderkey", "l_partkey").distinct().collect()
    baskets = {}
    for r in li:
        baskets.setdefault(r.l_orderkey, set()).add(r.l_partkey)
    edges = set()
    for parts in baskets.values():
        ps = sorted(parts)
        for i in range(len(ps)):
            for j in range(i + 1, len(ps)):
                edges.add((ps[i], ps[j]))
    nbrs = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
    n_tri, apexes = 0, set()
    for a, succ in nbrs.items():
        for b in succ:
            common = succ & nbrs.get(b, set())
            if common:
                n_tri += len(common)
                apexes.add(a)
    (row,) = all_queries()["graph_triangle_count"](spark, sf).collect()
    assert (row.n_triangles, row.n_apex_nodes) == (n_tri, len(apexes))
    assert n_tri > 0


def test_hyperball_bound_and_exact_instrument(spark):
    """graph_hyperball_ball2: (a) the certification column must be
    TRUE on every sampled node, and (b) the query's exact-instrument
    column (the sampled 2-hop wedge expansion) must equal an
    independent driver-side Python ball-2 count — validating the
    instrument the 3σ bound is measured against."""
    from collections import defaultdict

    from galaxy_spark.registry import all_queries
    from galaxy_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = all_queries()["graph_hyperball_ball2"](spark, sf).collect()
    assert rows and all(r.ok for r in rows)

    li = (load_table(spark, sf, "lineitem")
          .select("l_orderkey", "l_partkey").distinct().collect())
    by_order = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    adj = defaultdict(set)
    for parts in by_order.values():
        for a in parts:
            for b in parts:
                if a != b:
                    adj[a].add(b)
    for r in rows:
        ball = {r.part} | adj[r.part]
        for mid in adj[r.part]:
            ball |= adj[mid]
        assert len(ball) == r.exact_ball2, r.part


def test_mega_basket_cap_bounds_fanout_and_preserves_small(spark):
    """r12 verdict #2: the deterministic mega-basket cap. On a
    synthetic power-law basket set (40 bounded baskets + one
    300-item mega-basket) the cap must (a) bound per-basket pair
    fan-out to k_max(k_max-1), (b) be a strict deterministic
    subset (hash order, not rand()), (c) leave every basket under
    the threshold UNTOUCHED — so small-basket pair supports are
    exactly preserved and the registered queries' oracles hold
    whenever no basket exceeds the cap."""
    from galaxy_spark.queries.graphs import cap_mega_baskets

    rows = [(o, 10 * o + j) for o in range(40) for j in range(5)]
    rows += [(999, 1000 + j) for j in range(300)]   # the straggler
    baskets = spark.createDataFrame(rows, "o long, p long")

    k_max = 20
    capped = cap_mega_baskets(baskets, k_max)
    sizes = {r.o: r.n for r in capped.groupBy("o")
             .agg(F.count("*").alias("n")).collect()}
    assert sizes[999] == k_max                       # capped
    assert all(sizes[o] == 5 for o in range(40))     # untouched
    # pair fan-out of the would-be self-join, per basket
    fanout = sum(n * (n - 1) for n in sizes.values())
    assert fanout == 40 * 5 * 4 + k_max * (k_max - 1)
    assert fanout < 300 * 299                        # vs uncapped

    # deterministic: a second evaluation picks the same sample,
    # and it IS a subset of the original rows
    again = {(r.o, r.p) for r in cap_mega_baskets(
        baskets, k_max).collect()}
    got = {(r.o, r.p) for r in capped.collect()}
    assert got == again
    assert got < {(r.o, r.p) for r in baskets.collect()}

    # no-op contract: cap >= max basket width changes nothing
    assert {(r.o, r.p) for r in cap_mega_baskets(
        baskets, 300).collect()} == \
        {(r.o, r.p) for r in baskets.collect()}
    with pytest.raises(ValueError, match="cap"):
        cap_mega_baskets(baskets, 1)


def test_basket_cap_noop_on_bounded_tpch_queries(spark):
    """With every TPC-H basket under the cap, the capped queries
    return EXACTLY the uncapped (oracle-certified) rows — the
    default-off knob can be turned on at a safe threshold without
    moving a single answer."""
    from galaxy_spark.queries.graphs import (mining_frequent_pairs,
                                             mining_pair_lift,
                                             similarity_item_cf_topk)

    sf = "/root/testdata/sf0.001"
    for fn in (mining_frequent_pairs, mining_pair_lift,
               similarity_item_cf_topk):
        want = sorted(map(tuple, fn(spark, sf).collect()))
        got = sorted(map(tuple, fn(spark, sf,
                                   basket_cap=16).collect()))
        assert got == want and len(want) > 50, fn.__name__


def test_common_neighbors_degree_cap(spark):
    """max_degree (r13, the BENCH_FULL price note's lever): a cap
    above the true max degree changes nothing; a tight cap bounds
    every feature by k(-1) and stays deterministic across
    evaluations (hash-order neighbor sample, not rand())."""
    from galaxy_spark.queries.graphs import graph_common_neighbors

    sf = "/root/testdata/sf0.001"
    want = sorted(map(tuple, graph_common_neighbors(
        spark, sf).collect()))
    same = sorted(map(tuple, graph_common_neighbors(
        spark, sf, max_degree=100000).collect()))
    assert same == want and len(want) == 50

    capped = graph_common_neighbors(spark, sf, max_degree=8)
    rows = capped.collect()
    assert rows and all(r.n_common <= 8 for r in rows)
    again = sorted(map(tuple, graph_common_neighbors(
        spark, sf, max_degree=8).collect()))
    assert sorted(map(tuple, rows)) == again
