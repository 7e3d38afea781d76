"""Plan-shape regression tests: lock in the physical-plan
properties the engine's 100 TB story depends on (pushdown reaches
the scan, pruning trims the scan schema, dim joins broadcast,
shuffle counts stay minimal). A failure here means the plan
regressed even if results are still correct."""

from __future__ import annotations

import pytest

from galaxy_spark.plans import (
    broadcast_join_count,
    codegen_span_count,
    exchange_count,
    plan_report,
    pushed_filters,
    read_schema_columns,
)
from galaxy_spark.registry import all_queries
from tests.conftest import SF_SMOKE

QUERIES = all_queries()


@pytest.fixture(scope="module")
def q(spark):
    def run(name):
        return QUERIES[name](spark, SF_SMOKE)
    return run


def test_q1_filter_pushdown_and_pruning(q):
    df = q("q1_pricing_summary")
    assert any("l_shipdate" in f for f in pushed_filters(df)), \
        "shipdate predicate must reach the parquet scan"
    (scan,) = read_schema_columns(df)
    assert "l_comment" not in scan and "l_partkey" not in scan, \
        "scan must prune to the 7 referenced columns"
    assert scan <= {"l_returnflag", "l_linestatus", "l_quantity",
                    "l_extendedprice", "l_discount", "l_tax", "l_shipdate"}


def test_q1_single_shuffle(q):
    # partial agg map-side, one exchange on the 4-value group key
    assert exchange_count(q("q1_pricing_summary")) == 1


def test_q3_broadcasts_customer(q):
    df = q("q3_shipping_priority")
    assert broadcast_join_count(df) >= 1
    assert any("l_shipdate" in f for f in pushed_filters(df))
    assert any("o_orderdate" in f for f in pushed_filters(df))


def test_star_join_broadcasts_all_dims(q):
    df = q("join_revenue_by_nation")
    # customer, nation, region all broadcast; only orders⋈lineitem
    # (orderkey) plus the final groupBy shuffle remain
    assert broadcast_join_count(df) >= 3
    assert exchange_count(df) <= 3


def test_scalar_query_is_scan_only(q):
    df = q("scalar_functions_showcase")
    assert exchange_count(df) == 0, "pure projection must not shuffle"
    assert codegen_span_count(df) >= 1


def test_topk_single_shuffle(q):
    # one hash exchange for the window partition key; dim join broadcast
    df = q("window_topk_customers_per_nation")
    assert broadcast_join_count(df) >= 1
    assert exchange_count(df) == 1


def test_minhash_signature_single_shuffle(spark, q):
    # spread() hash-partitions by id; groupBy(id) must reuse that
    # exchange instead of adding a second one
    from galaxy_spark.operators.dedup import minhash_signatures_agg
    from galaxy_spark.tables import load_table
    docs = load_table(spark, SF_SMOKE, "documents")
    sig = minhash_signatures_agg(docs, n=5, n_hashes=32)
    assert exchange_count(sig) == 1


def test_plan_report_keys(q):
    rep = plan_report(q("q1_pricing_summary"))
    assert set(rep) == {"pushed_filters", "read_schema",
                       "broadcast_joins", "exchanges", "codegen_spans"}


def test_asof_join_single_shuffle(spark):
    """The as-of union-scan shape: exactly one exchange (the keyed
    window), never a join explosion."""
    from galaxy_spark.plans.audit import physical_plan

    df = QUERIES["join_asof_latest_order"](spark, SF_SMOKE)
    assert exchange_count(df) <= 2  # events+orders union -> window key
    assert "CartesianProduct" not in physical_plan(df)


def test_range_join_is_equi_join(spark):
    """Banded range join must plan as an equi-join on (key, cell) —
    no BroadcastNestedLoop / cartesian fallback."""
    from galaxy_spark.plans.audit import physical_plan

    plan = physical_plan(
        QUERIES["join_range_followup_events"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stratified_sample_no_shuffle(spark):
    from galaxy_spark.operators.util import stratified_sample
    from galaxy_spark.tables import load_table
    docs = load_table(spark, SF_SMOKE, "documents")
    s = stratified_sample(docs, "lang", {"en": 0.5, "de": 0.1}, seed=7)
    assert exchange_count(s) == 0
    # deterministic under fixed seed + layout
    a = sorted(r.doc_id for r in s.collect())
    b = sorted(r.doc_id for r in
               stratified_sample(docs, "lang", {"en": 0.5, "de": 0.1},
                                 seed=7).collect())
    assert a == b and len(a) > 0
    # only requested strata survive
    assert set(r.lang for r in s.select("lang").distinct().collect()) \
        <= {"en", "de"}


def test_lsh_near_dup_all_band_joins_are_equi(spark):
    """Every per-table band join in the LSH near-dup tier must plan
    as a hash equi-join on the signature column — a nested-loop or
    cartesian fallback would turn the linear-cost blocking tier back
    into all-pairs."""
    from galaxy_spark.plans.audit import physical_plan

    plan = physical_plan(
        QUERIES["dedup_embedding_cosine_lsh"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hash_sample_layout_independent_no_shuffle(spark):
    """The md5-threshold sampler must (a) add no exchange and
    (b) pick the SAME rows regardless of partition layout — the
    property sampleBy lacks and the reason this tier carries a full
    value oracle."""
    from galaxy_spark.operators.util import stratified_hash_sample
    from galaxy_spark.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    fr = {"en": 0.5, "de": 0.25}
    s1 = stratified_hash_sample(docs, "lang", "doc_id", fr, seed=42)
    assert exchange_count(s1) == 0
    a = sorted(r.doc_id for r in s1.collect())
    b = sorted(r.doc_id for r in
               stratified_hash_sample(docs.repartition(13), "lang",
                                      "doc_id", fr, seed=42).collect())
    assert a == b and len(a) > 0


def test_vocabulary_topk_limits_before_ranking(q):
    """The global ranking window must see only the 20 LIMIT
    survivors: TakeOrderedAndProject (parallel partial top-k) runs
    below the Window. Ranking the full vocabulary first would pull
    every distinct token through one reducer — the single-reducer
    trap at 100 TB."""
    from galaxy_spark.plans.audit import physical_plan
    plan = physical_plan(q("text_vocabulary_topk"))
    assert "TakeOrderedAndProject" in plan
    # formatted plans print operators top-down: the Window row must
    # come ABOVE (consume the output of) the TakeOrderedAndProject
    win, take = plan.index(" Window"), plan.index("TakeOrderedAndProject")
    assert win < take, "window must rank the limited rows, not rank-then-limit"
    # shuffles: spread() fan-out + the token groupBy — nothing else
    assert exchange_count(q("text_vocabulary_topk")) <= 2


# -- r4 corpus-curation plan shapes --

def test_gopher_rules_scan_only(q):
    # pure column algebra: zero exchanges
    assert exchange_count(q("quality_gopher_rules")) == 0


def test_histogram_single_shuffle(q):
    assert exchange_count(q("tokens_histogram_pow2")) == 1


def test_packing_reuses_window_shuffle(q):
    # the (lang) window exchange also satisfies the (lang, bin_id)
    # groupBy's clustering — Catalyst must NOT add a second shuffle
    assert exchange_count(q("pack_sequences_greedy")) == 1


def test_mixture_resample_no_document_shuffle(q):
    df = q("mixture_resample_balanced")
    from galaxy_spark.plans import physical_plan
    # document data joins the per-source thresholds by broadcast;
    # the only exchanges belong to the tiny counts/min aggs
    assert broadcast_join_count(df) >= 2
    assert "sortmergejoin" not in physical_plan(df).lower()
    assert exchange_count(df) <= 3


def test_unigram_logprob_broadcast_lm(q):
    df = q("quality_unigram_logprob")
    from galaxy_spark.plans import physical_plan
    assert "sortmergejoin" not in physical_plan(df).lower()
    assert exchange_count(df) <= 4


def test_global_shuffle_avoids_single_reducer(q):
    """with_global_row_index's range exchange is localCheckpointed
    (pinned partition bounds — the counts job and the output job
    must agree on boundary rows), which cuts the lineage the plan
    tree would show. The visible post-checkpoint contract is what
    this pins: the window runs per __pid partition (never a
    SinglePartition global sort) over the materialized scan."""
    df = q("shuffle_global_deterministic")
    from galaxy_spark.plans import physical_plan
    p = physical_plan(df).lower()
    assert "singlepartition" not in p, \
        "global row_number single-reducer trap"
    assert "window" in p
    assert exchange_count(df) <= 2


def test_kmeans_broadcasts_centroids(q):
    df = q("embeddings_kmeans_clusters")
    from galaxy_spark.plans import physical_plan
    p = physical_plan(df).lower()
    # final round: GEMM candidate prune (mapInPandas) + ONE k-row
    # centroid broadcast join + argmin window — earlier rounds are
    # collapsed into collected centroid literals, and there is no
    # n×k crossJoin anywhere (r5 scale fix)
    assert broadcast_join_count(df) >= 1
    assert "sortmergejoin" not in p
    assert "cartesianproduct" not in p
    assert "broadcastnestedloopjoin" not in p


def test_curation_pipeline_two_passes(q):
    """Data-dependent thresholds force one counting pass before the
    filtering pass — but composition must not replicate subtrees
    beyond that (the naive groupBy-join-back + scalar-crossJoin
    draft hit 24 scans of the same parquet)."""
    from galaxy_spark.plans import physical_plan
    df = q("pipeline_curation_end2end")
    p = physical_plan(df).lower()
    # formatted plans print each scan twice (tree node + details)
    assert p.count("scan parquet") <= 4, "documents must be scanned <= 2x"
    assert "sortmergejoin" not in p


def test_ivf_corpus_assignment_no_crossjoin(q):
    """r5 scale fix: IVF's CORPUS assignment runs GEMM-prune +
    broadcast equi-join — the only nested-loop join left in the plan
    is the query-side probe crossJoin (small by contract: a k-row
    centroid broadcast against the query batch)."""
    df = q("similarity_ivf_topk")
    from galaxy_spark.plans import physical_plan
    p = physical_plan(df).lower()
    # formatted plans print each node twice (tree row + details):
    # exactly ONE nested-loop node = 2 substring hits
    assert p.count("broadcastnestedloopjoin") <= 2, \
        "corpus-side assignment must not cross-join"
    assert "cartesianproduct" not in p


# --- r5 additions: hygiene surface + CDC fold + TPC-H trio --------


def test_pii_redact_is_scan_only(q):
    # regexp count+replace is pure scan-local column algebra
    assert exchange_count(q("pii_redact_documents")) == 0


def test_decontamination_broadcasts_eval_grams(q):
    """Eval-gram set broadcasts (never shuffles corpus grams against
    it); the only exchanges are the eval distinct and the one-row-
    per-doc hit-count agg."""
    df = q("decontaminate_ngram_overlap")
    assert broadcast_join_count(df) >= 1
    assert exchange_count(df) <= 2


def test_ngram_spans_single_shuffle(q):
    # one gram-keyed agg with map-side partial; nothing else moves
    assert exchange_count(q("dedup_ngram_spans")) == 1


def test_temperature_mixture_no_corpus_shuffle(q):
    """Documents must reach the output through broadcast joins only
    — the exchanges in the plan belong to the per-language count agg
    (tiny), never to document rows."""
    df = q("mixture_temperature_sampling")
    assert broadcast_join_count(df) >= 1
    from galaxy_spark.plans import physical_plan
    p = physical_plan(df).lower()
    assert "sortmergejoin" not in p, "doc join must broadcast"


def test_cdc_apply_snapshot_single_shuffle_no_sort(q):
    """Latest-wins fold is ONE key-grouped max_by aggregation: no
    window sort over per-key history, one exchange total."""
    df = q("cdc_apply_snapshot")
    assert exchange_count(df) == 1
    from galaxy_spark.plans import physical_plan
    assert "window" not in physical_plan(df).lower()


def test_q19_or_predicates_push_to_both_scans(q):
    """The disjunction must not defeat pushdown: the quantity-range
    OR reaches the lineitem scan, the equi-join conjunct survives
    (no nested loop), and part broadcasts."""
    df = q("q19_disjunctive_revenue")
    assert any("l_quantity" in f for f in pushed_filters(df))
    assert broadcast_join_count(df) >= 1
    from galaxy_spark.plans import physical_plan
    p = physical_plan(df).lower()
    assert "cartesianproduct" not in p
    assert "broadcastnestedloopjoin" not in p


def test_q22_anti_join_and_pushdown(q):
    """NOT EXISTS folds to an anti join; the nation-set IN predicate
    reaches the customer scan on both the threshold and main
    branches."""
    df = q("q22_idle_customer_balance")
    assert any("c_nationkey" in f for f in pushed_filters(df))
    from galaxy_spark.plans import physical_plan
    p = physical_plan(df).lower()
    assert "anti" in p, "NOT EXISTS must plan as an anti join"


def test_funnel_pushes_stage_predicates_no_cartesian(q):
    """Each funnel stage's event_type filter reaches its scan; the
    user-keyed chain never degrades to a nested loop, and the
    exchange count stays bounded (stage aggs + final assembly)."""
    df = q("events_funnel_conversion")
    assert any("view" in f for f in pushed_filters(df))
    assert any("purchase" in f for f in pushed_filters(df))
    from galaxy_spark.plans import physical_plan
    p = physical_plan(df).lower()
    assert "cartesianproduct" not in p
    assert "broadcastnestedloopjoin" not in p
    assert exchange_count(df) <= 6


def test_retention_distinct_runs_before_join(q):
    """(user, week) DISTINCT must partial-aggregate BEFORE the
    cohort join — three exchanges total (first-seen agg, distinct,
    final count), never a distinct over post-join rows."""
    df = q("events_retention_cohorts")
    assert exchange_count(df) <= 3


def test_profile_single_corpus_scan(q):
    """The profiler computes every per-column measure in ONE pass
    (the oracle re-scans per column; Spark must not)."""
    df = q("profile_columns_documents")
    from galaxy_spark.plans import physical_plan
    p = physical_plan(df).lower()
    # formatted plans print each scan twice (tree node + details)
    assert p.count("scan parquet") <= 2, "documents must be scanned once"
    assert exchange_count(df) <= 2


def test_quantization_is_scan_only(q):
    # per-vector scale + rounding is pure scan-local column algebra
    assert exchange_count(q("embeddings_quantize_int8")) == 0


def test_q5_broadcasts_dims_two_fact_shuffles(q):
    df = q("q5_local_supplier_volume")
    # supplier/nation/region broadcast; shuffles: lineitem⋈orders,
    # ⋈customer, final groupBy (+AQE reads) — no extra exchanges
    assert broadcast_join_count(df) >= 3
    assert any("o_orderdate" in f for f in pushed_filters(df)), \
        "order-date window must reach the orders scan"


def test_q2_argmin_single_shuffle_no_sort(q):
    from galaxy_spark.plans import physical_plan
    df = q("q2_min_cost_regional_supplier")
    # min(struct) partial-aggregates map-side: one exchange on
    # p_partkey, and NO sort anywhere (the window variant sorted
    # every group)
    assert exchange_count(df) <= 1
    assert "Window" not in physical_plan(df), \
        "argmin must aggregate, not run a window over every row"


def test_q13_left_join_keeps_zero_order_customers(q):
    # the o_orderpriority predicate must push to the ORDERS scan
    # (join-side), never become a post-join filter that would drop
    # customers with no orders
    df = q("q13_customer_order_distribution")
    assert any("o_orderpriority" in f for f in pushed_filters(df))


def test_bloom_filter_side_broadcasts(q):
    df = q("dedup_bloom_reference")
    # the position set is bounded by m=65536 — must broadcast;
    # the only exchange is the final doc-keyed fold (+ the
    # ref-side distinct)
    assert broadcast_join_count(df) >= 1
    assert exchange_count(df) <= 2


def test_pq_codes_single_arrow_pass_no_join(q):
    from galaxy_spark.plans import physical_plan
    df = q("similarity_pq_topk")
    import re
    plan = physical_plan(df)
    # ONE mapInPandas for code assignment; the ADC table joins as a
    # broadcast; no shuffle before the (q_id, neighbor_id) fold
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, \
        "code assignment must be one Arrow pass"
    assert broadcast_join_count(df) >= 1, "ADC lookup table must broadcast"


def test_inverted_index_two_shuffles(q):
    # distinct pair reduce + term agg; both shuffle on bounded-width
    # keys, postings capped at the sorted prefix
    df = q("text_inverted_index")
    assert exchange_count(df) <= 2


def test_q15_q20_single_fact_scan(q):
    # both queries consume an aggregate TWICE (max-on-view / the
    # per-part rollup); without the lineage cut Spark planned a
    # second full lineitem scan (no ReusedExchange across the AQE
    # boundary). The checkpoint holds bounded-cardinality
    # aggregates, so the fact table must appear in the plan once.
    from galaxy_spark.plans import physical_plan
    for name in ("q15_top_revenue_supplier", "q20_excess_quantity_suppliers"):
        tree = physical_plan(q(name)).split("\n\n")[0]
        assert tree.count("Scan parquet") <= 2, \
            f"{name} re-scans the fact table"


def test_tpch_star_joins_single_fact_exchange(q):
    # q7-q10: all dims broadcast at test scale, so the only
    # exchanges are the fact-side shuffles + the final groupBy;
    # a regression that de-broadcasts a dim or duplicates the fact
    # scan shows up as extra exchanges
    for name in ("q7_volume_shipping_pairs", "q8_market_share",
                 "q9_profit_by_nation_year", "q10_returned_item_customers"):
        assert exchange_count(q(name)) <= 2, name


def test_reconcile_checksum_single_exchange(q):
    # order-insensitive sum: partial-aggregated map-side, one
    # exchange on (database, table), constant-size output
    assert exchange_count(q("cdc_reconcile_checksum")) <= 1


def test_cdc_snapshot_fold_partial_aggs_absorb_hot_keys(q):
    """Skew hardening for the changelog->snapshot fold: the
    realistic CDC skew is ONE row updated millions of times, and
    the defense is the two-stage algebraic fold — partial max_by/
    max/count BEFORE the exchange, so a hot pk reaches the reducer
    as one row per map task, never as its full history. Pin that
    the partial-mode functions sit below the (single) exchange,
    which hash-partitions on the full fold key."""
    from galaxy_spark.plans import physical_plan

    p = physical_plan(q("cdc_apply_snapshot"))
    for fn in ("partial_max_by", "partial_max", "partial_count"):
        assert fn in p, fn
    # the partial agg node's id is strictly below the Exchange's in
    # the formatted tree (children print before parents' detail ids)
    import re

    agg_ids = [int(m.group(1)) for m in
               re.finditer(r"\((\d+)\) \w*Aggregate", p)]
    (ex_id,) = [int(m.group(1)) for m in
                re.finditer(r"\((\d+)\) Exchange", p)]
    assert min(agg_ids) < ex_id < max(agg_ids)
    assert re.search(r"\(%d\) Exchange\s*\nInput.*\n.*hashpartitioning"
                     r"\(database[^)]*table[^)]*pk" % ex_id, p), \
        "exchange must hash-partition on the full fold key"


def test_countmin_single_scan_per_side(q):
    """The CMS build must be ONE posexplode scan + one bounded
    (row, bucket) agg — not d unioned rescans of the source. Two
    aggregation exchanges total (cells, exact) + the probe join's;
    no scan multiplication."""
    df = q("agg_countmin_heavy_hitters")
    from galaxy_spark.plans import physical_plan
    p = physical_plan(df)
    # one scan per side (cells, exact); each scan prints one
    # Location detail line in the formatted plan
    assert p.count("Location: InMemoryFileIndex") <= 2, \
        "union-rescan regression (d scans instead of one posexplode)"


def test_triangle_edges_materialize_once(q):
    """Triangle closure joins the edge set three times; the edge
    build (basket self-join + distinct) must materialize once via
    localCheckpoint, not re-derive per join arm."""
    df = q("graph_triangle_count")
    from galaxy_spark.plans import physical_plan
    p = physical_plan(df)
    # the lineitem scan happens inside the checkpointed edge build;
    # the closure plan reuses the checkpointed RDD on all three arms
    assert p.count("Scan parquet") == 0
    assert p.count("Scan ExistingRDD") >= 3


def test_semantic_dedup_candidate_pass_runs_once(spark, monkeypatch):
    """dedup_semantic_clusters reads its candidate pairs in two
    re-attach joins; the pandas GEMM pass that makes them must run
    once, not once per join. A counting pass stacked on the
    candidates sees every candidate row exactly once."""
    from galaxy_spark.operators import similarity

    real = similarity.within_cluster_candidates
    seen = spark.sparkContext.accumulator(0)
    made = []

    def counted(assigned, threshold):
        cand = real(assigned, threshold)
        made.append(cand)

        def count(batches):
            for pdf in batches:
                seen.add(len(pdf))
                yield pdf
        return cand.mapInPandas(count, cand.schema)

    monkeypatch.setattr(similarity, "within_cluster_candidates", counted)
    QUERIES["dedup_semantic_clusters"](spark, SF_SMOKE).collect()
    (cand,) = made
    n = cand.count()
    assert n > 0
    assert seen.value == n, f"candidate pass ran {seen.value / n:g} times"


def test_second_moments_single_exchange(q):
    """The one-pass moment fold: Arrow mapInPandas emits 2080
    partial rows per task; exactly ONE exchange (the tiny (i, j)
    key) finishes — embeddings are never shuffled."""
    df = q("embeddings_second_moments")
    assert exchange_count(df) == 1


def test_hll_registers_fold_map_side(q):
    """The HLL register build must partial-aggregate below its
    exchange (per-partition bucket-max merges into 256 cells before
    any shuffle — the mergeable-sketch property the query exists to
    certify), and the only exchanges are the two tiny agg keys plus
    the 1x1 cross join; events bytes shuffle nowhere."""
    from galaxy_spark.plans import physical_plan

    df = q("agg_hll_cardinality_bound")
    p = physical_plan(df)
    # two-phase agg: a partial_max appears in a HashAggregate that
    # runs BEFORE the bucket exchange
    assert "partial_max" in p, "register max is not map-side partial"
    assert p.count("Location: InMemoryFileIndex") <= 2  # regs + exact
    assert exchange_count(df) <= 4  # bucket agg, 2 final 1-row aggs


def test_quantile_bound_broadcasts_candidates(q):
    """The 5 median candidates broadcast back onto the scan for the
    exact rank count; the scan side never shuffles for the join."""
    df = q("agg_quantile_sketch_bound")
    assert broadcast_join_count(df) >= 1
    assert exchange_count(df) <= 2  # sketch agg + verdict agg


def test_incremental_view_partial_sums_and_broadcast(q):
    """The delta fold partial-aggregates map-side (the telescoped
    deltas collapse to |groups| rows per task before the exchange)
    and the tiny direct-recompute frame broadcasts into the
    certification join — the stream-side frame never re-shuffles
    for it."""
    from galaxy_spark.plans import physical_plan

    df = q("cdc_incremental_view_sum")
    p = physical_plan(df)
    assert "partial_sum" in p, "delta fold is not map-side partial"
    assert broadcast_join_count(df) >= 1


def test_hyperball_register_max_map_side(q):
    """HyperBall's (node, bucket) register folds must show a
    map-side partial_max (the MAX-monoid property the propagation
    cost model rests on), the sampled-edge frame must broadcast
    into the final register join (r1 stays scan-local), and no
    round may degenerate to a cartesian."""
    from galaxy_spark.plans import physical_plan

    df = q("graph_hyperball_ball2")
    p = physical_plan(df)
    assert "partial_max" in p, "register max is not map-side partial"
    assert "CartesianProduct" not in p
    assert broadcast_join_count(df) >= 2


def test_hyperball_exact_ball_count_is_hash_aggregated(q):
    """HyperBall's exact ball-2 size is a COUNT(DISTINCT w) per node
    planned as hash aggregation over (node, w), whose state spills.
    A per-node collect_set holds one set per node in an aggregation
    buffer that cannot spill: up to |V| entries at a hub."""
    from galaxy_spark.plans import physical_plan

    assert "collect_set" not in physical_plan(q("graph_hyperball_ball2"))


def test_kmv_sketch_uses_top_k_not_global_sort(q):
    """The k-minimum-values sketch must execute as
    TakeOrderedAndProject (per-partition top-k partials merged on
    the driver — the min-k monoid) — a global Sort+Exchange on the
    hash column means the mergeable-sketch plan regressed."""
    from galaxy_spark.plans import physical_plan

    df = q("agg_kmv_set_intersection")
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_ols_single_exchange(q):
    """OLS from sufficient statistics is ONE grouped aggregation:
    six partial sums fold map-side, one exchange on the 3-value
    group key, and the normal-equation solve is scalar projection
    above it."""
    df = q("ml_ols_price_on_quantity")
    assert exchange_count(df) == 1


def test_bpe_encode_vocab_scale_apply(q):
    """The encode pass must apply the fold to the VOCABULARY and
    join back (word-keyed equi-join, broadcast at this scale), with
    the per-doc rollup partial-aggregated map-side — re-folding per
    token OCCURRENCE (or a cartesian) means the |vocab|-not-|corpus|
    property regressed."""
    from galaxy_spark.plans import physical_plan

    df = q("text_bpe_encode")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "partial_count" in p or "partial_sum" in p, \
        "per-doc rollup is not map-side partial"
    assert broadcast_join_count(df) >= 1


def test_substring_spans_partial_agg_no_window_skew(q):
    """EXACT substring spans, de-skewed (r9): duplicate detection
    must be a two-phase groupBy(h).count() whose PARTIAL aggregation
    absorbs hot seeds map-side BELOW the h exchange — a COUNT window
    over partitionBy(h) (the r8 shape) shuffles every occurrence of
    a boilerplate seed into ONE unsplittable window task at corpus
    scale. The expensive per-char hashing scan is localCheckpointed
    and consumed from storage (no FileScan re-execution), the
    join-back is h-keyed (semi) — never a cartesian — and the
    doc-keyed island merge + (doc, island) rollup reuse one doc_id
    exchange (doc_id subsumes the clustering)."""
    from galaxy_spark.plans import physical_plan

    df = q("dedup_substring_spans")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "partial_count" in p, \
        "duplicate count must partial-aggregate below the h exchange"
    # no Window node may partition by the seed key: only the
    # doc-keyed island windows are allowed
    assert "windowspecdefinition(h#" not in p
    # pre-hash repartition, h groupBy, (h join-back when not
    # broadcast,) doc window — bounded, all key-partitioned
    assert exchange_count(df) <= 4
    assert p.count("FileScan") == 0, \
        "the windowed scan must be consumed from the checkpoint"


def test_char_entropy_partial_absorption_no_cartesian(q):
    """Char entropy: the (doc, char) count must partial-aggregate
    map-side (alphabet-sized groups absorb the per-char explode
    before the exchange); the n_chars join is doc-keyed — never a
    cartesian — and the whole plan stays within the 4 bounded
    exchanges of agg + total + join + rollup."""
    from galaxy_spark.plans import physical_plan

    df = q("quality_char_entropy")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "partial_count" in p or "partial_sum" in p
    assert exchange_count(df) <= 4


def test_exact_quantiles_histogram_partial_agg(q):
    """The exact quantile vector must build its per-group histogram
    with map-side partial aggregation (heavy groups collapse to
    value cardinality before the exchange), broadcast the tiny
    per-group totals, and read every quantile off ONE cumulative
    window — no per-quantile sort, no cartesian."""
    df = q("agg_exact_quantiles_scalable")
    from galaxy_spark.plans import physical_plan

    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "partial_count" in p, "histogram must partial-aggregate"
    assert broadcast_join_count(df) >= 1
    import re

    # formatted explain lists each node in the tree AND the detail
    # section — count detail headers, one per physical node
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 1, \
        "k quantiles must share one window"


def test_sliding_hll_register_collapse_before_fanout(q):
    """The sliding-WAU sketch must collapse the raw event scan into
    per-(day, bucket) registers map-side BEFORE the 7-day fan-out
    (the explode runs on the O(calendar * m) register frame, never
    on raw events), and the day-universe restriction joins
    broadcast. The exact instrument's distinct-pair build is the
    only other event-scan consumer."""
    df = q("agg_hll_sliding_distinct_users")
    from galaxy_spark.plans import physical_plan

    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "partial_max" in p, \
        "register build must be a map-side MAX partial"
    assert broadcast_join_count(df) >= 2
    # explode must sit ABOVE the register aggregate: a generator
    # consuming the raw scan would 7x the corpus instead of the
    # register frame
    gen = p.index("Generate")
    agg = p.index("partial_max")
    assert gen < agg or "Generate" not in p[:agg]


def test_hash_split_disjoint_exhaustive_and_layout_free(spark):
    """hash_split must assign every row to exactly one split (bands
    partition the hash space), reproduce the identical assignment
    under repartitioning (pure function of seed+key), and reject
    fraction vectors that do not sum to 1."""
    import pytest as _pytest

    from galaxy_spark.operators.util import hash_split
    from galaxy_spark.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    splits = [("train", 0.8), ("valid", 0.1), ("test", 0.1)]
    a = hash_split(docs, "doc_id", splits, seed=13)
    counts = dict(a.groupBy("split").count().collect())
    assert set(counts) <= {"train", "valid", "test"}
    assert sum(counts.values()) == docs.count()  # exhaustive, disjoint
    assert counts["train"] > counts.get("valid", 0)
    b = hash_split(docs.repartition(17), "doc_id", splits, seed=13)
    assert sorted(map(tuple, a.select("doc_id", "split").collect())) == \
        sorted(map(tuple, b.select("doc_id", "split").collect()))
    with _pytest.raises(ValueError):
        hash_split(docs, "doc_id", [("a", 0.5), ("b", 0.4)])


def test_split_query_scan_local_assignment(q):
    """The split audit's assignment must ride the scan (one CASE, no
    pre-label shuffle): the plan's only exchanges are the (lang,
    split) partial-agged rollup and the broadcast of per-language
    totals."""
    df = q("split_train_valid_test")
    from galaxy_spark.plans import physical_plan

    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "partial_count" in p or "partial_sum" in p
    assert broadcast_join_count(df) >= 1
    # 3 = the (lang, split) rollup exchange (its subtree appears
    # twice: once under the broadcast totals, once as the probe
    # side — Spark recomputes rather than reuses the tiny frame)
    # + the per-language total exchange; no exchange touches the
    # pre-assignment scan
    assert exchange_count(df) <= 3


def test_editdistance_blocking_is_equi_join(q):
    """The deletion-neighborhood join must plan as an EQUI-join on
    the variant (hash/sort-merge), never a cartesian or broadcast
    nested loop — the lossless blocking is the whole point; a theta
    join would mean the all-pairs product snuck back in."""
    df = q("dedup_editdistance_pairs")
    from galaxy_spark.plans import physical_plan

    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_hash_split_zero_fraction_and_unit_bounds(spark):
    """A trailing zero-fraction split (cumulative bound hits 1.0)
    must receive ZERO rows — the r9 review caught the bound
    formatting as 9 hex chars ('100000000'), which breaks the
    lexicographic band compare and leaked ~15/16 of the prior band
    into the zero split."""
    from galaxy_spark.operators.util import hash_split
    from galaxy_spark.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    counts = dict(hash_split(
        docs, "doc_id",
        [("train", 0.9), ("valid", 0.1), ("test", 0.0)],
        seed=13).groupBy("split").count().collect())
    assert counts.get("test", 0) == 0
    assert counts["train"] + counts.get("valid", 0) == docs.count()


def test_sliding_quantiles_single_raw_scan(q):
    """r10 fused the sliding-quantile row's separate min/max pass:
    bin edges, daily histograms, the day universe AND the exact
    instrument all derive from ONE checkpointed (day, distinct-cent)
    frame — the final plan must consume the checkpoint only (zero
    FileScan), keep the fan-out generator above aggregated state,
    and never go cartesian."""
    df = q("agg_histogram_sliding_quantiles")
    from galaxy_spark.plans import physical_plan

    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert p.count("FileScan") == 0, \
        "raw events must be scanned once into the checkpointed " \
        "(day, vc) frame; every downstream consumer reads that"
    assert "partial_sum" in p, \
        "histogram merge must partial-aggregate map-side"
    assert broadcast_join_count(df) >= 2


def test_kmv_difference_top_k_and_one_probe(q):
    """The set-difference row shares the intersection row's plan
    contract: the union sketch is a TakeOrderedAndProject (min-k
    monoid, no global sort) and BOTH directed differences read off
    ONE probed frame (one pair of membership joins — a second probe
    pass would scan the sketch sides twice)."""
    from galaxy_spark.plans import physical_plan

    df = q("agg_kmv_set_difference")
    p = physical_plan(df)
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_lexical_diversity_partial_agg_no_join(q):
    """TTR + Yule's K must read off one (doc, token)-frequency
    frame: map-side partial aggregation absorbs the token explode
    before the exchange, the per-doc rollup reuses the doc key, and
    the plan has NO join or window at all (integer sufficient
    statistics, the OLS discipline)."""
    from galaxy_spark.plans import physical_plan

    df = q("quality_lexical_diversity")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "partial_count" in p or "partial_sum" in p
    assert "Join" not in p and "Window" not in p
    assert exchange_count(df) <= 2


def test_pmi_collocations_broadcast_rank(q):
    """PMI collocations: bigram counts partial-aggregate map-side,
    the vocabulary-scale unigram frame joins BROADCAST on each
    bigram word, and the final cut is a TakeOrderedAndProject —
    never a global sort or a shuffled join against the vocabulary."""
    from galaxy_spark.plans import physical_plan

    df = q("text_pmi_collocations")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "partial_count" in p
    assert broadcast_join_count(df) >= 2
    assert "TakeOrderedAndProject" in p


def test_kcore_rounds_are_semi_joins(q):
    """k-core peeling (r11): each survivor round must reduce
    through LeftSemi joins + a partial-aggregated count — never
    a cartesian or a window — and the final plan consumes the
    checkpointed survivor/edge frames (no re-scan of raw lineitem
    in the last round: the iterative rounds materialized them)."""
    from galaxy_spark.plans import physical_plan

    df = q("graph_kcore")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "LeftSemi" in p
    assert "partial_count" in p
    assert p.count("FileScan") == 0, \
        "the output plan must read the checkpointed edge/survivor " \
        "frames, not rebuild the co-purchase graph from the scan"


def test_decay_score_scan_local_single_agg(q):
    """The decayed-engagement scores must be pure scan-local
    arithmetic into ONE partial-aggregated groupBy(user): the
    anchor day joins as a 1-row broadcast, there is no window, no
    second scan, and exactly one data exchange (the user key)."""
    from galaxy_spark.plans import physical_plan

    df = q("events_decay_score")
    p = physical_plan(df)
    assert "Window" not in p
    assert "partial_sum" in p
    assert broadcast_join_count(df) >= 1
    assert p.count("FileScan") <= 2, \
        "events must scan once for the anchor and once for the " \
        "scores — anything more re-reads the table"


def test_interval_overlap_is_equi_key_blocked(q):
    """The interval-overlap join must plan as an EQUI join on the
    customer key with the interval predicate as a post-join filter
    (SortMergeJoin/ShuffledHashJoin with join condition) — never a
    BroadcastNestedLoopJoin or cartesian evaluating the temporal
    predicate against all pairs."""
    from galaxy_spark.plans import physical_plan

    df = q("join_interval_overlap")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert ("SortMergeJoin" in p or "ShuffledHashJoin" in p
            or "BroadcastHashJoin" in p)
    assert "partial_count" in p


def test_sssp_relax_round_is_frontier_shaped(q):
    """Weighted SSSP (r11): the relax/refresh round must plan as a
    partial-aggregated MIN over the frontier⋈edges equi-join plus a
    LeftAnti refresh of the running map — never a cartesian, never
    a window — and the output plan consumes the checkpointed
    edge/dist frames (zero FileScan: the graph builds once)."""
    from galaxy_spark.plans import physical_plan

    df = q("graph_sssp_weighted")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "partial_min" in p
    assert "LeftAnti" in p
    assert "Window" not in p
    assert p.count("FileScan") == 0, \
        "rounds must read the checkpointed weighted-edge frame, " \
        "not rebuild the co-purchase graph from the scan"


def test_gapfill_grid_is_synthesized_not_scanned(q):
    """The gap-filled series (r12) must synthesize its calendar
    grid from a 1-row bounds agg + sequence() explode — the events
    table scans for the bounds and the hourly rollup, never once
    per grid row — and the moving sum windows over the
    calendar-bounded frame (one Window, partial-aggregated
    rollup)."""
    from galaxy_spark.plans import physical_plan

    import re

    df = q("events_timeseries_gapfill")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "Generate" in p, "sequence() explode missing"
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 1
    # the hourly rollup materializes ONCE (lazy localCheckpoint in
    # the shared gapfill_from_hourly builder) and feeds bounds /
    # types / the zero-fill join as ExistingRDD reads — the raw
    # events table is never re-scanned per grid consumer
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 0, \
        "grid consumers must read the checkpointed hourly rollup, " \
        "not re-scan events"


def test_item_cf_topk_partial_windowgrouplimit(q):
    """Item-item CF (r12): the per-item top-3 must run as a
    WindowGroupLimit (partial top-k BELOW the exchange, so at most
    3 rows per item per task shuffle for the rank), degrees attach
    as broadcast joins, and the basket self-join is an equi-join on
    the order key — never a cartesian."""
    from galaxy_spark.plans import physical_plan

    df = q("similarity_item_cf_topk")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p
    assert broadcast_join_count(df) >= 2
    assert "partial_count" in p


def test_lateral_topk_decorrelates_to_window_group_limit(q):
    """The LATERAL per-customer LIMIT subquery (r12) must
    decorrelate: WindowGroupLimit partial top-2 + row_number filter
    + ONE equi-join back to customer — no per-row subquery
    execution shape (no nested-loop join) in the physical plan."""
    from galaxy_spark.plans import physical_plan

    df = q("join_lateral_topk_orders")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "WindowGroupLimit" in p
    assert "row_number" in p


def test_lpa_rounds_bounded_exchanges_no_rescan(q):
    """Label propagation (r12): the output plan consumes the
    per-round checkpointed label state and the checkpointed edge
    frame — zero raw parquet re-scans — with the ballot argmax as a
    partial-aggregated max_by fold (no Window in the round path;
    the single Window is the final community_size count over |V|
    rows)."""
    import re

    from galaxy_spark.plans import physical_plan

    df = q("graph_label_propagation")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    # the rounds ran eagerly behind per-round checkpoints (the
    # CC/k-core discipline), so the OUTPUT plan is exactly: the
    # community_size Window over the checkpointed |V|-row label
    # state — zero raw parquet re-scans, no join residue
    assert "Scan ExistingRDD" in p
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 1
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 0, \
        "rounds must consume the checkpointed edge/label frames"


def test_winnowing_windows_over_exploded_grams(q):
    """Winnowing (r12): gram hashing must evaluate ONCE per doc
    (posexplode consumes the single array expression) with window
    minima as a doc-partitioned frame Window — the nested
    array-lambda form collapses into an O(tokens^2)-per-doc md5
    recompute (553 s at sf0.1; fixed form ~2 s)."""
    import re

    from galaxy_spark.plans import physical_plan

    df = q("dedup_winnowing_pairs")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    # the (doc, fp) frame materializes ONCE (lazy checkpoint) and
    # its three consumers read it back — so the output plan holds
    # NO Generate and no Window at all: the gram explode and the
    # winnow Window ran exactly once inside the checkpointed
    # subtree, structurally excluding both the O(tokens^2) lambda
    # collapse and the 3x pipeline recompute
    assert "Scan ExistingRDD" in p
    assert len(re.findall(r"\(\d+\) Generate", p)) == 0
    assert len(re.findall(r"\(\d+\) Window\b", p)) == 0
    assert "partial_count" in p


def test_attribution_lookback_is_equi_join_no_global_window(q):
    """Last-touch attribution (r13): the 7-day lookback as-of must
    plan as an EQUI-join on user_id with the time band as a
    residual predicate — never a cartesian/nested-loop — and no
    window over the full event log (the per-purchase winner is a
    partial-aggregated MAX fold, the daily report a partial-agged
    rollup)."""
    from galaxy_spark.plans import physical_plan

    df = q("events_attribution_last_touch")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" not in p
    assert "partial_max" in p and "partial_count" in p


def test_funnel_windowed_same_plan_class_as_unbounded(q):
    """The 24h-window funnel (r13) must keep the unbounded
    funnel's plan: user-keyed conditional MIN aggs chained by
    equi-joins, the window bound folded into scan-local residual
    predicates — no new operator class (no Window, no cartesian,
    no nested loop)."""
    from galaxy_spark.plans import physical_plan

    df = q("events_funnel_windowed")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" not in p
    assert "partial_min" in p


def test_rfm_windows_run_over_customer_rollup_not_orders(q):
    """RFM (r13): the three exact-quartile NTILE windows must run
    over the PER-CUSTOMER rollup (one partial-aggregated orders
    scan feeding |customers| rows), never over raw orders — one
    parquet scan in the whole plan, anchor as a broadcast."""
    import re

    from galaxy_spark.plans import physical_plan

    df = q("customer_rfm_segments")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    # the rollup materializes once (lazy localCheckpoint) and both
    # consumers (anchor + ranking) read it back — raw orders never
    # re-scans inside this plan
    assert len(re.findall(r"\(\d+\) Scan parquet", p)) == 0, \
        "NTILE must rank the checkpointed per-customer rollup, " \
        "not re-scan orders"
    assert "ntile" in p


def test_common_neighbors_edge_iterator_no_wedges(q):
    """Link-prediction features (r13): the triangle query's
    edge-iterator discipline — adjacency arrays intersect
    scan-locally per oriented edge (array_intersect in the
    projection), wedges never materialize as a join, and the
    top-50 runs as TakeOrderedAndProject (per-partition partial
    top-k), not a global sort."""
    from galaxy_spark.plans import physical_plan

    df = q("graph_common_neighbors")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "array_intersect" in p
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p \
        or "BroadcastHashJoin" in p


def test_clustering_coefficient_vertex_credit_plan(q):
    """Clustering coefficient (r14): same engine as the triangle
    count — adjacency arrays intersect scan-locally (no wedge
    join, no cartesian), triangle credits fold through a
    partial-aggregated count, and the degree side LEFT-joins so
    triangle-free nodes stay in the output."""
    from galaxy_spark.plans import physical_plan

    df = q("graph_clustering_coefficient")
    p = physical_plan(df)
    assert "CartesianProduct" not in p
    assert "array_intersect" in p
    assert "partial_count" in p or "partial, count" in p \
        or "HashAggregate" in p


def test_path_trigrams_single_window_pass(q, spark):
    """Path trigrams (r14): both LEADs evaluate in ONE Window
    node (one per-user sort, not two); in the full query the tiny
    type³ rollup materializes ONCE behind a checkpoint barrier
    (no parquet re-scan for the grand total — the r14 plan-pin
    catch) and the 1-row total broadcasts back for the share."""
    from galaxy_spark.plans import physical_plan
    from galaxy_spark.queries.events import _path_walks
    from galaxy_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    import re

    walks = _path_walks(load_table(spark, SF_SMOKE, "events"))
    wp = physical_plan(walks)
    assert len(re.findall(r"\(\d+\) Window\b", wp)) == 1, \
        "both LEADs must share one Window node"
    assert "lead(event_type" in wp

    df = q("events_path_trigrams")
    p = physical_plan(df)
    assert "Scan parquet" not in p, \
        "rollup must materialize once (no re-scan for the total)"
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_assortativity_no_window_partial_agg(q):
    """Degree assortativity (r14): pure sufficient-statistics
    fold — no Window operator anywhere, the 4-column moment agg
    partial-aggregates before its single-row exchange."""
    from galaxy_spark.plans import physical_plan

    df = q("graph_degree_assortativity")
    p = physical_plan(df)
    assert "Window" not in p
    assert "CartesianProduct" not in p
    assert "HashAggregate" in p


def test_graph_family_pins_r14_broadcast_shapes(q):
    """r15 (r14 verdict #3): the graph family's r14 plan shapes are
    CI-pinned — the |V|-state / adjacency sides join as
    BroadcastHashJoin and NO SortMergeJoin survives in any final
    plan (a dropped hint or conf change would silently restore the
    9-exchange SMJ plans this family shipped before r14)."""
    from galaxy_spark.plans import physical_plan

    for name, min_bhj in [("graph_common_neighbors", 4),
                          ("graph_resource_allocation", 3),
                          ("graph_clustering_coefficient", 3),
                          ("graph_degree_assortativity", 2),
                          ("graph_sssp_weighted", 5),
                          ("graph_triangle_count", 2)]:
        df = q(name)
        p = physical_plan(df)
        assert "SortMergeJoin" not in p, name
        assert broadcast_join_count(df) >= min_bhj, name


def test_basket_self_joins_pin_shuffled_hash(spark, q):
    """r15 (r14 verdict #3): the order-keyed basket self-joins stay
    SHUFFLE_HASH-pinned — never an auto-broadcast of the O(|fact|)
    basket frame (the r14 before-plan), never a sort-merge
    fallback. Checked on the three mining/CF queries whose final
    plans expose the build, and on the shared co-purchase half
    build directly (the graph queries hide it behind the edge
    checkpoint)."""
    from galaxy_spark.plans import physical_plan
    from galaxy_spark.queries.graphs import _copurchase_half
    from galaxy_spark.tables import load_table

    for name in ["mining_frequent_pairs", "mining_pair_lift",
                 "similarity_item_cf_topk"]:
        p = physical_plan(q(name))
        assert "ShuffledHashJoin" in p, name
        assert "SortMergeJoin" not in p, name
    half = _copurchase_half(load_table(spark, SF_SMOKE, "lineitem"))
    hp = physical_plan(half)
    assert "ShuffledHashJoin" in hp
    assert "BroadcastHashJoin" not in hp


def test_graph_state_broadcasts_are_size_gated(q, monkeypatch):
    """r15 (r14 verdict #1): the graph family's state/adjacency
    broadcast hints are SIZE-GATED on a measured count against
    $GALAXY_SPARK_BCAST_MAX_ROWS — past the budget the same plan
    degrades to shuffle joins (one more exchange each) instead of
    forcing a broadcast that would OOM the driver at 100 TB."""
    from galaxy_spark.plans import physical_plan

    monkeypatch.setenv("GALAXY_SPARK_BCAST_MAX_ROWS", "0")
    df = q("graph_common_neighbors")
    p = physical_plan(df)
    assert "BroadcastHashJoin" not in p, \
        "budget=0 must drop every gated hint"
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, \
        "the degraded plan must fall back to a shuffle join"


def test_degree_orientation_broadcast_is_size_gated(spark, monkeypatch):
    """``degree_orient`` (the orientation ``triangle_count_oriented``
    runs) size-derives its degree-join broadcast by default, like
    ``connected_components``: with a budget of 0 rows its plan has
    no broadcast join, and the triangle count is unchanged."""
    from galaxy_spark.operators.graph import (degree_orient,
                                              triangle_count_oriented)
    from galaxy_spark.plans import physical_plan

    monkeypatch.setenv("GALAXY_SPARK_BCAST_MAX_ROWS", "0")
    edges = spark.createDataFrame([(1, 2), (2, 3), (1, 3), (3, 4)],
                                  "src long, dst long")
    p = physical_plan(degree_orient(edges))
    assert "BroadcastHashJoin" not in p, \
        "budget=0 must drop the degree-join hint"
    assert triangle_count_oriented(edges).collect()[0].n_triangles == 1


def test_connected_components_gate_preserves_results(spark, monkeypatch):
    """connected_components(_fixed) size-gate their per-round
    broadcast hints: the default budget (hinted) and budget 0
    (unhinted, shuffle joins) must label identically."""
    from galaxy_spark.operators.graph import connected_components_fixed

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src long, dst long")
    verts = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 99)], "id long")

    def comps():
        out = connected_components_fixed(verts, edges, rounds=3)
        return sorted(tuple(r) for r in out.collect())

    monkeypatch.delenv("GALAXY_SPARK_BCAST_MAX_ROWS", raising=False)
    base = comps()
    assert base[-1] == (99, 99), "isolated vertex keeps its id"
    monkeypatch.setenv("GALAXY_SPARK_BCAST_MAX_ROWS", "0")
    assert comps() == base, "size-derived gate must not change labels"
