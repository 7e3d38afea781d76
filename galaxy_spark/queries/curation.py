"""Corpus-curation queries: the operations a training-data pipeline
runs AFTER per-document analysis — cluster-level dedup, corpus-level
quality scoring, mixture balancing, deterministic shuffling, and
sequence packing.

These extend the per-document/per-pair surface in ``queries/llm.py``
to the corpus level, where every operator needs either global state
(vocabulary frequencies, per-source counts, cluster membership) or
a global ordering — the part of curation where naive plans stop
scaling. Every query carries a full DuckDB value oracle
(result-contract unless noted).
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import DataFrame

from galaxy_spark.operators import (clustering, dedup, graph, similarity,
                                    text, util)
from galaxy_spark.queries.llm import (_cos_sql, _jaccard_pairs_oracle,
                                      _STOPS, _TOKS)
from galaxy_spark.registry import register
from galaxy_spark.tables import load_table


@register(
    "dedup_cluster_canonical",
    oracle=f"""
    WITH RECURSIVE pairs AS (
        SELECT id_a, id_b FROM ({_jaccard_pairs_oracle(5, 0.5)})
    ), edges AS (
        SELECT id_a AS s, id_b AS d FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs
    ), reach(id, r) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.d, reach.r FROM reach JOIN edges e ON e.s = reach.id
    ), comp AS (
        SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    ), sizes AS (
        SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY 1
    )
    SELECT c.doc_id, c.cluster_id,
           CAST(s.cluster_size AS INTEGER) AS cluster_size,
           (c.doc_id = c.cluster_id) AS is_canonical
    FROM comp c JOIN sizes s ON c.cluster_id = s.cluster_id
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS (not pairs): MinHash-LSH pair graph →
    connected components → per-cluster canonical (min doc_id).

    Pairwise near-dup output over- and under-deletes (A~B, B~C must
    keep exactly one of {{A,B,C}}, which no pair-local rule can
    decide); the reference pipeline step everywhere in public dedup
    recipes is transitive clustering. Components run as Pregel-style
    min-label propagation (``operators.graph``): one shuffle per
    round, rounds = cluster diameter (2-3 for quasi-clique dup
    graphs, independent of corpus size). This query uses the
    fixed-round LAZY variant (6 rounds, no driver actions) so the
    whole pipeline stays one declarative plan; a budget below the
    true diameter would surface as a wrong cluster id against the
    transitive-closure oracle below.

    Oracle contract: the pair stage is the recall-1.0 MinHash tier
    (pinned in tests/test_dedup_recall.py), so the SQL's exact
    all-pairs graph + recursive-CTE transitive closure states the
    same clusters.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_dups(docs, n=5, n_hashes=32, bands=8,
                                    threshold=0.5)
    comp = graph.components_with_size(
        docs, pairs, id_col="doc_id", src_col="id_a", dst_col="id_b")
    return comp.select(
        F.col("id").alias("doc_id"),
        F.col("component").alias("cluster_id"),
        F.col("component_size").cast("integer").alias("cluster_size"),
        (F.col("id") == F.col("component")).alias("is_canonical"))


@register(
    "quality_gopher_rules",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS tk FROM documents
    ), s AS (
        SELECT doc_id, len(tk) AS n_tokens,
               ROUND(list_sum(list_transform(tk, x -> len(x))) * 1.0
                     / len(tk), 4) AS mean_word_len,
               len(list_filter(tk, x -> x IN {_STOPS})) AS stop_cnt
        FROM t
    )
    SELECT doc_id, CAST(n_tokens AS INTEGER) AS n_tokens, mean_word_len,
           (n_tokens BETWEEN 50 AND 100000) AS ok_length,
           (mean_word_len BETWEEN 3.0 AND 10.0) AS ok_word_len,
           (stop_cnt >= 1) AS ok_stopword,
           ((n_tokens BETWEEN 50 AND 100000)
            AND (mean_word_len BETWEEN 3.0 AND 10.0)
            AND stop_cnt >= 1) AS keep
    FROM s
    """,
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter (public recipe: Rae et al. 2021,
    §A1.1): token-count bounds, mean-word-length bounds, stopword
    presence; ``keep`` is the conjunction. Pure column algebra —
    scan-local, zero shuffles, whole-stage codegen'd.

    The boolean flags (not just ``keep``) are part of the contract:
    a production pipeline audits per-rule rejection rates before
    committing to a filter config.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    n_tokens = F.size(toks)
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0),
        lambda acc, x: acc + x)
    mean_wl = F.round(sum_len * F.lit(1.0) / n_tokens, 4)
    stop_cnt = text.stopword_count(F.col("text"))
    ok_length = n_tokens.between(50, 100000)
    out = docs.select(
        "doc_id",
        n_tokens.cast("integer").alias("n_tokens"),
        mean_wl.alias("mean_word_len"),
        ok_length.alias("ok_length"),
        mean_wl.between(3.0, 10.0).alias("ok_word_len"),
        (stop_cnt >= 1).alias("ok_stopword"))
    return out.withColumn(
        "keep",
        F.col("ok_length") & F.col("ok_word_len") & F.col("ok_stopword"))


@register(
    "quality_unigram_logprob",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ), freq AS (
        SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ), tot AS (
        SELECT SUM(cnt) AS n_total FROM freq
    ), scored AS (
        SELECT t.doc_id,
               ROUND(ln(f.cnt * 1.0 / tot.n_total), 6) AS lp
        FROM toks t JOIN freq f ON t.tok = f.tok, tot
    )
    SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_tokens,
           ROUND(-CAST(SUM(CAST(lp AS DECIMAL(18, 6))) AS DOUBLE)
                 / COUNT(*), 4) AS nll
    FROM scored GROUP BY doc_id
    """,
)
def quality_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-LM quality score: mean negative log-probability of a
    document's tokens under the corpus's own unigram distribution —
    the cheapest member of the perplexity-filter family (public
    recipe: CCNet / Wenzek et al. 2019 use a KenLM for the same
    role). High nll = tokens rare in this corpus = outlier document.

    Shape at scale: one explode + one token-keyed agg builds the LM
    (vocabulary-sized, ~millions of rows at 100 TB — broadcastable
    or a shuffle join on the token key, AQE's call); the scalar
    total rides a 1-row broadcast cross join; scoring is one join +
    one doc-keyed agg. Float determinism: per-token logprob is
    rounded at 1e-6 THEN summed as DECIMAL, so partial-agg order
    can't move the doc score (the pipeline_llm_preprocess fix
    pattern).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(text.tokens(F.col("text"))).alias("tok"))
    # deliberately NO checkpoint barriers here, unlike the bigram
    # query one rung up: both the toks barrier (sf0.1 interleaved
    # A/B ~0.91 -> ~1.03 s median) and a vocab-only freq barrier
    # (~1.12 -> ~1.40) MEASURED as losses — this query's repeated
    # subtrees are one cheap regex pass each, and pipelined
    # re-evaluation beats materialize-and-reread at this shape
    # (r14 barrier audit, SCALE.md; the opposite verdict from
    # quality_mad_outliers' compounding 18-scan chain)
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = freq.agg(F.sum("cnt").alias("n_total"))
    lp = F.round(
        F.log(F.col("cnt") * F.lit(1.0) / F.col("n_total")), 6)
    scored = (toks.join(freq, "tok")
              .crossJoin(F.broadcast(total))
              .select("doc_id", lp.alias("lp")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").cast("integer").alias("n_tokens"),
                 F.round(
                     -F.sum(F.col("lp").cast("decimal(18,6)"))
                     .cast("double") / F.count("*"), 4).alias("nll")))


@register(
    "pack_sequences_greedy",
    oracle=f"""
    WITH d AS (
        SELECT doc_id, lang, len({_TOKS}) AS n_tokens FROM documents
    ), c AS (
        SELECT lang, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM d
    )
    SELECT lang, CAST((cum - n_tokens) // 2048 AS BIGINT) AS bin_id,
           COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM c GROUP BY lang, bin_id
    """,
)
def pack_sequences_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing: per language stream,
    documents in doc_id order fill 2048-token context windows; a
    document's bin is its start offset div 2048 (the standard
    GPT-style pretraining packing, computed as metadata without
    materializing token streams). Output: per (lang, bin) document
    and token counts.

    Shape at scale: one running-sum window per stream — packing is
    inherently sequential per output stream, so parallelism = number
    of streams; a 100 TB run packs per (lang, shard) with thousands
    of shards, same plan, wider key. Integer-exact everywhere.
    """
    docs = load_table(spark, sf_dir, "documents")
    n_tokens = text.token_count(F.col("text"))
    w = (Window.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = docs.select("doc_id", "lang", n_tokens.alias("n_tokens")) \
            .withColumn("cum", F.sum("n_tokens").over(w))
    return (c.select(
        "lang",
        F.expr("(cum - n_tokens) div 2048").alias("bin_id"),
        "n_tokens")
        .groupBy("lang", "bin_id")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tokens").alias("bin_tokens")))


@register(
    "tokens_histogram_pow2",
    oracle=f"""
    SELECT source,
           CAST(length(bin(len({_TOKS}))) AS INTEGER) AS bucket,
           COUNT(*) AS n_docs
    FROM documents GROUP BY source, bucket
    """,
)
def tokens_histogram_pow2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-count distribution per source in power-of-2 buckets
    (bucket = floor(log2(n_tokens))+1, computed as the bit-length of
    the count so no float log can sit on a boundary). The standard
    first look at a new corpus: which sources carry the long/short
    documents. One scan + one tiny agg.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.length(F.bin(text.token_count(F.col("text"))))
    return (docs.groupBy("source", bucket.cast("integer").alias("bucket"))
            .agg(F.count("*").alias("n_docs")))


@register(
    "shuffle_global_deterministic",
    oracle="""
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY md5('shuf42:' || doc_id), doc_id)
               AS shuffle_pos
    FROM documents
    """,
)
def shuffle_global_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle: every document gets a
    position in a pseudo-random total order keyed by
    ``md5(seed:doc_id)`` — reproducible across engines, reruns and
    repartitioning (an audit can recompute any doc's position from
    its id alone).

    Shape at scale: the naive ``row_number() OVER (ORDER BY ...)``
    is the single-reducer trap; this uses
    ``util.with_global_row_index`` — range-partition by the hash key
    (parallel sort), count per partition (one long each), broadcast
    cumulative offsets back. The md5 key is uniform by construction,
    so the range partitioner can't skew.
    """
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat_ws(":", F.lit("shuf42"),
                          F.col("doc_id").cast("string"))).alias("__k"))
    indexed = util.with_global_row_index(
        keyed, ["__k", "doc_id"], index_col="shuffle_pos")
    return indexed.select("doc_id", "shuffle_pos")


@register(
    "mixture_resample_balanced",
    oracle="""
    WITH c AS (
        SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source
    ), mm AS (
        SELECT MIN(cnt) AS m FROM c
    ), r AS (
        SELECT source,
               CASE WHEN cnt = m THEN 'g'
                    ELSE printf('%08x',
                         CAST(floor((m * 1.0 / cnt) * 4294967296.0)
                              AS BIGINT)) END AS thr
        FROM c, mm
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN r ON d.source = r.source
    WHERE substring(md5('mix42:' || d.doc_id), 1, 8) < r.thr
    """,
)
def mixture_resample_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture balancing: downsample every source to the size of the
    smallest one (uniform target mixture), with DATA-DEPENDENT
    per-source rates — unlike ``sample_stratified_documents`` whose
    rates are config. Keep iff ``md5(seed:doc_id)[0:8] <
    hex(floor(rate * 16^8))`` — the layout-independent hash
    Bernoulli from ``util.stratified_hash_sample``, with the
    threshold computed in-plan from the per-source counts (tiny:
    one row per source, broadcast back to the scan).

    Shape at scale: one count agg over the corpus (map-side
    partial), one broadcast join, one scan-local filter — no
    shuffle of document data at all.
    """
    docs = load_table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("cnt"))
    # scalar min via a single-partition window over the TINY counts
    # frame (|sources| rows) — the crossJoin-of-a-re-aggregation
    # form re-planned the whole corpus counting scan under both
    # subtrees (3 corpus scans where 2 suffice; same trap
    # pipeline_curation_end2end documents and avoids)
    m_col = F.min("cnt").over(Window.partitionBy())
    thr = F.when(
        F.col("cnt") == F.col("m"), F.lit("g")
    ).otherwise(F.format_string(
        "%08x",
        F.floor((F.col("m") * F.lit(1.0) / F.col("cnt"))
                * F.lit(4294967296.0)).cast("long")))
    rates = counts.withColumn("m", m_col).select(
        "source", thr.alias("thr"))
    h = F.substring(
        F.md5(F.concat_ws(":", F.lit("mix42"),
                          F.col("doc_id").cast("string"))), 1, 8)
    return (docs.join(F.broadcast(rates), "source")
            .filter(h < F.col("thr"))
            .select("doc_id", "source"))


#: shared CTE chain: 2-round Lloyd assignment, engine-exact (see
#: embeddings_kmeans_clusters docstring). Ends at a1(vec_id,
#: cluster_id, d2) — both the kmeans rollup and the semantic-dedup
#: pair join build on it. c0 is the hash-pick init (k=8 FIXED,
#: decoupled from corpus size — mirrors
#: operators.similarity.hash_pick_centroids with salt 'km').
_KMEANS_CTES = """
    WITH v AS (
        SELECT vec_id, embedding AS vec FROM embeddings
    ), c0 AS (
        SELECT vec_id AS cluster_id,
               list_transform(range(1, 65), i -> CAST(vec[i] AS DOUBLE))
                   AS cvec
        FROM v
        ORDER BY md5(concat('km:', CAST(vec_id AS VARCHAR))), vec_id
        LIMIT 8
    ), s0 AS (
        SELECT v.vec_id, c.cluster_id, list_sum(list_transform(range(1, 65), i -> CAST(v.vec[i] AS DOUBLE) * CAST(v.vec[i] AS DOUBLE))) - 2.0 * list_sum(list_transform(range(1, 65), i -> CAST(v.vec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))) + list_sum(list_transform(range(1, 65), i -> CAST(c.cvec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))) AS d2
        FROM v CROSS JOIN c0 c
    ), a0 AS (
        SELECT vec_id, cluster_id FROM (
            SELECT vec_id, cluster_id,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cluster_id) AS rn
            FROM s0) WHERE rn = 1
    ), pe AS (
        SELECT a.cluster_id, r.i AS pos, CAST(v.vec[r.i] AS DOUBLE) AS val
        FROM a0 a JOIN v USING (vec_id) CROSS JOIN range(1, 65) r(i)
    ), dims AS (
        SELECT cluster_id, pos,
               CAST(SUM(CAST(val AS DECIMAL(18, 9))) AS DOUBLE)
                   / COUNT(*) AS m
        FROM pe GROUP BY cluster_id, pos
    ), c1 AS (
        SELECT cluster_id, array_agg(m ORDER BY pos) AS cvec
        FROM dims GROUP BY cluster_id
    ), s1 AS (
        SELECT v.vec_id, c.cluster_id, list_sum(list_transform(range(1, 65), i -> CAST(v.vec[i] AS DOUBLE) * CAST(v.vec[i] AS DOUBLE))) - 2.0 * list_sum(list_transform(range(1, 65), i -> CAST(v.vec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))) + list_sum(list_transform(range(1, 65), i -> CAST(c.cvec[i] AS DOUBLE) * CAST(c.cvec[i] AS DOUBLE))) AS d2
        FROM v CROSS JOIN c1 c
    ), a1 AS (
        SELECT vec_id, cluster_id, d2 FROM (
            SELECT vec_id, cluster_id, d2,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY d2, cluster_id) AS rn
            FROM s1) WHERE rn = 1
    )"""


@register(
    "embeddings_kmeans_clusters",
    oracle=_KMEANS_CTES + """
    SELECT cluster_id, COUNT(*) AS n_members,
           ROUND(CAST(SUM(CAST(ROUND(d2, 6) AS DECIMAL(18, 6))) AS DOUBLE)
                 / COUNT(*), 4) AS mean_d2
    FROM a1 GROUP BY cluster_id
    """,
)
def embeddings_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mini k-means over the embedding corpus: deterministic
    hash-pick init (k=8 FIXED, the IVF pick), 2 Lloyd assignment
    rounds, reporting per-cluster membership and mean squared
    distance — the entry point for diversity sampling /
    semantic-dedup recipes (SemDeDup, cluster-balanced mixtures).

    Oracle contract: algorithm-mirroring. The init is a hash order
    over ids (md5, reproducible in SQL); centroid updates sum
    per-dimension values as DECIMAL (order-independent exact
    arithmetic) and divide once as double; the emitted distance is
    the same sequential dot-fold as the cosine oracles — so the SQL
    reproduces every assignment bit-for-bit, iterations included.

    Shape at scale: k is a configured constant (r4's stride init
    grew k as n/32 — quadratic assignment at 100 TB); per round the
    GEMM batch scorer prunes n×k to ~n candidate rows, a k-row
    broadcast attaches exact centroid values, an argmin window keyed
    by vec_id finishes, plus a (cluster × dim)-sized mean agg
    between rounds. Assignment work is O(n·k) with k fixed.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    asg = clustering.kmeans_assign(emb, k=8, n_iter=2)
    return asg.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.round(
            F.sum(F.round("d2", 6).cast("decimal(18,6)")).cast("double")
            / F.count("*"), 4).alias("mean_d2"))


@register(
    "dedup_semantic_clusters",
    oracle=_KMEANS_CTES + f"""
    SELECT x.vec_id AS id_a, y.vec_id AS id_b,
           ROUND({{COS}}, 4) AS cos_sim
    FROM a1 x
    JOIN a1 y ON x.cluster_id = y.cluster_id AND x.vec_id < y.vec_id
    JOIN v vx ON vx.vec_id = x.vec_id
    JOIN v vy ON vy.vec_id = y.vec_id
    WHERE {{COS}} >= 0.4
    """.replace("{COS}", _cos_sql("vx.vec", "vy.vec")),
)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (SemDeDup-recipe shape, Abbas et al. 2023):
    k-means partitions the embedding space, then near-dup pairs
    (cos >= 0.4, same threshold as the exact tier) are searched
    WITHIN clusters only.

    This is the third embedding-dedup tier and the one production
    recipes actually run: the exact tier is all-pairs quadratic, the
    LSH tier prunes per-pair, and this tier makes the quadratic
    LOCAL — at 100 TB the cost is sum over clusters of |c|^2 instead
    of n^2, and each cluster is an independent Arrow group.
    Cross-cluster true pairs are the recall price; measured and
    pinned in tests/test_dedup_recall.py.

    Pair scoring (r5): the within-cluster quadratic runs as one
    numpy GEMM per cluster group (``within_cluster_candidates``)
    with a margin-pruned candidate emit; only near-threshold
    survivors pay the exact JVM cosine fold that defines the output
    value. The r4 equi-join shape folded EVERY within-cluster pair
    interpreted (~100x the work — 5.3 s vs ~1 s exec at sf0.1 after
    the k=8 rebalance made clusters bigger). Provably lossless:
    GEMM drift ~1e-13 vs margin 1e-6.

    Oracle contract: algorithm-mirroring — the SQL reproduces the
    engine-exact Lloyd assignment (shared _KMEANS_CTES), then states
    the same within-cluster pair set with the same cosine fold.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    asg = (clustering.kmeans_assign(emb, k=8, n_iter=2)
           .select("vec_id", "cluster_id"))
    # the assignment feeds the pair generator AND both vector
    # re-attach joins — checkpoint it once or the 2-round Lloyd
    # subtree evaluates three times
    a = (asg.join(emb.select("vec_id", "embedding"), "vec_id")
         .localCheckpoint(eager=False))
    cand = similarity.within_cluster_candidates(a, threshold=0.4)
    va = a.select(F.col("vec_id").alias("id_a"),
                  F.col("embedding").alias("vec_a"))
    vb = a.select(F.col("vec_id").alias("id_b"),
                  F.col("embedding").alias("vec_b"))
    cos = similarity.cosine(F.col("vec_a"), F.col("vec_b"))
    # r14: the OUTPUT-SIZED candidate side broadcasts into the two
    # vector re-attach joins — unhinted, the checkpointed frames
    # carry no size estimate and both joins planned sort-merge
    # shuffles of the |corpus| embedding frame (locally a wash,
    # 3.02 vs 3.00 s interleaved: AQE converted at runtime anyway;
    # kept because the INITIAL plan now never exchanges the corpus
    # frame, which is the 100 TB shape — candidates ≪ corpus).
    # r15 (r14 advice): BOTH broadcasts now carry only the bare
    # (id_a, id_b) pairs — the old second join broadcast the
    # vec_a-widened frame, i.e. candidates × embedding-dim bytes,
    # undercutting the candidates-are-small argument. Each vector
    # attaches through its own bare-pair broadcast (the corpus
    # still never exchanges), and the two candidate-sized halves
    # meet on the pair key — a bounded shuffle of output-sized rows,
    # never a forced embedding-payload broadcast. Both broadcasts
    # read cand, and reuse only shares the exchange BELOW the pandas
    # pass, so checkpoint the pairs or the GEMM pass runs twice.
    cand = cand.select("id_a", "id_b").localCheckpoint(eager=False)
    witha = F.broadcast(cand).join(va, "id_a")
    withb = F.broadcast(cand).join(vb, "id_b")
    return (witha.join(withb, ["id_a", "id_b"])
            .withColumn("cos_sim_raw", cos)
            .filter(F.col("cos_sim_raw") >= 0.4)
            .select("id_a", "id_b",
                    F.round("cos_sim_raw", 4).alias("cos_sim")))


@register(
    "quality_repetition_ratio",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, {_TOKS} AS tk FROM documents
    ), s AS (
        SELECT doc_id,
               greatest(len(tk) - 2, 0) AS n_ngrams,
               len(list_distinct(list_transform(
                   range(1, greatest(len(tk) - 2, 0) + 1),
                   i -> array_to_string(tk[i:i+2], ' ')))) AS n_distinct
        FROM t
    )
    SELECT doc_id, CAST(n_ngrams AS INTEGER) AS n_ngrams,
           CAST(n_distinct AS INTEGER) AS n_distinct,
           CASE WHEN n_ngrams = 0 THEN 1.0
                ELSE ROUND(n_distinct * 1.0 / n_ngrams, 4) END AS rep_ratio,
           (n_ngrams = 0 OR n_distinct * 1.0 / n_ngrams >= 0.8)
               AS ok_repetition
    FROM s
    """,
)
def quality_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality rule (the Gopher/C4 duplicate-n-gram
    family): fraction of a document's word 3-grams that are
    distinct; heavily repeated content scores low and fails
    ``ok_repetition`` (< 0.8 distinct). Scan-local column algebra —
    the shingle set is built per row and never leaves the task.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    n_ngrams = F.greatest(F.size(toks) - 2, F.lit(0))
    n_distinct = F.size(text.word_ngrams(F.col("text"), 3))
    ratio = F.when(n_ngrams == 0, F.lit(1.0)).otherwise(
        F.round(n_distinct * F.lit(1.0) / n_ngrams, 4))
    ok = (n_ngrams == 0) | (n_distinct * F.lit(1.0) / n_ngrams >= 0.8)
    return docs.select(
        "doc_id",
        n_ngrams.cast("integer").alias("n_ngrams"),
        n_distinct.cast("integer").alias("n_distinct"),
        ratio.alias("rep_ratio"),
        ok.alias("ok_repetition"))


@register(
    "quality_char_entropy",
    oracle="""
    WITH ch AS (
        SELECT doc_id, substr(text, CAST(i AS INTEGER), 1) AS ch
        FROM (SELECT doc_id, text,
                     unnest(range(1, length(text) + 1)) AS i
              FROM documents)
    ), c AS (
        SELECT doc_id, ch, COUNT(*) AS cnt FROM ch GROUP BY 1, 2
    ), n AS (
        SELECT doc_id, SUM(cnt) AS n_chars FROM c GROUP BY 1
    ), t AS (
        SELECT c.doc_id, n.n_chars,
               ROUND((c.cnt * 1.0 / n.n_chars)
                     * ln(c.cnt * 1.0 / n.n_chars), 6) AS term
        FROM c JOIN n ON c.doc_id = n.doc_id
    )
    SELECT doc_id,
           CAST(MIN(n_chars) AS BIGINT) AS n_chars,
           CAST(COUNT(*) AS INTEGER) AS n_distinct,
           -CAST(SUM(CAST(term AS DECIMAL(18, 6))) AS DOUBLE)
               AS entropy_nats
    FROM t GROUP BY doc_id
    """,
)
def quality_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document — the
    quality ladder's cheapest garbage detector: machine-generated
    filler, base64 blobs, and key-mash runs sit at entropy extremes
    (near-zero for single-char repetition, near-uniform-max for
    random bytes), while natural language clusters in a narrow
    band. Output per doc: char count, alphabet size, entropy in
    nats (the exact 6-decimal sum, NOT re-rounded: a final
    ROUND(x, 4) sat on a half-up boundary at sf0.01 and flipped
    between engines — the decimal sum itself converts to an
    identical double on both sides).

    Shape at scale: one char explode (|corpus chars| rows, 1-char
    payload) into a (doc, char)-keyed count — map-side partial agg
    bounds each task's contribution by docs x alphabet, so the
    exchange carries alphabet-sized groups, not character streams —
    then a doc-keyed rollup. Float determinism: each p*ln(p) term
    is rounded at 1e-6 THEN summed as DECIMAL (the unigram-NLL fix
    pattern), so partial-agg order can't move the score; empty
    documents have no char rows and drop out identically in both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    # codepoint-true char extraction via substr over a sequence —
    # NOT F.split(text, ""), which walks Java UTF-16 code units
    # and splits non-BMP characters into surrogate halves the
    # oracle's codepoint substr never produces (r8 review finding;
    # latent on the ASCII sf corpora, wrong on real text). The
    # per-doc transform also keeps the explode payload at one char
    # per row instead of carrying the document.
    n = F.length("text")
    chars = F.when(n >= 1, F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.substr(F.col("text"), i, F.lit(1)))
    ).otherwise(F.array().cast("array<string>"))
    ch = docs.select("doc_id", F.explode(chars).alias("ch"))
    c = ch.groupBy("doc_id", "ch").agg(F.count("*").alias("cnt"))
    n = c.groupBy("doc_id").agg(F.sum("cnt").alias("n_chars"))
    p = F.col("cnt") * F.lit(1.0) / F.col("n_chars")
    t = (c.join(n, "doc_id")
         .select("doc_id", "n_chars",
                 F.round(p * F.log(p), 6).alias("term")))
    return (t.groupBy("doc_id")
            .agg(F.min("n_chars").cast("long").alias("n_chars"),
                 F.count("*").cast("integer").alias("n_distinct"),
                 (-F.sum(F.col("term").cast("decimal(18,6)")))
                 .cast("double").alias("entropy_nats")))


@register(
    "pipeline_curation_end2end",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source, text, {_TOKS} AS tk FROM documents
    ), gated AS (
        SELECT doc_id, source, text, len(tk) AS n_tokens
        FROM t
        WHERE len(tk) BETWEEN 50 AND 100000
          AND len(list_filter(tk, x -> x IN {_STOPS})) >= 1
          AND (greatest(len(tk) - 2, 0) = 0 OR
               len(list_distinct(list_transform(
                   range(1, greatest(len(tk) - 2, 0) + 1),
                   i -> array_to_string(tk[i:i+2], ' ')))) * 1.0
               / greatest(len(tk) - 2, 0) >= 0.8)
    ), kept AS (
        SELECT doc_id, source, n_tokens FROM (
            SELECT g.doc_id, g.source, g.n_tokens,
                   MIN(g.doc_id) OVER (PARTITION BY md5(g.text)) AS mn
            FROM gated g)
        WHERE doc_id = mn
    ), thr AS (
        SELECT source,
               CASE WHEN n = MIN(n) OVER () THEN 'g'
                    ELSE printf('%08x',
                         CAST(floor((MIN(n) OVER () * 1.0 / n)
                                    * 4294967296.0) AS BIGINT)) END AS h
        FROM (SELECT source, COUNT(*) AS n FROM kept GROUP BY source)
    ), balanced AS (
        SELECT k.doc_id, k.source, k.n_tokens
        FROM kept k JOIN thr ON k.source = thr.source
        WHERE substring(md5('mixp42:' || k.doc_id), 1, 8) < thr.h
    ), agg AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
        FROM balanced GROUP BY source
    )
    SELECT source, n_docs, total_tokens,
           ROUND(n_docs * 1.0 / SUM(n_docs) OVER (), 4) AS share
    FROM agg
    """,
)
def pipeline_curation_end2end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation stages COMPOSED, as one declarative plan:
    quality gate (Gopher length/stopword rules + repetition ratio)
    -> exact-dedup canonicalization (min doc_id per content digest)
    -> mixture balancing (data-dependent per-source hash thresholds)
    -> per-source corpus summary with mixture shares.

    This is the shape a production corpus refresh actually runs.
    Plan discipline matters more than anywhere else here, because
    naive composition REPLICATES shared subtrees: the first draft of
    this query (dedup via groupBy + join-back, scalar min/total via
    crossJoin of re-aggregations) expanded to 24 parquet scans of
    the same table. The committed shape holds the structural
    minimum - TWO passes over the documents scan (data-dependent
    thresholds force one counting pass before the filtering pass)
    - by (a) deduplicating with a min-over-digest WINDOW instead of
    a join-back, (b) folding the min-count and the share
    denominator into single-partition windows over already-tiny
    aggregates (bounded by source cardinality) instead of
    re-aggregated scalar joins. One corpus-wide shuffle (the digest
    window); thresholds ride a broadcast.

    Engine-exact by the usual means: integer counts, md5-hex
    thresholds, int-ratio doubles - every stage decision is
    bit-reproducible in the SQL mirror.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = text.tokens(F.col("text"))
    n_tokens = F.size(toks)
    n_ngrams = F.greatest(n_tokens - 2, F.lit(0))
    n_distinct = F.size(text.word_ngrams(F.col("text"), 3))
    gate = (n_tokens.between(50, 100000)
            & (text.stopword_count(F.col("text")) >= 1)
            & ((n_ngrams == 0)
               | (n_distinct * F.lit(1.0) / n_ngrams >= 0.8)))
    gated = docs.filter(gate).select(
        "doc_id", "source", "text", n_tokens.alias("n_tokens"))
    w_dig = Window.partitionBy(F.md5(F.col("text")))
    kept = (gated
            .withColumn("__mn", F.min("doc_id").over(w_dig))
            .filter(F.col("doc_id") == F.col("__mn"))
            .select("doc_id", "source", "n_tokens"))
    cnt = kept.groupBy("source").agg(F.count("*").alias("n"))
    w_all = Window.partitionBy()
    m = F.min("n").over(w_all)
    thr = cnt.select(
        "source",
        F.when(F.col("n") == m, F.lit("g")).otherwise(
            F.format_string(
                "%08x",
                F.floor((m * F.lit(1.0) / F.col("n"))
                        * F.lit(4294967296.0)).cast("long"))).alias("h"))
    hashed = F.substring(
        F.md5(F.concat_ws(":", F.lit("mixp42"),
                          F.col("doc_id").cast("string"))), 1, 8)
    balanced = (kept.join(F.broadcast(thr), "source")
                .filter(hashed < F.col("h")))
    agg = balanced.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"))
    return agg.select(
        "source", "n_docs", "total_tokens",
        F.round(F.col("n_docs") * F.lit(1.0)
                / F.sum("n_docs").over(w_all), 4).alias("share"))


# -- lexical diversity (TTR + Yule's K) -------------------------------

@register(
    "quality_lexical_diversity",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, unnest({_TOKS}) AS tok FROM documents
    ), f AS (
        SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
        FROM t GROUP BY 1, 2
    ), s AS (
        SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
               CAST(COUNT(*) AS BIGINT) AS v,
               CAST(SUM(c * c) AS BIGINT) AS s2
        FROM f GROUP BY 1
    )
    SELECT doc_id, n AS n_tokens, v AS n_types,
           ROUND(v * 1.0 / n, 6) AS ttr,
           ROUND(10000.0 * (s2 - n) / (n * n), 6) AS yule_k
    FROM s
    """,
)
def quality_lexical_diversity(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Lexical-diversity scoring per document: type-token ratio and
    Yule's K = 10^4 · (Σ_m m²·V_m − N) / N² — the classic
    repetitiveness characteristic (low K = diverse vocabulary, high
    K = repetitive), a standard corpus-quality signal alongside the
    Gopher rules and the repetition-ratio row. The identity
    Σ_m m²·V_m = Σ_tokens freq(token)² lets BOTH statistics read
    off one (doc, token)-frequency frame: N = Σc, V = count, S2 =
    Σc² — ALL integer sufficient statistics (the OLS/z-test
    discipline), so the only float ops are the two final divisions,
    each a single identically-ordered IEEE expression rounded at
    1e-6.

    Shape at scale: the token explode partial-aggregates onto
    (doc, token) map-side (vocabulary-per-doc absorbs the corpus
    fan-out before the exchange — the char-entropy plan shape), and
    the per-doc rollup reuses the doc key. No window, no join.
    """
    docs = load_table(spark, sf_dir, "documents")
    f = (docs.select("doc_id",
                     F.explode(text.tokens("text")).alias("tok"))
         .groupBy("doc_id", "tok").agg(F.count("*").alias("c")))
    s = f.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n"),
        F.count("*").cast("long").alias("v"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"))
    return s.select(
        "doc_id", F.col("n").alias("n_tokens"),
        F.col("v").alias("n_types"),
        F.round(F.col("v") * F.lit(1.0) / F.col("n"), 6)
        .alias("ttr"),
        F.round(F.lit(10000.0) * (F.col("s2") - F.col("n"))
                / (F.col("n") * F.col("n")), 6).alias("yule_k"))


# -- PMI bigram collocations ------------------------------------------

_PMI_MIN_COUNT = 3
_PMI_TOP_K = 50


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS tk FROM documents
    ), uni AS (
        SELECT unnest(tk) AS tok FROM toks
    ), ucnt AS (
        SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY 1
    ), n_tot AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n FROM uni
    ), bi AS (
        SELECT unnest(list_transform(
                   range(1, greatest(len(tk) - 1, 0) + 1),
                   i -> array_to_string(tk[i:i+1], ' '))) AS bigram
        FROM toks
    ), bcnt AS (
        SELECT bigram, CAST(COUNT(*) AS BIGINT) AS c_xy
        FROM bi GROUP BY 1
        HAVING COUNT(*) >= {_PMI_MIN_COUNT}
    ), scored AS (
        SELECT bigram, c_xy, a.c AS c_x, b.c AS c_y,
               ROUND(c_xy * n * 1.0 / (a.c * b.c), 6) AS pmi_ratio
        FROM bcnt
        JOIN ucnt a ON a.tok = split_part(bigram, ' ', 1)
        JOIN ucnt b ON b.tok = split_part(bigram, ' ', 2)
        CROSS JOIN n_tot
    )
    SELECT bigram, c_xy, c_x, c_y, pmi_ratio
    FROM scored ORDER BY pmi_ratio DESC, bigram LIMIT {_PMI_TOP_K}
    """,
)
def text_pmi_collocations(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information: the top
    bigrams whose corpus-wide co-occurrence beats the independence
    expectation — ranked by the PMI RATIO p(xy)/(p(x)p(y)) =
    c_xy·N / (c_x·c_y) rather than its logarithm, because ln() is
    NOT cross-engine-stable (the tfidf row's hard-learned lesson)
    while log is monotone, so the ratio ranks identically and the
    score itself stays ONE identically-ordered IEEE division over
    exact integers, rounded at 1e-6. A min-count floor
    ({_PMI_MIN_COUNT}) is the standard guard against PMI's
    rare-pair bias; ties break on the bigram text (unique per row),
    so the top-{_PMI_TOP_K} cut is fully deterministic.

    Shape at scale: bigram occurrences come from ONE zip of two
    shifted token-array views (scan-local, no per-element
    re-tokenization — the word_ngrams lesson) and partial-aggregate
    onto the bigram key; unigram counts are a vocabulary-scale
    frame joined BROADCAST on each bigram's two words; the final
    rank is a TakeOrderedAndProject (per-partition top-k heaps),
    never a global sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    tk = text.tokens("text")
    m = F.greatest(F.size(tk) - 1, F.lit(0))
    # NON-distinct adjacent pairs (word_ngrams dedups per doc —
    # PMI needs raw occurrence counts)
    bigrams = F.zip_with(F.slice(tk, 1, m), F.slice(tk, 2, m),
                         lambda a, b: F.concat_ws(" ", a, b))
    uni = (docs.select(F.explode(tk).alias("tok"))
           .localCheckpoint(eager=False))
    ucnt = uni.groupBy("tok").agg(F.count("*").cast("long").alias("c"))
    n_tot = uni.agg(F.count("*").cast("long").alias("n"))
    bcnt = (docs.select(F.explode(bigrams).alias("bigram"))
            .groupBy("bigram")
            .agg(F.count("*").cast("long").alias("c_xy"))
            .filter(F.col("c_xy") >= _PMI_MIN_COUNT))
    a = ucnt.select(F.col("tok").alias("w1"), F.col("c").alias("c_x"))
    b = ucnt.select(F.col("tok").alias("w2"), F.col("c").alias("c_y"))
    scored = (bcnt
              .withColumn("w1", F.split_part(F.col("bigram"),
                                             F.lit(" "), F.lit(1)))
              .withColumn("w2", F.split_part(F.col("bigram"),
                                             F.lit(" "), F.lit(2)))
              .join(F.broadcast(a), "w1")
              .join(F.broadcast(b), "w2")
              .crossJoin(F.broadcast(n_tot))
              .select("bigram", "c_xy", "c_x", "c_y",
                      F.round(F.col("c_xy") * F.col("n") * F.lit(1.0)
                              / (F.col("c_x") * F.col("c_y")), 6)
                      .alias("pmi_ratio")))
    return (scored.orderBy(F.desc("pmi_ratio"), "bigram")
            .limit(_PMI_TOP_K))


@register(
    "mixture_share_drift",
    oracle="""
    WITH mx AS (
        SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS m FROM documents
    ), b AS (
        SELECT source, CAST(doc_id * 10 // mx.m AS BIGINT) AS batch
        FROM documents CROSS JOIN mx
    ), counts AS (
        SELECT batch, source, CAST(COUNT(*) AS BIGINT) AS n
        FROM b GROUP BY 1, 2
    ), tot AS (
        SELECT batch, CAST(SUM(n) AS BIGINT) AS t
        FROM counts GROUP BY 1
    ), shares AS (
        SELECT c.batch, c.source, c.n,
               CAST(c.n * 10000 // t.t AS BIGINT) AS share_bp
        FROM counts c JOIN tot t ON c.batch = t.batch
    )
    SELECT batch, source, n, share_bp,
           share_bp - LAG(share_bp) OVER (
               PARTITION BY source ORDER BY batch) AS drift_bp
    FROM shares
    """,
)
def mixture_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-order mixture-drift monitor: the corpus split into
    ten equal doc_id bands (doc_id IS ingestion order in this
    dataset), each source's share of every band in integer basis
    points, and the band-over-band share delta per source — the
    alarm every large-scale data pipeline hangs on its intake (a
    crawler source silently dying or flooding shows up as drift
    long before model metrics move). Completes the mixture axis:
    ``mixture_resample_balanced`` FIXES a mixture,
    ``mixture_temperature_sampling`` RESHAPES one, this one
    WATCHES one.

    Cross-engine determinism: band assignment and shares are BIGINT
    floor arithmetic (never percentile or float division); the LAG
    runs over (source, batch), a total order; first-band drift is
    NULL in both engines.

    Shape at scale: one documents scan (doc_id + source only —
    column pruning leaves text unread) -> partial-agged (band,
    source) counts (100s of rows however big the corpus) -> the
    totals join and LAG run on that tiny frame. The 1-row max
    broadcasts into the scan projection."""
    docs = load_table(spark, sf_dir, "documents")
    mx = docs.agg((F.max("doc_id") + 1).cast("long").alias("m"))
    counts = (docs.crossJoin(F.broadcast(mx))
              .select("source",
                      F.expr("CAST(doc_id * 10 DIV m AS BIGINT)")
                      .alias("batch"))
              .groupBy("batch", "source")
              .agg(F.count("*").cast("long").alias("n")))
    tot = counts.groupBy("batch").agg(
        F.sum("n").cast("long").alias("t"))
    shares = (counts.join(tot, "batch")
              .select("batch", "source", "n",
                      F.expr("CAST(n * 10000 DIV t AS BIGINT)")
                      .alias("share_bp")))
    w = Window.partitionBy("source").orderBy("batch")
    return shares.select(
        "batch", "source", "n", "share_bp",
        (F.col("share_bp") - F.lag("share_bp").over(w))
        .alias("drift_bp"))
