"""Corpus indexing & reference-membership surface (r5).

Three operations a large-scale training-data pipeline runs that the
earlier curation/hygiene modules don't cover:

- ``dedup_bloom_reference`` — membership of a stream/corpus against
  a FIXED-SIZE Bloom filter built from a reference corpus: the
  standard "have we already trained on this?" gate. The filter is
  O(m) bits regardless of reference size, so at 100 TB it still
  broadcasts.
- ``text_inverted_index`` — term -> document-frequency + sorted
  posting list, the retrieval-side building block (and the exact
  shape BM25 / sparse retrieval sits on).
- ``quality_bigram_logprob`` — mean bigram conditional NLL under
  the corpus's own bigram LM; one step up the perplexity-filter
  ladder from ``quality_unigram_logprob`` (CCNet uses a full KenLM
  for the same role).

Float/hash determinism follows the repo conventions: md5 is the
cross-engine hash (Spark ``F.md5`` == DuckDB ``md5``), per-element
logs are rounded at 1e-6 and summed as DECIMAL so partial-agg order
can't move a score, and posting lists are sorted with explicit
tie-breaks.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from galaxy_spark.operators import pq, similarity, text
from galaxy_spark.registry import register
from galaxy_spark.tables import load_table

_TOKS = r"regexp_split_to_array(trim(text), '\s+')"

# Bloom geometry: m = 16^4 = 65536 positions (one 4-hex-char slice
# of an md5 per hash), k = 7 independent hashes via seed prefixes.
# At reference size n the false-positive rate is the textbook
# (1 - e^{-kn/m})^k; the REPORT is algorithm-mirroring, so both
# engines flag the identical doc set including any false positives.
_BLOOM_K = 7
_BLOOM_REF_SOURCES = ("src0", "src1", "src2", "src3", "src4")


def _bloom_positions(col, k: int = _BLOOM_K):
    """k Bloom positions of a text column: 4-hex-char slices of
    seed-prefixed md5 digests — identical strings in both engines,
    no hex->int conversion needed (the position universe is the
    65536 4-char strings)."""
    return F.array(*[
        F.substring(F.md5(F.concat_ws(":", F.lit(f"bloom{i}"), col)), 1, 4)
        for i in range(k)
    ])


def _bloom_positions_sql(col: str, k: int = _BLOOM_K) -> str:
    return ("[" + ", ".join(
        f"substring(md5(concat('bloom{i}', ':', {col})), 1, 4)"
        for i in range(k)) + "]")


_REF_PRED = "source IN ('" + "','".join(_BLOOM_REF_SOURCES) + "')"


@register(
    "dedup_bloom_reference",
    oracle=f"""
    WITH ref_bits AS (
        SELECT DISTINCT unnest({_bloom_positions_sql('text')}) AS pos
        FROM documents WHERE {_REF_PRED}
    ), probe AS (
        SELECT doc_id, unnest({_bloom_positions_sql('text')}) AS pos
        FROM documents
    )
    SELECT p.doc_id,
           (COUNT(r.pos) = {_BLOOM_K}) AS bloom_hit
    FROM probe p LEFT JOIN ref_bits r ON p.pos = r.pos
    GROUP BY p.doc_id
    """,
)
def dedup_bloom_reference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership gate against a reference corpus:
    probe documents are flagged when ALL k hash positions of their
    text are set by some reference document.

    Why this tier exists next to exact/minhash dedup: the filter is
    a FIXED 65536-position set (8 KiB as a bitmap) no matter how
    large the reference corpus grows — at 100 TB the exact-dedup
    digest join shuffles the corpus, while the Bloom gate broadcasts
    the filter and runs scan-local except for one tiny doc-keyed
    partial agg. False positives are the documented price (rate
    (1-e^{{-kn/m}})^k, tunable via m); a hit therefore routes to a
    verify tier, exactly like the LSH near-dup candidates.

    Plan: reference side aggregates to <= m distinct position
    strings (broadcast); probe side explodes its k=7 positions,
    broadcast-left-joins the bit set, and folds hit = (matched
    count == k) per doc — the partial agg absorbs the 7x explode
    map-side, so the exchange carries one row per probe doc. The
    probe runs over ALL documents (reference docs self-hit by
    construction), so both the hit and miss branches are verified
    at every scale.
    """
    docs = load_table(spark, sf_dir, "documents")
    is_ref = F.col("source").isin(*_BLOOM_REF_SOURCES)
    ref_bits = (docs.filter(is_ref)
                .select(F.explode(_bloom_positions(F.col("text"))).alias("pos"))
                .distinct())
    probe = docs.select(
        "doc_id", F.explode(_bloom_positions(F.col("text"))).alias("pos"))
    return (
        probe.join(F.broadcast(ref_bits.withColumn("hit", F.lit(1))),
                   "pos", "left")
        .groupBy("doc_id")
        .agg((F.count("hit") == _BLOOM_K).alias("bloom_hit"))
    )


@register(
    "text_inverted_index",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT doc_id, unnest({_TOKS}) AS term FROM documents
    ), agg AS (
        SELECT term, COUNT(*) AS df,
               LIST(doc_id ORDER BY doc_id) AS all_postings
        FROM pairs GROUP BY term
    )
    SELECT term, df, all_postings[1:100] AS postings
    FROM agg WHERE df >= 5
    """,
)
def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index: term -> document frequency + sorted posting
    list (first 100 doc ids), for terms appearing in >= 5 docs.

    Shape at scale: one explode + distinct-pair reduce + one
    term-keyed agg — the same single-shuffle skeleton as TF-IDF.
    The 100-id posting cap bounds the row size for stop-word-class
    terms (at 100 TB "the" would otherwise carry billions of ids);
    a production index shards hot terms into (term, bucket) rows —
    same plan, one more key column. The cap is the SORTED PREFIX,
    so it stays deterministic and mirrors DuckDB's list slice
    exactly.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = (docs.select("doc_id",
                         F.explode(text.tokens(F.col("text"))).alias("term"))
             .distinct())
    return (
        pairs.groupBy("term")
        .agg(F.count("*").alias("df"),
             F.slice(F.sort_array(F.collect_list("doc_id")), 1, 100)
             .alias("postings"))
        .filter(F.col("df") >= 5)
        .select("term", "df", "postings")
    )


@register(
    "quality_bigram_logprob",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS tk FROM documents
    ), bigrams AS (
        SELECT doc_id,
               unnest(list_transform(range(1, greatest(len(tk) - 1, 0) + 1),
                                     i -> tk[i] || ' ' || tk[i+1])) AS bg
        FROM toks
    ), split AS (
        SELECT doc_id, bg, string_split(bg, ' ')[1] AS w1 FROM bigrams
    ), bg_freq AS (
        SELECT bg, COUNT(*) AS c12 FROM split GROUP BY bg
    ), prefix_freq AS (
        SELECT w1, COUNT(*) AS c1 FROM split GROUP BY w1
    ), scored AS (
        SELECT s.doc_id,
               ROUND(ln(f.c12 * 1.0 / p.c1), 6) AS lp
        FROM split s
        JOIN bg_freq f ON s.bg = f.bg
        JOIN prefix_freq p ON s.w1 = p.w1
    )
    SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_bigrams,
           ROUND(-CAST(SUM(CAST(lp AS DECIMAL(18, 6))) AS DOUBLE)
                 / COUNT(*), 4) AS bigram_nll
    FROM scored GROUP BY doc_id
    """,
)
def quality_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM corpus quality: mean -ln p(w2|w1) of a document's
    bigrams under the corpus's own MLE bigram model (p = c(w1 w2) /
    c(w1-as-prefix)). One rung above ``quality_unigram_logprob`` on
    the perplexity-filter ladder: it additionally penalizes
    plausible-words-in-implausible-order (shuffled/templated spam
    that unigram NLL scores as normal).

    Shape at scale: bigram explode -> one bigram-keyed agg + one
    prefix-keyed agg (both vocabulary-sized outputs), then scoring
    re-joins on those keys and folds per-doc. Same determinism
    pattern as the unigram query: per-bigram log rounded at 1e-6,
    summed as DECIMAL — partition order can't move the score.
    """
    docs = load_table(spark, sf_dir, "documents")
    tk = text.tokens(F.col("text"))
    m = F.greatest(F.size(tk) - 1, F.lit(0))
    bigrams = F.zip_with(F.slice(tk, 1, m), F.slice(tk, 2, m),
                         lambda a, b: F.concat_ws(" ", a, b))
    # the bigram frame feeds three subtrees (both LM aggs + the
    # scoring join) — checkpoint it so the corpus scan + bigram
    # explode run once instead of three times
    split = (docs.select("doc_id", F.explode(bigrams).alias("bg"))
             .withColumn("w1", F.split(F.col("bg"), " ").getItem(0))
             .localCheckpoint(eager=False))
    bg_freq = split.groupBy("bg").agg(F.count("*").alias("c12"))
    prefix_freq = (split.groupBy(F.col("w1").alias("pw1"))
                   .agg(F.count("*").alias("c1")))
    lp = F.round(F.log(F.col("c12") * F.lit(1.0) / F.col("c1")), 6)
    return (
        split.join(bg_freq, "bg")
        .join(prefix_freq, split.w1 == F.col("pw1"))
        .select("doc_id", lp.alias("lp"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("int").alias("n_bigrams"),
             F.round(-F.sum(F.col("lp").cast("decimal(18,6)")).cast("double")
                     / F.count("*"), 4).alias("bigram_nll"))
    )


@register(
    "quality_trigram_backoff",
    oracle=f"""
    WITH docs AS (
        SELECT doc_id, source, {_TOKS} AS tk FROM documents
    ), parts AS (
        SELECT doc_id, tg,
               string_split(tg, ' ')[1] AS w1,
               string_split(tg, ' ')[2] AS w2,
               string_split(tg, ' ')[3] AS w3
        FROM (
            SELECT doc_id, unnest(list_transform(
                range(1, greatest(len(tk) - 2, 0) + 1),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                AS tg
            FROM docs)
    ), ref_tri AS (
        SELECT tg, COUNT(*) AS c123 FROM (
            SELECT unnest(list_transform(
                range(1, greatest(len(tk) - 2, 0) + 1),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                AS tg
            FROM docs WHERE {_REF_PRED}) GROUP BY tg
    ), ref_bi AS (
        SELECT bg, COUNT(*) AS cb FROM (
            SELECT unnest(list_transform(
                range(1, greatest(len(tk) - 1, 0) + 1),
                i -> tk[i] || ' ' || tk[i+1])) AS bg
            FROM docs WHERE {_REF_PRED}) GROUP BY bg
    ), ref_uni AS (
        SELECT w, COUNT(*) AS cu FROM (
            SELECT unnest(tk) AS w FROM docs WHERE {_REF_PRED})
        GROUP BY w
    ), refn AS (
        SELECT CAST(SUM(len(tk)) AS BIGINT) AS n
        FROM docs WHERE {_REF_PRED}
    ), scored AS (
        SELECT p.doc_id,
               CASE WHEN t.c123 IS NOT NULL THEN 0
                    WHEN b23.cb IS NOT NULL THEN 1
                    ELSE 2 END AS tier,
               ROUND(CASE
                   WHEN t.c123 IS NOT NULL
                       THEN ln(t.c123 * 1.0 / b12.cb)
                   WHEN b23.cb IS NOT NULL
                       THEN ln(CAST(0.4 AS DOUBLE) * b23.cb / u2.cu)
                   ELSE ln(CAST(0.16 AS DOUBLE)
                           * COALESCE(u3.cu, 0.5) / refn.n)
               END, 6) AS lp
        FROM parts p
        LEFT JOIN ref_tri t ON p.tg = t.tg
        LEFT JOIN ref_bi b12 ON (p.w1 || ' ' || p.w2) = b12.bg
        LEFT JOIN ref_bi b23 ON (p.w2 || ' ' || p.w3) = b23.bg
        LEFT JOIN ref_uni u2 ON p.w2 = u2.w
        LEFT JOIN ref_uni u3 ON p.w3 = u3.w
        CROSS JOIN refn
    )
    SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS n_trigrams,
           CAST(SUM(CASE WHEN tier = 0 THEN 1 ELSE 0 END)
                AS INTEGER) AS n_exact,
           CAST(SUM(CASE WHEN tier = 1 THEN 1 ELSE 0 END)
                AS INTEGER) AS n_backoff_bi,
           CAST(SUM(CASE WHEN tier = 2 THEN 1 ELSE 0 END)
                AS INTEGER) AS n_backoff_uni,
           ROUND(-CAST(SUM(CAST(lp AS DECIMAL(18, 6))) AS DOUBLE)
                 / COUNT(*), 4) AS trigram_nll
    FROM scored GROUP BY doc_id
    """,
)
def quality_trigram_backoff(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """Trigram LM with STUPID BACKOFF (Brants et al. 2007, "Large
    Language Models in Machine Translation" — the smoothing
    designed FOR distributed count-based LMs: no normalization
    pass, just S(w3|w1w2) = c123/c12, backing off to 0.4*c23/c2,
    then 0.16*c3/N with a half-count OOV floor), scored HELD-OUT:
    the LM counts come from the reference sources (src0-4, the
    Bloom reference split) and every document is scored against
    them — so unlike the self-scored unigram/bigram rungs the
    backoff tiers genuinely fire (75% of the corpus is out of the
    reference), and the per-doc tier mix (n_exact/n_backoff_*) is
    itself the curation signal: high backoff share = text unlike
    the reference.

    Shape at scale: three vocabulary-sized count tables (trigram /
    bigram / unigram) from ONE reference pass each, then the
    scoring side re-joins on those keys — trigram-keyed shuffle
    joins with partial-agg fold per doc; the count tables are the
    only state and they're corpus-size-INDEPENDENT (vocab-scale).
    Determinism: the repo's LM pattern — per-trigram ln rounded at
    1e-6 with identically-ordered IEEE arguments, summed as
    DECIMAL.
    """
    docs = load_table(spark, sf_dir, "documents")
    tk = text.tokens(F.col("text"))
    is_ref = F.col("source").isin(*_BLOOM_REF_SOURCES)

    def grams(n_wide: int):
        m = F.greatest(F.size(tk) - (n_wide - 1), F.lit(0))
        g = F.slice(tk, 1, m)
        for i in range(2, n_wide + 1):
            g = F.zip_with(g, F.slice(tk, i, m),
                           lambda a, b: F.concat_ws(" ", a, b))
        return g

    # NOT checkpointed: `parts` has exactly one consumer (the
    # scoring join chain), so a checkpoint would buy no rescan
    # while forcing a corpus-scale materialization of the exploded
    # trigram frame — reserve checkpoints for multiply-consumed
    # frames (the bigram query's split, bm25's dl)
    # r14: the trigram COMPONENTS come from an arrays_zip of the
    # three token slices instead of re-splitting the joined
    # trigram string per exploded row (three regex splits x
    # |corpus trigrams| saved), and the reference token total
    # folds off the vocab-scale unigram table instead of a fifth
    # corpus scan+tokenize (Σ cu == Σ |tokens| exactly).
    # Interleaved A/B at sf0.1: 2.63 -> 2.13 s median.
    m3 = F.greatest(F.size(tk) - 2, F.lit(0))
    z = F.arrays_zip(F.slice(tk, 1, m3).alias("w1"),
                     F.slice(tk, 2, m3).alias("w2"),
                     F.slice(tk, 3, m3).alias("w3"))
    parts = (docs.select("doc_id", F.explode(z).alias("t"))
             .select("doc_id",
                     F.col("t.w1").alias("w1"),
                     F.col("t.w2").alias("w2"),
                     F.col("t.w3").alias("w3"))
             .withColumn("tg", F.concat_ws(" ", "w1", "w2", "w3")))
    ref = docs.filter(is_ref)
    ref_tri = (ref.select(F.explode(grams(3)).alias("rtg"))
               .groupBy("rtg").agg(F.count("*").alias("c123")))
    ref_bi = (ref.select(F.explode(grams(2)).alias("bg"))
              .groupBy("bg").agg(F.count("*").alias("cb")))
    ref_uni = (ref.select(F.explode(tk).alias("w"))
               .groupBy("w").agg(F.count("*").alias("cu")))
    refn = ref_uni.agg(F.sum("cu").cast("long").alias("n"))

    b12 = ref_bi.select(F.col("bg").alias("bg12"),
                        F.col("cb").alias("c12"))
    b23 = ref_bi.select(F.col("bg").alias("bg23"),
                        F.col("cb").alias("c23"))
    u2 = ref_uni.select(F.col("w").alias("uw2"),
                        F.col("cu").alias("c2"))
    u3 = ref_uni.select(F.col("w").alias("uw3"),
                        F.col("cu").alias("c3"))
    j = (parts
         .join(ref_tri, parts.tg == F.col("rtg"), "left")
         .join(b12, F.concat_ws(" ", "w1", "w2") == F.col("bg12"),
               "left")
         .join(b23, F.concat_ws(" ", "w2", "w3") == F.col("bg23"),
               "left")
         .join(u2, parts.w2 == F.col("uw2"), "left")
         .join(u3, parts.w3 == F.col("uw3"), "left")
         .crossJoin(F.broadcast(refn)))
    tier = (F.when(F.col("c123").isNotNull(), 0)
            .when(F.col("c23").isNotNull(), 1).otherwise(2))
    lp = F.round(
        F.when(F.col("c123").isNotNull(),
               F.log(F.col("c123") * F.lit(1.0) / F.col("c12")))
        .when(F.col("c23").isNotNull(),
              F.log(F.lit(0.4) * F.col("c23") / F.col("c2")))
        .otherwise(F.log(F.lit(0.16)
                         * F.coalesce(F.col("c3"), F.lit(0.5))
                         / F.col("n"))), 6)
    return (j.select("doc_id", tier.alias("tier"), lp.alias("lp"))
            .groupBy("doc_id")
            .agg(F.count("*").cast("int").alias("n_trigrams"),
                 F.sum(F.when(F.col("tier") == 0, 1).otherwise(0))
                 .cast("int").alias("n_exact"),
                 F.sum(F.when(F.col("tier") == 1, 1).otherwise(0))
                 .cast("int").alias("n_backoff_bi"),
                 F.sum(F.when(F.col("tier") == 2, 1).otherwise(0))
                 .cast("int").alias("n_backoff_uni"),
                 F.round(-F.sum(F.col("lp").cast("decimal(18,6)"))
                         .cast("double") / F.count("*"), 4)
                 .alias("trigram_nll")))


_PQ_SUB, _PQ_DIM, _PQ_K = 16, 4, 64
_PQ_SUBS_SQL = "[" + ", ".join(str(i) for i in range(_PQ_SUB)) + "]"

_PQ_SQ_L2 = ("(CAST({v}[s.s*4+i] AS DOUBLE) - CAST({c}[s.s*4+i] AS DOUBLE))"
             " * "
             "(CAST({v}[s.s*4+i] AS DOUBLE) - CAST({c}[s.s*4+i] AS DOUBLE))")

_PQ_DOT = "CAST({v}[s.s*4+i] AS DOUBLE) * CAST({c}[s.s*4+i] AS DOUBLE)"


@register(
    "similarity_pq_topk",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cent_id, embedding AS cent_vec
        FROM embeddings
        ORDER BY md5(concat('pq:', CAST(vec_id AS VARCHAR))), vec_id
        LIMIT {_PQ_K}
    ), subs AS (
        SELECT unnest({_PQ_SUBS_SQL}) AS s
    ), codes AS (
        SELECT vec_id, s, cent_id AS code FROM (
            SELECT c.vec_id, s.s, ct.cent_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY c.vec_id, s.s
                       ORDER BY list_sum(list_transform(range(1, {_PQ_DIM + 1}), i ->
                           {_PQ_SQ_L2.format(v='c.embedding',
                                             c='ct.cent_vec')})),
                                ct.cent_id) AS r
            FROM embeddings c CROSS JOIN subs s CROSS JOIN cent ct
        ) WHERE r = 1
    ), lut AS (
        SELECT q.vec_id AS q_id, s.s, ct.cent_id,
               ROUND(list_sum(list_transform(range(1, {_PQ_DIM + 1}), i ->
                   {_PQ_DOT.format(v='q.embedding', c='ct.cent_vec')})), 6)
                   AS d
        FROM embeddings q CROSS JOIN subs s CROSS JOIN cent ct
        WHERE q.vec_id < 10
    ), scored AS (
        SELECT l.q_id, c.vec_id AS neighbor_id,
               SUM(CAST(l.d AS DECIMAL(18,6))) AS adc
        FROM codes c JOIN lut l ON l.s = c.s AND l.cent_id = c.code
        WHERE c.vec_id != l.q_id
        GROUP BY l.q_id, c.vec_id
    ), ranked AS (
        SELECT q_id, neighbor_id, adc,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY adc DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT q_id, neighbor_id, ROUND(CAST(adc AS DOUBLE), 4) AS adc_score,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def similarity_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): vectors
    compress to M=16 subspace codes (4 dims each) against k=64
    hash-picked centroids per subspace; queries score the CODES
    through a broadcast asymmetric-distance lookup table —
    approximate inner product, ranked with a neighbor-id tie-break.

    Fourth ANN tier beside exact/GEMM (full scan), LSH (bucketed
    recall), and IVF (partition pruning): PQ's axis is MEMORY — 12
    bytes a vector (16 x 6-bit codes) vs 256 for float32, ~21x, so
    a 100 TB corpus's codes fit in ~5 TB and scan from RAM/NVMe.
    The M/k setting is corpus-tuned: uniformly-random unit vectors
    (this testdata) are PQ's hardest case — recall@5 = 0.5 here,
    pinned >= 0.4 in tests/test_similarity_recall.py; clustered
    real embeddings support far coarser codes. Code assignment is
    scan-local (literal centroids folded into the plan — no join,
    no shuffle, O(n·k) flops with k fixed); the ADC table is
    |Q|·M·k rows, broadcast; the single exchange carries one row
    per (query, vector) after map-side partial aggregation.

    Algorithm-mirroring oracle: same md5 centroid pick, same
    left-fold float64 subspace distances, per-entry dots rounded at
    1e-6 then DECIMAL-summed (partition order can't move a score),
    identical argmin and ranking tie-breaks — DuckDB runs the PQ
    algorithm itself, bit-for-bit.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    cents = sorted(similarity.hash_pick_centroids(emb, _PQ_K, "pq"),
                   key=lambda t: t[0])
    codes = pq.pq_codes(emb, cents, _PQ_SUB, _PQ_DIM)
    qrows = (emb.filter(F.col("vec_id") < 10)
             .select("vec_id", "embedding").collect())
    queries = [(r.vec_id, [float(x) for x in r.embedding]) for r in qrows]
    lut = spark.createDataFrame(
        pq.adc_lut_rows(queries, cents, _PQ_SUB, _PQ_DIM),
        "q_id long, s int, cent_id long, d double",
    ).select("q_id", "s", "cent_id",
             F.round("d", 6).cast("decimal(18,6)").alias("d6"))
    from pyspark.sql import Window
    w = Window.partitionBy("q_id").orderBy(F.desc("adc"), "neighbor_id")
    return (
        codes.join(F.broadcast(lut),
                   (codes.s == lut.s) & (codes.code == lut.cent_id))
        .filter(F.col("id") != F.col("q_id"))
        .groupBy("q_id", F.col("id").alias("neighbor_id"))
        .agg(F.sum("d6").alias("adc"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("q_id", "neighbor_id",
                F.round(F.col("adc").cast("double"), 4).alias("adc_score"),
                "rank")
    )


_BM25_TERMS = ("vector", "hash", "stream")
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS_SQL = "('" + "','".join(_BM25_TERMS) + "')"


@register(
    "text_bm25_search",
    oracle=f"""
    WITH dl AS (
        SELECT doc_id, len({_TOKS}) AS dl FROM documents
    ), toks AS (
        SELECT doc_id, unnest({_TOKS}) AS term FROM documents
    ), stats AS (
        SELECT COUNT(*) AS n_docs, SUM(dl) * 1.0 / COUNT(*) AS avgdl
        FROM dl
    ), tf AS (
        SELECT doc_id, term, COUNT(*) AS tf FROM toks
        WHERE term IN {_BM25_TERMS_SQL} GROUP BY doc_id, term
    ), df AS (
        SELECT term, COUNT(*) AS df FROM tf GROUP BY term
    ), scored AS (
        SELECT tf.doc_id,
               ROUND(ln((s.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                     * (tf.tf * (CAST({_BM25_K1} AS DOUBLE) + 1))
                     / (tf.tf + CAST({_BM25_K1} AS DOUBLE)
                        * (1 - CAST({_BM25_B} AS DOUBLE)
                           + CAST({_BM25_B} AS DOUBLE)
                           * dl.dl / s.avgdl)), 6) AS s6
        FROM tf JOIN df ON tf.term = df.term
                JOIN dl ON tf.doc_id = dl.doc_id, stats s
    ), folded AS (
        SELECT doc_id, SUM(CAST(s6 AS DECIMAL(18,6))) AS score_dec,
               CAST(COUNT(*) AS INTEGER) AS n_terms
        FROM scored GROUP BY doc_id
    )
    SELECT doc_id, ROUND(CAST(score_dec AS DOUBLE), 4) AS bm25,
           n_terms
    FROM folded
    ORDER BY score_dec DESC, doc_id
    LIMIT 20
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval (Robertson/Sparck Jones, the Okapi weighting):
    top-20 documents for a fixed conjunctive term set, k1=1.2
    b=0.75, with the always-positive idf variant
    ``ln((N - df + .5)/(df + .5) + 1)``. The query-time half of the
    inverted-index pair: ``text_inverted_index`` builds the
    postings, this ranks against the same statistics.

    Shape at scale: the token explode feeds BOTH the per-doc length
    agg and the term-filtered tf agg; df aggregates from tf's
    (already tiny) output; N/avgdl ride a 1-row broadcast cross
    join and df a |terms|-row broadcast — the only corpus-scale
    exchanges are the two doc-keyed aggs. Per-(doc, term) scores
    round at 1e-6 then DECIMAL-sum (partition order can't move a
    score), and the top-20 orders by the exact decimal with a
    doc_id tie-break.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id",
                       F.explode(text.tokens(F.col("text"))).alias("term"))
    # doc length is scan-local array size — no explode, no shuffle;
    # checkpointed because it feeds both the corpus stats and the
    # scoring join (2-column doc-cardinality frame)
    dl = docs.select("doc_id",
                     F.size(text.tokens(F.col("text"))).cast("long")
                     .alias("dl")).localCheckpoint(eager=False)
    stats = dl.agg(F.count("*").alias("n_docs"),
                   (F.sum("dl") * F.lit(1.0) / F.count("*")).alias("avgdl"))
    tf = (toks.filter(F.col("term").isin(*_BM25_TERMS))
          .groupBy("doc_id", "term").agg(F.count("*").alias("tf")))
    return bm25_score_topk(tf, dl, stats)


def bm25_score_topk(tf: DataFrame, dl: DataFrame,
                    stats: DataFrame) -> DataFrame:
    """The Okapi scoring half, shared by the batch query above and
    the streaming index reader (``streaming/state_store.py:
    streaming_bm25``) — one expression tree for idf / saturation /
    decimal fold / top-20 ordering, so the two tiers cannot drift.
    ``tf``: (doc_id, term, tf); ``dl``: (doc_id, dl); ``stats``:
    one row (n_docs, avgdl)."""
    df = tf.groupBy(F.col("term").alias("dterm")).agg(
        F.count("*").alias("df"))
    k1, b = _BM25_K1, _BM25_B
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1)
    s6 = F.round(idf * (F.col("tf") * (k1 + 1))
                 / (F.col("tf") + k1 * (1 - b + b * F.col("dl")
                                        / F.col("avgdl"))), 6)
    return (
        tf.join(F.broadcast(df), tf.term == F.col("dterm"))
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s6.cast("decimal(18,6)").alias("s6"))
        .groupBy("doc_id")
        .agg(F.sum("s6").alias("score_dec"),
             F.count("*").cast("int").alias("n_terms"))
        .orderBy(F.desc("score_dec"), "doc_id")
        .limit(20)
        .select("doc_id",
                F.round(F.col("score_dec").cast("double"), 4).alias("bm25"),
                "n_terms")
    )


def _rp_signs(out_dim: int, in_dim: int) -> list[list[int]]:
    """Deterministic ±1 projection matrix: sign(j,i) from the first
    hex nibble of md5('rp:j:i'). Computed once at import (hashlib
    md5 == Spark md5 == DuckDB md5) and embedded as LITERALS in
    both engines' expressions — the matrix is configuration, like
    the hyperplane seeds, not data."""
    import hashlib

    return [[1 if hashlib.md5(f"rp:{j}:{i}".encode()).hexdigest()[0] < "8"
             else -1 for i in range(in_dim)]
            for j in range(out_dim)]


_RP_OUT, _RP_IN = 16, 64
_RP_SIGNS = _rp_signs(_RP_OUT, _RP_IN)
_RP_SCALE = 0.25  # 1/sqrt(out_dim) = 1/4, exact in binary


def _rp_dim_sql(signs: list[int]) -> str:
    lst = "[" + ", ".join(str(s) for s in signs) + "]"
    return (f"ROUND(list_sum(list_transform(range(1, {_RP_IN + 1}), i -> "
            f"CAST(embedding[i] AS DOUBLE) * {lst}[i])) * {_RP_SCALE}, 6)")


@register(
    "embeddings_random_projection",
    oracle=f"""
    SELECT vec_id,
           [{", ".join(_rp_dim_sql(s) for s in _RP_SIGNS)}] AS proj
    FROM embeddings
    """,
)
def embeddings_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection: 64-d embeddings ->
    16-d via a deterministic ±1 sign matrix scaled by 1/sqrt(16)
    (Achlioptas 2001 — database-friendly random projections). The
    cheap, data-independent counterpart to PCA for shrinking
    vectors before clustering/ANN; pairwise-distance preservation
    is pinned in tests/test_similarity_recall.py.

    Shape at scale: 16 scan-local fold expressions per row — no
    shuffle, no join, no Python; the sign matrix folds into the
    plan as literals (1 KiB of configuration). Each output
    coordinate is a sequential left-fold float64 sum (Spark
    F.aggregate == DuckDB list_sum, term order identical), scaled
    by the exactly-representable 0.25 and rounded at 1e-6.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    dims = []
    for signs in _RP_SIGNS:
        lits = F.array(*[F.lit(float(s)) for s in signs])
        prod = F.zip_with(F.col("embedding"), lits,
                          lambda x, y: x.cast("double") * y)
        dims.append(F.round(
            F.aggregate(prod, F.lit(0.0), lambda a, b: a + b)
            * F.lit(_RP_SCALE), 6))
    return emb.select("vec_id", F.array(*dims).alias("proj"))


_CHUNK_W, _CHUNK_S = 32, 24  # window, stride (8-token overlap)


@register(
    "text_chunk_windows",
    oracle=f"""
    WITH toks AS (
        -- mirror the operator's empty-token removal: an empty /
        -- whitespace-only document splits to [''] and must yield
        -- n_tokens=0, not 1 (the operator's documented contract;
        -- latent divergence if a testdata regen ships empty docs)
        SELECT doc_id, list_filter({_TOKS}, x -> x != '') AS tk
        FROM documents
    ), spans AS (
        SELECT doc_id, tk, len(tk) AS t,
               1 + CAST(floor(greatest(len(tk) - {_CHUNK_W}, 0)
                              / {_CHUNK_S}) AS INTEGER)
               + CASE WHEN greatest(len(tk) - {_CHUNK_W}, 0)
                           % {_CHUNK_S} > 0 THEN 1 ELSE 0 END AS n_chunks
        FROM toks
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS chunk_idx,
           COALESCE(array_to_string(
               tk[(1 + i * {_CHUNK_S}):
                  least(i * {_CHUNK_S} + {_CHUNK_W}, t)],
               ' '), '') AS chunk_text,
           CAST(least(i * {_CHUNK_S} + {_CHUNK_W}, t)
                - i * {_CHUNK_S} AS INTEGER) AS n_tokens
    FROM spans, unnest(range(0, n_chunks)) AS u(i)
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (window=32 tokens,
    stride=24 -> 8-token overlap): the step every RAG / embedding
    pipeline runs between cleaning and encoding. Emits (doc_id,
    chunk_idx, chunk_text, n_tokens); the final chunk may be short,
    and documents shorter than one window yield exactly one chunk.

    Shape at scale: scan-local — tokenization, the chunk-count
    arithmetic, and the per-chunk slices are all built-in
    expressions over the token array (one explode of n_chunks ~
    T/stride rows per doc, no shuffle, no Python). A row-based
    Python UDTF computing the same chunks is pinned equal in
    tests/test_text_ops.py as the API-surface twin; this built-in
    form is the 100 TB path (the UDTF pays per-ROW Python+pickle,
    ~10-100x the Arrow batch paths, which is why it stays out of
    the registered query).
    """
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_windows(docs, _CHUNK_W, _CHUNK_S)


@register(
    "text_bpe_pair_counts",
    oracle=f"""
    WITH words AS (
        SELECT unnest({_TOKS}) AS word FROM documents
    ), wf AS (
        SELECT word, COUNT(*) AS freq FROM words GROUP BY word
    ), wp AS (
        SELECT freq,
               unnest(list_transform(range(1, length(word)),
                      i -> substr(word, CAST(i AS INTEGER), 2))) AS pair
        FROM wf WHERE length(word) >= 2
    ), pc AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
        FROM wp GROUP BY pair
    )
    SELECT pair, pair_count FROM pc
    ORDER BY pair_count DESC, pair LIMIT 50
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, step 1: corpus-weighted adjacent
    symbol-pair counts — the argmax of this table IS the first BPE
    merge (Sennrich et al. 2016), and the loop re-runs this count
    after each merge. Top-50 pairs with a lexicographic tie-break.

    The load-bearing distributed trick: counts run over the WORD
    VOCABULARY weighted by word frequency, not over the raw corpus
    — the explode+agg to vocab (one shuffle) shrinks the pair
    generation input from corpus-scale to vocab-scale (~10^5-10^6
    rows at ANY corpus size), which is why real BPE trainers are
    feasible at 100 TB at all. Pair counts then partial-aggregate
    on the (tiny) pair key; the SUM casts back to BIGINT on both
    engines (the r4 HUGEINT lesson).
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(text.tokens(F.col("text"))).alias("word"))
    wf = words.groupBy("word").agg(F.count("*").alias("freq"))
    # codepoint-true symbolization, NOT split('') (UTF-16 surrogate
    # halves on non-BMP words — the r8/r9 review bug class; words
    # are short, so the substr walk's O(len^2) is immaterial here)
    chars = text.codepoint_chars(F.col("word"))
    m = F.size(chars) - 1
    pairs = F.zip_with(F.slice(chars, 1, m), F.slice(chars, 2, m),
                       lambda a, b: F.concat(a, b))
    wp = (wf.filter(F.length("word") >= 2)
          .select("freq", F.explode(pairs).alias("pair")))
    return (wp.groupBy("pair")
            .agg(F.sum("freq").alias("pair_count"))
            .orderBy(F.desc("pair_count"), "pair")
            .limit(50))


# -- count-min sketch ------------------------------------------------

_CMS_D = 4          # hash rows
_CMS_HEX = 3        # 3 hex chars -> 4096 buckets per row


def _cms_positions(col):
    """d bucket positions of a key: seed-prefixed md5 slices, the
    same engine-portable trick as the Bloom tier (positions are the
    4096 3-hex-char strings; no hex->int conversion to disagree
    on)."""
    return [F.substring(F.md5(F.concat_ws(
        ":", F.lit(f"cms{i}"), col.cast("string"))), 1, _CMS_HEX)
        for i in range(_CMS_D)]


def _cms_positions_sql(col: str) -> str:
    return ", ".join(
        f"substring(md5(concat('cms{i}', ':', CAST({col} AS VARCHAR)"
        f")), 1, {_CMS_HEX}) AS pos{i}"
        for i in range(_CMS_D))


@register(
    "agg_countmin_heavy_hitters",
    oracle=f"""
    WITH keyed AS (
        SELECT user_id, {_cms_positions_sql('user_id')} FROM events
    ), cells AS (
        {" UNION ALL ".join(
            f"SELECT {i} AS row_i, pos{i} AS pos, COUNT(*) AS cnt "
            f"FROM keyed GROUP BY pos{i}" for i in range(_CMS_D))}
    ), exact AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count,
               {_cms_positions_sql('user_id')}
        FROM events GROUP BY user_id
    ), probes AS (
        {" UNION ALL ".join(
            f"SELECT user_id, exact_count, {i} AS row_i, pos{i} AS pos "
            f"FROM exact" for i in range(_CMS_D))}
    )
    SELECT p.user_id, p.exact_count,
           CAST(MIN(c.cnt) AS BIGINT) AS cms_estimate,
           CAST(MIN(c.cnt) - p.exact_count AS BIGINT) AS overcount
    FROM probes p JOIN cells c ON p.row_i = c.row_i AND p.pos = c.pos
    GROUP BY p.user_id, p.exact_count
    """,
)
def agg_countmin_heavy_hitters(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (Cormode &
    Muthukrishnan 2005): d=4 hash rows x 4096 buckets; a
    key's estimate is the MIN of its d bucket counters, which is
    deterministically >= the exact count (collisions only ever add)
    — both engines compute the identical sketch, so the estimate
    itself is oracle-checkable, not just a bound flag.

    Why this is THE 100 TB frequency primitive: the sketch is a
    fixed d x w grid of counters regardless of key cardinality, and
    it is a MERGEABLE monoid (cell-wise sum), so it
    partial-aggregates map-side like any count — one bounded-output
    exchange over (row, bucket) where exact per-key counting of a
    trillion-key stream would shuffle the key universe. The exact
    counts computed alongside here are the TEST instrument (events'
    key space is small); at scale only the sketch runs, and heavy
    hitters fall out of probing candidate keys against it.

    Cites reference scope: galaxy has no aggregation surface at
    all (SURVEY §2 "no relational operators"); this extends the
    driver-mandated sketch axis (HLL, Bloom, PQ) with the
    frequency sketch.
    """
    ev = load_table(spark, sf_dir, "events")
    # ONE scan each side: posexplode the d-position array instead of
    # d unioned branches (which would rescan the source d times)
    cells = (ev.select(F.posexplode(F.array(
                 *_cms_positions(F.col("user_id"))))
                 .alias("row_i", "pos"))
             .groupBy("row_i", "pos").agg(F.count("*").alias("cnt")))

    exact = ev.groupBy("user_id").agg(
        F.count("*").alias("exact_count"))
    probes = exact.select(
        "user_id", "exact_count",
        F.posexplode(F.array(*_cms_positions(F.col("user_id"))))
        .alias("row_i", "pos"))

    return (probes.join(cells, ["row_i", "pos"])
            .groupBy("user_id", "exact_count")
            .agg(F.min("cnt").alias("cms_estimate"))
            .select("user_id", "exact_count", "cms_estimate",
                    (F.col("cms_estimate") - F.col("exact_count"))
                    .alias("overcount")))


# -- HyperLogLog: mergeable cardinality registers --------------------
# the register machinery lives in operators/sketch.py (shared with
# the HyperBall query); re-exported here for existing importers
from galaxy_spark.operators.sketch import (  # noqa: E402,F401
    HLL_2P50 as _HLL_2P50,
    HLL_M as _HLL_M,
    HLL_P as _HLL_P,
    HLL_WBITS as _HLL_WBITS,
    hll_bucket_rho,
    hll_registers,
)


@register(
    "agg_hll_cardinality_bound",
    oracle=f"""
    WITH h AS (
        SELECT CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
                                    1, 12)) AS BIGINT) AS hv
        FROM events
    ), r AS (
        SELECT hv // {1 << _HLL_WBITS} AS bucket,
               MAX(CASE WHEN strpos(lpad(bin(hv % {1 << _HLL_WBITS}),
                                         {_HLL_WBITS}, '0'), '1') = 0
                        THEN {_HLL_WBITS + 1}
                        ELSE strpos(lpad(bin(hv % {1 << _HLL_WBITS}),
                                         {_HLL_WBITS}, '0'), '1')
                   END) AS register
        FROM h GROUP BY 1
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS occupied,
               CAST(SUM(CAST(POW(2, 50 - register) AS BIGINT))
                    AS BIGINT) AS t_occ
        FROM r
    ), t AS (
        SELECT occupied,
               CAST(t_occ + ({_HLL_M} - occupied) * {_HLL_2P50}
                    AS BIGINT) AS harmonic_num,
               (SELECT CAST(COUNT(DISTINCT event_id) AS BIGINT)
                FROM events) AS exact_distinct
        FROM agg
    )
    SELECT {_HLL_M} AS m, occupied, harmonic_num,
           ROUND((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                 * 1125899906842624.0 / harmonic_num, 6) AS est,
           exact_distinct,
           (ABS(ROUND((0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0
                      * 1125899906842624.0 / harmonic_num, 6)
                - exact_distinct)
            <= 0.195 * exact_distinct) AS within_3se
    FROM t
    """,
)
def agg_hll_cardinality_bound(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """HyperLogLog (Flajolet et al. 2007) as a MERGEABLE-register
    query with rank-error certification — the CMS pattern applied
    to cardinality: bucket = the hash's top p=8 bits, register =
    max leading-zero rank of the remaining 40 bits, estimate =
    alpha_m * m^2 / sum_j 2^(-M_j), certified against the exact
    distinct count within 3 standard errors (3 * 1.04/sqrt(256) =
    19.5%).

    Why this is THE 100 TB cardinality primitive: registers form a
    bucket-wise MAX monoid — a fixed 256-cell state that
    partial-aggregates map-side and merges across partitions /
    days / tables by cell-wise max, where exact distinct on a
    trillion-key stream shuffles the key universe (this is exactly
    what ``approx_count_distinct`` keeps in its sketch buffer; here
    the registers are explicit, engine-portable, and
    oracle-checked cell by cell through the harmonic numerator).

    Engine-exact arithmetic: the hash is the repo's md5-slice
    BIGINT (conv == '0x' cast); ranks come from string search on
    the lpad'ed binary expansion (no float log2); the harmonic sum
    is the INTEGER numerator T = sum_j 2^(50 - M_j) (each term a
    dyadic power, sum exact in int64 — empty buckets contribute
    2^50), so the only float op is the final alpha*m^2*2^50/T in
    an identical IEEE operation order on both engines. Raw-regime
    estimator only (n >= 2.5m at every shipped SF; the linear-
    counting small-range branch needs ln(), whose libm rounding is
    not cross-engine-stable — documented limit, not a gap).
    """
    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(ev, F.col("event_id"))
    agg = regs.agg(
        F.count("*").cast("long").alias("occupied"),
        F.sum(F.pow(F.lit(2.0), F.lit(50) - F.col("register"))
              .cast("long")).cast("long").alias("t_occ"))
    exact = ev.agg(F.countDistinct("event_id").cast("long")
                   .alias("exact_distinct"))
    t = (agg.crossJoin(exact)
         .select("occupied",
                 (F.col("t_occ") + (F.lit(_HLL_M) - F.col("occupied"))
                  * F.lit(_HLL_2P50)).cast("long")
                 .alias("harmonic_num"),
                 "exact_distinct"))
    from galaxy_spark.operators.sketch import global_hll_estimate

    est = global_hll_estimate(F.col("harmonic_num"))
    return t.select(
        F.lit(_HLL_M).alias("m"), "occupied", "harmonic_num",
        est.alias("est"), "exact_distinct",
        (F.abs(est - F.col("exact_distinct"))
         <= F.lit(0.195) * F.col("exact_distinct")).alias("within_3se"))


# -- mergeable fixed-bin histogram quantiles -------------------------

_HIST_B = 512                  # bins
_HIST_QS = (0.5, 0.9, 0.99)


@register(
    "agg_histogram_quantile_value_bound",
    oracle=f"""
    WITH cents AS (
        SELECT CAST(l_extendedprice * 100 AS BIGINT) AS vi
        FROM lineitem
    ), mm AS (
        SELECT CAST(MIN(vi) AS BIGINT) AS mn,
               CAST(MAX(vi) - MIN(vi) AS BIGINT) AS span,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM cents
    ), binned AS (
        SELECT LEAST(CAST(FLOOR(CAST((vi - mn) * {_HIST_B} AS DOUBLE)
                                / span) AS INTEGER),
                     {_HIST_B - 1}) AS bin
        FROM cents, mm
    ), hist AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM binned GROUP BY bin
    ), cum AS (
        SELECT bin, cnt,
               CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
        FROM hist
    ), qs AS (
        SELECT CAST(unnest(ARRAY{list(_HIST_QS)}) AS DOUBLE) AS q
    ), targets AS (
        SELECT q, CAST(CEIL(q * n) AS BIGINT) AS target, mn, span, n
        FROM qs, mm
    ), crossing AS (
        SELECT t.q, t.target, t.mn, t.span,
               CAST(MIN(c.bin) AS INTEGER) AS k
        FROM targets t JOIN cum c ON c.cum >= t.target
        GROUP BY t.q, t.target, t.mn, t.span
    ), est AS (
        SELECT q, target, k,
               mn + CAST(FLOOR(CAST((k + 1) * span AS DOUBLE)
                               / {_HIST_B}) AS BIGINT) AS est_cents,
               CAST(span // {_HIST_B} AS BIGINT) AS bin_width
        FROM crossing
    ), ranked AS (
        SELECT vi, ROW_NUMBER() OVER (ORDER BY vi) AS rn FROM cents
    ), exactq AS (
        SELECT t.q, r.vi AS exact_cents
        FROM targets t JOIN ranked r ON r.rn = t.target
    )
    SELECT e.q, e.target, e.k AS crossing_bin, e.est_cents,
           x.exact_cents,
           (e.est_cents - x.exact_cents BETWEEN -1 AND e.bin_width + 2)
               AS within_bin_width
    FROM est e JOIN exactq x ON e.q = x.q
    """,
)
def agg_histogram_quantile_value_bound(spark: SparkSession,
                                       sf_dir: str) -> DataFrame:
    """Quantiles from a MERGEABLE fixed-bin histogram sketch,
    certified by VALUE error — the complement of
    ``agg_quantile_sketch_bound`` (which certifies the engine
    sketch's RANK error): 512 equi-width bins over integer cents,
    estimate = the crossing bin's upper edge, and the guarantee
    checked is the histogram's own — the true order statistic lies
    inside the crossing bin, so |est - exact| <= one bin width
    (±rounding slack).

    Why THIS shape for 100 TB streaming quantiles: the histogram
    is a (bin -> count) map — a SUM-mergeable monoid exactly like
    the CMS grid, so it partial-aggregates map-side, merges across
    partitions/days by cell-wise add, and maintains INCREMENTALLY
    on the durable keyed store (tests/test_streaming.py pins the
    streaming twin == this batch build). A t-digest gives tighter
    tails but its float centroids are merge-order-dependent —
    unreproducible across engines and replays — so the fixed-bin
    sketch is the determinism-correct choice; the trade is a fixed
    value domain (edges from a bootstrap pass; re-bin to widen).

    Engine-exact arithmetic: values as integer CENTS (decimal *
    100, exact both engines); bin indices and edges from
    identically-ordered double expressions on exact-int inputs; the
    exact order statistic (the certification instrument, like
    CMS's exact counts — at scale only the sketch runs) via
    TakeOrdered/OFFSET.
    """
    li = load_table(spark, sf_dir, "lineitem")
    cents = li.select(
        (F.col("l_extendedprice") * 100).cast("long").alias("vi"))
    mm = cents.agg(F.min("vi").alias("mn"),
                   (F.max("vi") - F.min("vi")).alias("span"),
                   F.count("*").alias("n")).collect()[0]
    mn, span, n = mm["mn"], mm["span"], mm["n"]

    hist = (cents.select(
        F.least(F.floor(((F.col("vi") - F.lit(mn)) * _HIST_B)
                        .cast("double") / F.lit(span)).cast("int"),
                F.lit(_HIST_B - 1)).alias("bin"))
        .groupBy("bin").agg(F.count("*").alias("cnt")))
    # the SKETCH is <= 512 rows: collect it once (bounded driver
    # state, like a centroid pick) and search crossings in Python —
    # re-deriving the hist agg per quantile would rescan the corpus
    # once per q
    counts = {r["bin"]: r["cnt"] for r in hist.collect()}

    # exact order statistics for ALL targets in ONE bounded pass:
    # distinct-value histogram + running-count crossing (the
    # quality_mad_outliers selection pattern) — the previous
    # orderBy(vi).limit(target) instrument funneled ~q*n rows
    # through a single-partition GlobalLimit per quantile (q=0.99
    # means a near-full corpus sort through one task, three times:
    # the exact single-reducer trap this repo documents). The
    # distinct-value frame is bounded by value cardinality, its
    # running sum orders only those rows, and one driver-side walk
    # answers every target.
    targets = {qv: math.ceil(qv * n) for qv in _HIST_QS}
    from pyspark.sql import Window

    wv = (Window.orderBy("vi")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    vhist = (cents.groupBy("vi").agg(F.count("*").alias("c"))
             .withColumn("cum", F.sum("c").over(wv))
             .localCheckpoint(eager=False))   # built once, probed 3x
    exact_for = {
        t: vhist.filter(F.col("cum") >= t)
                .agg(F.min("vi")).collect()[0][0]
        for t in sorted(set(targets.values()))}

    rows = []
    for qv in _HIST_QS:
        target = targets[qv]
        cum = 0
        k = _HIST_B - 1
        for b in sorted(counts):
            cum += counts[b]
            if cum >= target:
                k = b
                break
        est_cents = mn + math.floor(((k + 1) * span) / _HIST_B)
        exact_cents = exact_for[target]
        width = span // _HIST_B
        rows.append((qv, target, k, est_cents, exact_cents,
                     -1 <= est_cents - exact_cents <= width + 2))
    return spark.createDataFrame(
        rows, "q double, target bigint, crossing_bin int, "
              "est_cents bigint, exact_cents bigint, "
              "within_bin_width boolean")


# -- BPE training: actual merge iterations ---------------------------

_BPE_SEP = "\x1f"   # unit separator: cannot appear in ws-split tokens
_BPE_STEPS = 3


def _bpe_oracle() -> str:
    """Unrolled-iteration DuckDB oracle (the PageRank pattern):
    each step recounts pairs over the CURRENT symbolization, picks
    argmax (count desc, pair asc), and applies the merge as a
    left-to-right greedy FOLD over the symbol list (list_reduce:
    merge when the accumulated string's LAST symbol equals A and
    the next symbol equals B) — Sennrich merge semantics, matching
    the Spark side's F.aggregate fold symbol-for-symbol. A plain
    substring replace would be wrong twice over: unanchored, 'a␟b'
    also matches inside '…ca␟b…' (symbol 'ca' followed by 'b'),
    and the consumed separator makes runs like 'a a a a' merge to
    'aa a a' instead of the greedy 'aa aa'."""
    sep = "chr(31)"
    parts = [f"""
    WITH wf AS (
        SELECT word, COUNT(*) AS freq FROM (
            SELECT unnest({_TOKS}) AS word FROM documents)
        GROUP BY word
    ), s0 AS (
        SELECT freq, array_to_string(list_transform(
            range(1, length(word) + 1),
            i -> substr(word, CAST(i AS INTEGER), 1)), {sep}) AS sym
        FROM wf
    )"""]
    for k in range(1, _BPE_STEPS + 1):
        parts.append(f""", p{k} AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count FROM (
            SELECT freq, unnest(list_transform(
                range(1, len(L)),
                i -> list_extract(L, i) || {sep} ||
                     list_extract(L, i + 1))) AS pair
            FROM (SELECT freq, string_split(sym, {sep}) AS L
                  FROM s{k - 1})
        ) GROUP BY pair
    ), b{k} AS (
        SELECT pair, pair_count,
               split_part(pair, {sep}, 1) AS a_sym,
               split_part(pair, {sep}, 2) AS b_sym,
               replace(pair, {sep}, '') AS merged
        FROM p{k}
        ORDER BY pair_count DESC, pair LIMIT 1
    ), s{k} AS (
        SELECT freq, list_reduce(string_split(sym, {sep}),
            (acc, x) -> CASE
              WHEN (acc = a_sym OR ends_with(acc, {sep} || a_sym))
                   AND x = b_sym
              THEN left(acc, length(acc) - length(a_sym)) || merged
              ELSE acc || {sep} || x END) AS sym
        FROM s{k - 1}, b{k}
    )""")
    selects = " UNION ALL ".join(
        f"SELECT {k} AS step, replace(pair, {sep}, ' ') AS merged_pair,"
        f" pair_count FROM b{k}" for k in range(1, _BPE_STEPS + 1))
    return "".join(parts) + "\n    " + selects


def _bpe_merge_fold(a: str, b: str):
    """F.aggregate lambda applying one BPE merge (a, b) as a greedy
    left-to-right fold over a separator-joined symbol string,
    anchored at symbol boundaries: merge iff the accumulated
    string's LAST symbol equals ``a`` exactly (acc IS ``a``, or acc
    ends with sep + ``a``) and the incoming symbol equals ``b``.
    Exactly Sennrich's reference-regex semantics — a run 'a a a a'
    under (a, a) becomes 'aa aa', and 'ca b' under (a, b) is left
    alone (the unanchored-substring failure modes)."""
    ab = a + b

    def fold(acc, x):
        return (F.when(acc == F.lit(""), x)
                .when(((acc == F.lit(a))
                       | acc.endswith(F.lit(_BPE_SEP + a)))
                      & (x == F.lit(b)),
                      F.concat(
                          F.substr(acc, F.lit(1),
                                   F.length(acc) - F.lit(len(a))),
                          F.lit(ab)))
                .otherwise(F.concat(acc, F.lit(_BPE_SEP), x)))

    return fold


def _bpe_train(s: DataFrame) -> tuple[list[tuple], DataFrame]:
    """Run the ``_BPE_STEPS`` merge rounds over a symbolization
    frame (requires columns ``freq`` and ``sym``; any carried
    columns — e.g. the encode pass's ``word`` — ride along): per
    round a vocab-scale pair aggregation, a 1-row argmax collect
    (count desc, pair asc — Sennrich tie-break), and the
    boundary-anchored greedy fold, localCheckpointed at each round
    boundary. Returns (merge-table rows ``(step, merged_pair,
    pair_count)``, the final symbolization frame).

    ONE implementation shared by ``text_bpe_merge_steps`` (reports
    the rows) and ``text_bpe_encode`` (applies the final
    symbolization): the pinned train->apply equality
    (``test_bpe_encode_consistent_with_training_merges``) requires
    the two training chains to be byte-identical, and a shared
    helper removes the drift channel a copy would open."""
    rows = []
    for step in range(1, _BPE_STEPS + 1):
        L = F.split(F.col("sym"), _BPE_SEP)
        m = F.size(L) - 1
        pairs = F.zip_with(F.slice(L, 1, m), F.slice(L, 2, m),
                           lambda a, b: F.concat(a, F.lit(_BPE_SEP), b))
        pc = (s.select("freq", F.explode(pairs).alias("pair"))
              .groupBy("pair").agg(F.sum("freq").alias("pair_count")))
        best = pc.orderBy(F.desc("pair_count"), "pair").limit(1) \
            .collect()[0]                       # 1 row: the argmax
        rows.append((step, best["pair"].replace(_BPE_SEP, " "),
                     best["pair_count"]))
        a_sym, b_sym = best["pair"].split(_BPE_SEP)
        s = s.withColumn(
            "sym", F.aggregate(F.split(F.col("sym"), _BPE_SEP),
                               F.lit(""),
                               _bpe_merge_fold(a_sym, b_sym))
        ).localCheckpoint(eager=False)          # round boundary
    return rows, s


@register("text_bpe_merge_steps", oracle=_bpe_oracle())
def text_bpe_merge_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, steps 1..3 ACTUALLY ITERATED
    (Sennrich et al. 2016): each round counts adjacent symbol pairs
    over the current symbolization (corpus-weighted, vocab-scale),
    merges the most frequent pair everywhere with a left-to-right
    GREEDY FOLD over the symbol list (``F.aggregate``: merge when
    the accumulated string's last symbol equals A and the incoming
    symbol equals B — anchored at symbol boundaries, so a symbol
    'ca' followed by 'b' can never be eaten by the pair (a, b), and
    a run 'a a a a' merges to 'aa aa' exactly as Sennrich's
    reference regex does), and recounts. Output: one row per round
    with the merged pair and its count — the head of the real merge
    table, extending ``text_bpe_pair_counts`` (which is round 1's
    count only).

    Scale shape: the corpus collapses to the frequency-weighted
    word VOCABULARY once (one shuffle, localCheckpointed so the 3
    rounds never rescan the corpus); each round is then a
    vocab-scale pair agg + a 1-row argmax collect (bounded driver
    state, the k-means centroid-pick pattern) + a scan-local string
    replace. Symbols join on the unit separator so multi-char
    symbol pairs can never collide with char boundaries.
    """
    docs = load_table(spark, sf_dir, "documents")
    wf = (docs.select(F.explode(text.tokens(F.col("text")))
                      .alias("word"))
          .groupBy("word").agg(F.count("*").alias("freq")))
    s = wf.select(
        "freq",
        F.array_join(text.codepoint_chars(F.col("word")), _BPE_SEP)
        .alias("sym")
    ).localCheckpoint(eager=False)

    rows, _ = _bpe_train(s)
    return spark.createDataFrame(
        rows, "step int, merged_pair string, pair_count bigint")


# -- BPE encode: APPLY the learned merges to the corpus ---------------

def _bpe_encode_oracle() -> str:
    """The encode-pass oracle: the SAME unrolled training chain as
    ``_bpe_oracle`` (identical merge selection and greedy-fold
    application, guaranteeing the two queries learn the same merge
    table), but carrying ``word`` through every symbolization step
    so the final vocab symbolization can be joined back onto the
    corpus and summed per document."""
    sep = "chr(31)"
    parts = [f"""
    WITH wf AS (
        SELECT word, COUNT(*) AS freq FROM (
            SELECT unnest({_TOKS}) AS word FROM documents)
        GROUP BY word
    ), s0 AS (
        SELECT word, freq, array_to_string(list_transform(
            range(1, length(word) + 1),
            i -> substr(word, CAST(i AS INTEGER), 1)), {sep}) AS sym
        FROM wf
    )"""]
    for k in range(1, _BPE_STEPS + 1):
        parts.append(f""", p{k} AS (
        SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count FROM (
            SELECT freq, unnest(list_transform(
                range(1, len(L)),
                i -> list_extract(L, i) || {sep} ||
                     list_extract(L, i + 1))) AS pair
            FROM (SELECT freq, string_split(sym, {sep}) AS L
                  FROM s{k - 1})
        ) GROUP BY pair
    ), b{k} AS (
        SELECT split_part(pair, {sep}, 1) AS a_sym,
               split_part(pair, {sep}, 2) AS b_sym,
               replace(pair, {sep}, '') AS merged
        FROM p{k}
        ORDER BY pair_count DESC, pair LIMIT 1
    ), s{k} AS (
        SELECT word, freq, list_reduce(string_split(sym, {sep}),
            (acc, x) -> CASE
              WHEN (acc = a_sym OR ends_with(acc, {sep} || a_sym))
                   AND x = b_sym
              THEN left(acc, length(acc) - length(a_sym)) || merged
              ELSE acc || {sep} || x END) AS sym
        FROM s{k - 1}, b{k}
    )""")
    return "".join(parts) + f""", enc AS (
        SELECT word,
               len(string_split(sym, {sep})) AS n_units
        FROM s{_BPE_STEPS}
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(e.n_units) AS BIGINT) AS n_units
    FROM (SELECT doc_id, unnest({_TOKS}) AS word FROM documents) d
    JOIN enc e ON d.word = e.word
    GROUP BY d.doc_id"""


@register("text_bpe_encode", oracle=_bpe_encode_oracle())
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — the apply pass that completes the tokenizer
    loop ``text_bpe_pair_counts`` (round-1 counts) ->
    ``text_bpe_merge_steps`` (train the merge table) ->
    THIS (encode the corpus with the learned merges): train the
    same {steps}-step merge table, apply it to the word VOCABULARY
    with the identical boundary-anchored greedy fold
    (``_bpe_merge_fold``), then join the per-word unit counts back
    onto the corpus — per document: its word count and its encoded
    BPE-unit count (the number a token-budgeted training pipeline
    actually bills by).

    Scale shape: training is the merge_steps plan (vocab-scale pair
    aggs, a 1-row argmax per round); ENCODING is applied to the
    vocabulary — |vocab| fold evaluations, NOT |corpus| (every
    occurrence of a word encodes identically, so encode-then-join
    replaces per-occurrence work with a word-keyed equi-join; at
    100 TB that is the difference between re-folding a trillion
    token instances and folding a few hundred million vocab
    entries). The join is word-keyed (vocab-scale build side), the
    per-doc rollup partial-aggregates map-side.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(text.tokens(F.col("text"))).alias("word"))
    wf = toks.groupBy("word").agg(F.count("*").alias("freq"))
    s = wf.select(
        "word", "freq",
        F.array_join(text.codepoint_chars(F.col("word")), _BPE_SEP)
        .alias("sym")
    ).localCheckpoint(eager=False)

    _, s = _bpe_train(s)
    enc = s.select(
        "word",
        F.size(F.split(F.col("sym"), _BPE_SEP)).alias("n_units"))
    return (toks.join(enc, "word")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long").alias("n_words"),
                 F.sum("n_units").cast("long").alias("n_units")))


text_bpe_encode.__doc__ = text_bpe_encode.__doc__.format(
    steps=_BPE_STEPS)


# -- one-pass second moments (PCA / whitening / OPQ prep) ------------

@register(
    "embeddings_second_moments",
    oracle="""
    SELECT CAST(i AS INTEGER) AS i, CAST(j AS INTEGER) AS j,
           CAST(SUM(CAST(ROUND(CAST(embedding[i] AS DOUBLE)
                               * CAST(embedding[j] AS DOUBLE)
                               * 1000000, 0)
                         AS BIGINT)) AS BIGINT) AS sum_micro,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM embeddings, range(1, 65) AS t1(i), range(1, 65) AS t2(j)
    WHERE j >= i
    GROUP BY i, j
    """,
)
def embeddings_second_moments(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """One-pass d x d second-moment accumulation over the embedding
    corpus — the substrate of PCA / ZCA whitening / OPQ rotation
    training: covariance falls out downstream as S/n - mean_i
    mean_j, and a 100 TB corpus needs exactly ONE scan with a
    d(d+1)/2-cell accumulator per task (the accumulator is
    corpus-size-INDEPENDENT — this is why one-pass moment folding,
    not materialized centering, is the distributed formulation).

    Engine-exact integer arithmetic: each product quantizes to
    int64 MICRO-units (rint(x_i * x_j * 1e6)) before summation, so
    partial-agg order cannot move a single unit — numpy's
    half-even rint and SQL's half-away round only differ exactly AT
    .5, which a measured double product never hits (the SCALE.md
    rule); float32 inputs are widened to float64 BEFORE the multiply
    on both engines. The Python stage is one Arrow mapInPandas pass
    emitting 2080 partial rows per batch-chunk (numpy outer products
    in bounded 512-row slabs, int64 accumulator), followed by one
    tiny (i, j)-keyed exchange — per the repo rule that a 2080-wide
    expression family belongs in numpy, not in codegen'd columns.
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql import types as T

    d = 64
    iu = np.triu_indices(d)
    out_schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("sum_micro", T.LongType()),
        T.StructField("n_vecs", T.LongType()),
    ])

    def fold(batches):
        S = np.zeros((d, d), dtype=np.int64)
        n = 0
        for pdf in batches:
            if pdf.empty:
                continue
            X = np.stack([np.asarray(e, dtype=np.float32)
                          for e in pdf["embedding"]]).astype(np.float64)
            for lo in range(0, X.shape[0], 512):  # bound slab memory
                C = X[lo:lo + 512]
                prod = C[:, :, None] * C[:, None, :]
                S += np.rint(prod * 1e6).astype(np.int64).sum(axis=0)
            n += X.shape[0]
        if n == 0:
            return
        yield pd.DataFrame({
            "i": (iu[0] + 1).astype("int32"),
            "j": (iu[1] + 1).astype("int32"),
            "sum_micro": S[iu],
            "n_vecs": np.full(len(iu[0]), n, dtype="int64"),
        })

    emb = load_table(spark, sf_dir, "embeddings").select("embedding")
    partials = emb.mapInPandas(fold, schema=out_schema)
    return (partials.groupBy("i", "j")
            .agg(F.sum("sum_micro").alias("sum_micro"),
                 F.sum("n_vecs").alias("n_vecs")))


# -- KMV (k-minimum-values) sketch: distinct-set ALGEBRA -------------

_KMV_K = 256
_KMV_2P48 = float(1 << 48)


def _kmv_hv(col):
    """The KMV hash: 48-bit md5-slice BIGINT (the repo's
    engine-portable hash discipline). Shared by the KMV queries
    so their sketches hash identically — the ``_cms_positions``
    pattern."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 12),
                  16, 10).cast("long")


@register(
    "agg_kmv_set_intersection",
    oracle=f"""
    WITH a AS (
        SELECT DISTINCT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                                             1, 12)) AS BIGINT) AS hv
        FROM orders WHERE o_orderstatus = 'F'
    ), b AS (
        SELECT DISTINCT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                                             1, 12)) AS BIGINT) AS hv
        FROM orders WHERE o_orderstatus = 'O'
    ), u AS (
        SELECT hv FROM (SELECT hv FROM a UNION SELECT hv FROM b)
        ORDER BY hv LIMIT {_KMV_K}
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(MAX(hv) AS BIGINT) AS hk,
               CAST(SUM(CASE WHEN u.hv IN (SELECT hv FROM a)
                              AND u.hv IN (SELECT hv FROM b)
                             THEN 1 ELSE 0 END) AS BIGINT) AS j
        FROM u
    ), x AS (
        SELECT (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
                FROM orders WHERE o_orderstatus IN ('F', 'O'))
                   AS exact_union,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                    SELECT o_custkey FROM orders
                    WHERE o_orderstatus = 'F'
                    INTERSECT
                    SELECT o_custkey FROM orders
                    WHERE o_orderstatus = 'O')) AS exact_inter
    ), t AS (
        SELECT m.cnt, m.hk, m.j, x.exact_union, x.exact_inter,
               CASE WHEN m.cnt < {_KMV_K} THEN 'exact'
                    ELSE 'raw' END AS regime,
               CASE WHEN m.cnt < {_KMV_K}
                    THEN CAST(m.cnt AS DOUBLE)
                    ELSE ROUND({_KMV_K - 1} * {_KMV_2P48} / m.hk, 6)
               END AS union_est,
               CASE WHEN m.cnt < {_KMV_K}
                    THEN CAST(m.j AS DOUBLE)
                    ELSE ROUND(m.j * {_KMV_K - 1}.0 * {_KMV_2P48}
                               / ({_KMV_K}.0 * m.hk), 6)
               END AS inter_est
        FROM m, x
    )
    SELECT cnt, hk, j, regime, union_est, exact_union,
           inter_est, exact_inter,
           CASE WHEN cnt < {_KMV_K}
                THEN ROUND(j / (1.0 * GREATEST(cnt, 1)), 6)
                ELSE ROUND(j / {_KMV_K}.0, 6) END AS jaccard_est,
           (regime = 'exact'
            OR ABS(union_est - exact_union) <= 0.195 * exact_union)
               AS ok_union,
           (regime = 'exact' OR exact_inter < 50
            OR ABS(inter_est - exact_inter) <= 0.35 * exact_inter)
               AS ok_inter
    FROM t
    """,
)
def agg_kmv_set_intersection(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """KMV / k-minimum-values sketch (Bar-Yossef et al. 2002;
    Beyer et al. 2007) — the mergeable distinct-set sketch that,
    unlike HLL, supports SET ALGEBRA: the k smallest hash values of
    a set determine its cardinality ((k-1) * 2^48 / h_(k)), and the
    union sketch's members can be probed against each side, giving
    Jaccard (j/k) and INTERSECTION (j/k * union_est) estimates —
    the primitive behind "how much does corpus A overlap corpus B"
    at 100 TB, where exact intersection shuffles both key
    universes. Sets here: customers with filled ('F') vs open ('O')
    orders.

    Shape at scale: each side folds to its k smallest DISTINCT
    hashes via TakeOrderedAndProject (per-partition top-k partials,
    no global sort — the min-k monoid is mergeable exactly like HLL
    registers); the union sketch is the top-k of the two sketches'
    union (2k rows); membership probes broadcast the k-row sketch
    against the sides' distinct-hash frames as semi-joins. The
    exact instrument (COUNT DISTINCT + INTERSECT) is the quadratic-
    shuffle cost the sketch replaces, kept for certification.

    Determinism: hashes are the repo's 48-bit md5-slice BIGINTs;
    below k the sketch holds the whole set and is EXACT (regime =
    'exact', exercised at sf0.001); at k+ the raw estimator must
    land within 3/sqrt(k) ~ 19.5% of exact (sf0.01+). The only
    float ops are two identically-ordered IEEE expressions over
    exact integers (the HLL est pattern).
    """
    od = load_table(spark, sf_dir, "orders")
    hv = _kmv_hv(F.col("o_custkey")).alias("hv")
    a = (od.filter(F.col("o_orderstatus") == "F").select(hv).distinct()
         .localCheckpoint(eager=False))
    b = (od.filter(F.col("o_orderstatus") == "O").select(hv).distinct()
         .localCheckpoint(eager=False))
    u = a.union(b).distinct().orderBy("hv").limit(_KMV_K)
    probed = (u.join(a.withColumn("in_a", F.lit(1)), "hv", "left")
              .join(b.withColumn("in_b", F.lit(1)), "hv", "left"))
    m = probed.agg(
        F.count("*").cast("long").alias("cnt"),
        F.max("hv").alias("hk"),
        F.sum(F.when(F.col("in_a").isNotNull()
                     & F.col("in_b").isNotNull(), 1).otherwise(0))
        .cast("long").alias("j"))
    ck = lambda st: (od.filter(F.col("o_orderstatus") == st)  # noqa: E731
                     .select("o_custkey").distinct())
    x = (od.filter(F.col("o_orderstatus").isin("F", "O"))
         .agg(F.countDistinct("o_custkey").cast("long")
              .alias("exact_union"))
         .crossJoin(
             ck("F").intersect(ck("O"))
             .agg(F.count("*").cast("long").alias("exact_inter"))))
    k, p48 = _KMV_K, _KMV_2P48
    t = (m.crossJoin(F.broadcast(x))
         .select("cnt", "hk", "j", "exact_union", "exact_inter",
                 F.when(F.col("cnt") < k, F.lit("exact"))
                 .otherwise(F.lit("raw")).alias("regime"),
                 F.when(F.col("cnt") < k,
                        F.col("cnt").cast("double"))
                 .otherwise(F.round(F.lit(k - 1) * F.lit(p48)
                                    / F.col("hk"), 6))
                 .alias("union_est"),
                 F.when(F.col("cnt") < k, F.col("j").cast("double"))
                 .otherwise(F.round(F.col("j") * F.lit(float(k - 1))
                                    * F.lit(p48)
                                    / (F.lit(float(k)) * F.col("hk")),
                                    6))
                 .alias("inter_est")))
    return t.select(
        "cnt", "hk", "j", "regime", "union_est", "exact_union",
        "inter_est", "exact_inter",
        # below k the sketch IS the union, so the Jaccard denominator
        # is the sketch size, not k (j/k would understate by cnt/k)
        F.when(F.col("cnt") < k,
               F.round(F.col("j")
                       / (F.lit(1.0) * F.greatest(F.col("cnt"), F.lit(1))),
                       6))
        .otherwise(F.round(F.col("j") / F.lit(float(k)), 6))
        .alias("jaccard_est"),
        ((F.col("regime") == "exact")
         | (F.abs(F.col("union_est") - F.col("exact_union"))
            <= F.lit(0.195) * F.col("exact_union"))).alias("ok_union"),
        ((F.col("regime") == "exact") | (F.col("exact_inter") < 50)
         | (F.abs(F.col("inter_est") - F.col("exact_inter"))
            <= F.lit(0.35) * F.col("exact_inter"))).alias("ok_inter"))


@register(
    "agg_kmv_set_difference",
    oracle=f"""
    WITH a AS (
        SELECT DISTINCT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                                             1, 12)) AS BIGINT) AS hv
        FROM orders WHERE o_orderstatus = 'F'
    ), b AS (
        SELECT DISTINCT CAST(('0x' || substr(md5(CAST(o_custkey AS VARCHAR)),
                                             1, 12)) AS BIGINT) AS hv
        FROM orders WHERE o_orderstatus = 'O'
    ), u AS (
        SELECT hv FROM (SELECT hv FROM a UNION SELECT hv FROM b)
        ORDER BY hv LIMIT {_KMV_K}
    ), m AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
               CAST(MAX(hv) AS BIGINT) AS hk,
               CAST(SUM(CASE WHEN u.hv IN (SELECT hv FROM a)
                              AND u.hv NOT IN (SELECT hv FROM b)
                             THEN 1 ELSE 0 END) AS BIGINT) AS j_ab,
               CAST(SUM(CASE WHEN u.hv IN (SELECT hv FROM b)
                              AND u.hv NOT IN (SELECT hv FROM a)
                             THEN 1 ELSE 0 END) AS BIGINT) AS j_ba
        FROM u
    ), x AS (
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                    SELECT o_custkey FROM orders
                    WHERE o_orderstatus = 'F'
                    EXCEPT
                    SELECT o_custkey FROM orders
                    WHERE o_orderstatus = 'O')) AS exact_ab,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM (
                    SELECT o_custkey FROM orders
                    WHERE o_orderstatus = 'O'
                    EXCEPT
                    SELECT o_custkey FROM orders
                    WHERE o_orderstatus = 'F')) AS exact_ba
    )
    SELECT cnt, hk, j_ab, j_ba,
           CASE WHEN cnt < {_KMV_K} THEN 'exact' ELSE 'raw' END
               AS regime,
           CASE WHEN cnt < {_KMV_K} THEN CAST(j_ab AS DOUBLE)
                ELSE ROUND(j_ab * {_KMV_K - 1}.0 * {_KMV_2P48}
                           / ({_KMV_K}.0 * hk), 6) END AS diff_ab_est,
           exact_ab,
           CASE WHEN cnt < {_KMV_K} THEN CAST(j_ba AS DOUBLE)
                ELSE ROUND(j_ba * {_KMV_K - 1}.0 * {_KMV_2P48}
                           / ({_KMV_K}.0 * hk), 6) END AS diff_ba_est,
           exact_ba,
           (cnt < {_KMV_K} OR exact_ab < 50
            OR ABS(CASE WHEN cnt < {_KMV_K} THEN CAST(j_ab AS DOUBLE)
                        ELSE ROUND(j_ab * {_KMV_K - 1}.0 * {_KMV_2P48}
                                   / ({_KMV_K}.0 * hk), 6) END
                   - exact_ab) <= 0.35 * exact_ab) AS ok_ab,
           (cnt < {_KMV_K} OR exact_ba < 50
            OR ABS(CASE WHEN cnt < {_KMV_K} THEN CAST(j_ba AS DOUBLE)
                        ELSE ROUND(j_ba * {_KMV_K - 1}.0 * {_KMV_2P48}
                                   / ({_KMV_K}.0 * hk), 6) END
                   - exact_ba) <= 0.35 * exact_ba) AS ok_ba
    FROM m, x
    """,
)
def agg_kmv_set_difference(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """SET DIFFERENCE estimates from the SAME KMV machinery as the
    intersection row — |A \\ B| ≈ (j_only_a / k) · union_est, where
    j_only_a counts union-sketch members present in A's sketch but
    not B's — completing the distinct-set algebra (union,
    intersection, Jaccard, now both directed differences). This is
    the "how much NEW data does corpus A bring over corpus B"
    question at 100 TB, answered from two k-row sketches instead of
    an EXCEPT over both key universes (the exact instrument, kept
    for certification and sampled at scale).

    Arithmetic discipline is the intersection row's: md5-slice
    48-bit BIGINT hashes, below-k regime is EXACT (the sketch IS
    the union), and the raw-regime estimate is ONE identically-
    ordered IEEE expression over exact integers rounded at 1e-6.
    The two directions read off one probed union frame — no second
    probe pass. Certification: ±35 % of exact (the intersection
    row's bound — same estimator class, same 3/sqrt(k) scale),
    auto-pass when exact < 50 (relative bounds are meaningless on
    tiny differences) or in the exact regime.
    """
    od = load_table(spark, sf_dir, "orders")
    hv = _kmv_hv(F.col("o_custkey")).alias("hv")
    a = (od.filter(F.col("o_orderstatus") == "F").select(hv).distinct()
         .localCheckpoint(eager=False))
    b = (od.filter(F.col("o_orderstatus") == "O").select(hv).distinct()
         .localCheckpoint(eager=False))
    u = a.union(b).distinct().orderBy("hv").limit(_KMV_K)
    probed = (u.join(a.withColumn("in_a", F.lit(1)), "hv", "left")
              .join(b.withColumn("in_b", F.lit(1)), "hv", "left"))
    m = probed.agg(
        F.count("*").cast("long").alias("cnt"),
        F.max("hv").alias("hk"),
        F.sum(F.when(F.col("in_a").isNotNull()
                     & F.col("in_b").isNull(), 1).otherwise(0))
        .cast("long").alias("j_ab"),
        F.sum(F.when(F.col("in_b").isNotNull()
                     & F.col("in_a").isNull(), 1).otherwise(0))
        .cast("long").alias("j_ba"))
    ck = lambda st: (od.filter(F.col("o_orderstatus") == st)  # noqa: E731
                     .select("o_custkey").distinct())
    x = (ck("F").exceptAll(ck("O"))
         .agg(F.count("*").cast("long").alias("exact_ab"))
         .crossJoin(ck("O").exceptAll(ck("F"))
                    .agg(F.count("*").cast("long").alias("exact_ba"))))
    k, p48 = _KMV_K, _KMV_2P48

    def est(j_col: str):
        return (F.when(F.col("cnt") < k,
                       F.col(j_col).cast("double"))
                .otherwise(F.round(F.col(j_col) * F.lit(float(k - 1))
                                   * F.lit(p48)
                                   / (F.lit(float(k)) * F.col("hk")),
                                   6)))

    t = (m.crossJoin(F.broadcast(x))
         .select("cnt", "hk", "j_ab", "j_ba", "exact_ab", "exact_ba",
                 F.when(F.col("cnt") < k, F.lit("exact"))
                 .otherwise(F.lit("raw")).alias("regime"),
                 est("j_ab").alias("diff_ab_est"),
                 est("j_ba").alias("diff_ba_est")))

    def ok(est_col: str, exact_col: str):
        return ((F.col("cnt") < k) | (F.col(exact_col) < 50)
                | (F.abs(F.col(est_col) - F.col(exact_col))
                   <= F.lit(0.35) * F.col(exact_col)))

    return t.select(
        "cnt", "hk", "j_ab", "j_ba", "regime",
        "diff_ab_est", "exact_ab", "diff_ba_est", "exact_ba",
        ok("diff_ab_est", "exact_ab").alias("ok_ab"),
        ok("diff_ba_est", "exact_ba").alias("ok_ba"))
