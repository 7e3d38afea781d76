"""LLM-data-pipeline queries: dedup, text analysis, similarity
search over ``documents``/``embeddings`` (driver mandate,
SURVEY.md §2.2 second table).

EVERY query here carries a full DuckDB value oracle, under one of
two contracts:

- recall-guaranteed tiers (MinHash-LSH, SimHash): the candidate
  stage has a PROVABLE recall-1.0 property at check scale (banding
  pigeonhole; pinned by pytest recall assertions), values are
  recomputed exactly inside candidates, and the oracle is the exact
  all-pairs SQL. A broken hash stage drops rows and fails the hash
  check — the approximation is load-bearing, not bypassed.
- algorithm-mirroring tiers (hyperplane-LSH top-k / near-dup, IVF):
  pruning is inherently lossy on this corpus, so the oracle mirrors
  the ALGORITHM itself — integer-exact hyperplane signatures
  (similarity.hyperplane_signature_sql) / deterministic centroid
  picks reproduce the exact candidate set in SQL, and recall vs
  brute force is measured separately in tests. Honest pruning, no
  recall-1.0 tuning that would disable the filter.

Whether a given query is inside the driver's per-round check subset
varies by round; all of them run the identical comparison in
tests/test_oracle.py, and registry.CERTIFICATION_MANIFEST orders
never-certified names first so external certification converges to
full union coverage of the surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from galaxy_spark.operators import dedup, similarity, text, util
from galaxy_spark.registry import register
from galaxy_spark.tables import load_table

_TOKS = r"regexp_split_to_array(trim(text), '\s+')"
_STOPS = "('the','a','an','of','and','to','in','is','it','for')"


def _cos_sql(a: str, b: str, dim: int = 64) -> str:
    """DuckDB cosine between two list columns — sequential list_sum
    fold, bit-identical to the Spark-side ``similarity.cosine``
    double fold."""
    def dot(x: str, y: str) -> str:
        return (f"list_sum(list_transform(range(1, {dim + 1}), "
                f"i -> CAST({x}[i] AS DOUBLE) * CAST({y}[i] AS DOUBLE)))")
    return f"{dot(a, b)} / (sqrt({dot(a, a)}) * sqrt({dot(b, b)}))"


def _jaccard_pairs_oracle(n: int, threshold: float,
                          with_shared: bool = False) -> str:
    """Exact all-pairs word-n-gram Jaccard >= threshold, as SQL —
    the contracted output of every verified near-dup tier
    (``with_shared`` adds the n_shared column the exact tier also
    emits; one helper so the shingle convention cannot
    desynchronize across the four tiers that share it — r9
    review)."""
    shared = "n_shared," if with_shared else ""
    return f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS tk FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(tk)-{n - 1},0)+1),
                   i -> array_to_string(tk[i:i+{n - 1}], ' '))) AS shingles
        FROM toks
    ), ex AS (
        SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
    ), pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_shared
        FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT id_a, id_b, {shared}
           ROUND(n_shared * 1.0 / (n_a + n_b - n_shared), 4) AS jaccard
    FROM pairs
    WHERE n_shared * 1.0 / (n_a + n_b - n_shared) >= {threshold}
    """


def _lsh_sigs_cte(n_planes: int, n_tables: int) -> str:
    """Signature CTE mirroring similarity.hyperplane_signature for
    every table — integer-exact, so SQL and Spark agree on every
    bucket bit-for-bit."""
    sig_exprs = ", ".join(
        similarity.hyperplane_signature_sql(
            "embedding", n_planes, 64, seed=42 + t) + f" AS sig{t}"
        for t in range(n_tables))
    return f"SELECT vec_id, embedding, {sig_exprs} FROM embeddings"


def _lsh_collide_sql(a: str, b: str, n_planes: int, n_tables: int) -> str:
    """Candidate condition twin of the Spark multi-probe bucket
    joins: collide in table t iff the signatures differ in <= 1 bit
    (xor lands in the probe-mask set)."""
    masks = "(" + ",".join(
        map(str, similarity.probe_masks(n_planes, 1))) + ")"
    return " OR ".join(
        f"xor({a}.sig{t}, {b}.sig{t}) IN {masks}" for t in range(n_tables))


_LSH_PLANES, _LSH_TABLES = 8, 8

#: algorithm-mirroring oracle for the LSH ANN tier: same signatures,
#: same multi-probe candidate set, exact re-rank — the SQL runs the
#: LSH algorithm, not a recall-1.0 assumption
_LSH_TOPK_ORACLE = f"""
    WITH sigs AS ({_lsh_sigs_cte(_LSH_PLANES, _LSH_TABLES)}),
    cand AS (
        SELECT q.vec_id AS q_id, any_value(q.embedding) AS q_vec,
               c.vec_id AS neighbor_id, any_value(c.embedding) AS c_vec
        FROM sigs q JOIN sigs c
          ON ({_lsh_collide_sql('q', 'c', _LSH_PLANES, _LSH_TABLES)})
        WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
        GROUP BY q.vec_id, c.vec_id
    ), scored AS (
        SELECT q_id, neighbor_id,
               {_cos_sql('q_vec', 'c_vec')} AS cos_sim
        FROM cand
    ), ranked AS (
        SELECT q_id, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT q_id, neighbor_id, ROUND(cos_sim, 4) AS cos_sim,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """

#: algorithm-mirroring oracle for the LSH near-dup tier
_LSH_NEAR_DUP_ORACLE = f"""
    WITH sigs AS ({_lsh_sigs_cte(_LSH_PLANES, _LSH_TABLES)}),
    cand AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               any_value(a.embedding) AS va, any_value(b.embedding) AS vb
        FROM sigs a JOIN sigs b
          ON a.vec_id < b.vec_id
         AND ({_lsh_collide_sql('a', 'b', _LSH_PLANES, _LSH_TABLES)})
        GROUP BY a.vec_id, b.vec_id
    )
    SELECT id_a, id_b, ROUND({_cos_sql('va', 'vb')}, 4) AS cos_sim
    FROM cand WHERE {_cos_sql('va', 'vb')} >= 0.4
    """


#: brute-force cosine top-5 for query vectors vec_id<10 — the
#: contracted output of the exact fold tier and the GEMM tier
_COSINE_TOPK_ORACLE = f"""
    WITH pairs AS (
        SELECT q.vec_id AS q_id, c.vec_id AS neighbor_id,
               {_cos_sql('q.embedding', 'c.embedding')} AS cos_sim
        FROM embeddings q, embeddings c
        WHERE q.vec_id < 10 AND q.vec_id != c.vec_id
    ), ranked AS (
        SELECT q_id, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM pairs
    )
    SELECT q_id, neighbor_id, ROUND(cos_sim, 4) AS cos_sim,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """


@register(
    "dedup_exact_documents",
    oracle="""
    SELECT CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
           COUNT(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on a content digest."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exact_dedup(docs, "text", "doc_id")


@register(
    "dedup_ngram_jaccard",
    oracle=_jaccard_pairs_oracle(5, 0.5, with_shared=True),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 5-gram Jaccard >= 0.5.

    Shingle inverted-index join — the exact (non-LSH) tier. At
    100 TB the same plan runs with a document-frequency cutoff on
    hot shingles before the join (skew guard); MinHash-LSH below is
    the approximate scale path.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.shingle_pairs_jaccard(docs, n=5)
    return pairs.filter(F.col("jaccard") >= 0.5).select(
        "id_a", "id_b", "n_shared", F.round("jaccard", 4).alias("jaccard"))


@register("dedup_minhash_lsh", oracle=_jaccard_pairs_oracle(5, 0.5))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs (32 hashes, 8 bands) + exact
    Jaccard verification — the linear-cost near-dup path for corpora
    where the quadratic shingle join is unaffordable. Uses the fused
    single-shingle-pass pipeline (dedup.minhash_near_dups).

    Oracle contract: at oracle scale the banded signatures recover
    EVERY true >=0.5 pair (recall 1.0, pinned in
    tests/test_dedup_recall.py), and the emitted jaccard is the
    exact verified value — so the output equals the all-pairs SQL
    answer while the LSH stage stays load-bearing (a broken
    signature/band drops rows and fails the driver hash)."""
    docs = load_table(spark, sf_dir, "documents")
    verified = dedup.minhash_near_dups(docs, n=5, n_hashes=32, bands=8,
                                       threshold=0.5)
    return verified.select("id_a", "id_b",
                           F.round("jaccard", 4).alias("jaccard"))


@register("dedup_simhash", oracle=_jaccard_pairs_oracle(3, 0.5))
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 64-bit fingerprints, 17-band bit-block
    candidate join, Hamming <= 16 gate, exact 3-gram Jaccard >= 0.5
    verification (dedup.simhash_band_near_dups).

    Oracle contract: bands > hamming_max makes the band join's
    recall of the Hamming gate 1.0 by pigeonhole, and every true
    >=0.5 pair sits within Hamming 16 at test scales (observed max
    14 at sf0.001, 9 at sf0.01; pinned in tests/test_dedup_recall.py)
    — so the verified output equals the all-pairs SQL answer while
    the fingerprint arithmetic stays load-bearing."""
    docs = load_table(spark, sf_dir, "documents")
    verified = dedup.simhash_band_near_dups(docs, n=3, bands=17,
                                            hamming_max=16, threshold=0.5)
    return verified.select("id_a", "id_b",
                           F.round("jaccard", 4).alias("jaccard"))


@register(
    "text_stats_documents",
    oracle=f"""
    SELECT doc_id,
           CAST(len({_TOKS}) AS INTEGER) AS n_tokens,
           CAST(len(list_filter({_TOKS}, t -> t IN {_STOPS})) AS INTEGER)
             AS n_stopwords,
           CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?''"]', '', 'g'))
             AS INTEGER) AS n_punct
    FROM documents
    """,
)
def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token / stopword / punctuation counts per document."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.stopword_count("text").alias("n_stopwords"),
        text.punct_count("text").alias("n_punct"),
    )


@register(
    "text_quality_scores",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(len({_TOKS}) AS DOUBLE) AS n_tok,
               CAST(len(list_filter({_TOKS}, tk -> tk IN {_STOPS})) AS DOUBLE)
                 AS n_stop,
               CAST(length(text) - length(regexp_replace(text, '[\\.,;:!\\?''"]', '', 'g'))
                 AS DOUBLE) AS n_punct,
               CAST(length(text) AS DOUBLE) AS n_chars
        FROM documents
    )
    SELECT doc_id,
           ROUND(0.5 * least(n_tok / 100.0, 1.0)
                 + 0.5 * least(n_stop / greatest(n_tok, 1.0) * 5, 1.0)
                 - n_punct / greatest(n_chars, 1.0), 4) AS quality
    FROM t
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score (C4/Gopher-style public recipe)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", text.quality_score("text").alias("quality"))


@register(
    "text_language_id",
    oracle="""
    WITH prof AS (
        SELECT doc_id, lang AS label,
               list_distinct(list_transform(
                   range(1, greatest(length(lower(text))-1, 0)+1),
                   i -> substr(lower(text), CAST(i AS INTEGER), 2))) AS bg
        FROM documents
    ), scores AS (
        SELECT doc_id, label,
               len(list_intersect(bg, ['th','he','in','er','an'])) AS s_en,
               len(list_intersect(bg, ['de','la','os','el','en'])) AS s_es,
               len(list_intersect(bg, ['en','er','ch','de','ei'])) AS s_de,
               len(list_intersect(bg, ['le','de','es','en','on'])) AS s_fr,
               len(list_intersect(bg, ['zh','ng','sh','ia','ua'])) AS s_zh
        FROM prof
    )
    SELECT doc_id, label,
           CASE WHEN greatest(s_en,s_es,s_de,s_fr,s_zh) = 0 THEN 'und'
                WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
                WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
                WHEN s_fr >= s_zh THEN 'fr'
                ELSE 'zh' END AS pred_lang
    FROM scores
    """,
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram language-ID heuristic (Cavnar-Trenkle-style marker
    bigrams; first-language-wins tie-break matching the oracle's
    CASE precedence)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.col("lang").alias("label"),
        text.language_id("text").alias("pred_lang"))


@register(
    "text_fingerprint",
    oracle="""
    WITH h AS (
        SELECT doc_id, hex(encode(text)) AS hx FROM documents
    )
    SELECT doc_id,
           list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                   list_transform(range(1, length(hx)//2 + 1),
                       i -> CAST(('0x' || substr(hx,
                                 CAST(2*i-1 AS INTEGER), 2))
                                 AS BIGINT))),
               (acc, c) -> (acc * 257 + c) % 1000000007) AS fingerprint
    FROM h
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp rolling-hash fingerprint per document, folded over
    the text's UTF-8 BYTES (h = h*257 + byte mod p) — plain integer
    polynomial arithmetic, so DuckDB reproduces it exactly with a
    list_reduce over hex(encode(text)) byte pairs: a full value
    oracle for a hash function, with no character-semantics seam
    between engines (r9 review: the previous per-character contract
    walked UTF-16 code units in Spark but codepoints in the oracle —
    latent on ASCII corpora, wrong on any non-BMP text)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text.rolling_fingerprint("text").alias("fingerprint"))


@register("similarity_cosine_topk", oracle=_COSINE_TOPK_ORACLE)
def similarity_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for query vectors vec_id<10.

    Bit-deterministic: both engines fold the 64-dim dot product
    sequentially in double precision.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = similarity.cosine_topk(q, emb, k=5)
    return out.select(
        "q_id", "neighbor_id",
        F.round("cos_sim", 4).alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"))


@register("similarity_lsh_topk", oracle=_LSH_TOPK_ORACLE)
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN: random-hyperplane LSH (8 planes x 8 tables,
    1-bit multi-probe, signatures materialized once) + exact re-rank
    inside candidate buckets.

    Oracle contract: ALGORITHM-mirroring (like similarity_ivf_topk).
    Signatures are integer-exact, so the oracle SQL reproduces the
    exact candidate set (hyperplane_signature_sql + xor-mask probe
    condition) and re-ranks with the same exact fold — the driver
    verifies the LSH semantics end-to-end. Recall vs brute force is
    honest and measured (tests/test_similarity_recall.py): ~0.6 on
    this uniformly-random corpus at a ~0.25 candidate rate; >=0.999
    at cos>=0.9 by the collision math in operators/similarity.py —
    the filter genuinely prunes, unlike a recall-1.0-tuned config.

    CONTRACT CHANGE (r3): before r3 this tier returned the exact
    brute-force answer (recall-1.0 tuning). Consumers needing exact
    top-k must use similarity_cosine_topk / _gemm."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = similarity.lsh_topk(q, emb, k=5, dim=64,
                              n_planes=_LSH_PLANES, n_tables=_LSH_TABLES)
    return out.select(
        "q_id", "neighbor_id",
        F.round("cos_sim", 4).alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"))


#: exact all-pairs embedding near-dup (cos >= 0.4) — the contracted
#: output of both the exact tier and the recall-1.0-tuned LSH tier
_EMB_NEAR_DUP_ORACLE = f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({_cos_sql('a.embedding', 'b.embedding')}, 4) AS cos_sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_cos_sql('a.embedding', 'b.embedding')} >= 0.4
    """


@register("dedup_embedding_cosine", oracle=_EMB_NEAR_DUP_ORACLE)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.4), the
    exact all-pairs tier; see operators.dedup.embedding_near_dup for
    the LSH-blocked 100 TB shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = dedup.embedding_near_dup(emb, threshold=0.4)
    return pairs.select(
        "id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))


@register(
    "text_token_bpe",
    oracle=r"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
               '''(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+|\s+'))
             AS INTEGER) AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counting: a GPT-2-style pre-tokenizer regex
    (contractions | words | numbers | punctuation runs | whitespace)
    counted entirely JVM-side via regexp_extract_all."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text.bpe_token_count("text").alias("n_bpe_tokens"))


@register(
    "similarity_ivf_topk",
    oracle=f"""
    WITH cent AS (
        SELECT vec_id AS cent_id, embedding AS cent_vec
        FROM embeddings
        ORDER BY md5(concat('ivf:', CAST(vec_id AS VARCHAR))), vec_id
        LIMIT 16
    ), assign AS (
        SELECT c.vec_id AS neighbor_id, c.embedding AS c_vec,
               ct.cent_id AS cluster_id,
               ROW_NUMBER() OVER (
                   PARTITION BY c.vec_id
                   ORDER BY {_cos_sql('c.embedding', 'ct.cent_vec')} DESC,
                            ct.cent_id) AS r
        FROM embeddings c CROSS JOIN cent ct
    ), probes AS (
        SELECT q.vec_id AS q_id, q.embedding AS q_vec,
               ct.cent_id AS cluster_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY {_cos_sql('q.embedding', 'ct.cent_vec')} DESC,
                            ct.cent_id) AS r
        FROM embeddings q CROSS JOIN cent ct WHERE q.vec_id < 10
    ), cands AS (
        SELECT p.q_id, a.neighbor_id,
               {_cos_sql('p.q_vec', 'a.c_vec')} AS cos_sim
        FROM (SELECT q_id, q_vec, cluster_id FROM probes WHERE r <= 4) p
        JOIN (SELECT neighbor_id, c_vec, cluster_id FROM assign WHERE r = 1) a
          USING (cluster_id)
        WHERE p.q_id != a.neighbor_id
    ), ranked AS (
        SELECT q_id, neighbor_id, cos_sim,
               ROW_NUMBER() OVER (PARTITION BY q_id
                                  ORDER BY cos_sim DESC, neighbor_id) AS rank
        FROM cands
    )
    SELECT q_id, neighbor_id, ROUND(cos_sim, 4) AS cos_sim,
           CAST(rank AS INTEGER) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic hash-pick centroids (k=16
    FIXED — decoupled from corpus size, r5 fix for the quadratic
    stride pick), probe the 4 nearest inverted lists, exact re-rank
    inside them. Corpus assignment routes through the GEMM batch
    scorer (see operators.similarity.gemm_centroid_candidates).

    IVF pruning is inherently lossy on uniform embeddings (recall
    floor vs brute force asserted in tests), so unlike the LSH tiers
    this oracle mirrors the ALGORITHM itself: centroid pick,
    nearest-centroid assignment, probe selection, and within-list
    re-rank are all deterministic SQL — the driver verifies the IVF
    semantics end-to-end, not just row counts."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = similarity.ivf_topk(q, emb, k=5, n_centroids=16, n_probe=4)
    return out.select(
        "q_id", "neighbor_id",
        F.round("cos_sim", 4).alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"))


@register(
    "udf_grouped_token_totals",
    oracle=r"""
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT)
             AS total_tokens,
           CAST(MAX(length(text)) AS INTEGER) AS max_chars
    FROM documents GROUP BY lang
    """,
)
def udf_grouped_token_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped aggregation (the UDAF surface):
    per-language doc/token/char totals computed in vectorized pandas.

    Integer-only aggregates, so the Arrow path is value-exact against
    the SQL oracle. The JVM-side twin of this query is a plain
    groupBy-agg; this one exists to pin the applyInPandas plumbing
    (grouped Arrow exchange, schema mapping) with a full oracle.

    Tokenizer parity (r9 review): the pandas side mirrors the
    oracle's exact semantics — DuckDB ``trim`` strips SPACES only
    (Python ``str.strip()`` strips all Unicode whitespace) and RE2's
    ``\\s`` is the ASCII class ``[\\t\\n\\f\\r ]`` (Python ``re``'s
    is Unicode-aware) — so the two agree on tabs, NBSP, and every
    other non-space separator, not just on space-only corpora.
    """
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")

    def totals(pdf: pd.DataFrame) -> pd.DataFrame:
        toks = (pdf["text"].str.strip(" ")
                .str.split(r"[\t\n\f\r ]+", regex=True))
        return pd.DataFrame({
            "lang": [pdf["lang"].iloc[0]],
            "n_docs": [len(pdf)],
            "total_tokens": [int(toks.str.len().sum())],
            "max_chars": [int(pdf["text"].str.len().max())],
        })

    return docs.groupBy("lang").applyInPandas(
        totals,
        schema="lang string, n_docs bigint, total_tokens bigint, "
               "max_chars int")


@register(
    "text_vocabulary_topk",
    oracle=r"""
    WITH tok AS (
        SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    ), counts AS (
        SELECT token, COUNT(*) AS n FROM tok GROUP BY token
    )
    SELECT token, n,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS INTEGER) AS rk
    FROM counts ORDER BY n DESC, token LIMIT 20
    """,
)
def text_vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: explode tokens -> global top-20 by
    frequency (the vocabulary-building pass of a tokenizer-training
    pipeline). Partial counts combine map-side before the single
    token shuffle; the LIMIT runs FIRST as TakeOrderedAndProject
    (per-partition partial top-k, parallel), and only the 20
    surviving rows pass through the unpartitioned ranking window —
    ranking before limiting would pull every distinct token
    (billions at 100 TB) through one reducer."""
    from galaxy_spark.operators.util import spread

    docs = spread(load_table(spark, sf_dir, "documents").select("text"))
    counts = (docs.select(F.explode(text.tokens("text")).alias("token"))
              .groupBy("token").agg(F.count("*").alias("n")))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(20)
    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return top.withColumn("rk", F.row_number().over(w).cast("int"))


@register(
    "text_tfidf_top_term",
    oracle=r"""
    WITH tok AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        FROM documents
    ), tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2
    ), df AS (
        SELECT token, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY token
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        -- score quantized at 1e-6 BEFORE the ranking window: ln()
        -- is not cross-engine-stable (repo determinism rule), and
        -- ordering on the raw double lets a last-ulp difference
        -- flip which term wins rk=1
        SELECT tf.doc_id, tf.token,
               ROUND(tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0))
                              + 1.0), 6) AS score
        FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token AS top_term, ROUND(score, 4) AS tfidf
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, token) AS rk
          FROM scored) WHERE rk = 1
    """,
)
def text_tfidf_top_term(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF as pure DataFrame algebra (smoothed idf =
    ln((N+1)/(df+1))+1, the public scikit-style formula): each
    document's highest-scoring term.

    Scale shape: two token-keyed aggregations + one broadcast-able
    df join; no ml.Pipeline fitting state, so the same plan runs
    streaming-incremental with the df table maintained as a
    side table. The N_docs scalar rides a 1-row broadcast in-plan
    (the quality_unigram_logprob pattern) instead of an eager
    driver-side count at plan-build time, and the score quantizes
    at 1e-6 before the ranking window (ln() is not cross-engine-
    stable; a raw-double ordering can flip rk=1 on a last-ulp
    difference — r9 review)."""
    from galaxy_spark.operators.util import spread

    docs = spread(load_table(spark, sf_dir, "documents")
                  .select("doc_id", "text"), "doc_id")
    tok = docs.select(
        "doc_id", F.explode(text.tokens("text")).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    dfreq = tok.groupBy("token").agg(
        F.countDistinct("doc_id").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (tf.join(dfreq, "token")
              .crossJoin(F.broadcast(n))
              .select("doc_id", "token",
                      F.round(F.col("tf")
                              * (F.log((F.col("n_docs") + 1.0)
                                       / (F.col("df") + 1.0))
                                 + 1.0), 6).alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("token"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("doc_id", F.col("token").alias("top_term"),
                    F.round("score", 4).alias("tfidf")))


@register("similarity_cosine_topk_gemm", oracle=_COSINE_TOPK_ORACLE)
def similarity_cosine_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized (numpy-GEMM mapInPandas) brute-force cosine top-5
    — the throughput tier of similarity_cosine_topk. GEMM scores
    only prune candidates; the emitted cos_sim/rank come from the
    bit-deterministic fold re-rank, so the output hash-matches the
    same exact-SQL oracle as the fold tier (equality also asserted
    in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = similarity.cosine_topk_gemm(q, emb, k=5)
    return out.select("q_id", "neighbor_id",
                      F.round("cos_sim", 4).alias("cos_sim"),
                      F.col("rank").cast("int").alias("rank"))


@register(
    "pipeline_llm_preprocess",
    oracle=f"""
    WITH q AS (
        SELECT doc_id, text, lang,
               ROUND(0.5 * least(len({_TOKS}) / 100.0, 1.0)
               + 0.5 * least(len(list_filter({_TOKS}, tk -> tk IN {_STOPS}))
                             * 1.0 / greatest(len({_TOKS}), 1) * 5, 1.0)
               - (length(text) - length(regexp_replace(text,
                     '[\\.,;:!\\?''"]', '', 'g')))
                 * 1.0 / greatest(length(text), 1.0), 4) AS quality
        FROM documents
    ), keep AS (
        SELECT doc_id, lang, quality,
               ROW_NUMBER() OVER (PARTITION BY md5(text)
                                  ORDER BY doc_id) AS copy_rank
        FROM q WHERE quality >= 0.3
    )
    SELECT lang, COUNT(*) AS n_docs,
           ROUND(CAST(SUM(CAST(quality AS DECIMAL(18,9))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_quality
    FROM keep WHERE copy_rank = 1 AND lang IN ('en', 'de', 'fr')
    GROUP BY lang
    """,
)
def pipeline_llm_preprocess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM preprocessing pipeline as ONE plan:
    quality filter -> exact-duplicate removal (keep lowest id) ->
    language allowlist -> per-language corpus stats.

    Composability demo: the same operator functions used by the
    individual queries chain into a single job — one scan, one
    digest shuffle, one final aggregate; this is the nightly-corpus
    refresh shape, and at 100 TB the only wide op is the dedup
    digest exchange."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "text", "lang",
        text.quality_score("text").alias("quality"))
    good = scored.filter(F.col("quality") >= 0.3)
    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    survivors = (good.withColumn("copy_rank", F.row_number().over(w))
                 .filter(F.col("copy_rank") == 1)
                 .filter(F.col("lang").isin("en", "de", "fr")))
    # Sum exact decimals, not doubles: a double sum's partition order
    # shifts the last ulp, which flips ROUND(...,4) on boundary values
    # (observed 0.4615 vs 0.4616 between local[8] and local[32]).
    return survivors.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum(F.col("quality").cast("decimal(18,9)"))
                 .cast("double") / F.count("*"), 4).alias("avg_quality"))


@register("dedup_embedding_cosine_lsh", oracle=_LSH_NEAR_DUP_ORACLE)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup, the 100 TB shape: hyperplane-LSH bucket
    blocking first (8 planes x 8 tables, 1-bit multi-probe), exact
    cosine only inside candidate buckets — linear in corpus size vs
    the all-pairs exact tier (dedup_embedding_cosine).

    Oracle contract: ALGORITHM-mirroring — the SQL recomputes the
    integer-exact signatures, applies the same xor-mask probe
    condition per table, and filters by the same exact cosine, so
    the driver verifies the blocking itself. Recall vs the exact
    all-pairs answer is measured in tests (~0.7 on this uniform
    corpus at cos>=0.4; near 1.0 for real near-dups at cos>=0.8 —
    collision math in operators/similarity.py).

    CONTRACT CHANGE (r3): before r3 this tier was tuned to recall
    1.0 (pass-through filter). It now genuinely prunes; consumers
    needing the exact pair set must use dedup_embedding_cosine."""
    emb = load_table(spark, sf_dir, "embeddings")
    pairs = similarity.lsh_near_dup_pairs(
        emb, threshold=0.4, dim=64,
        n_planes=_LSH_PLANES, n_tables=_LSH_TABLES)
    return pairs.select("id_a", "id_b",
                        F.round("cos_sim", 4).alias("cos_sim"))


@register(
    "sample_stratified_documents",
    oracle="""
    SELECT doc_id, lang FROM documents
    WHERE substring(md5('42:' || doc_id), 1, 8) <
          CASE lang WHEN 'en' THEN '80000000'
                    WHEN 'de' THEN '40000000'
                    ELSE '00000000' END
    """,
)
def sample_stratified_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified downsampling of a skewed corpus (en@50%, de@25%,
    rest dropped) via the layout-independent md5-threshold sampler —
    reproducible across engines, so it carries a FULL value oracle
    (sampleBy can't: its sample depends on partition layout).
    Scale: one scan-local filter, no shuffle, no state."""
    docs = load_table(spark, sf_dir, "documents")
    out = util.stratified_hash_sample(
        docs, strata_col="lang", key_col="doc_id",
        fractions={"en": 0.5, "de": 0.25}, seed=42)
    return out.select("doc_id", "lang")


@register("dedup_prefix_filter_jaccard", oracle=_jaccard_pairs_oracle(5, 0.5))
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard >= 0.5 pairs via PREFIX FILTERING — the
    same contracted output as ``dedup_ngram_jaccard`` (result-
    contract oracle: exact all-pairs SQL) from a provably lossless
    but much smaller candidate index: only each document's
    ``|d| - ceil(0.5|d|) + 1`` globally-rarest shingles are
    indexed (operators/dedup.py:prefix_filter_jaccard, the PPJoin
    family). The candidate-count reduction vs the share-any-shingle
    index is pinned in tests/test_dedup_recall.py — this is the
    exact tier's 100 TB story: candidate volume scales with the
    prefix (~half the shingles, rarest first), and corpus-hot
    shingles fall OUTSIDE prefixes by construction instead of via a
    tuned max_df cutoff.

    Honest crossover: at sf0.1 this runs ~2x SLOWER than
    dedup_ngram_jaccard (9.9 s vs 5.3 s) — the df agg + rank window
    are fixed extra corpus passes, and this near-dup-sparse corpus
    never makes the full index's candidate join expensive enough to
    repay them. The technique wins exactly when candidates explode
    (dup-heavy or hot-shingle corpora, the 100 TB regime); both
    tiers share one output contract so the choice is a swap.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.prefix_filter_jaccard(docs, n=5, threshold=0.5)
    return pairs.select("id_a", "id_b",
                        F.round("jaccard", 4).alias("jaccard"))


@register(
    "dedup_threshold_histogram",
    oracle=f"""
    WITH pairs AS ({_jaccard_pairs_oracle(5, 0.2)})
    SELECT CAST(floor(jaccard / 0.05) AS INTEGER) AS sim_bin,
           COUNT(*) AS n_pairs
    FROM pairs
    GROUP BY sim_bin
    """,
)
def dedup_threshold_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity distribution of candidate pairs in 0.05-wide bins
    (Jaccard >= 0.2): the tuning chart behind every near-dup
    threshold choice — a bimodal histogram (noise floor vs
    true-dup mass) tells you where to cut BEFORE running the full
    dedup at 100 TB, from the same one-pass index the dedup itself
    uses. Bin ids are integer floor(round(j, 4) / 0.05), mirroring
    the oracle's ROUND(j, 4) pair output exactly; both engines then
    divide the identical double by the identical 0.05 and floor the
    identical quotient — even a ratio sitting ON a bin edge (1/4)
    lands in the same bin on both sides because every intermediate
    is the same IEEE value.

    Shape: shingle_pairs_jaccard's single-materialized index + one
    tiny (<= 16 bins) aggregation; nothing new shuffles.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.shingle_pairs_jaccard(docs, n=5)
    # filter on the raw ratio, bin on the 1e-4-rounded value — the
    # oracle's pair CTE emits ROUND(j, 4), so binning the unrounded
    # ratio would drift at bin edges
    return (pairs.filter(F.col("jaccard") >= 0.2)
            .select(F.floor(F.round(F.col("jaccard"), 4) / 0.05)
                    .cast("int").alias("sim_bin"))
            .groupBy("sim_bin")
            .agg(F.count("*").alias("n_pairs")))


@register(
    "split_train_valid_test",
    oracle="""
    WITH assigned AS (
        SELECT lang, n_chars,
               CASE WHEN substring(md5('13:' || doc_id), 1, 8)
                         < 'cccccccc' THEN 'train'
                    WHEN substring(md5('13:' || doc_id), 1, 8)
                         < 'e6666666' THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents
    ), per AS (
        SELECT lang, split, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS chars_total
        FROM assigned GROUP BY 1, 2
    ), tot AS (
        SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_docs
        FROM per GROUP BY 1
    )
    SELECT per.lang, split, n_docs, chars_total,
           ROUND(n_docs * 1.0 / lang_docs, 6) AS frac
    FROM per JOIN tot ON per.lang = tot.lang
    """,
)
def split_train_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/valid/test split with a per-
    language leakage audit — the assignment step every training-data
    pipeline runs before tokenization, done as a pure function of
    (seed, doc_id) so it is stable under repartitioning, corpus
    refreshes, and engine changes (``operators/util.py:hash_split``:
    the md5 hash space is partitioned into cumulative bands, so
    membership is provably disjoint AND exhaustive — three
    independent Bernoulli samples can leak a document into two
    splits or drop it from all three; a single banded hash cannot).

    The emitted frame is the audit a human reviews: per (lang,
    split) document and char counts plus the realized fraction —
    hash banding guarantees the EXPECTED 80/10/10, and the realized
    fractions quantify the binomial wobble per stratum (small
    strata wobble more; that's the signal for stratified
    RE-balancing, the sibling ``mixture_resample_balanced``).

    Scale: the assignment is one scan-local CASE (no shuffle — the
    label rides the scan into any downstream write, e.g. a
    partitionBy('split') shard writer); the audit partial-aggregates
    onto the tiny (lang, split) key and the per-language totals
    broadcast back. Division follows the repo's *1.0/ convention
    (events_markov_transitions): one identical IEEE op on identical
    integers in both engines, rounded at 1e-6.
    """
    docs = load_table(spark, sf_dir, "documents")
    assigned = util.hash_split(
        docs, "doc_id",
        [("train", 0.8), ("valid", 0.1), ("test", 0.1)], seed=13)
    per = assigned.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("chars_total"))
    tot = per.groupBy("lang").agg(F.sum("n_docs").alias("lang_docs"))
    return (per.join(F.broadcast(tot), "lang")
            .select("lang", "split", "n_docs", "chars_total",
                    F.round(F.col("n_docs") * F.lit(1.0)
                            / F.col("lang_docs"), 6).alias("frac")))


@register(
    "dedup_editdistance_pairs",
    oracle="""
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           CAST(levenshtein(a.c_name, b.c_name) AS INTEGER) AS dist
    FROM customer a JOIN customer b
      ON a.c_custkey < b.c_custkey
     AND levenshtein(a.c_name, b.c_name) <= 1
    """,
)
def dedup_editdistance_pairs(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """EXACT edit-distance-<=1 pair detection (fuzzy record linkage /
    typo-dedup) WITHOUT the all-pairs product, via the deletion-
    neighborhood blocking SymSpell made standard: two strings are
    within edit distance 1 iff their deletion neighborhoods
    D(s) = {s} UNION {s minus one char} intersect — provable by
    cases (substitution at i: both sides delete i; insertion: the
    shorter string IS a deletion variant of the longer; pigeonhole
    does the rest), so the blocking is LOSSLESS, not heuristic.
    The oracle is the naive quadratic join; the implementation must
    reproduce it exactly from |s|+1 variants per string and one
    equi-join.

    Scale shape (r10 landed the r9 docstring's deferred trim, then
    went further): variant generation is scan-local (a transform()
    over char positions — built-in, no UDF) and variants hash to
    BIGINT INSIDE the transform, so every exchange in the hot path
    carries 16-byte (key, hash) rows — never a near-name-length
    string (measured 3.6 → 2.3 s at sf0.1; the string-carrying
    candidate distinct was the bottleneck, not the join). Names
    re-attach AFTER the narrow candidate distinct via two key
    equi-joins (broadcast at test scale, keyed shuffles of
    |candidates| rows at 100 TB — both dwarfed by the trimmed
    variant exchange). A 64-bit collision can only ADD a candidate,
    never lose one (equal variants still hash equal), and the final
    levenshtein certifies every candidate against the TRUE names,
    so the result is exact regardless. Join fan-out is bounded by
    neighborhood overlap (real near-pairs), never |corpus|^2; k=2
    would switch to the PassJoin segment scheme — k=1 deletion
    neighborhoods are the right tool at this edit radius. Duplicate
    (key, hash) rows (deleting either of two identical adjacent
    chars) are distinct-ed before the join — the exchange that
    distinct adds is REUSED by both self-join sides (one shuffle,
    two consumers) — and the pair-level distinct collapses
    multi-variant matches (equal names share whole neighborhoods)
    so pair multiplicity cannot double-count.
    """
    cust = load_table(spark, sf_dir, "customer") \
        .select("c_custkey", "c_name")
    # D(s): the string itself + every single-char deletion — hashed
    # to BIGINT per-element inside the same scan-local transform
    idx = F.sequence(F.lit(1), F.length("c_name"))
    dels = F.transform(
        idx,
        lambda i: F.xxhash64(
            F.concat(F.substr("c_name", F.lit(1), i - 1),
                     F.substr("c_name", i + 1,
                              F.length("c_name")))))
    var = (cust.select(
        "c_custkey",
        F.explode(F.concat(F.array(F.xxhash64("c_name")), dels))
        .alias("vh"))
        .distinct())
    cand = (var.alias("a").join(
        var.alias("b"),
        (F.col("a.vh") == F.col("b.vh"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")))
        .select(F.col("a.c_custkey").alias("key_a"),
                F.col("b.c_custkey").alias("key_b"))
        .distinct())
    na = cust.select(F.col("c_custkey").alias("key_a"),
                     F.col("c_name").alias("name_a"))
    nb = cust.select(F.col("c_custkey").alias("key_b"),
                     F.col("c_name").alias("name_b"))
    return (cand.join(na, "key_a").join(nb, "key_b")
            .withColumn("dist", F.levenshtein("name_a", "name_b")
                        .cast("int"))
            .filter(F.col("dist") <= 1)
            .select("key_a", "key_b", "dist"))


@register(
    "dedup_containment_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS tk FROM documents
    ), sh AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, greatest(len(tk)-4,0)+1),
                   i -> array_to_string(tk[i:i+4], ' '))) AS shingles
        FROM toks
    ), ex AS (
        SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle
        FROM sh
    ), pairs AS (
        SELECT a.doc_id AS id_sub, b.doc_id AS id_super,
               a.n_sh AS n_sub, COUNT(*) AS n_shared
        FROM ex a JOIN ex b
          ON a.shingle = b.shingle AND a.doc_id != b.doc_id
        GROUP BY 1, 2, 3
    )
    SELECT id_sub, id_super, CAST(n_sub AS BIGINT) AS n_sub,
           CAST(n_shared AS BIGINT) AS n_shared,
           ROUND(n_shared * 1.0 / n_sub, 4) AS containment
    FROM pairs
    WHERE n_shared * 1.0 / n_sub >= 0.6
    """,
)
def dedup_containment_pairs(spark: SparkSession,
                            sf_dir: str) -> DataFrame:
    """DIRECTED near-dup detection by n-gram CONTAINMENT
    C(sub -> super) = |sh(sub) ∩ sh(super)| / |sh(sub)| — the
    asymmetric companion to Jaccard that catches what Jaccard
    structurally cannot: a short document quoted inside a much
    longer one has tiny Jaccard (union is dominated by the long
    side) but containment ~1.0 from the short side. This is the
    subset/quotation axis of corpus dedup (the RefinedWeb/Gopher
    pipelines run both measures for exactly this reason).

    Implementation shares the exact shingle machinery with the
    Jaccard tier (``operators/dedup.py:shingle_pairs_jaccard``):
    ONE ordered-pair shingle self-join (id_a < id_b — half the
    candidate work), then both directed containments derive from
    the same (n_shared, n_a, n_b) row and a union emits the
    directions that clear the threshold. Scale inherits the tier's
    properties (spread() fan-out, checkpointed shingle frame,
    max_df hot-shingle guard available); the division is the repo's
    *1.0/ convention rounded at 1e-4.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.shingle_pairs_jaccard(docs, n=5)
    d1 = pairs.select(F.col("id_a").alias("id_sub"),
                      F.col("id_b").alias("id_super"),
                      F.col("n_a").alias("n_sub"), "n_shared")
    d2 = pairs.select(F.col("id_b").alias("id_sub"),
                      F.col("id_a").alias("id_super"),
                      F.col("n_b").alias("n_sub"), "n_shared")
    both = d1.unionByName(d2)
    cont = F.col("n_shared") * F.lit(1.0) / F.col("n_sub")
    return (both.filter(cont >= 0.6)
            .select("id_sub", "id_super",
                    F.col("n_sub").cast("long").alias("n_sub"),
                    F.col("n_shared").cast("long").alias("n_shared"),
                    F.round(cont, 4).alias("containment")))


#: winnowing geometry (Schleimer/Wilkerson/Aiken 2003): k-word
#: grams, window w — the guarantee is that any shared run of
#: k + w - 1 = 6 consecutive words between two documents yields at
#: least one shared fingerprint, while only ~2/(w+1) of grams are
#: ever kept. DF caps: fingerprints in > 50 docs are boilerplate
#: (stop-fingerprints, dropped per the paper's practice); pairs
#: must share >= 2 fingerprints to be emitted.
_WINNOW_K, _WINNOW_W = 3, 4
_WINNOW_DF_CAP, _WINNOW_MIN_SHARED = 50, 2


def winnow_fingerprints(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Distinct (doc_id, fp) winnowing fingerprints — THE selection
    arithmetic of ``dedup_winnowing_pairs``, factored out so the
    streaming index (state_store.winnow_spec) imports it
    instead of re-deriving it: one drifting constant (k, w, the
    gram hash, the full-window rule) would silently fork streaming
    emissions from the batch oracle. See the batch query's
    docstring for the plan-shape reasoning (posexplode + frame
    window; the nested-lambda O(tokens^2) trap it avoids)."""
    toks = text.tokens(F.col(text_col))
    base = (docs.select(F.col(id_col).cast("long").alias("doc_id"),
                        toks.alias("t"))
            .filter(F.size("t") >= _WINNOW_K + _WINNOW_W - 1))
    gram_rows = base.select(
        "doc_id",
        (F.size("t") - _WINNOW_K + 1).alias("n_grams"),
        F.posexplode(F.transform(
            F.sequence(F.lit(1), F.size("t") - _WINNOW_K + 1),
            lambda i: F.md5(F.concat_ws(
                " ", F.slice("t", i, _WINNOW_K)))))
        .alias("pos", "h"))
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(0, _WINNOW_W - 1))
    return (gram_rows
            .select("doc_id", "pos", "n_grams",
                    F.min("h").over(w).alias("fp"))
            # full windows only (the paper's selection); the
            # <W-sized tail windows would add fingerprints the
            # guarantee does not define and the oracle does not
            # compute
            .filter(F.col("pos") <= F.col("n_grams") - _WINNOW_W)
            .select("doc_id", "fp").distinct())


@register(
    "dedup_winnowing_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOKS} AS t FROM documents
        WHERE len({_TOKS}) >= {_WINNOW_K + _WINNOW_W - 1}
    ), grams AS (
        SELECT doc_id,
               list_transform(range(1, len(t) - {_WINNOW_K} + 2),
                   i -> md5(array_to_string(
                       t[i:i + {_WINNOW_K - 1}], ' '))) AS g
        FROM toks
    ), wins AS (
        SELECT doc_id,
               list_distinct(list_transform(
                   range(1, len(g) - {_WINNOW_W} + 2),
                   j -> list_aggregate(
                       g[j:j + {_WINNOW_W - 1}], 'min'))) AS fps
        FROM grams
    ), fpd AS (
        SELECT doc_id, unnest(fps) AS fp FROM wins
    ), kept AS (
        SELECT fp FROM fpd GROUP BY fp
        HAVING COUNT(*) BETWEEN 2 AND {_WINNOW_DF_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM fpd a
    JOIN kept USING (fp)
    JOIN fpd b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_WINNOW_MIN_SHARED}
    """,
)
def dedup_winnowing_pairs(spark: SparkSession,
                          sf_dir: str) -> DataFrame:
    """Near-dup candidates by WINNOWING fingerprints (Schleimer et
    al. 2003 — the MOSS plagiarism detector's selection scheme):
    per document, hash every 3-word gram, slide a window of 4
    hashes, keep each window's MINIMUM — a deterministic local
    sampling with the positional guarantee MinHash lacks (any
    shared run of >= 6 consecutive words between two documents is
    CERTAIN to produce a shared fingerprint; MinHash only matches
    with probability). Pairs sharing >= 2 retained fingerprints
    are emitted with their overlap count. Completes the near-dup
    family's selection axis: probabilistic (MinHash/SimHash),
    lossless-threshold (PPJoin prefix), and now guaranteed-local
    (winnowing).

    Cross-engine determinism: the gram "hash" is md5 hex TEXT and
    the window minimum is the lexicographic string min — both
    engines produce identical md5 hex, so selection is exact with
    no integer-hash parity seam at all.

    Shape at scale: gram hashing is ONE scan-local array expression
    evaluated once per document (posexplode consumes it), and the
    window minima run as a doc-partitioned frame window over the
    gram rows — O(grams) per document. The obvious
    nested-array-lambda form (windows as transform over slices of
    the gram array) is a trap: Catalyst collapses the projections
    and inlines the gram-building transform INTO the window lambda,
    recomputing every md5 per window position — O(tokens^2) per
    document, measured 553 s at sf0.1 vs ~3 s for this form (the
    first BENCH_FULL_r12 cut caught it). Winnowing keeps ~2/(w+1)
    of grams, and the pair join is blocked on the fingerprint with
    boilerplate fingerprints dropped by the DF cap (2..50) — the
    same hot-key discipline as the LSH band join, never
    all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    # three consumers (DF-cap agg + both join sides) — cut lineage
    # so the gram/winnow pipeline runs once, not 3x
    fpd = winnow_fingerprints(docs).localCheckpoint(eager=False)
    kept = (fpd.groupBy("fp")
            .agg(F.count("*").alias("df"))
            .filter((F.col("df") >= 2)
                    & (F.col("df") <= _WINNOW_DF_CAP))
            .select("fp"))
    blocked = fpd.join(kept, "fp", "left_semi")
    return (blocked.alias("a")
            .join(blocked.alias("b"),
                  (F.col("a.fp") == F.col("b.fp"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count("*").cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= _WINNOW_MIN_SHARED))
