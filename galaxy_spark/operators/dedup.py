"""Deduplication operators for a document corpus.

Tiers (all batch; streaming dedup lives in galaxy_spark.streaming):

- exact: hash-groupBy on a content digest (sha2) — one shuffle on
  the digest, scales to any corpus size.
- ngram-Jaccard: exact near-dup via shingle inverted index
  (explode → equi-join on shingle → count-based Jaccard). The join
  shuffles on the shingle key; hot shingles are the skew risk, so
  extremely common shingles can be dropped (df-style cutoff) before
  the join — classic public MinHash/shingling pipeline shape.
- MinHash-LSH: signatures via deterministic per-band xxhash64 minima,
  banded into buckets; only bucket-colliding pairs get verified.
  This is the 100 TB path: candidate generation is linear + one
  shuffle on (band, bucket) instead of a quadratic self-join.
- SimHash: 64-bit weighted-bit fingerprint; near-dups = small
  Hamming distance (verified within LSH-band buckets).
- embedding cosine near-dup: delegates to operators.similarity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from galaxy_spark.operators.text import word_ngrams
from galaxy_spark.operators.util import spread


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate groups keyed by content digest.

    Returns (canonical_id, n_copies); canonical = min id.
    """
    return (
        df.groupBy(F.sha2(F.col(text_col), 256).alias("digest"))
        .agg(F.min(id_col).alias("canonical_id"),
             F.count("*").alias("n_copies"))
        .drop("digest")
    )


def shingle_pairs_jaccard(df: DataFrame, n: int = 5, text_col: str = "text",
                          id_col: str = "doc_id",
                          max_df: int | None = None) -> DataFrame:
    """All candidate pairs sharing ≥1 word n-gram, with exact
    Jaccard over distinct-shingle sets. Returns
    (id_a, id_b, n_shared, n_a, n_b, jaccard) with id_a < id_b.

    ``max_df`` is the 100 TB skew guard: shingles appearing in more
    than ``max_df`` documents are excluded from CANDIDATE GENERATION
    (a hot shingle in d docs alone inflates the self-join by d²/2
    rows while carrying no dedup signal). Heavy hitters are by
    definition few, so the exclusion list broadcasts. Jaccard for
    surviving pairs is still EXACT — it is recomputed from the full
    shingle sets via array_intersect, not from the pruned index —
    so the only approximation is losing pairs whose overlap is
    hot-shingles-only.
    """
    src = spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    # the shingle frame feeds the index AND both verify join-backs;
    # the checkpoint cuts tokenization from 3 passes to 1 (shingle
    # materialization is what a production pipeline persists anyway)
    sh = src.select(
        "id", word_ngrams(text_col, n).alias("shingles"),
    ).withColumn("n_sh", F.size("shingles")).localCheckpoint(eager=False)
    exploded = sh.select("id", "n_sh", F.explode("shingles").alias("shingle"))
    if max_df is not None:
        hot = (exploded.groupBy("shingle").agg(F.count("*").alias("df"))
               .filter(F.col("df") > max_df).select("shingle"))
        index = exploded.join(F.broadcast(hot), "shingle", "left_anti")
        cands = (index.alias("a")
                 .join(index.alias("b"),
                       (F.col("a.shingle") == F.col("b.shingle"))
                       & (F.col("a.id") < F.col("b.id")))
                 .select(F.col("a.id").alias("id_a"),
                         F.col("b.id").alias("id_b"))
                 .dropDuplicates(["id_a", "id_b"]))
        sa = sh.select(F.col("id").alias("id_a"),
                       F.col("shingles").alias("sh_a"),
                       F.col("n_sh").alias("n_a"))
        sb = sh.select(F.col("id").alias("id_b"),
                       F.col("shingles").alias("sh_b"),
                       F.col("n_sh").alias("n_b"))
        return (cands.join(sa, "id_a").join(sb, "id_b")
                .withColumn("n_shared",
                            F.size(F.array_intersect("sh_a", "sh_b")))
                .select("id_a", "id_b", "n_a", "n_b", "n_shared")
                .withColumn("jaccard", F.col("n_shared")
                            / (F.col("n_a") + F.col("n_b")
                               - F.col("n_shared"))))
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"), F.col("b.n_sh").alias("n_b"))
        .agg(F.count("*").alias("n_shared"))
    )
    return pairs.withColumn(
        "jaccard",
        F.col("n_shared") / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
    )


def minhash_signature(shingles, n_hashes: int = 32, seed: int = 42):
    """array<string> shingles -> array<long> of per-hash minima.

    h_i(s) = xxhash64(seed+i, s); signature_i = min over shingles.
    Deterministic and executor-local (no fitted model state, unlike
    pyspark.ml's MinHashLSH — same algorithm family, public recipe).

    NOTE: column-expression form, for single-pass/per-row use. The
    LSH pipeline below uses the equivalent explode+aggregate form
    instead — inlining this expression N_hashes times would make
    Catalyst recompute the shingle subtree per hash.
    """
    return F.array(*[
        F.array_min(F.transform(shingles, lambda s: F.xxhash64(F.lit(seed + i), s)))
        for i in range(n_hashes)
    ])


def minhash_signatures_agg(df: DataFrame, n: int = 5, n_hashes: int = 32,
                           seed: int = 42, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """(id, h0..h{n-1}) MinHash signatures via explode + min-agg.

    Single pass over exploded shingles; the per-hash minima are
    partial-aggregated map-side, so the shuffle carries one row per
    (doc, 32 longs). This is the 100 TB formulation: cost is linear
    in corpus size, parallelism is per-shingle not per-document.
    """
    # spread BEFORE the shingle expression: on a 1-partition test
    # scan the n-gram computation itself is the expensive part, and
    # hash-partitioning by id here lets the groupBy reuse the
    # exchange (one shuffle total)
    src = spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    ex = src.select(
        "id", F.explode(word_ngrams(text_col, n)).alias("shingle"))
    return ex.groupBy("id").agg(*[
        F.min(F.xxhash64(F.lit(seed + i), F.col("shingle"))).alias(f"h{i}")
        for i in range(n_hashes)
    ])


def minhash_band_buckets(df: DataFrame, n: int = 5, n_hashes: int = 32,
                         bands: int = 8, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """(id, band, bucket) LSH index rows for a corpus — the shared
    candidate-generation substrate: self-joined for batch near-dup
    pairs (``minhash_lsh_candidates``) or equi-joined per
    micro-batch against a PRECOMPUTED static reference index for
    the streaming gate ("is this incoming doc a near-dup of the
    reference corpus?" — the incremental crawl-dedup shape;
    tests/test_streaming.py::test_stream_static_minhash_gate_matches_batch).
    Deterministic signatures (seed 42) make index and probe
    comparable across sessions and engines."""
    if n_hashes % bands:
        raise ValueError(
            f"n_hashes={n_hashes} not divisible by bands={bands}: "
            f"the trailing {n_hashes % bands} hashes would be "
            "computed but never banded (paid-for recall silently "
            "lost)")
    rows_per_band = n_hashes // bands
    sig = minhash_signatures_agg(df, n, n_hashes, 42, text_col, id_col)
    return sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(*[F.col(f"h{b * rows_per_band + r}")
                         for r in range(rows_per_band)]).alias("bucket"),
            )
            for b in range(bands)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_candidates(df: DataFrame, n: int = 5, n_hashes: int = 32,
                           bands: int = 8, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Candidate near-dup pairs via banded MinHash-LSH.

    rows_per_band = n_hashes // bands; two docs collide if any band
    of their signatures is identical. Returns distinct
    (id_a, id_b, n_bands_hit) with id_a < id_b. The only wide
    operation is the equi-join on (band, bucket) — no quadratic
    pair enumeration outside colliding buckets.
    """
    banded = minhash_band_buckets(df, n, n_hashes, bands, text_col,
                                  id_col)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_bands_hit"))
    )


def jaccard_for_pairs(pairs: DataFrame, df: DataFrame, n: int = 5,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard for an explicit (id_a, id_b) pair list.

    Per-pair O(|shingles|) via ``array_intersect`` — this is the
    verification stage after LSH candidate generation, NOT the
    quadratic inverted-index join; at 100 TB only candidates (a tiny
    fraction) pay the exact computation.
    """
    src = spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    sh = src.select("id", word_ngrams(text_col, n).alias("shingles"))
    sa = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        pairs.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            inter / (F.size("sh_a") + F.size("sh_b") - inter))
        .drop("sh_a", "sh_b")
    )


def simhash64(shingles, seed: int = 42):
    """array<string> -> 64-bit SimHash fingerprint (as bigint).

    Classic Charikar construction: per-shingle 64-bit hash votes
    ±1 on each bit; fingerprint bit = sign of the tally. Implemented
    as a per-bit fold, fully JVM-side.
    """
    hashes = F.transform(shingles, lambda s: F.xxhash64(F.lit(seed), s))
    bit_cols = []
    for bit in range(64):
        votes = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc + F.when(
                h.bitwiseAND(F.lit(1 << bit) if bit < 63 else F.lit(-(1 << 63))) != 0,
                F.lit(1)).otherwise(F.lit(-1)),
        )
        bit_val = F.when(votes > 0,
                         F.lit(1 << bit) if bit < 63 else F.lit(-(1 << 63))
                         ).otherwise(F.lit(0))
        bit_cols.append(bit_val.cast("long"))
    out = bit_cols[0]
    for c in bit_cols[1:]:
        out = out.bitwiseOR(c)
    return out


def _simhash_votes_to_fp(hashed: DataFrame) -> DataFrame:
    """(id, h) shingle-hash rows -> (id, simhash): the per-bit vote
    aggregation + sign-fold shared by simhash_agg and the banded
    near-dup pipeline — ONE definition so the tie-at-zero rule
    (vote > 0 sets the bit) can never diverge between them."""
    votes = hashed.groupBy("id").agg(*[
        F.sum(
            F.when(F.shiftrightunsigned(F.col("h"), bit).bitwiseAND(F.lit(1)) == 1,
                   F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"v{bit}")
        for bit in range(64)
    ])
    fp = None
    for bit in range(64):
        bit_val = F.when(F.col(f"v{bit}") > 0,
                         F.shiftleft(F.lit(1).cast("long"), bit)
                         ).otherwise(F.lit(0).cast("long"))
        fp = bit_val if fp is None else fp.bitwiseOR(bit_val)
    return votes.select("id", fp.alias("simhash"))


def simhash_agg(df: DataFrame, n: int = 3, seed: int = 42,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) via explode + per-bit vote aggregation.

    Same construction as :func:`simhash64` but in the scalable
    explode/agg form (one pass, map-side partial votes, one row per
    doc on the shuffle).
    """
    src = spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    ex = (src.select("id", F.explode(word_ngrams(text_col, n)).alias("shingle"))
          .select("id", F.xxhash64(F.lit(seed), "shingle").alias("h")))
    return _simhash_votes_to_fp(ex)


def hamming64(a, b):
    return F.bit_count(a.bitwiseXOR(b))


def simhash_band_near_dups(df: DataFrame, n: int = 3, bands: int = 17,
                           hamming_max: int = 16, threshold: float = 0.5,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """SimHash near-dup pipeline: band-blocked candidates → Hamming
    gate → exact-Jaccard verification (the classic Manku-style
    bit-block blocking, public recipe).

    The 64-bit fingerprint splits into ``bands`` contiguous bit
    blocks; two docs are candidates iff they agree on at least one
    full block. Pigeonhole guarantee: fingerprints within
    ``hamming_max`` differing bits differ in at most ``hamming_max``
    blocks, so with ``bands > hamming_max`` they MUST share an
    unchanged block — candidate recall for the Hamming gate is 1.0
    by construction, not probabilistically. Surviving pairs are
    verified with exact n-gram Jaccard, so the OUTPUT is exactly the
    all-pairs answer whenever every true near-dup pair sits within
    ``hamming_max`` (which the oracle check + a pytest pin assert
    at test scale).

    Scale: linear signature pass (per-bit vote agg, one row/doc on
    the shuffle), band equi-join on (band, block value) — never an
    all-pairs product; only colliding pairs pay the exact verify.
    """
    if bands <= hamming_max:
        raise ValueError(
            f"bands={bands} must exceed hamming_max={hamming_max} for "
            "the pigeonhole recall guarantee")
    src = spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    sh = src.select("id", word_ngrams(text_col, n).alias("shingles")) \
            .localCheckpoint(eager=False)
    ex = (sh.select("id", F.explode("shingles").alias("shingle"))
          .select("id", F.xxhash64(F.lit(42), "shingle").alias("h")))
    fp = _simhash_votes_to_fp(ex).localCheckpoint(eager=False)

    # split 64 bits into `bands` blocks (width 64//bands, first
    # 64 % bands blocks one bit wider)
    base, extra = divmod(64, bands)
    blocks, off = [], 0
    for b in range(bands):
        width = base + (1 if b < extra else 0)
        blocks.append((b, off, width))
        off += width
    # Explicit repartition on the join keys: the banded frame is
    # tiny in BYTES (17 rows/doc of ints) but the band self-join
    # below expands to ~quadratic pair COMPARISONS, so AQE's
    # size-based coalescing would run the whole join in one task
    # (measured: the 1-task join was ~4s of the sf0.1 bench row —
    # 60% of the pipeline). A user repartition with an explicit
    # count is exempt from AQE coalescing, and hash-partitioning on
    # (band, block) co-locates both join sides, so the join itself
    # adds no further shuffle.
    n_part = fp.sparkSession.sparkContext.defaultParallelism
    banded = fp.select(
        "id", "simhash",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("simhash"), off)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("block"),
            )
            for b, off, width in blocks
        ])).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.block") \
     .repartition(n_part, "band", "block")
    a, b = banded.alias("a"), banded.alias("b")
    # The Hamming gate runs INSIDE the band join: with bands one
    # wider than hamming_max the blocks are 3-4 bits, so on random
    # fingerprints most pairs share SOME block and the raw candidate
    # volume is near-quadratic. Gating in the join keeps that volume
    # in whole-stage codegen (one bit_count per matched pair) and
    # only survivors — a vanishing fraction — ever hit the
    # dropDuplicates shuffle. (r4: the previous plan shuffled the
    # ungated pairs first; at sf0.1 that was 8 s of the bench.)
    gated = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.block") == F.col("b.block"))
               & (F.col("a.id") < F.col("b.id"))
               & (hamming64(F.col("a.simhash"), F.col("b.simhash"))
                  <= hamming_max))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                hamming64(F.col("a.simhash"),
                          F.col("b.simhash")).alias("hamming"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        gated.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard",
                    inter / (F.size("sh_a") + F.size("sh_b") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "hamming", "jaccard")
    )


def embedding_near_dup(emb: DataFrame, threshold: float,
                       id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b) with
    cosine(vec_a, vec_b) >= threshold.

    Exact all-pairs tier — correctness baseline with a full SQL
    oracle. The dot product is a sequential JVM double fold
    (similarity.cosine) so scores are bit-deterministic. At 100 TB
    this tier is reserved for within-bucket verification: the scale
    path first blocks candidates with hyperplane-LSH buckets
    (similarity.lsh_topk's signature machinery) and only runs the
    exact cosine inside buckets — same shape as MinHash-LSH for
    text. The cross join here broadcasts the smaller side, so no
    shuffle; cost is |a|x|b| dot products, embarrassingly parallel —
    and (r5) those dots run as one numpy row-wise pass per Arrow
    batch that margin-prunes pairs below the threshold (1e-6 margin
    >> f64 drift ~1e-13, provably lossless), so the interpreted
    exact fold that defines every EMITTED value touches only
    near-threshold survivors (~output-sized).
    """
    import numpy as np

    from galaxy_spark.operators.similarity import cosine

    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = spread(emb.select(F.col(id_col).alias("id_b"),
                          F.col(vec_col).alias("vb")))
    pairs = (F.broadcast(a).crossJoin(b)
             .filter(F.col("id_a") < F.col("id_b")))

    def prescore(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            A = np.stack(pdf["va"].to_numpy()).astype(np.float64)
            B = np.stack(pdf["vb"].to_numpy()).astype(np.float64)
            cos = np.einsum("ij,ij->i", A, B) \
                / (np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1))
            yield pdf[cos >= threshold - 1e-6]

    return (
        pairs.mapInPandas(prescore, pairs.schema)
        .select("id_a", "id_b",
                cosine(F.col("va"), F.col("vb")).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def minhash_near_dups(df: DataFrame, n: int = 5, n_hashes: int = 32,
                      bands: int = 8, threshold: float = 0.5,
                      text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Fused MinHash-LSH near-dup pipeline: signatures -> banded
    candidates -> exact-Jaccard verification, computing the shingle
    table ONCE.

    The composable pieces (minhash_lsh_candidates +
    jaccard_for_pairs) recompute the n-gram arrays in each branch;
    here the shingle frame is localCheckpoint'ed so all three
    consumers read materialized blocks (~2x faster end-to-end).
    localCheckpoint trades lineage for speed: an executor loss
    re-runs the whole stage instead of replaying lineage — the
    right trade for a bounded dedup batch, the wrong one for a
    multi-hour job topology (use the composable pieces there).
    """
    if n_hashes % bands:
        raise ValueError(
            f"n_hashes={n_hashes} not divisible by bands={bands}: "
            f"the trailing {n_hashes % bands} hashes would be "
            "computed but never banded")
    rows_per_band = n_hashes // bands
    src = spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    sh = src.select("id", word_ngrams(text_col, n).alias("shingles")) \
            .localCheckpoint(eager=False)
    ex = sh.select("id", F.explode("shingles").alias("shingle"))
    sig = ex.groupBy("id").agg(*[
        F.min(F.xxhash64(F.lit(42 + i), F.col("shingle"))).alias(f"h{i}")
        for i in range(n_hashes)
    ])
    banded = sig.select(
        "id",
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.hash(*[F.col(f"h{b * rows_per_band + r}")
                         for r in range(rows_per_band)]).alias("bucket"),
            )
            for b in range(bands)
        ])).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a, b = banded.alias("a"), banded.alias("b")
    cands = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("n_bands_hit"))
    )
    sa = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    return (
        cands.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard",
                    inter / (F.size("sh_a") + F.size("sh_b") - inter))
        .filter(F.col("jaccard") >= threshold)
        .drop("sh_a", "sh_b")
    )


def ppjoin_prefix_len(n_sh: Column, threshold: float) -> Column:
    """PPJoin prefix bound ``|d| - ceil(t*|d|) + 1``, with the ceil
    taken over the ROUNDED product: ``t*n`` in binary floats can
    land an ulp above the exact rational (t=0.1, n=80 ->
    8.000000000000002, ceil 9), which would shorten the prefix by
    one token and silently void the losslessness proof. ROUND(_, 6)
    restores the exact value for any threshold with <= 6 decimal
    digits before the ceil (the supported contract; pinned against
    exact Decimal arithmetic in tests/test_dedup_recall.py)."""
    return (n_sh
            - F.ceil(F.round(n_sh * F.lit(threshold), 6)).cast("int")
            + F.lit(1))


def prefix_filter_jaccard(df: DataFrame, n: int = 5, threshold: float = 0.5,
                          text_col: str = "text",
                          id_col: str = "doc_id") -> DataFrame:
    """Exact Jaccard >= threshold pairs via PREFIX FILTERING
    (Chaudhuri et al. 2006 / Bayardo et al. 2007, the PPJoin
    family): order every document's shingles by a GLOBAL rarity
    order (df asc, shingle asc) and index only the first
    ``|d| - ceil(t*|d|) + 1`` of them. Two documents with
    J >= t MUST share a token inside these prefixes (if none of
    a's prefix appears in b, the overlap is confined to the
    |d|-prefix suffixes, which is provably < the t-required
    overlap), so candidate generation from the prefix index alone
    is LOSSLESS — and far smaller than the share-any-shingle index
    (rare-first ordering puts the most selective tokens in the
    prefix). Surviving pairs re-verify with the exact
    array_intersect Jaccard, same contract as
    ``shingle_pairs_jaccard``.

    Shape at scale: one shingle-keyed agg for global df (vocab
    output), one join to attach ranks, a per-doc window (keyed by
    id — high cardinality) to take the prefix, then the prefix
    self-join + exact verify. vs the full index, the self-join
    input drops from sum(|d|) to sum(|d|·(1-t))+docs rows AND hot
    shingles (high df) land outside prefixes, which is the same
    hazard max_df guards — but derived from t, not tuned.
    """
    from pyspark.sql import Window

    src = spread(df.select(F.col(id_col).alias("id"), F.col(text_col)), "id")
    # same single-materialization trick as shingle_pairs_jaccard:
    # sh feeds the df agg, the rank window, and both verify sides
    sh = src.select("id", word_ngrams(text_col, n).alias("shingles")) \
        .withColumn("n_sh", F.size("shingles")).localCheckpoint(eager=False)
    exploded = sh.select("id", "n_sh",
                         F.explode("shingles").alias("shingle"))
    dfreq = exploded.groupBy("shingle").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy("df", "shingle")
    prefix_len = ppjoin_prefix_len(F.col("n_sh"), threshold)
    prefix = (exploded.join(dfreq, "shingle")
              .withColumn("r", F.row_number().over(w))
              .filter(F.col("r") <= prefix_len)
              .select("id", "shingle"))
    cands = (prefix.alias("a")
             .join(prefix.alias("b"),
                   (F.col("a.shingle") == F.col("b.shingle"))
                   & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"))
             .dropDuplicates(["id_a", "id_b"]))
    sa = sh.select(F.col("id").alias("id_a"),
                   F.col("shingles").alias("sh_a"),
                   F.col("n_sh").alias("n_a"))
    sb = sh.select(F.col("id").alias("id_b"),
                   F.col("shingles").alias("sh_b"),
                   F.col("n_sh").alias("n_b"))
    return (cands.join(sa, "id_a").join(sb, "id_b")
            .withColumn("n_shared",
                        F.size(F.array_intersect("sh_a", "sh_b")))
            .select("id_a", "id_b", "n_a", "n_b", "n_shared")
            .withColumn("jaccard", F.col("n_shared")
                        / (F.col("n_a") + F.col("n_b") - F.col("n_shared")))
            .filter(F.col("jaccard") >= threshold))
