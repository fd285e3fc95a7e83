"""Stage F — candidate-pair generation over the mention vocabulary.

Two interchangeable pair generators, both emitting
``pairs(a string, b string, jaccard double)`` with a < b:

* ``exact_pairs`` — blocking keys (first/last-token prefixes) + exact
  token-Jaccard within each block. One shuffle on the block key; block
  size is capped (MAX_BLOCK) so a head-entity hot block can never go
  quadratic — dropped blocks are observable via ``skew_stats``.
  Fully SQL-expressible → DuckDB oracle in plans/oracles.py.
* ``minhash_pairs`` — the 100 TB path: per-mention minhash signature
  (character 3-shingles, MINHASH_PERM hash slots computed with
  higher-order array expressions — NO explode, NO shuffle), banded into
  LSH buckets; the self-join runs on (band_idx, band_hash) buckets
  whose expected size is tiny and data-independent, then candidates are
  verified with the same exact Jaccard. Candidate recall vs
  ``exact_pairs`` is probabilistic (s-curve ≈ (1/B)^(1/R)) — pinned by
  tests, not an oracle.

Both paths compare only DISTINCT normalized mentions (the vocabulary),
so pair-generation cost scales with entity vocabulary size, not corpus
size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from openie_spark.config import (
    LINK_JACCARD,
    LSH_BANDS,
    LSH_ROWS,
    MAX_BLOCK,
    MAX_MENTION_TOKENS,
    MINHASH_PERM,
)


def linkable(vocab: DataFrame) -> DataFrame:
    """Linkable slice of the vocabulary: short mentions only
    (MAX_MENTION_TOKENS). Longer spans are clause fragments — they stay
    singleton entities and never enter pair generation."""
    return vocab.filter(F.col("n_tokens") <= MAX_MENTION_TOKENS)

BLOCK_PREFIX = 4


def _block_keys(norm: Column) -> Column:
    """Two blocking keys per mention: first-token and last-token
    4-char prefixes (tagged to avoid cross-key collisions). Derived
    from the raw norm string — the distinct token list has no stable
    order across engines."""
    words = F.split(norm, " ")
    first = F.substring(F.element_at(words, 1), 1, BLOCK_PREFIX)
    last = F.substring(F.element_at(words, -1), 1, BLOCK_PREFIX)
    return F.array_distinct(F.array(F.concat(F.lit("f|"), first), F.concat(F.lit("l|"), last)))


def token_jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(a) + F.size(b) - inter)


def blocked_vocab(vocab: DataFrame, max_block: int = MAX_BLOCK) -> DataFrame:
    """vocab → (bkey, norm, tokens), hot blocks removed."""
    exploded = vocab.select(
        F.explode(_block_keys(F.col("norm"))).alias("bkey"), "norm", "tokens"
    )
    # AQE-friendly: count per key once, anti-join the hot keys away.
    hot = (
        exploded.groupBy("bkey").count()
        .filter(F.col("count") > max_block)
        .select("bkey")
    )
    return exploded.join(F.broadcast(hot), "bkey", "left_anti")


def skew_stats(vocab: DataFrame, max_block: int = MAX_BLOCK) -> DataFrame:
    """Lineage observability: how many blocks/mentions the skew cap drops."""
    exploded = vocab.select(F.explode(_block_keys(F.col("norm"))).alias("bkey"))
    per_key = exploded.groupBy("bkey").count()
    return per_key.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.sum(F.when(F.col("count") > max_block, 1).otherwise(0)).alias("n_hot_blocks"),
        F.sum(F.when(F.col("count") > max_block, F.col("count")).otherwise(0)).alias("n_dropped_mentions"),
    )


def exact_pairs(vocab: DataFrame, threshold: float = LINK_JACCARD,
                max_block: int = MAX_BLOCK) -> DataFrame:
    # materialized once: the self-join would otherwise recompute the
    # explode + hot-block anti-join branch on both sides (same fix as
    # minhash_pairs / simhash_pairs). Hash-partitioned on the block key
    # first: AQE would coalesce the small vocab into one partition and
    # verify every candidate pair in one task; this way the join's probe
    # side keeps shuffle-partitions tasks, and a shuffle join (no
    # broadcast) reuses the same bkey partitioning.
    n = int(vocab.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    b = (blocked_vocab(linkable(vocab), max_block).repartition(n, "bkey")
         .localCheckpoint(eager=False))
    left = b.select("bkey", F.col("norm").alias("a"), F.col("tokens").alias("ta"))
    right = b.select("bkey", F.col("norm").alias("b"), F.col("tokens").alias("tb"))
    pairs = (
        left.join(right, "bkey")
        .filter(F.col("a") < F.col("b"))
        .withColumn("jaccard", token_jaccard(F.col("ta"), F.col("tb")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
        .distinct()
    )
    return pairs


LINK_MAX_ED = 3


def editdist_pairs(vocab: DataFrame, max_dist: int = LINK_MAX_ED,
                   max_block: int = MAX_BLOCK) -> DataFrame:
    """Typo-tolerant candidate pairs -> (a, b, dist): same capped
    blocking as exact_pairs, verified by Levenshtein distance <=
    ``max_dist`` instead of token Jaccard — the alias-resolution net
    for SURFACE-FORM noise (misspellings, inflection, OCR slips) that
    token-set similarity misses entirely when the typo changes a whole
    token ('acount' vs 'account').

    Scale shape: identical to exact_pairs (one shuffle on the capped
    block key); the verifier uses Spark's three-arg levenshtein with
    the threshold pushed in, which abandons a row's DP early once the
    bound is exceeded — O(max_dist * min_len) per candidate instead of
    O(len^2). DuckDB computes the plain distance; both agree on every
    pair within the bound.
    """
    b = blocked_vocab(linkable(vocab), max_block).localCheckpoint(eager=False)
    left = b.select("bkey", F.col("norm").alias("a"))
    right = b.select("bkey", F.col("norm").alias("b"))
    return (
        left.join(right, "bkey")
        .filter(F.col("a") < F.col("b"))
        .withColumn("dist", F.levenshtein("a", "b", max_dist))
        .filter(F.col("dist") >= 0)
        .select("a", "b", "dist")
        .distinct()
    )


# ----------------------------------------------------------- minhash

def char_shingles(norm: Column, k: int = 3) -> Column:
    """Distinct character k-shingles; short strings fall back to the
    whole string (so single-token short names still hash)."""
    n = F.length(norm)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: F.substring(norm, i, k)))


def minhash_signature(norm: Column, num_perm: int = MINHASH_PERM) -> Column:
    """array<long> of length num_perm: slot k = min over shingles of
    md5h60(shingle ⊕ '#k'). Pure column expressions — computed in one
    codegen'd projection per row, no explode/shuffle. md5-derived (not
    xxhash64) so the DuckDB oracle can recompute the full LSH structure
    (plans/oracles.kg_pairs_minhash_sql)."""
    from openie_spark.functions.hashing import minhash_sig_md5

    return minhash_sig_md5(char_shingles(norm), num_perm)


def lsh_buckets(vocab: DataFrame, bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> DataFrame:
    """vocab → (band_idx, band_hash, norm, tokens): one row per band.

    The signature is materialized as its own column BEFORE the band
    explode (the Generate node references the attribute, so the
    num_perm × per-shingle hashing runs once per mention, not once per
    band element)."""
    from openie_spark.functions.hashing import band_hashes_md5

    sigd = vocab.select(
        "norm", "tokens", minhash_signature(F.col("norm"), bands * rows).alias("sig"))
    return sigd.select(
        "norm", "tokens",
        F.posexplode(band_hashes_md5(F.col("sig"), bands, rows)).alias("band_idx", "band_hash"),
    )


def minhash_pairs(vocab: DataFrame, threshold: float = LINK_JACCARD,
                  bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> DataFrame:
    """LSH candidates verified with exact token-Jaccard. The self-join
    key (band_idx, band_hash) is uniform by construction — no skew cap
    needed; AQE still coalesces small buckets."""
    # materialized once: the self-join would otherwise evaluate the
    # minhash-signature subtree on both sides
    b = lsh_buckets(linkable(vocab), bands, rows).localCheckpoint(eager=False)
    left = b.select("band_idx", "band_hash", F.col("norm").alias("a"), F.col("tokens").alias("ta"))
    right = b.select("band_idx", "band_hash", F.col("norm").alias("b"), F.col("tokens").alias("tb"))
    return (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b", "ta", "tb").distinct()
        .withColumn("jaccard", token_jaccard(F.col("ta"), F.col("tb")))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def pair_generation_audit(exact: DataFrame,
                          candidate: DataFrame) -> DataFrame:
    """One-row quality audit of a candidate pair generator against the
    blocked exact-Jaccard ground truth -> (n_exact, n_candidate,
    n_both, recall_ppm, n_extra): how many of ``exact``'s pairs the
    candidate path (minhash-LSH, edit-distance, ...) reproduces
    (recall as exact round-half-up ppm), and how many pairs it found
    that exact blocking missed (n_extra — NOT errors: both generators
    verify with the real similarity, they just route candidates
    differently, so extras are usually pairs the prefix blocks
    dropped). This is the linking-stage twin of the north rule's
    P/R >= 0.95 gate: a production run asserts recall_ppm here before
    publishing a re-linked graph.

    Scale shape: both inputs are vocabulary-pair-sized (never corpus);
    one full outer join on the (a, b) key + one single-row aggregate."""
    e = exact.select("a", "b").withColumn("in_exact", F.lit(1))
    c = candidate.select("a", "b").withColumn("in_cand", F.lit(1))
    joined = e.join(c, ["a", "b"], "full")
    # outer COALESCEs: SUM over an EMPTY pair table is NULL, and an
    # empty corpus should read as zeros, not nulls
    return joined.agg(
        F.coalesce(F.sum(F.coalesce("in_exact", F.lit(0))),
                   F.lit(0)).alias("n_exact"),
        F.coalesce(F.sum(F.coalesce("in_cand", F.lit(0))),
                   F.lit(0)).alias("n_candidate"),
        F.coalesce(F.sum(F.when(F.col("in_exact").isNotNull()
                                & F.col("in_cand").isNotNull(), 1)
                         .otherwise(0)), F.lit(0)).alias("n_both"),
    ).select(
        "n_exact", "n_candidate", "n_both",
        # NULL (not a crash) when the ground truth is empty — an empty
        # corpus has no recall to report
        F.expr("CASE WHEN n_exact > 0 THEN "
               "(2 * n_both * 1000000 + n_exact) DIV (2 * n_exact) END")
        .alias("recall_ppm"),
        (F.col("n_candidate") - F.col("n_both")).alias("n_extra"),
    )
