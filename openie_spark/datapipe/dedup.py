"""Deduplication operators over a ``documents`` table (doc_id, text).

* ``exact_dedup_groups`` / ``exact_dedup`` — md5(text) hash-groupBy.
  One shuffle on the content hash: tiny keys, map-side partial agg.
* ``ngram_jaccard_pairs`` — exact all-pairs word-3-gram Jaccard, the
  small-scale ground truth for the minhash-LSH path
  (``openie_spark.kg.dialogue.minhash_pairs_docs``).
* ``substr_dup_spans`` — exact duplicated token spans (ExactSubstr).
* ``winnow_pairs`` / ``containment_pairs`` — substring-level near-dup
  pairs over shared winnowing fingerprints, symmetric and asymmetric.
* ``dup_group_histogram`` — log2-binned exact-duplicate group sizes.

``planted_docs`` doubles the corpus with deterministically perturbed
copies (every PERTURB_DROPth token dropped) so dedup operators have a
non-trivial, exactly-known answer on the synthetic testdata — the
planted twin of doc i is doc i + PLANT_OFFSET.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from openie_spark.functions.hashing import md5h60, tokens_of, word_ngrams
from openie_spark.kg.dialogue import DOC_JACCARD, PERTURB_DROP

PLANT_OFFSET = 10_000_000


# ------------------------------------------------------------ exact

def exact_dedup_groups(docs: DataFrame) -> DataFrame:
    """(text_hash, n_docs, keep_doc_id): keeper = min doc_id."""
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Documents with exact-duplicate texts removed (keep min doc_id).
    Expressed as a window-free groupBy + semi-join so the heavy ``text``
    column never shuffles twice."""
    keep = exact_dedup_groups(docs).select(F.col("keep_doc_id").alias("doc_id"))
    return docs.join(keep, "doc_id", "left_semi")


# ---------------------------------------------------------- planted

def planted_docs(docs: DataFrame) -> DataFrame:
    """docs ∪ perturbed twins (drop every PERTURB_DROPth token;
    doc_id += PLANT_OFFSET). Deterministic near-dup ground truth."""
    toks = tokens_of(F.col("text"))
    perturbed = docs.select(
        (F.col("doc_id") + PLANT_OFFSET).alias("doc_id"),
        F.array_join(
            F.filter(toks, lambda w, i: (i + 1) % PERTURB_DROP != 0), " "
        ).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(perturbed)


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = DOC_JACCARD) -> DataFrame:
    """Exact all-pairs n-gram Jaccard (cross join) — the small-scale
    ground truth; quadratic by construction, use the LSH path at scale."""
    from openie_spark.functions.partitioning import spread

    sh = spread(docs, "doc_id").select(
        "doc_id", word_ngrams(tokens_of(F.col("text"))).alias("shingles"))
    left = sh.select(F.col("doc_id").alias("a"), F.col("shingles").alias("sa"))
    right = sh.select(F.col("doc_id").alias("b"), F.col("shingles").alias("sb"))
    inter = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    return (
        left.join(right, F.col("a") < F.col("b"))
        .withColumn("jaccard", inter / (F.size("sa") + F.size("sb") - inter))
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", F.round("jaccard", 6).alias("jaccard"))
    )


SUBSTR_L = 10  # tokens per gram; Lee et al. (2022) use 50-token spans —
               # pinned lower so the PERTURB_DROP=15 planted twins
               # (shared runs of 14 tokens) produce a non-trivial answer


def substr_dup_spans(docs: DataFrame, length: int = SUBSTR_L) -> DataFrame:
    """Exact duplicated substrings (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — the ExactSubstr
    criterion) -> (doc_id, start_pos, end_pos, n_grams, span_tokens):
    maximal token spans whose every ``length``-token gram occurs at
    least twice in the corpus.

    The reference method builds one giant suffix array; the
    distributed re-expression is gram-hash counting — a position is
    duplicated iff its L-gram hash has global count >= 2, and
    consecutive duplicated positions merge into maximal spans (a span
    of n >= L duplicated tokens is exactly n-L+1 consecutive
    duplicated grams, so the two formulations agree on spans >= L).

    Scale shape: Generate-barriered gram-hash array (hashes evaluate
    once per doc; rows leaving the scan are (doc_id, pos, hash) —
    gram length drops out of the shuffle width), ONE shuffle on the
    gram hash for the global occurrence count (window, partial-agg
    friendly), ONE shuffle on doc_id for the island merge. Hash
    collisions (60-bit) are the standard ExactSubstr trade at 100 TB.
    """
    toks_stage = docs.select(
        "doc_id",
        F.inline(F.array(F.struct(tokens_of(F.col("text")).alias("toks")))),
    )
    t = F.col("toks")
    gh_stage = toks_stage.filter(F.size(t) >= length).select(
        "doc_id",
        F.inline(F.array(F.struct(
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (length - 1)),
                lambda i: md5h60(F.array_join(F.slice(t, i, length), " ")),
            ).alias("ghs")))),
    )
    pos_gh = gh_stage.select(
        "doc_id", F.posexplode("ghs").alias("pos0", "gh")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "gh")
    from pyspark.sql.window import Window

    # duplicated grams via partial-agg groupBy + semi-join, NOT a
    # window over gh: a boilerplate gram occurring 10^9 times at
    # corpus scale would land in ONE window partition (straggler /
    # OOM), while the groupBy map-side-combines it away and the join
    # is AQE-skew-splittable.
    pos_gh = pos_gh.localCheckpoint(eager=False)   # count + join sides
    dup_gh = (
        pos_gh.groupBy("gh").agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= 2)
        .select("gh")
    )
    dup = pos_gh.join(dup_gh, "gh", "left_semi").select("doc_id", "pos")
    island = (F.col("pos") - F.row_number().over(
        Window.partitionBy("doc_id").orderBy("pos"))).alias("island")
    return (
        dup.select("doc_id", "pos", island)
        .groupBy("doc_id", "island")
        .agg(F.min("pos").alias("start_pos"),
             F.max("pos").alias("end_pos"),
             F.count(F.lit(1)).alias("n_grams"))
        .select(
            "doc_id", "start_pos", "end_pos", "n_grams",
            (F.col("end_pos") - F.col("start_pos") + length).alias("span_tokens"),
        )
    )


WINNOW_BUCKET_CAP = 64          # max docs per fingerprint bucket
WINNOW_MIN_JACCARD_PPM = 100_000  # keep pairs with fp-Jaccard >= 10%


def winnow_pairs(docs: DataFrame, cap: int = WINNOW_BUCKET_CAP,
                 min_ppm: int = WINNOW_MIN_JACCARD_PPM,
                 fp: DataFrame | None = None) -> DataFrame:
    """Substring-level near-dup pairs from shared winnowing
    fingerprints (the MOSS pairing step on top of
    textstats.winnow_fingerprints): two documents pair when the Jaccard
    of their selected-fingerprint SETS clears ``min_ppm`` — by the
    winnowing guarantee this catches copies that share runs of
    k + w - 1 chars even when word-level shingles differ.

    A fingerprint held by more than ``cap`` documents is corpus
    boilerplate — its bucket is dropped whole (deterministic, the
    MAX_BLOCK philosophy), so n_shared is exact over surviving buckets
    and the self-join fan-out is bounded by cap² per fingerprint.
    Per-doc fingerprint counts stay exact (uncapped).

    Scale shape: the map-only fingerprint pass, ONE shuffle on fp (the
    window count and the self-join reuse the same partitioning), a
    doc-sized count aggregate whose two attach joins AQE broadcasts,
    and a partial-aggregated (a, b) rollup filtered by the exact-ppm
    threshold.

    ``fp`` lets a caller running several fingerprint consumers (this,
    containment_pairs) supply one shared distinct-(doc_id, fp) table
    instead of recomputing the winnowing pass per operator."""
    from openie_spark.datapipe.textstats import winnow_fingerprints

    d = fp if fp is not None else (
        winnow_fingerprints(docs).select("doc_id", "fp").distinct()
        .localCheckpoint(eager=False))   # feeds nf + both join sides
    nf = d.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    # bucket sizes via partial-agg groupBy + semi-join, NOT a window
    # over fp: a corpus-boilerplate fingerprint would land its whole
    # bucket in one window partition before the cap filter could drop
    # it, while the groupBy map-side-combines and the semi-join is
    # AQE-skew-splittable.
    small_fp = (
        d.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") <= cap)
        .select("fp")
    )
    bucketed = (
        d.join(small_fp, "fp", "left_semi")
        .select("doc_id", "fp")
        .localCheckpoint(eager=False)     # self-join: one lineage
    )
    l = bucketed.select("fp", F.col("doc_id").alias("a"))
    r = bucketed.select("fp", F.col("doc_id").alias("b"))
    pairs = (
        l.join(r, "fp").where(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = nf.select(F.col("doc_id").alias("a"), F.col("nf").alias("nf_a"))
    nb = nf.select(F.col("doc_id").alias("b"), F.col("nf").alias("nf_b"))
    return (
        pairs.join(na, "a").join(nb, "b")
        .withColumn("jaccard_ppm", F.expr(
            "(2 * n_shared * 1000000 + (nf_a + nf_b - n_shared))"
            " DIV (2 * (nf_a + nf_b - n_shared))"))
        .where(F.col("jaccard_ppm") >= min_ppm)
        .select("a", "b", "n_shared", "nf_a", "nf_b", "jaccard_ppm")
    )


CONTAIN_MIN_PPM = 500_000   # keep pairs where EITHER direction >= 50%


def containment_pairs(docs: DataFrame, cap: int = WINNOW_BUCKET_CAP,
                      min_ppm: int = CONTAIN_MIN_PPM,
                      fp: DataFrame | None = None) -> DataFrame:
    """Asymmetric containment pairs (Broder 1997's containment
    coefficient over the winnowing fingerprint sets) ->
    (a, b, n_shared, nf_a, nf_b, cont_a_ppm, cont_b_ppm):
    cont_a = |F_A ∩ F_B| / |F_A| — how much of A lives inside B — and
    symmetrically cont_b; one row per unordered pair (a < b) carrying
    BOTH directions, kept when EITHER clears ``min_ppm``. This is the
    signal Jaccard structurally misses: a short doc pasted into a much
    longer one has tiny Jaccard (union is huge) but containment ~1 on
    the short side — the quote/excerpt/boilerplate-expansion case a
    training-data pipeline must catch, and the reason the candidate
    step here is the shared-fingerprint equi-join (size-ratio blind)
    rather than minhash bands (which approximate Jaccard and therefore
    inherit its blindness).

    Ratios are round-half-up integer ppm against each side's own
    fingerprint count — no float division. Same scale shape and
    boilerplate-bucket cap as winnow_pairs (ONE fp shuffle reused by
    the bucket count and the self-join; per-doc counts exact and
    uncapped; ``fp`` = optional caller-shared fingerprint table, as in
    winnow_pairs)."""
    from openie_spark.datapipe.textstats import winnow_fingerprints

    d = fp if fp is not None else (
        winnow_fingerprints(docs).select("doc_id", "fp").distinct()
        .localCheckpoint(eager=False))
    nf = d.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    small_fp = (
        d.groupBy("fp").agg(F.count(F.lit(1)).alias("n_docs"))
        .where(F.col("n_docs") <= cap)
        .select("fp")
    )
    bucketed = (
        d.join(small_fp, "fp", "left_semi")
        .select("doc_id", "fp")
        .localCheckpoint(eager=False)
    )
    l = bucketed.select("fp", F.col("doc_id").alias("a"))
    r = bucketed.select("fp", F.col("doc_id").alias("b"))
    pairs = (
        l.join(r, "fp").where(F.col("a") < F.col("b"))
        .groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_shared"))
    )
    na = nf.select(F.col("doc_id").alias("a"), F.col("nf").alias("nf_a"))
    nb = nf.select(F.col("doc_id").alias("b"), F.col("nf").alias("nf_b"))
    return (
        pairs.join(na, "a").join(nb, "b")
        .withColumn("cont_a_ppm", F.expr(
            "(2 * n_shared * 1000000 + nf_a) DIV (2 * nf_a)"))
        .withColumn("cont_b_ppm", F.expr(
            "(2 * n_shared * 1000000 + nf_b) DIV (2 * nf_b)"))
        .where((F.col("cont_a_ppm") >= min_ppm)
               | (F.col("cont_b_ppm") >= min_ppm))
        .select("a", "b", "n_shared", "nf_a", "nf_b",
                "cont_a_ppm", "cont_b_ppm")
    )


def dup_group_histogram(docs: DataFrame) -> DataFrame:
    """Log2-binned exact-duplicate group-size profile -> (bin,
    n_groups, min_size, max_size, sum_docs): bin b covers group sizes
    [2^(b-1), 2^b) via the no-floating-log2 bit-length trick (the
    kg support_histogram shape). The dedup audit readout: bin 1 is the
    unique mass, a fat bin >= 2 quantifies how much the exact pass
    will remove and whether a boilerplate source is flooding the
    corpus. <= 64 output rows at any corpus size.

    Scale shape: the same single md5-groupBy shuffle exact_dedup
    already pays, then a <= 64-group collapse. No windows."""
    return (
        exact_dedup_groups(docs)
        .withColumn("bin", F.length(F.bin("n_docs")).cast("int"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_groups"),
            F.min("n_docs").alias("min_size"),
            F.max("n_docs").alias("max_size"),
            F.sum("n_docs").alias("sum_docs"),
        )
    )
