"""Benchmark decontamination: flag training documents whose word
n-grams overlap a held-out benchmark/eval set.

The standard pre-training hygiene step (GPT-3 appx. C used 13-gram
overlap, Llama-2 used token n-grams): any training document sharing
long n-grams with an evaluation benchmark leaks test data into the
model. Here the "benchmark" is a deterministic md5-ticket slice of the
corpus itself (sandbox rule: no external data), which doubles as a
ground-truth generator — the planted exact/near duplicates in the
documents table produce real contamination hits across the split.

Semantics (engine-portable; tests/test_decontam.py mirrors them with
a brute-force Python reference):

* tokens: split on single space, empty tokens dropped (repo-wide
  convention, hashing.tokens_of).
* grams: distinct word 8-grams per doc; docs shorter than 8 tokens
  contribute their whole token list as ONE gram (same fallback as
  hashing.word_ngrams). Grams travel as md5h60 hashes — the shuffle
  carries 8-byte keys, never the strings.
* eval membership: md5h60('decon-v1#' || doc_id) % 1e6 <
  DECON_HOLDOUT_PPM — the salted-ticket scheme of
  quality.stratified_sample (deterministic at any parallelism).
* output, one row per TRAIN doc: n_grams (distinct), n_hit (distinct
  grams also present anywhere in the eval slice), contam_ppm =
  round-half-up ppm(n_hit / n_grams), contaminated flag at
  DECON_CONTAM_PPM.

Scale shape (100 TB corpus, benchmark-sized eval slice): gram build is
posexplode + window lead over ONE doc_id shuffle (whole-stage codegen
— the per-gram slice/join HOF form is interpreted, measured ~4s/sf0.1
in the gopher work); per-doc distinct is a partial-aggregated shuffle
on (doc_id, gh); the probe is an equi-join on the 8-byte gram hash —
uniformly distributed by construction (no skew), and AQE broadcasts
the eval side when it fits (a real benchmark suite is millions of
grams, far under broadcast limits). The gram table feeds both sides of
the split, so it is localCheckpointed once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from openie_spark.datapipe.textstats import _ppm
from openie_spark.functions.hashing import md5h60, tokens_of

DECON_N = 8                  # word n-gram width
DECON_HOLDOUT_PPM = 50_000   # 5% of docs act as the benchmark slice
DECON_SALT = "decon-v1"
DECON_CONTAM_PPM = 100_000   # >=10% of a doc's grams hit => contaminated


def _ticket(doc_id: Column) -> Column:
    return md5h60(
        F.concat(F.lit(f"{DECON_SALT}#"), doc_id.cast("string"))) % 1_000_000


def gram_hashes(docs: DataFrame, n: int = DECON_N) -> DataFrame:
    """(doc_id, gh): distinct md5h60 hashes of the doc's word n-grams
    (whole-token-list fallback below n tokens; NULL text yields one
    NULL gh so the doc still reports a row downstream)."""
    base = docs.select("doc_id", tokens_of(F.col("text")).alias("toks"))
    ex = base.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    tails = [f"t{i}" for i in range(1, n)]
    leads = ex.select(
        "doc_id", "tok",
        *[F.lead("tok", i).over(w).alias(t) for i, t in enumerate(tails, 1)])
    # concat_ws SKIPS nulls: the isNotNull guard on the LAST lead is
    # what stops truncated tail grams from leaking out.
    full = leads.where(F.col(tails[-1]).isNotNull()).select(
        "doc_id", F.concat_ws(" ", "tok", *tails).alias("g"))
    # explicit NULL arm: size(NULL) is NULL (not -1) so a bare `< n`
    # would silently DROP null-text docs — the oracle keeps them as
    # one NULL-gram row, and so must we.
    short = base.where(
        (F.size("toks") < n) | F.col("toks").isNull()
    ).select("doc_id", F.array_join("toks", " ").alias("g"))
    return (
        full.unionAll(short)
        .select("doc_id", md5h60(F.col("g")).alias("gh"))
        .distinct()
    )


def decontaminate(docs: DataFrame,
                  holdout_ppm: int = DECON_HOLDOUT_PPM,
                  contam_ppm: int = DECON_CONTAM_PPM) -> DataFrame:
    """-> (doc_id, n_grams, n_hit, contam_ppm, contaminated) for every
    TRAIN doc (the ~1-holdout_ppm complement of the eval slice)."""
    grams = gram_hashes(docs).localCheckpoint(eager=False)
    tick = _ticket(F.col("doc_id"))
    ev = grams.where(tick < holdout_ppm).select("gh").distinct()
    tr = grams.where(tick >= holdout_ppm)
    hits = tr.join(ev.withColumn("hit", F.lit(1)), "gh", "left")
    ppm = _ppm(F.col("n_hit"), F.greatest(F.col("n_grams"), F.lit(1)))
    return (
        hits.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"))
        .select(
            "doc_id", "n_grams", "n_hit",
            ppm.alias("contam_ppm"),
            (ppm >= contam_ppm).alias("contaminated"),
        )
    )


# ------------------------------------------------- boilerplate scrub

# Fixed banner phrase planted as deterministic ground truth (the
# dedup-family pattern: planted_docs plants near-dup twins, this
# plants sub-document boilerplate). 13 tokens -> 6 full-width 8-grams
# live entirely inside the banner and recur across every planted doc;
# grams straddling the doc-tail/banner boundary stay doc-unique.
BOILER_BANNER = ("subscribe to our newsletter terms of service apply "
                 "all rights reserved click here")
BOILER_EVERY = 5             # every 5th doc carries the banner
BOILER_MIN_DOCS = 3          # a gram in >= this many docs is boilerplate
BOILER_FLAG_PPM = 20_000     # >=2% boilerplate grams flags the doc


def planted_boilerplate(docs: DataFrame, every: int = BOILER_EVERY) -> DataFrame:
    """docs with BOILER_BANNER appended to every ``every``-th doc_id —
    deterministic boilerplate ground truth (NULL text stays NULL:
    concat propagates it)."""
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % every == 0,
               F.concat(F.col("text"), F.lit(" " + BOILER_BANNER)))
        .otherwise(F.col("text")).alias("text"))


def boilerplate_stats(docs: DataFrame,
                      min_docs: int = BOILER_MIN_DOCS,
                      flag_ppm: int = BOILER_FLAG_PPM) -> DataFrame:
    """Sub-document boilerplate detection (the RefinedWeb/CCNet-style
    hygiene pass at n-gram granularity): a word 8-gram occurring in
    >= ``min_docs`` DISTINCT documents is boilerplate; per doc report
    (doc_id, n_grams, n_boiler, boiler_ppm, flagged).

    Scale shape (100 TB): gram build is the shared gram_hashes plan
    (posexplode + window lead, one doc_id shuffle, 8-byte gram hashes);
    the document-frequency table is ONE partial-aggregated groupBy(gh)
    count — grams are distinct per doc, so count(*) IS the
    distinct-doc count, and hot boilerplate grams are exactly the skew
    map-side combine absorbs. The probe is an equi-join on the
    uniformly-distributed hash; the boilerplate side is tiny (grams
    over the df floor) so AQE broadcasts it.
    """
    grams = gram_hashes(docs).localCheckpoint(eager=False)
    boiler = (
        grams.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= min_docs)
        .select("gh", F.lit(1).alias("b"))
    )
    ppm = _ppm(F.col("n_boiler"), F.greatest(F.col("n_grams"), F.lit(1)))
    return (
        grams.join(boiler, "gh", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"),
             F.sum(F.coalesce("b", F.lit(0))).alias("n_boiler"))
        .select("doc_id", "n_grams", "n_boiler",
                ppm.alias("boiler_ppm"),
                (ppm >= flag_ppm).alias("flagged"))
    )


BLOOM_M_BITS = 1 << 16       # filter size (bits)
BLOOM_K = 4                  # hash functions; fpp ~ (1-e^{-kn/m})^k


def bloom_flags(docs: DataFrame, m_bits: int = BLOOM_M_BITS,
                k: int = BLOOM_K) -> DataFrame:
    """Bloom-filter membership pre-filter with an exact audit ->
    (doc_id, bloom_hit, true_member): the shuffle-free alternative to
    a corpus×corpus anti-join. The KEY set is the exact content hashes
    of the md5-ticket eval slice (the same deterministic split
    decontaminate uses); every TRAIN doc is tested for "content seen
    in the key set". bloom_hit is the filter's answer, true_member the
    exact one — Bloom never misses (bloom_hit is true for every true
    member by construction; a pytest pins it), so the interesting rows
    are the false positives, whose rate sizes m/k for the real corpus.

    Engine-portable bits: bit_j(x) = md5h60('bloomj#' || x) % m_bits —
    the filter content is a deterministic function of the key set, so
    the DuckDB twin rebuilds the identical bitmap.

    Scale shape: the bit table is a distinct over keys×k (≤ m_bits
    rows TOTAL regardless of corpus — broadcast side of every probe
    join); probes explode each test doc to k bit rows, join the bit
    table (broadcast hash join), and a partial-aggregated count==k per
    doc gives the verdict. ONE corpus-scale agg, no corpus×corpus
    join anywhere; the exact audit column joins only against the
    eval-slice-sized distinct hash set (semi-join)."""
    hashed = docs.select(
        "doc_id", F.md5("text").alias("h"),
        (_ticket(F.col("doc_id")) < DECON_HOLDOUT_PPM).alias("is_eval"),
    ).localCheckpoint(eager=False)
    keys = hashed.filter("is_eval").select("h").distinct()

    def bits_of(col):
        return [
            F.pmod(md5h60(F.concat(F.lit(f"bloom{j}#"), col)),
                   F.lit(m_bits)).alias("bit")
            for j in range(k)
        ]

    bitmap = (
        keys.select(F.explode(F.array(*bits_of(F.col("h")))).alias("bit"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    train = hashed.filter(~F.col("is_eval"))
    probes = train.select(
        "doc_id", "h", F.explode(F.array(*bits_of(F.col("h")))).alias("bit"))
    hits = (
        probes.join(bitmap, "bit", "semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_set"))
    )
    member = keys.select(F.col("h").alias("mh")).distinct()
    return (
        train.join(hits, "doc_id", "left")
        .join(member, train.h == member.mh, "left")
        .select(
            "doc_id",
            (F.coalesce("n_set", F.lit(0)) == k).alias("bloom_hit"),
            F.col("mh").isNotNull().alias("true_member"),
        )
    )


def planted_exact(docs: DataFrame) -> DataFrame:
    """docs ∪ EXACT copies (doc_id += PLANT_OFFSET, text unchanged):
    ground truth for bloom_flags — each text exists exactly twice with
    independent md5 tickets, so ~2·holdout_ppm of train docs have
    their twin in the eval slice and are TRUE members."""
    from openie_spark.datapipe.dedup import PLANT_OFFSET

    return docs.select("doc_id", "text").unionByName(
        docs.select((F.col("doc_id") + PLANT_OFFSET).alias("doc_id"), "text"))
