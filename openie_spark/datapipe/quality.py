"""Corpus-quality operators for LLM training-data curation over
``documents``: Gopher-style repetition/quality signals, corpus TF-IDF
top terms, PII/URL scrubbing, stratified data-mixing sampling, and
greedy sequence packing.

These extend the reference's data-processing surface with the standard
web-corpus curation steps (the reference itself stops at OIE triples;
a production KG/corpus pipeline filters its input first). All rules
come from public sources: the Gopher paper's quality heuristics
(Rae et al. 2021, "Scaling Language Models", table A1 thresholds), the
classic TF-IDF weighting, and plain-regex PII redaction as used by C4.

Engine-parity discipline matches textstats.py: every ratio is exact
integer ppm arithmetic (no float division before the final /1e6), so
a SQL twin reproduces values bit-for-bit; the TF-IDF score uses
a RAW rational idf (N+1)/(df+1) instead of the usual log — a
documented variant chosen because ln() is not correctly-rounded in
either engine and a 1-ulp difference could flip a rank at scale
(same boundary-risk class the round-2 advisor flagged on the GEMM
oracle). Ranks are therefore exact integers in both engines.

Scale shapes (the part that matters at 100 TB):
  * gopher_signals — per-doc scalars are one narrow codegen projection;
    the two n-gram statistics are explode → groupBy(doc_id, gram) with
    map-side partial aggregation, then a per-doc argmax window /
    conditional sum and a doc_id join back. The explode is 1 output row
    per token — inherent to the statistic, shuffle-compressed by the
    partial agg (duplicate grams collapse before the exchange).
  * tfidf_top_terms — explode → groupBy(doc_id, term) [partial agg] →
    groupBy(term) document frequency; the df table joins back on term
    (AQE picks broadcast when the vocabulary fits, sort-merge
    otherwise — do NOT force broadcast: web-scale vocab is unbounded).
    Top-k per doc is one row_number window on doc_id.
  * pii_scrub — pure per-row regex projection, no shuffle. The ~350us
    regexp cost is per DOCUMENT (4 evals/doc), not per occurrence —
    acceptable; the patterns are RE2/Java-portable (no lookarounds).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from openie_spark.datapipe.textstats import _ppm
from openie_spark.functions.hashing import tokens_of

# Gopher table-A1 word-level thresholds (public paper values; the
# line-based rules are omitted — this corpus is single-line text, and
# the rules would be vacuous constants, not signals).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.80
GOPHER_MIN_STOP_HITS = 2
GOPHER_MAX_TOP2GRAM_FRAC = 0.20
GOPHER_MAX_DUP5GRAM_FRAC = 0.15
# Gopher's "must contain ≥2 of" stop set (paper §A1.1).
GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")

TFIDF_TOP_K = 3

# RE2- and Java-portable (no lookaround, no \s shorthand drift).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^ ]+"
PHONE_RE = r"\+1-555-[0-9]{4}"

# Deterministic PII planting (same pattern as dedup.planted_docs):
# which docs get which PII kind, derived from doc_id alone.
PII_EMAIL_MOD = 2
PII_URL_MOD = 3
PII_PHONE_MOD = 5


def _gram_table(docs: DataFrame) -> DataFrame:
    """(doc_id, g2, g5): one row per token position with its 2-gram and
    5-gram (null where the gram would run past the end).

    posexplode + window lead() instead of per-gram array slices inside
    a transform() lambda: the HOF form allocated a slice + array_join
    per gram interpreted (~4s at sf0.1); lead() is whole-stage codegen
    and both gram widths fall out of the same single doc_id shuffle.
    The isNotNull guards matter: concat_ws SKIPS nulls, so an unguarded
    tail would emit truncated grams instead of none."""
    toks = tokens_of(F.col("text"))
    ex = docs.select("doc_id", F.posexplode(toks).alias("pos", "tok"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    leads = ex.select(
        "doc_id", "tok",
        *[F.lead("tok", i).over(w).alias(f"t{i}") for i in range(1, 5)])
    return leads.select(
        "doc_id",
        F.when(F.col("t1").isNotNull(),
               F.concat_ws(" ", "tok", "t1")).alias("g2"),
        F.when(F.col("t4").isNotNull(),
               F.concat_ws(" ", "tok", "t1", "t2", "t3", "t4")).alias("g5"),
    )


def gopher_signals(docs: DataFrame) -> DataFrame:
    """Per-doc Gopher quality signals + pass flag.

    Exact formulas (pinned for the oracle):
      * mean_word_len = ppm(Σ len(word), n_words) / 1e6
      * frac_alpha_words = ppm(#words containing [a-zA-Z], n_words)/1e6
      * n_stop_hits = #DISTINCT Gopher stopwords present (lowercased)
      * top2gram_frac = ppm(min(cnt* · chars(g*), word_chars),
        word_chars)/1e6 where g* is the most frequent word 2-gram
        (ties → lexicographically smallest), chars excluding the
        separator space; capped at 1 (overlapping occurrences of a
        repeated word can cover > total chars).
      * dup5gram_frac = (#5-gram instances whose gram occurs >1× in
        the doc) / (#5-gram instances) — instance-based, in [0,1].
    """
    toks = tokens_of(F.col("text"))
    n_words = F.size(toks)
    word_chars = F.aggregate(toks, F.lit(0), lambda a, w: a + F.length(w))
    alpha_words = F.size(F.filter(toks, lambda w: w.rlike("[a-zA-Z]")))
    low = F.transform(toks, lambda w: F.lower(w))
    stop_hits = F.size(
        F.filter(F.array(*[F.lit(s) for s in GOPHER_STOPS]),
                 lambda s: F.array_contains(low, s)))

    base = docs.select(
        "doc_id",
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        (_ppm(word_chars, F.greatest(n_words, F.lit(1))) / 1e6
         ).alias("mean_word_len"),
        (_ppm(alpha_words, F.greatest(n_words, F.lit(1))) / 1e6
         ).alias("frac_alpha_words"),
        stop_hits.alias("n_stop_hits"),
    )

    # both n-gram statistics from ONE windowed gram table (two
    # consumers — materialize once, Spark won't reuse the subtree)
    grams = _gram_table(docs).localCheckpoint(eager=False)

    # top 2-gram: partial-agg count per (doc, gram) → per-doc argmax
    # by (cnt desc, gram asc) window; cnt·chars over word_chars joins
    # against base below.
    g2 = (grams.filter(F.col("g2").isNotNull())
          .groupBy("doc_id", F.col("g2").alias("gram"))
          .agg(F.count(F.lit(1)).alias("cnt")))
    w2 = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), F.asc("gram"))
    top2 = (g2.withColumn("rn", F.row_number().over(w2))
            .filter(F.col("rn") == 1)
            .select("doc_id", "cnt",
                    # chars of the gram excluding the joining space
                    (F.length("gram") - 1).alias("gram_chars")))

    dup5 = (grams.filter(F.col("g5").isNotNull())
            .groupBy("doc_id", F.col("g5").alias("gram"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("doc_id")
            .agg(F.sum(F.when(F.col("cnt") > 1, F.col("cnt")).otherwise(0)
                       ).alias("dup_inst"),
                 F.sum("cnt").alias("tot_inst")))

    out = (base.join(top2, "doc_id", "left").join(dup5, "doc_id", "left")
           .withColumn(
               "top2gram_frac",
               # explicit null gate: least() SKIPS nulls, so a bare
               # coalesce would score gram-less (single-word) docs as
               # ppm(word_chars, word_chars) = 1.0
               F.when(
                   F.col("cnt").isNotNull(),
                   _ppm(F.least(F.col("cnt") * F.col("gram_chars"),
                                F.col("word_chars")),
                        F.greatest(F.col("word_chars"), F.lit(1))) / 1e6,
               ).otherwise(F.lit(0.0)))
           .withColumn(
               "dup5gram_frac",
               F.coalesce(
                   _ppm(F.col("dup_inst"),
                        F.greatest(F.col("tot_inst"), F.lit(1))) / 1e6,
                   F.lit(0.0)))
           .drop("word_chars", "cnt", "gram_chars", "dup_inst", "tot_inst"))
    passes = (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (F.col("mean_word_len") >= GOPHER_MIN_MEAN_WORD_LEN)
        & (F.col("mean_word_len") <= GOPHER_MAX_MEAN_WORD_LEN)
        & (F.col("frac_alpha_words") >= GOPHER_MIN_ALPHA_FRAC)
        & (F.col("n_stop_hits") >= GOPHER_MIN_STOP_HITS)
        & (F.col("top2gram_frac") <= GOPHER_MAX_TOP2GRAM_FRAC)
        & (F.col("dup5gram_frac") <= GOPHER_MAX_DUP5GRAM_FRAC)
    )
    return out.withColumn("passes_gopher", passes)


def tfidf_top_terms(docs: DataFrame, k: int = TFIDF_TOP_K) -> DataFrame:
    """Top-k corpus TF-IDF terms per document.

    score = ((cnt · 1e6) div n_tokens · (N+1)) div (df+1) — raw
    rational idf in exact INTEGER division, factored in two steps so
    the intermediate stays ≤ 1e6·(N+1) (one-step cnt·(N+1)·1e6 would
    overflow int64 near N=1e9 docs; `/` on longs would silently go
    through double and lose exactness past 2^53). Rank by
    (score desc, term asc), k rows per doc.
    Returns (doc_id, term, cnt, df, score, rank).
    """
    n_docs = docs.count()  # scalar agg on a column-pruned scan
    toks = tokens_of(F.col("text"))
    terms = (docs.select("doc_id", F.size(toks).alias("n_tokens"),
                         F.explode(toks).alias("term"))
             .groupBy("doc_id", "n_tokens", "term")
             .agg(F.count(F.lit(1)).alias("cnt"))
             # consumed twice (df table + scoring join); exchange reuse
             # does not fire across the extra aggregate — materialize
             .localCheckpoint(eager=False))
    df_tbl = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (terms.join(df_tbl, "term")
              .withColumn("tf_ppm", F.col("cnt").cast("long") * 1_000_000)
              .select(
                  "doc_id", "term", "cnt", "df",
                  F.expr(f"((tf_ppm div n_tokens) * {n_docs + 1}) "
                         "div (df + 1)").cast("long").alias("score")))
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("doc_id", "term", "cnt", "df", "score", "rank"))


def planted_pii(docs: DataFrame) -> DataFrame:
    """docs with deterministic synthetic PII appended (doc_id-derived,
    no external data): every PII_*_MODth doc gets an email / URL /
    phone token. Ground truth for the scrubber."""
    did = F.col("doc_id")
    email = F.concat(F.lit(" user"), did, F.lit("@example.com"))
    url = F.concat(F.lit(" https://example.com/d/"), did)
    phone = F.concat(F.lit(" +1-555-"),
                     F.lpad((did % 10_000).cast("string"), 4, "0"))
    text = F.concat(
        F.col("text"),
        F.when(did % PII_EMAIL_MOD == 0, email).otherwise(F.lit("")),
        F.when(did % PII_URL_MOD == 0, url).otherwise(F.lit("")),
        F.when(did % PII_PHONE_MOD == 0, phone).otherwise(F.lit("")),
    )
    return docs.select("doc_id", text.alias("text"))


def pii_scrub(docs: DataFrame) -> DataFrame:
    """Count + redact emails, URLs, phone numbers.

    Redaction order is URL → email → phone (a URL may embed an
    email-shaped userinfo part; scrubbing URLs first keeps the counts
    and the residue deterministic — counts are taken BEFORE any
    replacement, on the original text, so they are order-independent).
    Returns (doc_id, n_emails, n_urls, n_phones, clean_text).
    """
    t = F.col("text")
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0))
    n_urls = F.size(F.regexp_extract_all(t, F.lit(URL_RE), 0))
    n_phones = F.size(F.regexp_extract_all(t, F.lit(PHONE_RE), 0))
    clean = F.regexp_replace(t, URL_RE, "<URL>")
    clean = F.regexp_replace(clean, EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(clean, PHONE_RE, "<PHONE>")
    return docs.select(
        "doc_id",
        n_emails.alias("n_emails"),
        n_urls.alias("n_urls"),
        n_phones.alias("n_phones"),
        clean.alias("clean_text"),
    )


# Deterministic data-mixing rates (a standard curation step: downweight
# the dominant language, keep the rest). md5-ticket sampling is
# engine-exact and reproducible — no RNG state, rerunning at any
# parallelism selects the same documents.
SAMPLE_RATES = {"en": 0.5, "de": 1.0, "fr": 1.0, "es": 1.0, "zh": 0.75}
SAMPLE_DEFAULT_PPM = 250_000
SAMPLE_SALT = "mix1"


def stratified_sample(docs: DataFrame, rates: dict[str, float] | None = None,
                      default_ppm: int = SAMPLE_DEFAULT_PPM) -> DataFrame:
    """Per-stratum bernoulli sample keyed on md5(salt # doc_id):
    keep iff ticket % 1e6 < rate_ppm(lang). Pure projection + filter —
    no shuffle, and at scale the stratum rates compose with partition
    pruning on a lang-partitioned layout. Returns
    (doc_id, lang, source, ticket)."""
    from openie_spark.functions.hashing import md5h60

    rates = SAMPLE_RATES if rates is None else rates
    rate = F.lit(default_ppm)
    for lang, r in sorted(rates.items()):
        # round, don't truncate: int(0.29 * 1e6) is 289999 (the float
        # is 289999.99999…), one ppm under the stated rate — the
        # shipped dyadic defaults hide it, a user-supplied rate won't.
        rate = F.when(F.col("lang") == lang,
                      int(round(r * 1_000_000))).otherwise(rate)
    ticket = md5h60(
        F.concat(F.lit(f"{SAMPLE_SALT}#"), F.col("doc_id").cast("string"))
    ) % 1_000_000
    return (docs.select("doc_id", "lang", "source", ticket.alias("ticket"),
                        rate.alias("rate_ppm"))
            .filter(F.col("ticket") < F.col("rate_ppm"))
            .select("doc_id", "lang", "source", "ticket"))


PACK_BUDGET_TOKENS = 256
PACK_SALT = "pack1"


def pack_sequences(docs: DataFrame,
                   budget: int = PACK_BUDGET_TOKENS) -> DataFrame:
    """Greedy sequential sequence packing (the concatenate-then-chunk
    step of LLM pretraining): documents are laid out in a deterministic
    order and assigned to the pack where they START; a pack may
    overflow the budget by at most one document (the standard greedy
    variant — no document is split).

    Order: (md5 ticket, doc_id) — a deterministic shuffle, so packs mix
    sources/languages instead of preserving corpus order. Implemented
    as ONE global ordering window (cumulative token sum). At 100 TB a
    single unpartitioned window would bottleneck on one task; shard
    the layout first (e.g. partition by ticket prefix and pack within
    shards — each shard is an independent stream, same contract), which
    is exactly what the salt enables. The test-scale query keeps the
    single stream so the oracle is one SQL window.

    Returns (doc_id, n_tokens, pack_id, pack_offset) — offset is the
    token position where the doc starts inside its pack's stream.
    """
    from openie_spark.functions.hashing import md5h60, tokens_of

    ticket = md5h60(
        F.concat(F.lit(f"{PACK_SALT}#"), F.col("doc_id").cast("string")))
    base = docs.select(
        "doc_id",
        F.size(tokens_of(F.col("text"))).alias("n_tokens"),
        ticket.alias("ticket"),
    )
    w = Window.orderBy("ticket", "doc_id")
    start = (F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0)))
    return (base
            .withColumn("start", start.cast("long"))
            .select(
                "doc_id", "n_tokens",
                F.floor(F.col("start") / budget).cast("long").alias("pack_id"),
                (F.col("start") % budget).alias("pack_offset"),
            ))


CHUNK_SIZE_TOKENS = 32
CHUNK_STRIDE_TOKENS = 24


def chunk_documents(docs: DataFrame,
                    size: int = CHUNK_SIZE_TOKENS,
                    stride: int = CHUNK_STRIDE_TOKENS) -> DataFrame:
    """Fixed-window document chunking with overlap — the SPLITTING
    complement to pack_sequences (packing concatenates short docs;
    chunking shards long docs into model-context windows, the standard
    step before embedding / indexing a corpus).

    Pinned semantics: chunk k of a doc with n tokens covers token
    positions [1 + k*stride, min(k*stride + size, n)], for
    k = 0 .. ceil(max(n - size, 0) / stride) — full coverage, overlap
    = size - stride, the last chunk may be short but never empty, and
    no chunk starts beyond the tokens it is needed for. Docs with zero
    tokens (empty/whitespace/NULL text) emit NO rows.

    -> (doc_id, chunk_idx, token_start, n_tokens, chunk_text)

    Scale shape: pure per-row codegen (sequence -> explode of structs),
    no shuffle at all — chunking 100 TB is a map-only job that stays
    inside whole-stage codegen. Each token is copied ~size/stride
    (≈1.3x) times; that expansion is the operator's spec, not a plan
    accident.
    """
    from openie_spark.functions.hashing import tokens_of

    n_chunks = (
        F.ceil(F.greatest(F.col("n_tok") - size, F.lit(0)) / stride) + 1
    ).cast("int")
    base = docs.select(
        "doc_id", tokens_of(F.col("text")).alias("toks")
    ).withColumn("n_tok", F.size("toks")).where(F.col("n_tok") > 0)
    return (
        base.select(
            "doc_id", "toks",
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1))
            .alias("chunk_idx", "_k"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            (F.col("chunk_idx") * stride + 1).alias("token_start"),
            F.slice("toks", F.col("chunk_idx") * stride + 1, size).alias("c"),
        )
        .select(
            "doc_id", "chunk_idx",
            F.col("token_start").cast("long"),
            F.size("c").cast("long").alias("n_tokens"),
            F.array_join("c", " ").alias("chunk_text"),
        )
    )


CURATE_MIN_QUALITY = 0.70


def curated_corpus(docs: DataFrame,
                   min_quality: float = CURATE_MIN_QUALITY) -> DataFrame:
    """The full curation funnel in one plan: exact-dedup keeper →
    quality threshold → stratified mixing sample → benchmark
    decontamination, with per-stage flags so the funnel is auditable
    (how many docs each stage drops). ``kept`` = survives all four.
    Each stage is an already-oracled operator — this is composition,
    not new semantics.

    The quality stage is textstats.doc_stats' corpus-calibrated score
    (not the Gopher pass flag: the paper's ≥2-stopword rule zeroes
    this synthetic corpus — gopher_signals stays available as its own
    operator for corpora it fits). The decontamination stage marks a
    doc clean iff it is a TRAIN-slice doc with no contamination flag —
    the eval holdout slice itself is by definition excluded from a
    training corpus, so eval docs get is_clean = False.
    Returns (doc_id, is_unique, passes_quality, in_sample, is_clean,
    kept)."""
    from openie_spark.datapipe.decontam import decontaminate
    from openie_spark.datapipe.dedup import exact_dedup_groups
    from openie_spark.datapipe.textstats import doc_stats

    keepers = exact_dedup_groups(docs).select(
        F.col("keep_doc_id").alias("doc_id"), F.lit(True).alias("is_unique"))
    quality = doc_stats(docs).select(
        "doc_id", (F.col("quality") >= min_quality).alias("passes_quality"))
    sampled = stratified_sample(docs).select(
        "doc_id", F.lit(True).alias("in_sample"))
    clean = decontaminate(docs).select(
        "doc_id", (~F.col("contaminated")).alias("is_clean"))
    return (
        docs.select("doc_id")
        .join(keepers, "doc_id", "left")
        .join(quality, "doc_id", "left")
        .join(sampled, "doc_id", "left")
        .join(clean, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("is_unique", F.lit(False)).alias("is_unique"),
            F.coalesce("passes_quality", F.lit(False)).alias("passes_quality"),
            F.coalesce("in_sample", F.lit(False)).alias("in_sample"),
            F.coalesce("is_clean", F.lit(False)).alias("is_clean"),
        )
        .withColumn("kept", F.col("is_unique") & F.col("passes_quality")
                    & F.col("in_sample") & F.col("is_clean"))
    )


def corpus_mixture(docs: DataFrame) -> DataFrame:
    """Corpus composition report for data-mixing decisions:
    (lang, source, n_docs, n_tokens, doc_ppm, token_ppm) — each
    stratum's exact integer-ppm share of documents and of tokens.

    Scale shape: ONE partial-aggregated groupBy collapses the corpus
    to stratum granularity (|langs| x |sources| rows); the share
    window then runs over that TINY aggregate — the unpartitioned
    window is safe precisely because it sees post-agg rows, never the
    corpus."""
    from openie_spark.functions.hashing import tokens_of

    per = (
        docs.select(
            "lang", "source",
            F.size(tokens_of(F.col("text"))).alias("n_tok"))
        .groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("n_tok").cast("long").alias("n_tokens"))
    )
    from openie_spark.datapipe.textstats import _ppm_wide

    # _ppm_wide, not _ppm: these are the only corpus-scale numerators
    # in the repo (a dominant stratum of a 100 TB corpus is ~1e13
    # tokens — past both _ppm's double-exactness bound and its int64
    # intermediate). Totals are staged as named columns because DIV
    # only exists as a SQL operator.
    w = Window.partitionBy()
    tot = per.select(
        "*",
        F.sum("n_docs").over(w).alias("tot_docs"),
        F.sum("n_tokens").over(w).alias("tot_tokens"),
    )
    return tot.select(
        "lang", "source", "n_docs", "n_tokens",
        _ppm_wide("n_docs", "tot_docs").alias("doc_ppm"),
        _ppm_wide("n_tokens", "tot_tokens").alias("token_ppm"),
    )
