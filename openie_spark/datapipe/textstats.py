"""Text analysis over ``documents``: language-ID, quality scoring,
token counting, document fingerprinting. All pure column expressions
(whole-stage codegen, narrow plans) in engine-portable integer
arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pyspark.sql.window import Window

from openie_spark.functions.hashing import md5h60, tokens_of, word_ngrams

# Tiny per-language stopword profiles for the n-gram/stopword-overlap
# language heuristic (real deployments plug a fastText-style model into
# the same column contract).
LANG_PROFILES = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "was", "for", "with"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "mit", "von", "zu"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "avec", "de", "du"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "con", "de", "por"),
}
STOPWORDS_EN = LANG_PROFILES["en"] + ("that", "this", "it", "on", "as", "at", "by")
FP_PRIME = 1_000_000_007
FP_MULT = 31
TOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def _ppm(num, den):
    """round-half-up(num/den * 1e6) in exact integer arithmetic —
    engine-portable (double rounding of x.xxxxxx5 values differs
    between Spark and DuckDB; integer floor((2a+b)/2b) does not).

    PER-DOC numerators only: Spark's ``/`` is double division, so the
    floor is exact only while 2*num*1e6+den < 2^53 (num <~ 4.5e9) —
    fine for every per-document ratio here, wrong for corpus-scale
    sums. Those use ``_ppm_wide``."""
    return F.floor((2 * num.cast("long") * 1_000_000 + den) / (2 * den)).cast("long")


def _ppm_wide(num: str, den: str):
    """round-half-up(num/den * 1e6) in PURE BIGINT arithmetic for
    corpus-scale operands (num <= den <= ~4.6e15, i.e. ~18 PB of text
    at 4 bytes/token — comfortably past the 100 TB design point where
    _ppm's double division loses exactness at num ~4.5e9 and its
    2*num*1e6 intermediate wraps int64 at num ~4.6e12).

    Identity:  num*1e6/den = a*1000 + ra*1000/den
    with a = (num*1000) DIV den, ra = (num*1000) % den — adding the
    integer a*1000 commutes with round-half-up, and every intermediate
    stays under 2^63: num*1000 <= 4.6e18 and 2*ra*1000+den <
    2*den*1000 + den <= 9.2e18. DIV/% on BIGINT are engine-portable
    (DuckDB ``//``/``%``; tests/test_quality.py checks the twin).

    Takes SQL fragment strings (DIV only exists as a SQL operator);
    callers stage num/den as named columns first."""
    return F.expr(
        f"((({num}) * 1000) DIV ({den})) * 1000"
        f" + (2 * ((({num}) * 1000) % ({den})) * 1000 + ({den}))"
        f" DIV (2 * ({den}))"
    ).cast("long")


def doc_stats(docs: DataFrame) -> DataFrame:
    """Per-doc counts + quality score in [0,1]: penalizes extreme
    length, low alpha ratio, and stopword-free (unnatural) text.
    All ratios are exact ppm integers scaled to double."""
    toks = tokens_of(F.col("text"))
    n_tok = F.size(toks)
    n_chars = F.length("text")
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    stop_hits = F.size(F.filter(toks, lambda w: F.lower(w).isin(*STOPWORDS_EN)))
    mean_len = _ppm(n_chars - (n_tok - 1), F.greatest(n_tok, F.lit(1))) / 1e6
    alpha_ppm = _ppm(alpha, F.greatest(n_chars, F.lit(1)))
    stop_ppm = _ppm(stop_hits, F.greatest(n_tok, F.lit(1)))
    alpha_ratio = alpha_ppm / 1e6
    stop_ratio = stop_ppm / 1e6
    len_ppm = F.when((n_tok >= 10) & (n_tok <= 5000), 1_000_000).otherwise(500_000)
    quality = (
        4 * len_ppm + 3 * alpha_ppm
        + 3 * F.least(5 * stop_ppm, F.lit(1_000_000).cast("long"))
    ).cast("double") / 1e7
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_chars.alias("n_chars"),
        mean_len.alias("mean_word_len"),
        alpha_ratio.alias("alpha_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-overlap language heuristic: score(lang) = hits of that
    language's profile among the doc's tokens; winner by (score desc,
    lang asc); 'und' (undetermined) when all scores are 0."""
    toks = tokens_of(F.lower(F.col("text")))

    def profile_hits(words):
        # single-arg lambda via factory: a default-arg lambda would be
        # mistaken for Spark's (element, index) two-arg form
        return F.size(F.filter(toks, lambda w: w.isin(*words)))

    scores = [
        profile_hits(words).alias(f"s_{lang}")
        for lang, words in sorted(LANG_PROFILES.items())
    ]
    scored = docs.select("doc_id", "lang", *scores)
    # argmax via struct max on (score, inverted-rank): highest score
    # wins; ties go to the alphabetically-first language
    ranked = F.array(*[
        F.struct(
            F.col(f"s_{lang}").alias("score"),
            F.lit(len(LANG_PROFILES) - i).alias("inv"),
            F.lit(lang).alias("lang"),
        )
        for i, lang in enumerate(sorted(LANG_PROFILES))
    ])
    win = F.array_max(ranked)
    return scored.select(
        "doc_id", "lang",
        *[F.col(f"s_{lang}") for lang in sorted(LANG_PROFILES)],
        F.when(win["score"] > 0, win["lang"]).otherwise(F.lit("und")).alias("lang_pred"),
    )


def token_count_bpe(docs: DataFrame) -> DataFrame:
    """Whitespace tokens + a BPE-ish regex unit count (alpha runs,
    digit runs, single symbols) — the pre-tokenizer unit count an LLM
    data pipeline budgets by."""
    return docs.select(
        "doc_id",
        F.size(tokens_of(F.col("text"))).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).alias("re_units"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Order-sensitive rolling hash over tokens:
    fp = fold(acc * 31 + md5h60(token) mod P) — engine-portable
    (everything stays < 2^40, no overflow in either engine)."""
    toks = tokens_of(F.col("text"))
    fp = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: (acc * FP_MULT + md5h60(t) % FP_PRIME) % FP_PRIME,
    )
    return docs.select("doc_id", fp.alias("fp"))


BPE_TOP_PAIRS = 200
BPE_EOW = ">"   # end-of-word sentinel; words are [a-z]+ so it cannot collide


def bpe_pair_counts(docs: DataFrame, k: int = BPE_TOP_PAIRS) -> DataFrame:
    """The inner loop of BPE tokenizer training: corpus-weighted
    adjacent-symbol pair counts over the initial character vocabulary
    (Sennrich et al. 2016 — public algorithm), top-``k`` pairs by
    (count desc, pair asc).

    Scale shape: the pair explode runs over the DISTINCT-WORD table,
    not the corpus — ``groupBy(word)`` first collapses 100 TB of text
    to a Heaps'-law vocabulary (~10^7 rows), and per-pair counts are
    weighted by word frequency. Word counting itself is one shuffle
    with map-side partial aggregation; the final top-k is
    TakeOrderedAndProject (per-partition top-k, no global sort). This
    is exactly how production BPE trainers scale (word-count then
    pair-count over the vocab), so adding a merge loop on top is a
    driver-side iteration over a vocab-sized table.
    """
    words = (
        docs.select(F.explode(F.regexp_extract_all(
            F.lower("text"), F.lit("[a-z]+"), 0)).alias("word"))
        .groupBy("word").agg(F.count("*").alias("n"))
        .withColumn("word", F.concat(F.col("word"), F.lit(BPE_EOW)))
    )
    pair = F.explode(F.transform(
        F.sequence(F.lit(1), F.length("word") - 1),
        lambda i: F.substring(F.col("word"), i, F.lit(2)),
    )).alias("pair")
    return (
        words.select(pair, "n")
        .groupBy("pair").agg(F.sum("n").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(k)
    )


BPE_MERGES = 12


def bpe_learn_merges(docs: DataFrame, n_merges: int = BPE_MERGES) -> DataFrame:
    """Full BPE tokenizer training (Sennrich et al. 2016, the public
    merge loop) -> (merge_idx, left, right, n): the ``n_merges``
    highest-frequency adjacent-symbol merges, learned over the
    corpus-weighted distinct-word vocabulary with the same pinned
    (count DESC, left ASC, right ASC) tie-break as bpe_pair_counts.
    Words start as character symbols with the ``>`` end-of-word
    sentinel (so merge round 1 reproduces bpe_pair_counts' top pair);
    each round merges the winning pair leftmost-first non-overlapping
    in every word, exactly the reference algorithm's semantics.

    Scale shape: the corpus collapses to the Heaps'-law vocabulary in
    ONE word-count shuffle; each merge round is then a vocab-scale
    pair explode + partial-agg count + a ONE-ROW argmax collect (the
    justified driver step — production BPE trainers are this same
    driver loop), and the merge application is a JVM-side aggregate()
    fold with a struct accumulator (no Python in the loop). Symbol
    tables are localCheckpointed per round so round k's plan never
    re-derives rounds < k.

    Value-pinned by pytest parity against an independent
    transcription of the published algorithm (tests/test_datapipe.py).
    """
    syms0 = F.split(F.concat(F.col("word"), F.lit(BPE_EOW)), "")
    vocab = (
        docs.select(F.explode(F.regexp_extract_all(
            F.lower("text"), F.lit("[a-z]+"), 0)).alias("word"))
        .groupBy("word").agg(F.count("*").alias("n"))
        .select(syms0.alias("syms"), "n")
        .localCheckpoint(eager=False)
    )
    spark = docs.sparkSession
    merges: list[tuple[int, str, str, int]] = []
    for k in range(n_merges):
        s = F.col("syms")
        top = (
            vocab.where(F.size(s) >= 2)
            .select(
                F.explode(F.transform(
                    F.sequence(F.lit(1), F.size(s) - 1),
                    lambda i: F.struct(
                        F.element_at(s, i).alias("l"),
                        F.element_at(s, i + 1).alias("r")),
                )).alias("p"), "n")
            .groupBy("p.l", "p.r").agg(F.sum("n").alias("n"))
            .orderBy(F.desc("n"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not top:
            break
        l, r, n = top[0]["l"], top[0]["r"], top[0]["n"]
        merges.append((k, l, r, n))
        lc, rc, mc = F.lit(l), F.lit(r), F.lit(l + r)
        zero = F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(None).cast("string").alias("pend"))
        fold = F.aggregate(
            F.col("syms"), zero,
            lambda acc, e: F.when(
                acc["pend"].isNull(),
                F.struct(acc["out"].alias("out"), e.alias("pend")),
            ).when(
                (acc["pend"] == lc) & (e == rc),
                F.struct(F.array_append(acc["out"], mc).alias("out"),
                         F.lit(None).cast("string").alias("pend")),
            ).otherwise(
                F.struct(F.array_append(acc["out"], acc["pend"]).alias("out"),
                         e.alias("pend"))),
            lambda acc: F.when(
                acc["pend"].isNull(), acc["out"]
            ).otherwise(F.array_append(acc["out"], acc["pend"])),
        )
        vocab = vocab.select(fold.alias("syms"), "n").localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "merge_idx int, left string, right string, n long")


COLLOC_MIN = 5    # min bigram count — kills the hapax-pair dice=1.0 noise
COLLOC_TOP = 200


def collocations(docs: DataFrame, min_count: int = COLLOC_MIN,
                 k: int = COLLOC_TOP) -> DataFrame:
    """Adjacent-word collocation extraction ranked by the Dice
    coefficient 2*n_xy/(n_x+n_y) (Smadja 1993 — public measure),
    top-``k`` by (dice desc, bigram asc) over pairs seen at least
    ``min_count`` times. Dice over PMI on purpose: PMI's N*n_xy
    numerator overflows BIGINT at corpus scale and needs a log that
    is not correctly-rounded in either engine, while Dice's operands
    stay at occurrence scale and ``_ppm_wide`` makes the score an
    exact engine-portable integer.

    Scale shape: bigram formation is map-only array work inside the
    scan projection; bigram and unigram counting are each one shuffle
    with map-side partial aggregation (Heaps'-law result sizes); the
    two count joins run bigram-vocab x unigram-vocab, where AQE
    broadcasts the unigram side iff it fits; the final top-k is
    TakeOrderedAndProject (per-partition top-k, no global sort).
    """
    ws = F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
    n = F.size(ws)
    bigrams = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(
            F.element_at(ws, i).alias("w1"),
            F.element_at(ws, i + 1).alias("w2"),
        ),
    )).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    pairs = (
        docs.select(F.explode(bigrams).alias("b"))
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2").agg(F.count("*").alias("n_xy"))
        .filter(F.col("n_xy") >= min_count)
    )
    uni = (
        docs.select(F.explode(ws).alias("w"))
        .groupBy("w").agg(F.count("*").alias("n_w"))
    )
    return (
        pairs
        .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("n_w", "n_x"), "w1")
        .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("n_w", "n_y"), "w2")
        .select(
            "w1", "w2", "n_xy", "n_x", "n_y",
            _ppm_wide("2 * n_xy", "n_x + n_y").alias("dice_ppm"),
        )
        .orderBy(F.desc("dice_ppm"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


KMV_K = 64      # sketch size: relative stderr ~ 1/sqrt(k-2) ~ 12.7%
KMV_SALTS = 32  # first-level top-k fan-out (skew spreading)


def kmv_distinct(docs: DataFrame, k: int = KMV_K, salts: int = KMV_SALTS) -> DataFrame:
    """K-minimum-values distinct-count sketch (Bar-Yossef et al. 2002,
    public algorithm): estimated distinct word-3-gram count per
    language from only the ``k`` smallest md5 hash values per group —
    the mergeable cardinality estimator a corpus profiler runs where
    an exact COUNT(DISTINCT) would shuffle every distinct gram.
    Estimate = (k-1) / v_k with v_k the k-th smallest hash normalized
    to (0,1]; groups with fewer than ``k`` distinct grams are exact.

    Scale shape: one distinct shuffle on (lang, h) — map-side partial
    aggregation collapses repeats before the wire, same cost class as
    any distinct-count job — then a two-level top-k: the first
    row_number window partitions by (lang, h % salts), so a single hot
    language spreads over ``salts`` external-sort tasks instead of
    one, and only salts*k survivors per language reach the final
    (tiny) per-lang window. The k smallest of each salt bucket are a
    superset of the global k smallest, so two-level == global top-k
    at any parallelism. The estimate itself is engine-portable: FLOOR
    of one exactly-representable double division ((k-1)*2^60 and the
    60-bit hash convert exactly; no ROUND tie-break hazards).
    """
    grams = docs.select(
        "lang", F.explode(word_ngrams(tokens_of(F.col("text")))).alias("gram")
    ).select("lang", md5h60(F.col("gram")).alias("h"))
    d = grams.distinct().withColumn("salt", F.pmod(F.col("h"), F.lit(salts)))
    w1 = Window.partitionBy("lang", "salt").orderBy("h")
    w2 = Window.partitionBy("lang").orderBy("h")
    kept = (
        d.withColumn("r", F.row_number().over(w1)).filter(F.col("r") <= k)
        .select("lang", "h")
        .withColumn("r", F.row_number().over(w2)).filter(F.col("r") <= k)
    )
    scale = float((k - 1) * (1 << 60))  # exact: 6-bit mantissa * 2^60
    return (
        kept.groupBy("lang")
        .agg(F.count("*").cast("int").alias("n_kept"), F.max("h").alias("kth_hash"))
        .withColumn(
            "est_distinct",
            F.when(F.col("n_kept") < k, F.col("n_kept").cast("long")).otherwise(
                F.floor(F.lit(scale) / F.col("kth_hash").cast("double")).cast("long")
            ),
        )
    )


QUANT_K = 256       # sample size per group: quantile stderr ~ sqrt(p(1-p)/k)
QUANT_SALTS = 32    # first-level top-k fan-out (same trick as kmv_distinct)
QUANT_PCTS = (50, 90, 99)


def sampled_quantiles(docs: DataFrame, k: int = QUANT_K,
                      salts: int = QUANT_SALTS,
                      pcts: tuple = QUANT_PCTS) -> DataFrame:
    """Per-language token-count quantile sketch via deterministic
    bottom-k-by-hash sampling (bottom-k sampling is the classic
    mergeable uniform-sample sketch, e.g. Cohen & Kaplan 2007): keep
    the ``k`` docs with the smallest md5h60(doc_id) — a uniform sample
    independent of the value — then report NEAREST-RANK quantiles
    (rank ceil(p*n/100), pure integer arithmetic, no interpolation)
    over the sample, plus the EXACT n_docs/min/max from a partial-agg
    pass. Everything emitted is an integer: no floating quantile
    interpolation to drift between engines.

    Scale shape: the value column never shuffles at occurrence scale —
    the exact aggregates are map-side partial (count/min/max), and the
    sample uses the same salted two-level top-k as ``kmv_distinct``
    (per-(lang, h%salts) row_number, then a final window over
    <=salts*k survivors), so a hot language spreads over ``salts``
    external sorts and two-level == global top-k at any parallelism.
    Windows order by (h, n_words) so hash ties stay deterministic."""
    stats = docs.select(
        "lang",
        F.size(tokens_of(F.col("text"))).alias("n_words"),
        md5h60(F.col("doc_id").cast("string")).alias("h"),
    )
    exact = stats.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.min("n_words").alias("min_words"),
        F.max("n_words").alias("max_words"),
    )
    d = stats.withColumn("salt", F.pmod(F.col("h"), F.lit(salts)))
    w1 = Window.partitionBy("lang", "salt").orderBy("h", "n_words")
    w2 = Window.partitionBy("lang").orderBy("h", "n_words")
    kept = (
        d.withColumn("r", F.row_number().over(w1)).filter(F.col("r") <= k)
        .select("lang", "n_words", "h")
        .withColumn("r", F.row_number().over(w2)).filter(F.col("r") <= k)
    )
    samp = kept.groupBy("lang").agg(
        F.count("*").cast("int").alias("n_sample"),
        F.sort_array(F.collect_list(F.struct("n_words", "h"))).alias("vals"),
    )
    out = samp.join(exact, "lang")
    for p in pcts:
        out = out.withColumn(
            f"p{p}",
            F.element_at(
                "vals", F.expr(f"CAST((n_sample * {p} + 99) DIV 100 AS INT)")
            )["n_words"],
        )
    return out.select("lang", "n_docs", "n_sample", "min_words", "max_words",
                      *[f"p{p}" for p in pcts])


HLL_P = 8                  # register-index bits: m = 256 registers
HLL_M = 1 << HLL_P
_HLL_W = 60 - HLL_P        # rank-suffix bits of the 60-bit md5 hash
# alpha_m * m^2 * 2^(w+1), computed ONCE here and embedded as the same
# shortest-roundtrip literal in both engines (evaluating the alpha
# formula separately per engine could differ in the last ulp).
_HLL_C = (0.7213 / (1.0 + 1.079 / HLL_M)) * HLL_M * HLL_M * float(1 << (_HLL_W + 1))


def hll_distinct(docs: DataFrame) -> DataFrame:
    """HyperLogLog distinct-count sketch (Flajolet et al. 2007, public
    algorithm) over word-3-grams per language — the register-based
    counterpart to ``kmv_distinct``: m=256 registers from the top
    ``HLL_P`` bits of the 60-bit md5 hash, register value = leading-
    zero rank of the remaining ``_HLL_W`` bits, raw estimate
    alpha_m*m^2 / sum(2^-M_j).

    Engine-portable by construction: rank = w+1 - bitlength(suffix)
    via ``bin()`` string length (identical in Spark and DuckDB, no
    floating log2); the harmonic sum is kept as the EXACT integer
    S = sum(2^(w+1-M_j)) (each term a BIGINT shift, max 256*2^53 <
    2^63), so the only floating-point steps are one correctly-rounded
    int->double conversion and one division by the shared constant —
    bit-identical across engines. Small-range (linear-counting) and
    large-range corrections are NOT folded in (their m*ln(m/V) needs a
    transcendental with engine-varying last-ulp); instead ``lc_gate``
    marks rows where the standard correction would apply, keeping the
    emitted numbers exactly reproducible.

    Scale shape: strictly better than KMV — no distinct shuffle of the
    gram universe at all. Duplicates cannot change a register max, so
    the ONLY shuffle is the partial-aggregated groupBy on
    (lang, bucket): at most m=256 groups per language cross the wire
    regardless of corpus size, and the final per-lang assembly touches
    <=256 rows/lang. This is why HLL is the profiler's default at
    100 TB and KMV the precision-tunable alternative."""
    grams = docs.select(
        "lang", F.explode(word_ngrams(tokens_of(F.col("text")))).alias("gram")
    )
    h = md5h60(F.col("gram"))
    regs = (
        grams.select(
            "lang",
            F.shiftright(h, _HLL_W).cast("int").alias("bucket"),
            h.bitwiseAND(F.lit((1 << _HLL_W) - 1)).alias("suffix"),
        )
        .withColumn(
            "rho",
            F.when(F.col("suffix") == 0, F.lit(_HLL_W + 1)).otherwise(
                F.lit(_HLL_W + 1) - F.length(F.bin("suffix"))
            ).cast("int"),
        )
        .groupBy("lang", "bucket")
        .agg(F.max("rho").alias("r"))
    )
    empty_term = 1 << (_HLL_W + 1)  # empty register: M_j=0 -> 2^(w+1)
    return (
        regs.withColumn(
            "scaled", F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_W + 1} - r)")
        )
        .groupBy("lang")
        .agg(F.count("*").cast("int").alias("n_present"),
             F.sum("scaled").alias("s_present"))
        .select(
            "lang",
            (F.lit(HLL_M) - F.col("n_present")).cast("int").alias("n_zero"),
            (F.col("s_present")
             + (F.lit(HLL_M) - F.col("n_present")).cast("long") * F.lit(empty_term)
             ).alias("sum_scaled"),
        )
        .withColumn(
            "est_hll",
            F.floor(F.lit(_HLL_C) / F.col("sum_scaled").cast("double")).cast("long"),
        )
        .withColumn(
            "lc_gate",
            (F.col("est_hll") <= F.lit(5 * HLL_M // 2)) & (F.col("n_zero") > 0),
        )
    )


WINNOW_K = 8   # char k-gram length
WINNOW_W = 4   # window size; match guarantee t = WINNOW_K + WINNOW_W - 1


def winnow_fingerprints(docs: DataFrame, k: int = WINNOW_K,
                        w: int = WINNOW_W) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — public algorithm): over the alnum-only lowercased
    text, hash every char k-gram, then in every window of ``w``
    consecutive hashes keep the minimum (rightmost position on ties);
    the deduped selections are the document's robust fingerprint set —
    any substring match of length >= k + w - 1 between two documents is
    guaranteed to surface a shared selected fingerprint, which is the
    property MOSS-style near-dup detectors rely on. Docs with fewer
    than ``w`` k-grams keep their single global minimum (short-doc
    fallback); docs shorter than ``k`` chars emit nothing.

    Scale shape: map-only — scan → Generate-barriered projections (the
    k-gram hash array is materialized ONCE; without the barrier
    CollapseProject re-inlines it into every window lambda and the md5
    work multiplies by w) → explode. Per-doc O(len·w) JVM-side array
    work, zero shuffles, so the operator scales embarrassingly at any
    corpus size. md5h60 gram hashes keep the full selection
    recomputable outside Spark (tests/test_datapipe.py rebuilds it in
    pure Python).
    """
    alnum = sorted("abcdefghijklmnopqrstuvwxyz0123456789")
    clean_stage = docs.select(
        "doc_id",
        F.inline(F.array(F.struct(
            F.array_join(
                F.filter(F.split(F.lower(F.col("text")), ""),
                         lambda ch: ch.isin(*alnum)),
                "",
            ).alias("clean")))),
    )
    c = F.col("clean")
    hs_stage = clean_stage.filter(F.length(c) >= k).select(
        "doc_id",
        F.inline(F.array(F.struct(
            F.transform(
                F.sequence(F.lit(1), F.length(c) - (k - 1)),
                lambda i: md5h60(F.substring(c, i, F.lit(k))),
            ).alias("hs")))),
    )
    hs = F.col("hs")
    n = F.size(hs)
    sel = F.array_distinct(F.transform(
        # window starts; a doc with fewer than w grams gets one
        # truncated window (the least() below clamps the end)
        F.sequence(F.lit(1), F.greatest(n - (w - 1), F.lit(1))),
        lambda s: F.array_min(F.transform(
            F.sequence(s, F.least(s + (w - 1), n)),
            # min on (hash, -pos): smallest hash, rightmost position
            lambda j: F.struct(F.element_at(hs, j).alias("fp"),
                               (-j).alias("np")),
        )),
    ))
    return (
        hs_stage.select("doc_id", F.explode(sel).alias("s"))
        .select("doc_id",
                (-F.col("s.np")).cast("int").alias("pos"),
                F.col("s.fp").alias("fp"))
    )


CMS_DEPTH = 4        # rows: P(over by >= e) <= 2^-depth per query
CMS_WIDTH = 1024     # cols: expected overestimate ~ N_total / width
CMS_TOPK = 50


def cms_heavy_hitters(docs: DataFrame, depth: int = CMS_DEPTH,
                      width: int = CMS_WIDTH,
                      topk: int = CMS_TOPK) -> DataFrame:
    """Corpus heavy hitters through a Count-Min sketch (Cormode &
    Muthukrishnan 2005, public algorithm) -> (word, est_count,
    exact_count, over_ppm): the top-``topk`` words by SKETCH-estimated
    occurrence count, with the exact count and the one-sided
    overestimate (ppm of exact) beside it as the audit a profiler
    publishes to size the sketch. Estimate = min over ``depth`` rows
    of counter[row, md5h60(word || '#cms<row>') mod width]; CMS never
    underestimates, so over_ppm >= 0 always.

    Scale shape: ONE corpus-scale shuffle — the word-frequency
    collapse (groupBy word), whose map-side combine absorbs hot words.
    The counter table is folded from that collapse (sum of word counts
    per (row, col) — identical integers to a row-at-a-time streaming
    build, since counter increments are additive), so it costs
    depth x vocab rows pre-combine and is AT MOST depth*width rows
    total regardless of corpus size; the readout joins the vocab
    against that <=4096-row table (broadcast by AQE) and takes the
    min per word. Top-k runs two-level salted (per-salt top-k is a
    superset of the global top-k), so no single external sort sees
    the whole vocabulary. Ordering (est DESC, word ASC) is total —
    set-deterministic output at any parallelism.
    """
    exact = (
        docs.select(F.explode(tokens_of(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .localCheckpoint(eager=False)  # feeds counters AND readout
    )
    rows = F.explode(F.array(*[
        F.struct(
            F.lit(r).alias("row"),
            F.pmod(md5h60(F.concat(F.col("word"), F.lit(f"#cms{r}"))),
                   F.lit(width)).alias("col"),
        ) for r in range(depth)
    ])).alias("rc")
    keyed = exact.select("word", "exact_count", rows).select(
        "word", "exact_count", F.col("rc.row").alias("row"),
        F.col("rc.col").alias("col"))
    counters = (
        keyed.groupBy("row", "col")
        .agg(F.sum("exact_count").alias("counter"))
    )
    est = (
        keyed.join(counters, ["row", "col"])
        .groupBy("word", "exact_count")
        .agg(F.min("counter").alias("est_count"))
    )
    salts = 32
    w1 = Window.partitionBy("salt").orderBy(F.desc("est_count"), F.asc("word"))
    w2 = Window.orderBy(F.desc("est_count"), F.asc("word"))
    return (
        est.withColumn("salt", F.pmod(md5h60(F.col("word")), F.lit(salts)))
        .withColumn("r", F.row_number().over(w1)).filter(F.col("r") <= topk)
        .select("word", "est_count", "exact_count")
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= topk)
        .select(
            "rank", "word", "est_count", "exact_count",
            # integer division keeps the audit column exact on both
            # engines (Spark `/` is double; DuckDB CAST rounds)
            F.expr("(est_count - exact_count) * 1000000 div exact_count")
            .alias("over_ppm"),
        )
    )


def bigram_likelihood(docs: DataFrame) -> DataFrame:
    """Corpus-likelihood quality scoring -> (doc_id, n_bigrams,
    freq_sum, avg_freq): each document scored by how typical its
    adjacent word bigrams are of THIS corpus — the count-based
    stand-in for LM-perplexity filtering (CCNet-style): a document of
    common constructions scores high, word salad / boilerplate-mangled
    / wrong-language text scores near the floor. avg_freq is the
    round-down integer mean corpus frequency of the doc's bigrams
    (freq_sum DIV n_bigrams) — exact BIGINT arithmetic end-to-end, no
    log-probabilities whose rounding differs between engines. Docs
    with < 2 words report (0, 0, 0).

    Scale shape: bigram formation is map-only array work inside the
    scan projection, checkpointed once to feed BOTH the count
    aggregate and the score join; the global bigram table is one
    partial-aggregated shuffle (Heaps'-law size); the score join is
    occurrence x vocab on the bigram key — hot bigrams are probe-side
    fan-out AQE can skew-split, one output row per probe; the per-doc
    rollup is a second partial-aggregated shuffle."""
    ws = F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
    n = F.size(ws)
    bigrams = F.when(n >= 2, F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.struct(
            F.element_at(ws, i).alias("w1"),
            F.element_at(ws, i + 1).alias("w2"),
        ),
    )).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    per_doc = (
        docs.select("doc_id", F.explode(bigrams).alias("b"))
        .select("doc_id", "b.w1", "b.w2")
        .localCheckpoint(eager=False)   # feeds counts AND the join
    )
    counts = per_doc.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n_xy"))
    scored = (
        per_doc.join(counts, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("n_xy").alias("freq_sum"),
        )
    )
    return (
        docs.select("doc_id").join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("freq_sum", F.lit(0)).cast("long").alias("freq_sum"),
            F.coalesce(F.expr("freq_sum DIV n_bigrams"), F.lit(0))
            .cast("long").alias("avg_freq"),
        )
    )


def length_histogram(docs: DataFrame) -> DataFrame:
    """Log2-binned document-length profile -> (bin, n_docs,
    min_tokens, max_tokens, sum_tokens): token counts bucketed by bit
    length (bin b covers [2^(b-1), 2^b); empty docs land in bin 0) —
    the one-page corpus shape report a curation pass reads before
    setting min/max-length filters, and the capacity planner's input
    for sequence packing. <= 64 rows at any corpus size.

    Scale shape: map-only token count (no shuffle touches text), one
    <= 64-group partial-agg collapse."""
    n_tok = F.size(tokens_of(F.col("text")))
    return (
        docs.select(n_tok.alias("n"))
        .withColumn("bin", F.when(F.col("n") == 0, 0)
                    .otherwise(F.length(F.bin("n"))).cast("int"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n").cast("long").alias("min_tokens"),
            F.max("n").cast("long").alias("max_tokens"),
            F.sum("n").alias("sum_tokens"),
        )
    )
