"""Document-curation operator tests (dedup / textstats) on
/root/testdata/sf0.001."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


# ------------------------------------------------------------- dedup

def test_exact_dedup(spark, docs):
    from openie_spark.datapipe.dedup import exact_dedup, exact_dedup_groups

    two = docs.limit(2).select("doc_id", "text")
    dup = two.unionByName(two.select((F.col("doc_id") + 999).alias("doc_id"), "text"))
    groups = exact_dedup_groups(dup)
    assert groups.count() == 2
    assert groups.agg(F.sum("n_docs")).collect()[0][0] == 4
    kept = exact_dedup(dup)
    assert kept.count() == 2
    assert {r.doc_id for r in kept.collect()} == {r.doc_id for r in two.collect()}


def test_planted_minhash_finds_twins(docs):
    from openie_spark.datapipe.dedup import (
        PLANT_OFFSET,
        ngram_jaccard_pairs,
        planted_docs,
    )
    from openie_spark.kg.dialogue import minhash_pairs_docs

    planted = planted_docs(docs.select("doc_id", "text"))
    assert planted.count() == 2 * docs.count()
    exact = {(r.a, r.b) for r in ngram_jaccard_pairs(planted, threshold=0.5).collect()}
    mh = {(r.a, r.b) for r in minhash_pairs_docs(planted).collect()}
    twins = {(r.doc_id, r.doc_id + PLANT_OFFSET) for r in docs.select("doc_id").collect()}
    exact_twins = twins & exact
    assert len(exact_twins) >= 0.5 * len(twins), "perturbation too strong for 0.5 jaccard"
    # verified LSH pairs are a subset of exact pairs, with high recall
    assert mh <= exact
    assert len(mh & exact_twins) >= 0.8 * len(exact_twins)


def test_minhash_exact_duplicate_groups_full_pairset(spark):
    """The exact-duplicate collapse is semantics-preserving: a corpus
    with a 3-copy group and a 2-copy near-dup of it must emit ALL
    member-level pairs — within-group pairs at exactly 1.0 and every
    cross-group member combination at the rep-level jaccard. Empty
    texts carry the [''] fallback shingle (word_ngrams), so identical
    empties pair at 1.0 — same as the pre-collapse path."""
    from openie_spark.kg.dialogue import minhash_pairs_docs

    base = ("the quick brown fox jumps over the lazy dog and then "
            "runs far away into the deep dark quiet forest tonight")
    near = base.replace("quiet", "loud")      # high-jaccard neighbor
    rows = [(1, base), (2, base), (3, base),  # 3-copy exact group
            (10, near), (11, near),           # 2-copy exact group
            (20, "completely different text about spark shuffles and "
                 "partition sizing at terabyte scale for web corpora"),
            (30, ""), (31, "")]               # empty texts: no pairs
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.a, r.b): r.jaccard
           for r in minhash_pairs_docs(df).collect()}
    for pair in [(1, 2), (1, 3), (2, 3), (10, 11)]:
        assert got.get(pair) == 1.0, (pair, got)
    cross = {(1, 10), (1, 11), (2, 10), (2, 11), (3, 10), (3, 11)}
    assert cross <= set(got)
    assert len({got[p] for p in cross}) == 1       # same rep-level score
    assert 0.5 <= got[(1, 10)] < 1.0
    assert got.get((30, 31)) == 1.0     # identical empties: [''] shingle
    assert not any(20 in (a, b) for a, b in got)   # singleton: no pairs
    assert not any(a >= 30 or b >= 30 for a, b in got if (a, b) != (30, 31))


def test_minhash_null_text_is_not_the_null_marker_text(spark):
    """A NULL-text document and one whose text is the string
    "\\x00NULL" are different documents: the exact-duplicate collapse
    must not group them, so no pair comes back (NULL text has no
    shingles)."""
    from openie_spark.kg.dialogue import minhash_pairs_docs

    df = spark.createDataFrame([(1, None), (2, "\x00NULL")],
                               "doc_id long, text string")
    assert minhash_pairs_docs(df).collect() == []


# --------------------------------------------------------- textstats

def test_doc_stats_and_tokens(docs):
    from openie_spark.datapipe.textstats import doc_stats, token_count_bpe

    st = doc_stats(docs).collect()
    for r in st:
        assert r.n_tokens > 0 and 0 <= r.quality <= 1
        assert 0 <= r.alpha_ratio <= 1
    tc = token_count_bpe(docs).collect()
    for r in tc:
        assert r.re_units >= r.ws_tokens  # regex units split at least as fine


def test_lang_id(spark):
    from openie_spark.datapipe.textstats import lang_id

    docs = spark.createDataFrame(
        [(1, "the cat is in the house", "en"),
         (2, "der hund ist ein tier und das ist gut", "de"),
         (3, "xyzzy qwerty plugh", "xx")],
        "doc_id long, text string, lang string")
    got = {r.doc_id: r.lang_pred for r in lang_id(docs).collect()}
    assert got[1] == "en" and got[2] == "de" and got[3] == "und"


def test_fingerprint_order_sensitive(spark):
    from openie_spark.datapipe.textstats import fingerprint

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a"), (3, "a b c")], "doc_id long, text string")
    fp = {r.doc_id: r.fp for r in fingerprint(docs).collect()}
    assert fp[1] == fp[3] and fp[1] != fp[2]


def test_bpe_pair_counts_hand_values(spark):
    """Tiny corpus golden for the BPE pair-count kernel: word
    frequencies collapse first, pairs carry the end-of-word sentinel,
    ordering is (count desc, pair asc)."""
    from openie_spark.datapipe.textstats import bpe_pair_counts

    corpus = spark.createDataFrame(
        [(0, "ab ab! cd"), (1, "AB c"), (2, "")],
        "doc_id long, text string")
    # words: ab x3, cd x1, c x1  ->  marked: ab> cd> c>
    # pairs: 'ab'*3, 'b>'*3, 'cd'*1, 'd>'*1, 'c>'*1
    got = [(r.pair, r.n) for r in bpe_pair_counts(corpus).collect()]
    assert got == [("ab", 3), ("b>", 3), ("c>", 1), ("cd", 1), ("d>", 1)]


def test_bpe_pair_counts_limit_and_determinism(spark, docs):
    from openie_spark.datapipe.textstats import BPE_TOP_PAIRS, bpe_pair_counts

    a = bpe_pair_counts(docs).collect()
    b = bpe_pair_counts(docs.repartition(7)).collect()
    assert [(r.pair, r.n) for r in a] == [(r.pair, r.n) for r in b]
    assert len(a) <= BPE_TOP_PAIRS
    # counts are non-increasing in the emitted order
    ns = [r.n for r in a]
    assert ns == sorted(ns, reverse=True)


def test_collocations_hand_values(spark):
    """Dice ppm golden on a tiny corpus: exact integer scores,
    (dice desc, w1 asc, w2 asc) ordering."""
    from openie_spark.datapipe.textstats import collocations

    corpus = spark.createDataFrame(
        [(0, "the cat sat"), (1, "the cat ran"), (2, "a cat sat")],
        "doc_id long, text string")
    got = [(r.w1, r.w2, r.n_xy, r.n_x, r.n_y, r.dice_ppm)
           for r in collocations(corpus, min_count=1).collect()]
    # unigrams: the 2, cat 3, sat 2, ran 1, a 1
    assert got == [
        ("cat", "sat", 2, 3, 2, 800000),
        ("the", "cat", 2, 2, 3, 800000),
        ("a", "cat", 1, 1, 3, 500000),
        ("cat", "ran", 1, 3, 1, 500000),
    ]


def test_collocations_min_count_and_determinism(spark, docs):
    from openie_spark.datapipe.textstats import COLLOC_MIN, COLLOC_TOP, collocations

    a = [tuple(r) for r in collocations(docs).collect()]
    b = [tuple(r) for r in collocations(docs.repartition(7)).collect()]
    assert a == b
    assert len(a) <= COLLOC_TOP
    assert all(r[2] >= COLLOC_MIN for r in a)
    scores = [r[5] for r in a]
    assert scores == sorted(scores, reverse=True)


def test_kmv_exact_below_k(spark):
    """Groups with fewer than k distinct grams report the exact
    distinct count (n_kept == est_distinct == true distinct)."""
    from openie_spark.datapipe.textstats import kmv_distinct

    corpus = spark.createDataFrame(
        [(0, "a b c d e", "en"), (1, "a b c d e", "en"), (2, "x y", "de")],
        "doc_id long, text string, lang string")
    # en: grams {a b c, b c d, c d e} (doc dups collapse); de: {x y}
    out = {r.lang: (r.n_kept, r.est_distinct) for r in kmv_distinct(corpus).collect()}
    assert out == {"en": (3, 3), "de": (1, 1)}


def test_kmv_estimator_accuracy_and_determinism(spark, docs):
    """The KMV estimate lands within the k=64 error envelope of the
    true distinct-3-gram count, is partitioning-independent, and the
    salted two-level top-k equals the unsalted global top-k."""
    from pyspark.sql import functions as F

    from openie_spark.datapipe.textstats import KMV_K, kmv_distinct
    from openie_spark.functions.hashing import tokens_of, word_ngrams

    a = sorted(tuple(r) for r in kmv_distinct(docs).collect())
    b = sorted(tuple(r) for r in kmv_distinct(docs.repartition(7)).collect())
    assert a == b
    unsalted = sorted(tuple(r) for r in kmv_distinct(docs, salts=1).collect())
    assert a == unsalted
    true = {r.lang: r.d for r in docs.select(
        "lang", F.explode(word_ngrams(tokens_of(F.col("text")))).alias("g")
    ).distinct().groupBy("lang").agg(F.countDistinct("g").alias("d")).collect()}
    for lang, n_kept, _kth, est in a:
        if n_kept < KMV_K:
            assert est == true[lang]
        else:  # ~12.7% stderr at k=64; 4 sigma
            assert abs(est - true[lang]) / true[lang] < 0.5


def test_quantiles_exact_small_group(spark):
    """Groups smaller than k are sampled in full, so nearest-rank
    quantiles are EXACT — pinned by hand on a 10-doc corpus."""
    from openie_spark.datapipe.textstats import sampled_quantiles

    corpus = spark.createDataFrame(
        [(i, " ".join(["w"] * n), "en")
         for i, n in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])],
        "doc_id long, text string, lang string")
    r = sampled_quantiles(corpus).collect()[0]
    # nearest-rank: ceil(.5*10)=5, ceil(.9*10)=9, ceil(.99*10)=10
    assert (r.lang, r.n_docs, r.n_sample, r.min_words, r.max_words,
            r.p50, r.p90, r.p99) == ("en", 10, 10, 1, 10, 5, 9, 10)


def test_quantiles_sample_accuracy_and_determinism(spark, docs):
    """Sampled p50 lands within the binomial envelope of the true
    median; partitioning-independent; salted two-level == global."""
    from openie_spark.datapipe.textstats import sampled_quantiles
    from openie_spark.functions.hashing import tokens_of

    a = sorted(tuple(r) for r in sampled_quantiles(docs).collect())
    b = sorted(tuple(r) for r in sampled_quantiles(docs.repartition(7)).collect())
    assert a == b
    unsalted = sorted(tuple(r) for r in sampled_quantiles(docs, salts=1).collect())
    assert a == unsalted
    truth = {
        r.lang: (r.n, r.med) for r in docs.select(
            "lang", F.size(tokens_of(F.col("text"))).alias("n_words"))
        .groupBy("lang").agg(
            F.count("*").alias("n"),
            F.expr("percentile(n_words, 0.5)").alias("med")).collect()
    }
    for row in a:
        lang, n_docs, n_sample = row[0], row[1], row[2]
        assert n_docs == truth[lang][0]
        if n_sample >= 64:  # rank stderr ~ sqrt(k)/2 -> value drift small
            assert abs(row[5] - truth[lang][1]) / max(truth[lang][1], 1) < 0.25


def test_hll_python_reference_twin(spark):
    """Registers, exact-integer harmonic sum, raw estimate, and
    lc_gate match a from-scratch pure-Python HLL over the same
    distinct word-3-grams (incl. empty-register accounting)."""
    import hashlib
    import math

    from openie_spark.datapipe.textstats import HLL_M, _HLL_C, _HLL_W, hll_distinct

    texts = [(i, " ".join(f"w{i}k{j}" for j in range(12)), "en") for i in range(30)]
    corpus = spark.createDataFrame(
        texts, "doc_id long, text string, lang string")
    grams = set()
    for _, t, _l in texts:
        toks = t.split()
        grams |= {" ".join(toks[i:i + 3])
                  for i in range(max(len(toks) - 2, 1))}
    regs: dict[int, int] = {}
    for g in grams:
        h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
        suf = h & ((1 << _HLL_W) - 1)
        rho = (_HLL_W + 1) - suf.bit_length() if suf else _HLL_W + 1
        regs[h >> _HLL_W] = max(regs.get(h >> _HLL_W, 0), rho)
    s = sum(1 << (_HLL_W + 1 - r) for r in regs.values()) \
        + (HLL_M - len(regs)) * (1 << (_HLL_W + 1))
    est = math.floor(_HLL_C / float(s))
    rows = hll_distinct(corpus).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.lang, r.n_zero, r.sum_scaled, r.est_hll) == (
        "en", HLL_M - len(regs), s, est)
    assert r.lc_gate == (est <= 5 * HLL_M // 2 and r.n_zero > 0)


def test_hll_accuracy_and_determinism(spark, docs):
    """Raw HLL estimate lands within the m=256 error envelope of the
    true per-lang distinct-3-gram count on every row outside the
    documented linear-counting gate; partitioning-independent."""
    from openie_spark.datapipe.textstats import hll_distinct
    from openie_spark.functions.hashing import tokens_of, word_ngrams

    a = sorted(tuple(r) for r in hll_distinct(docs).collect())
    b = sorted(tuple(r) for r in hll_distinct(docs.repartition(7)).collect())
    assert a == b
    true = {r.lang: r.d for r in docs.select(
        "lang", F.explode(word_ngrams(tokens_of(F.col("text")))).alias("g")
    ).distinct().groupBy("lang").agg(F.countDistinct("g").alias("d")).collect()}
    for lang, _n_zero, _s, est, gated in a:
        if not gated:  # ~6.5% stderr at m=256; generous 4+ sigma
            assert abs(est - true[lang]) / true[lang] < 0.3


def _winnow_py(text, k=8, w=4):
    """Independent pure-python winnowing recompute (md5-first-60-bit
    hashes, rightmost-min tie-break, short-doc fallback)."""
    import hashlib
    import re

    c = re.sub(r"[^a-z0-9]", "", text.lower())
    if len(c) < k:
        return set()
    hs = [int(hashlib.md5(c[i:i + k].encode()).hexdigest()[:15], 16)
          for i in range(len(c) - k + 1)]
    out = set()
    for s in range(max(len(hs) - w + 1, 1)):
        win = hs[s:s + w]
        m = min(win)
        pos = s + max(i for i, h in enumerate(win) if h == m)
        out.add((pos + 1, m))
    return out


def test_winnow_matches_pure_python(spark):
    from openie_spark.datapipe.textstats import winnow_fingerprints

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "Sort-merge JOIN beats hash join when inputs are pre-sorted!",
        "aaaaaaaaaaaaaaaaaaaa",          # constant text -> 1 fingerprint
        "exactly8c",                      # 9 alnum chars: 2 grams < w
        "tiny",                           # < k chars: no output
        "",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {}
    for r in winnow_fingerprints(df).collect():
        got.setdefault(r.doc_id, set()).add((r.pos, r.fp))
    want = {i: _winnow_py(t) for i, t in enumerate(texts) if _winnow_py(t)}
    assert got == want


def test_winnow_shared_substring_guarantee(spark):
    """Any shared substring of length >= k + w - 1 must surface at
    least one shared fingerprint VALUE (the winnowing guarantee)."""
    from openie_spark.datapipe.textstats import (
        WINNOW_K,
        WINNOW_W,
        winnow_fingerprints,
    )

    shared = "distributed query optimizer"  # 25 alnum chars >= 8+4-1
    df = spark.createDataFrame(
        [(0, f"intro text then {shared} and more after"),
         (1, f"completely different head {shared} different tail")],
        "doc_id long, text string")
    rows = winnow_fingerprints(df).collect()
    fps = {i: {r.fp for r in rows if r.doc_id == i} for i in (0, 1)}
    assert len(shared.replace(" ", "")) >= WINNOW_K + WINNOW_W - 1
    assert fps[0] & fps[1], "winnowing guarantee violated"


def test_winnow_pairs_planted_near_dup(spark):
    from openie_spark.datapipe.dedup import winnow_pairs

    a = "the distributed query optimizer rewrites adaptive plans nightly"
    b = a.replace("nightly", "hourly")   # long shared prefix run
    c = "zxqj wvk yyy uuu iii ooo ppp qqq lll kkk jjj hhh"
    df = spark.createDataFrame(
        [(0, a), (1, b), (2, c)], "doc_id long, text string")
    got = {(r.a, r.b): r for r in winnow_pairs(df, min_ppm=1).collect()}
    assert (0, 1) in got
    r = got[(0, 1)]
    assert r.n_shared >= 1 and r.jaccard_ppm > 500000  # mostly identical
    assert not any(2 in k for k in got), "unrelated doc must not pair"


def test_winnow_pairs_boilerplate_cap_drops_bucket(spark):
    """An identical phrase in MORE than cap docs is boilerplate: its
    buckets drop whole and alone it creates no pairs."""
    from openie_spark.datapipe.dedup import winnow_pairs

    boiler = "all rights reserved copyright notice applies"
    df = spark.createDataFrame(
        [(i, f"unique{'x' * i}padding{i} {boiler}") for i in range(4)],
        "doc_id long, text string")
    assert winnow_pairs(df, cap=2, min_ppm=1).count() == 0
    capped_off = winnow_pairs(df, cap=64, min_ppm=1)
    assert capped_off.count() > 0  # same corpus pairs once cap allows


def test_winnow_pairs_partition_invariance(spark):
    from openie_spark.datapipe.dedup import winnow_pairs

    base = "spark shuffles hash partitions across executors evenly"
    df = spark.createDataFrame(
        [(i, base + f" tail{i % 3}") for i in range(9)],
        "doc_id long, text string")
    a = sorted(tuple(r) for r in winnow_pairs(df).collect())
    b = sorted(tuple(r) for r in winnow_pairs(df.repartition(5)).collect())
    assert a == b and a


def test_winnow_hostile_inputs(spark):
    """Null / empty / punct-only / whitespace-only text: no crash, no
    rows (nothing reaches k alnum chars)."""
    from openie_spark.datapipe.dedup import winnow_pairs
    from openie_spark.datapipe.textstats import winnow_fingerprints

    df = spark.createDataFrame(
        [(0, None), (1, ""), (2, "!!! ... ???"), (3, "   \t  ")],
        "doc_id long, text string")
    assert winnow_fingerprints(df).count() == 0
    assert winnow_pairs(df).count() == 0


# ------------------------------------------- exact substring spans

def _substr_spans_py(texts, L):
    """Independent reference: gram-count ExactSubstr over token lists."""
    toks = {i: [w for w in t.split(" ") if w] for i, t in texts.items()}
    from collections import Counter

    occ = Counter()
    for ws in toks.values():
        for p in range(len(ws) - L + 1):
            occ[" ".join(ws[p:p + L])] += 1
    spans = {}
    for i, ws in toks.items():
        dups = [p + 1 for p in range(len(ws) - L + 1)
                if occ[" ".join(ws[p:p + L])] >= 2]
        runs = []
        for p in dups:
            if runs and p == runs[-1][1] + 1:
                runs[-1] = (runs[-1][0], p)
            else:
                runs.append((p, p))
        for s, e in runs:
            spans[(i, s)] = (e, e - s + 1, e - s + L)
    return spans


def test_substr_spans_hand_case(spark):
    from openie_spark.datapipe.dedup import substr_dup_spans

    shared = " ".join(f"w{i}" for i in range(12))      # 12-token run
    texts = {
        0: "a b c " + shared + " x y z",
        1: "p q " + shared + " r s",
        2: "only unique tokens here nothing shared at all today ok fine",
    }
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {(r.doc_id, r.start_pos): (r.end_pos, r.n_grams, r.span_tokens)
           for r in substr_dup_spans(df, length=10).collect()}
    assert got == _substr_spans_py(texts, 10)
    # the 12-token shared run -> 3 duplicated 10-grams -> one span of
    # 12 tokens starting after the 3- and 2-token prefixes
    assert got[(0, 4)] == (6, 3, 12)
    assert got[(1, 3)] == (5, 3, 12)
    assert not any(d == 2 for d, _ in got)


def test_substr_spans_within_doc_repeat(spark):
    from openie_spark.datapipe.dedup import substr_dup_spans

    run = " ".join(f"t{i}" for i in range(10))
    texts = {7: run + " mid1 mid2 " + run}
    df = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {(r.doc_id, r.start_pos): (r.end_pos, r.n_grams, r.span_tokens)
           for r in substr_dup_spans(df, length=10).collect()}
    assert got == _substr_spans_py(texts, 10)
    assert got == {(7, 1): (1, 1, 10), (7, 13): (13, 1, 10)}


def test_substr_spans_planted_twins_nonvacuous(spark, docs):
    from openie_spark.datapipe.dedup import (
        PLANT_OFFSET, planted_docs, substr_dup_spans)

    spans = substr_dup_spans(planted_docs(docs.limit(50))).cache()
    orig = {r.doc_id for r in spans.select("doc_id").distinct().collect()}
    # planted twins share every between-drop run of 14 tokens -> both
    # the original and its twin surface spans
    assert any(d < PLANT_OFFSET for d in orig)
    assert any(d >= PLANT_OFFSET for d in orig)
    assert spans.agg(F.max("span_tokens")).collect()[0][0] >= 10
    spans.unpersist()


# ------------------------------------------------------ BPE merges

def _bpe_py(word_counts, n_merges):
    """Independent transcription of Sennrich et al. (2016): iterate
    best adjacent pair by (count desc, pair asc), merge leftmost-first
    non-overlapping in every word."""
    vocab = {tuple(w + ">"): c for w, c in word_counts.items()}
    merges = []
    for k in range(n_merges):
        counts: dict = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = counts.get(
                    (syms[i], syms[i + 1]), 0) + c
        if not counts:
            break
        (l, r), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((k, l, r, n))
        new = {}
        for syms, c in vocab.items():
            out, pend = [], None
            for s in syms:
                if pend is None:
                    pend = s
                elif pend == l and s == r:
                    out.append(l + r)
                    pend = None
                else:
                    out.append(pend)
                    pend = s
            if pend is not None:
                out.append(pend)
            new[tuple(out)] = new.get(tuple(out), 0) + c
        vocab = new
    return merges


def test_bpe_merges_vs_python_reference(spark):
    from openie_spark.datapipe.textstats import bpe_learn_merges

    texts = ["the cat sat on the mat", "the cat ate the rat",
             "a cattle rattle battle", "low lower lowest low low"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    wc: dict = {}
    for t in texts:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    got = [(r.merge_idx, r.left, r.right, r.n)
           for r in bpe_learn_merges(df, n_merges=10)
           .orderBy("merge_idx").collect()]
    assert got == _bpe_py(wc, 10)
    # overlapping-run semantics: 'aaaa' with pair (a,a) merges
    # leftmost-first into exactly two 'aa' symbols
    df2 = spark.createDataFrame([(0, "aaaa aaaa")], "doc_id long, text string")
    got2 = [(r.merge_idx, r.left, r.right, r.n)
            for r in bpe_learn_merges(df2, n_merges=2)
            .orderBy("merge_idx").collect()]
    assert got2 == _bpe_py({"aaaa": 2}, 2)
    assert got2[0][1:3] == ("a", "a")


def test_bpe_merges_first_round_matches_pair_counts(spark, docs):
    """Round 1 of the merge loop is exactly bpe_pair_counts' top pair
    on the same corpus."""
    from openie_spark.datapipe.textstats import bpe_learn_merges, bpe_pair_counts

    d = docs.limit(200)
    top_pair = bpe_pair_counts(d, k=1).collect()[0]
    m0 = bpe_learn_merges(d, n_merges=1).collect()[0]
    assert m0.left + m0.right == top_pair.pair
    assert m0.n == top_pair.n


def _cms_py(word_counts, depth, width):
    """Independent reference: plain-dict Count-Min with the same
    md5h60-derived row hashes."""
    import hashlib

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    counters: dict = {}
    for w, n in word_counts.items():
        for r in range(depth):
            key = (r, h60(f"{w}#cms{r}") % width)
            counters[key] = counters.get(key, 0) + n
    return {
        w: min(counters[(r, h60(f"{w}#cms{r}") % width)] for r in range(depth))
        for w in word_counts
    }


def test_cms_python_reference_twin_with_collisions(spark):
    """width=4 forces bucket collisions; estimates, ranks and over_ppm
    must match a plain-python CMS over the same word counts."""
    from openie_spark.datapipe.textstats import cms_heavy_hitters

    texts = [(i, " ".join(f"t{(i * 7 + j) % 11}" for j in range(9)), "en")
             for i in range(25)]
    corpus = spark.createDataFrame(
        texts, "doc_id long, text string, lang string")
    counts: dict = {}
    for _, t, _l in texts:
        for w in t.split():
            counts[w] = counts.get(w, 0) + 1
    est = _cms_py(counts, depth=2, width=4)
    want = sorted(((w, est[w], counts[w]) for w in counts),
                  key=lambda x: (-x[1], x[0]))[:5]
    got = cms_heavy_hitters(corpus, depth=2, width=4, topk=5).collect()
    assert [(r.word, r.est_count, r.exact_count) for r in
            sorted(got, key=lambda r: r.rank)] == want
    for r in got:
        assert r.est_count >= r.exact_count  # CMS is one-sided
        assert r.over_ppm == (r.est_count - r.exact_count) * 1_000_000 // r.exact_count


def test_cms_no_collision_is_exact_and_deterministic(spark, docs):
    """At the shipped width the tiny fixture vocabulary cannot
    collide much: every estimate >= exact, top ranks ordered by
    (est DESC, word ASC), and the result is partition-independent."""
    from openie_spark.datapipe.textstats import cms_heavy_hitters

    a = sorted(tuple(r) for r in cms_heavy_hitters(docs).collect())
    b = sorted(tuple(r) for r in
               cms_heavy_hitters(docs.repartition(7)).collect())
    assert a == b and len(a) > 0
    rows = sorted((tuple(r) for r in a), key=lambda t: t[0])
    for r in rows:
        assert r[2] >= r[3] >= 1 and r[4] >= 0
    keys = [( -t[2], t[1]) for t in sorted(rows, key=lambda t: t[0])]
    assert keys == sorted(keys)


def test_containment_excerpt_is_asymmetric(spark):
    """A short doc pasted verbatim into a much longer one: the short
    side's containment is ~1e6 while the long side's is well below —
    and below the default threshold the pair survives only via the
    short direction (the case Jaccard misses by construction)."""
    from openie_spark.datapipe.dedup import containment_pairs

    short = "the adaptive query engine rewrites physical plans at runtime"
    long = ("completely unrelated preamble material occupies space here "
            "before quoting: " + short + " and then the analysis keeps "
            "going with several more unrelated observations afterwards "
            "about storage formats and shuffle behavior in general")
    other = "zxqj wvk yyy uuu iii ooo ppp qqq lll kkk jjj hhh mmm"
    df = spark.createDataFrame(
        [(0, short), (1, long), (2, other)], "doc_id long, text string")
    got = {(r.a, r.b): r for r in containment_pairs(df).collect()}
    assert set(got) == {(0, 1)}
    r = got[(0, 1)]
    # every selected fingerprint of the short doc appears in the long
    # one except possibly spans crossing the paste boundary
    assert r.cont_a_ppm >= 500_000 and r.nf_a < r.nf_b
    assert r.cont_b_ppm < r.cont_a_ppm


def test_containment_python_twin_and_partition_invariance(spark):
    """Parity vs an independent python recompute over _winnow_py's
    fingerprint sets (both directions, round-half-up ppm)."""
    from openie_spark.datapipe.dedup import containment_pairs

    texts = {
        0: "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        1: "alpha beta gamma delta epsilon zeta eta theta iota kappa "
           "lambda mu nu xi omicron pi rho sigma tau upsilon",
        2: "alpha beta gamma delta epsilon zeta",
        3: "entirely different content with no overlap at all here",
    }
    # containment works on DISTINCT fp values (positions dropped)
    fps = {i: {fp for _, fp in _winnow_py(t)} for i, t in texts.items()}
    expected = {}
    for a in texts:
        for b in texts:
            if a >= b:
                continue
            shared = len(fps[a] & fps[b])
            if not shared:
                continue
            ca = (2 * shared * 1_000_000 + len(fps[a])) // (2 * len(fps[a]))
            cb = (2 * shared * 1_000_000 + len(fps[b])) // (2 * len(fps[b]))
            if ca >= 500_000 or cb >= 500_000:
                expected[(a, b)] = (shared, len(fps[a]), len(fps[b]), ca, cb)

    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    got = {(r.a, r.b): (r.n_shared, r.nf_a, r.nf_b,
                        r.cont_a_ppm, r.cont_b_ppm)
           for r in containment_pairs(df).collect()}
    assert got == expected and expected

    again = {(r.a, r.b): (r.n_shared, r.nf_a, r.nf_b,
                          r.cont_a_ppm, r.cont_b_ppm)
             for r in containment_pairs(df.repartition(7)).collect()}
    assert again == expected


def test_bigram_likelihood_hand_and_short_doc(spark):
    """Corpus of three docs: shared bigrams score above unique ones;
    a one-word doc reports zeros; integer round-down mean."""
    from openie_spark.datapipe.textstats import bigram_likelihood

    df = spark.createDataFrame(
        [(0, "the cat sat"), (1, "the cat ran"), (2, "word")],
        "doc_id long, text string")
    # bigram counts: (the,cat)=2, (cat,sat)=1, (cat,ran)=1
    got = {r.doc_id: (r.n_bigrams, r.freq_sum, r.avg_freq)
           for r in bigram_likelihood(df).collect()}
    assert got == {
        0: (2, 3, 1),   # 2+1=3, 3 DIV 2 = 1
        1: (2, 3, 1),
        2: (0, 0, 0),
    }


def test_bigram_likelihood_python_twin_partition_invariant(spark):
    import random
    import re

    from openie_spark.datapipe.textstats import bigram_likelihood

    rnd = random.Random(59)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]
    texts = {i: " ".join(rnd.choice(vocab)
                         for _ in range(rnd.randrange(0, 9)))
             for i in range(25)}
    bg = {}
    doc_bg = {}
    for i, t in texts.items():
        ws = re.findall("[a-z]+", t.lower())
        doc_bg[i] = [(ws[j], ws[j + 1]) for j in range(len(ws) - 1)]
        for p in doc_bg[i]:
            bg[p] = bg.get(p, 0) + 1
    expected = {}
    for i in texts:
        n = len(doc_bg[i])
        s = sum(bg[p] for p in doc_bg[i])
        expected[i] = (n, s, s // n if n else 0)

    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    got = {r.doc_id: (r.n_bigrams, r.freq_sum, r.avg_freq)
           for r in bigram_likelihood(df).collect()}
    assert got == expected and any(v[0] for v in expected.values())

    again = {r.doc_id: (r.n_bigrams, r.freq_sum, r.avg_freq)
             for r in bigram_likelihood(df.repartition(7)).collect()}
    assert again == expected


def test_dup_group_histogram_hand_golden(spark):
    """Group sizes bin by bit length; min/max/sum per bin exact."""
    from openie_spark.datapipe.dedup import dup_group_histogram

    docs = spark.createDataFrame(
        [(1, "aa"), (2, "aa"), (3, "aa"),      # group of 3 -> bin 2
         (4, "bb"), (5, "bb"),                 # group of 2 -> bin 2
         (6, "cc")],                           # singleton   -> bin 1
        "doc_id long, text string")
    got = {r.bin: (r.n_groups, r.min_size, r.max_size, r.sum_docs)
           for r in dup_group_histogram(docs).collect()}
    assert got == {1: (1, 1, 1, 1), 2: (2, 2, 3, 5)}


def test_length_histogram_hand_golden(spark):
    """Token counts bin by bit length; the empty doc lands in bin 0."""
    from openie_spark.datapipe.textstats import length_histogram

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b"), (3, "a"), (4, ""), (5, "  ")],
        "doc_id long, text string")
    got = {r.bin: (r.n_docs, r.min_tokens, r.max_tokens, r.sum_tokens)
           for r in length_histogram(docs).collect()}
    assert got == {0: (2, 0, 0, 0), 1: (1, 1, 1, 1), 2: (2, 2, 3, 5)}
