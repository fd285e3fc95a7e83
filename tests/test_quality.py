"""Corpus-quality operators (datapipe.quality): Gopher signals,
TF-IDF top terms, PII scrub — hand-computed goldens + edge guards."""

from __future__ import annotations

import pytest

from openie_spark.datapipe import quality as q


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_gopher_signals_hand_values(spark):
    # 8 distinct words incl. 2 Gopher stopwords; no repetition
    clean = "the cat sat with a very large dog"
    # "x y " * 30: top 2-gram "x y" occurs 30x, dup 5-grams everywhere
    reps = ("x y " * 30).strip()
    out = {r["doc_id"]: r for r in q.gopher_signals(
        _docs(spark, [(1, clean), (2, reps)])).collect()}

    c = out[1]
    assert c["n_words"] == 8
    assert c["n_stop_hits"] == 2          # the, with
    assert c["frac_alpha_words"] == 1.0
    # words: 3+3+3+4+1+4+5+3 = 26 chars
    assert c["mean_word_len"] == 3.25
    assert c["dup5gram_frac"] == 0.0      # all 5-grams distinct
    assert not c["passes_gopher"]         # fails the 50-word floor

    r = out[2]
    assert r["n_words"] == 60
    # top 2-gram "x y": 30 occurrences x 2 chars over 60 word-chars
    assert r["top2gram_frac"] == 1.0
    # every 5-gram ("x y x y x" / "y x y x y") recurs
    assert r["dup5gram_frac"] == 1.0
    assert not r["passes_gopher"]


def test_gopher_passes_on_good_doc(spark):
    # 50+ varied words, stopword-rich, no dominant n-gram
    words = [f"word{i}" for i in range(46)] + ["the", "of", "and", "with"]
    doc = " ".join(words)
    row = q.gopher_signals(_docs(spark, [(1, doc)])).collect()[0]
    assert row["n_words"] == 50
    assert row["n_stop_hits"] == 4
    assert row["passes_gopher"]


def test_gopher_short_doc_guard(spark):
    # < n words: lead() past the end is null and the isNotNull guard
    # must drop the truncated gram (concat_ws silently SKIPS nulls)
    rows = q.gopher_signals(
        _docs(spark, [(1, "solo"), (2, ""), (3, "a b c d")])).collect()
    by = {r["doc_id"]: r for r in rows}
    assert by[1]["top2gram_frac"] == 0.0 and by[1]["dup5gram_frac"] == 0.0
    assert by[2]["n_words"] == 0 and by[2]["mean_word_len"] == 0.0
    assert by[3]["dup5gram_frac"] == 0.0  # 4 words -> no 5-grams
    assert by[3]["top2gram_frac"] > 0.0   # but 2-grams exist


def test_tfidf_hand_values(spark):
    # 2 docs; "rare" only in doc 1, "common" in both
    d1 = "common rare common"
    d2 = "common other other other"
    out = q.tfidf_top_terms(_docs(spark, [(1, d1), (2, d2)]), k=2)
    rows = {(r["doc_id"], r["term"]): r for r in out.collect()}
    # doc1 "rare": tf_ppm = 1*1e6 // 3 = 333333; idf num N+1=3, df+1=2
    # score = 333333*3 // 2 = 499999
    assert rows[(1, "rare")]["score"] == 499999
    # doc1 "common": (2e6//3)*3 // 3 = 666666 — outranks rare
    assert rows[(1, "common")]["score"] == 666666
    assert rows[(1, "common")]["rank"] == 1
    assert rows[(1, "rare")]["rank"] == 2
    got_r1 = [r for r in rows.values() if r["doc_id"] == 1]
    assert sorted(x["rank"] for x in got_r1) == [1, 2]
    # doc2 "other": (3e6//4)*3 // 2 = 750000*3//2 = 1125000, top
    assert rows[(2, "other")]["score"] == 1_125_000
    assert rows[(2, "other")]["rank"] == 1


def test_tfidf_deterministic_tiebreak(spark):
    # equal tf and df -> equal score; rank by term ascending
    out = q.tfidf_top_terms(_docs(spark, [(1, "beta alpha")]), k=2).collect()
    by_rank = {r["rank"]: r["term"] for r in out}
    assert by_rank == {1: "alpha", 2: "beta"}


def test_pii_planting_and_scrub(spark):
    docs = _docs(spark, [(i, f"plain text {i}") for i in range(1, 31)])
    planted = q.planted_pii(docs)
    out = {r["doc_id"]: r for r in q.pii_scrub(planted).collect()}
    for i in range(1, 31):
        r = out[i]
        assert r["n_emails"] == (1 if i % q.PII_EMAIL_MOD == 0 else 0)
        assert r["n_urls"] == (1 if i % q.PII_URL_MOD == 0 else 0)
        assert r["n_phones"] == (1 if i % q.PII_PHONE_MOD == 0 else 0)
        assert "@" not in r["clean_text"]
        assert "https://" not in r["clean_text"]
        assert "+1-555-" not in r["clean_text"]
    # doc 30 (div by 2,3,5) got all three, scrubbed in order
    assert out[30]["clean_text"] == "plain text 30 <EMAIL> <URL> <PHONE>"
    # clean docs pass through byte-identical
    clean = q.pii_scrub(docs).collect()
    assert all(r["clean_text"] == f"plain text {r['doc_id']}" for r in clean)


def test_pii_scrub_counts_order_independent(spark):
    # counts are taken on the ORIGINAL text: a URL containing an
    # email-shaped userinfo is counted by both patterns, and the URL
    # replacement (first) consumes it entirely
    docs = _docs(spark, [(1, "see https://u@example.com/x now")])
    r = q.pii_scrub(docs).collect()[0]
    assert r["n_urls"] == 1
    assert r["n_emails"] == 1
    assert r["clean_text"] == "see <URL> now"


def test_gopher_plan_shape(spark):
    """No cartesian product, no per-row python: the n-gram paths are
    explode -> partial-agg -> window/join on doc_id."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        q.gopher_signals(_docs(spark, [(1, "a b c")])).explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_quality_ops_survive_hostile_input(spark):
    """Null / empty / whitespace-only text must not crash any quality
    operator; nulls propagate as null metrics (never a pass)."""
    docs = _docs(spark, [(1, None), (2, ""), (3, "   "), (4, "ok doc")])
    g = {r["doc_id"]: r for r in q.gopher_signals(docs).collect()}
    assert g[1]["n_words"] is None and g[1]["passes_gopher"] is False
    assert g[2]["n_words"] == 0 and not g[2]["passes_gopher"]
    p = {r["doc_id"]: r for r in q.pii_scrub(docs).collect()}
    assert p[1]["clean_text"] is None and p[2]["clean_text"] == ""
    t = q.tfidf_top_terms(docs).collect()
    assert {r["doc_id"] for r in t} == {4}


def test_stratified_sample_deterministic_rates(spark):
    """md5-ticket sampling: reproducible selection, per-lang rates
    honored within binomial tolerance, default rate for unknown langs."""
    rows = [(i, f"text {i}", ["en", "de", "xx"][i % 3], "s0") for i in range(3000)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")
    out = q.stratified_sample(docs).collect()
    again = q.stratified_sample(docs).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(r["doc_id"] for r in again)
    by_lang = {}
    for r in out:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    # 1000 docs per stratum; en 0.5, de 1.0, xx default 0.25
    assert abs(by_lang["en"] - 500) < 60
    assert by_lang["de"] == 1000
    assert abs(by_lang["xx"] - 250) < 50


def test_pack_sequences_invariants(spark):
    """Packing invariants: offsets are a contiguous token stream in
    ticket order, pack_offset < budget always (a doc STARTS within its
    pack), packs are dense 0..max, and every doc appears exactly once."""
    from openie_spark.datapipe.quality import PACK_BUDGET_TOKENS, pack_sequences

    rows = [(i, " ".join(f"w{j}" for j in range(1 + i % 90))) for i in range(200)]
    out = pack_sequences(_docs(spark, rows)).collect()
    assert len(out) == 200
    assert all(r["pack_offset"] < PACK_BUDGET_TOKENS for r in out)
    # reconstruct the stream: sorted by (pack_id, pack_offset) the
    # starts must be the running sum of preceding n_tokens
    seq = sorted(out, key=lambda r: (r["pack_id"], r["pack_offset"]))
    run = 0
    for r in seq:
        assert r["pack_id"] * PACK_BUDGET_TOKENS + r["pack_offset"] == run
        run += r["n_tokens"]
    packs = sorted({r["pack_id"] for r in out})
    assert packs == list(range(len(packs)))


def test_curated_corpus_funnel(spark):
    """Funnel flags compose: duplicates lose is_unique (keeper = min
    doc_id), kept requires all three stages, flags never null."""
    rows = [(1, "good text with the usual words and length here ok fine"),
            (2, "good text with the usual words and length here ok fine"),
            (3, "x"),  # low quality
            (4, "another doc with plenty of reasonable words in it today")]
    docs = spark.createDataFrame(
        [(i, t, "de", "s0") for i, t in rows],  # de: sample rate 1.0
        "doc_id long, text string, lang string, source string")
    out = {r["doc_id"]: r for r in q.curated_corpus(docs).collect()}
    assert len(out) == 4
    # exact duplicate: keeper is min doc_id
    assert out[1]["is_unique"] and not out[2]["is_unique"]
    assert not out[2]["kept"]
    assert not out[3]["passes_quality"] and not out[3]["kept"]
    for r in out.values():
        assert r["kept"] == (r["is_unique"] and r["passes_quality"]
                             and r["in_sample"] and r["is_clean"])


def test_curated_funnel_decontam_stage(spark):
    """Eval-slice docs are excluded (is_clean False); a train doc that
    duplicates an eval doc is contaminated; a unique train doc is
    clean."""
    from openie_spark.datapipe.decontam import DECON_HOLDOUT_PPM
    from tests.test_decontam import _ticket

    ev = next(i for i in range(10_000) if _ticket(i) < DECON_HOLDOUT_PPM)
    tr = [i for i in range(10_000) if _ticket(i) >= DECON_HOLDOUT_PPM]
    text = "a perfectly reasonable document with plenty of words in it"
    other = "an entirely different body of text about some other topic"
    docs = spark.createDataFrame(
        [(ev, text, "de", "s0"), (tr[0], text, "de", "s0"),
         (tr[1], other, "de", "s0")],
        "doc_id long, text string, lang string, source string")
    out = {r["doc_id"]: r for r in q.curated_corpus(docs).collect()}
    assert not out[ev]["is_clean"]          # holdout slice never kept
    assert not out[tr[0]]["is_clean"]       # duplicates the eval doc
    assert out[tr[1]]["is_clean"]


# ---------------------------------------------------------- chunking

def test_chunk_documents_hand_values(spark):
    from openie_spark.datapipe.quality import chunk_documents

    text80 = " ".join(f"t{i}" for i in range(80))
    rows = [(1, "a b c"), (2, text80), (3, ""), (4, None), (5, "   ")]
    out = chunk_documents(_docs(spark, rows)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    # zero-token docs emit nothing
    assert set(by_doc) == {1, 2}
    # short doc: one whole-doc chunk
    [c] = by_doc[1]
    assert (c.chunk_idx, c.token_start, c.n_tokens, c.chunk_text) == (
        0, 1, 3, "a b c")
    # 80 tokens, size 32 / stride 24 -> starts 1, 25, 49 (k = ceil(48/24))
    cs = sorted(by_doc[2], key=lambda r: r.chunk_idx)
    assert [(c.chunk_idx, c.token_start, c.n_tokens) for c in cs] == [
        (0, 1, 32), (1, 25, 32), (2, 49, 32)]
    toks = text80.split()
    assert cs[1].chunk_text == " ".join(toks[24:56])
    assert cs[2].chunk_text == " ".join(toks[48:80])


def test_chunk_documents_coverage_property(spark):
    """Every token position is covered, consecutive chunks overlap by
    exactly size-stride (except a short tail), and no chunk is empty —
    across lengths straddling every boundary case."""
    from openie_spark.datapipe.quality import (
        CHUNK_SIZE_TOKENS as SIZE,
        CHUNK_STRIDE_TOKENS as STRIDE,
        chunk_documents,
    )

    rows = [(n, " ".join(f"w{i}" for i in range(n)))
            for n in [1, SIZE - 1, SIZE, SIZE + 1, SIZE + STRIDE,
                      SIZE + STRIDE + 1, 3 * STRIDE + SIZE, 97]]
    out = chunk_documents(_docs(spark, rows)).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for n, _ in rows:
        cs = sorted(by_doc[n], key=lambda r: r.chunk_idx)
        covered = set()
        for c in cs:
            assert 1 <= c.n_tokens <= SIZE
            covered |= set(range(c.token_start, c.token_start + c.n_tokens))
        assert covered == set(range(1, n + 1)), n
        # chunk k starts exactly at 1 + k*stride
        assert [c.token_start for c in cs] == [
            1 + k * STRIDE for k in range(len(cs))]
        # the LAST chunk must be needed: it reaches past the previous one
        if len(cs) > 1:
            prev_end = cs[-2].token_start + cs[-2].n_tokens - 1
            assert cs[-1].token_start + cs[-1].n_tokens - 1 > prev_end


def test_corpus_mixture_hand_values(spark):
    from openie_spark.datapipe.quality import corpus_mixture

    rows = [
        (1, "a b c", "en", "web"),     # 3 tokens
        (2, "d e", "en", "web"),       # 2
        (3, "f", "en", "book"),        # 1
        (4, "", "zh", "web"),          # 0 tokens still counts as a doc
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    got = {(r.lang, r.source): (r.n_docs, r.n_tokens, r.doc_ppm, r.token_ppm)
           for r in corpus_mixture(df).collect()}
    assert got[("en", "web")] == (2, 5, 500_000, 833_333)   # 5/6 tokens
    assert got[("en", "book")] == (1, 1, 250_000, 166_667)  # round-half-up
    assert got[("zh", "web")] == (1, 0, 250_000, 0)


def test_ppm_wide_exact_at_corpus_scale(spark):
    """_ppm_wide must stay exact where _ppm's formulation breaks:
    past double-exactness (num ~4.5e9) and past the int64 wrap of the
    2*num*1e6 intermediate (num ~4.6e12) — up to den ~4.6e15 (~18 PB
    of text). Checked against exact Fraction round-half-up, against
    _ppm on per-doc magnitudes, and against the DuckDB twin."""
    from fractions import Fraction

    import duckdb

    from openie_spark.datapipe.textstats import _ppm, _ppm_wide

    def _ppm_wide_sql(num: str, den: str) -> str:
        # DuckDB twin of _ppm_wide: the same BIGINT decomposition
        a = f"((({num}) * 1000) // ({den}))"
        ra = f"((({num}) * 1000) % ({den}))"
        return f"{a} * 1000 + (2 * {ra} * 1000 + ({den})) // (2 * ({den}))"

    cases = [
        # (num, den): small / per-doc magnitudes (must equal _ppm too)
        (0, 1), (1, 3), (2, 3), (1, 2), (499, 1000), (7, 7),
        (123_456, 1_000_000),
        # exact .5-ppm boundary at corpus scale: num*1e6/den = k + 1/2
        # with den = 4e15, num = (2k+1)*2e9, k = 123456 -> 123457
        ((2 * 123_456 + 1) * 2_000_000_000, 4_000_000_000_000_000),
        # past _ppm's double-exactness bound
        (5_000_000_000, 12_345_678_901),
        # past _ppm's int64 intermediate (2*num*1e6 wraps)
        (4_600_000_000_123, 9_200_000_000_246),
        # 100 TB design point: ~2.5e13-token corpus, dominant stratum
        (5_000_000_000_000, 25_000_000_000_000),
        (24_999_999_999_999, 25_000_000_000_000),
        # upper bound of the documented range
        (4_600_000_000_000_000, 4_600_000_000_000_000),
        (1, 4_600_000_000_000_000),
    ]

    def half_up(num, den):
        q = Fraction(num * 1_000_000, den)
        fl = q.numerator // q.denominator
        return fl + 1 if (q - fl) * 2 >= 1 else fl

    df = spark.createDataFrame(cases, "num long, den long")
    got = {(r.num, r.den): r.ppm for r in df.select(
        "num", "den", _ppm_wide("num", "den").alias("ppm")).collect()}
    for num, den in cases:
        assert got[(num, den)] == half_up(num, den), (num, den)

    # _ppm agreement on per-doc magnitudes (its documented safe range)
    import pyspark.sql.functions as F
    small = [(n, d) for n, d in cases if 2 * n * 1_000_000 + d < 2**53]
    sdf = spark.createDataFrame(small, "num long, den long")
    for r in sdf.select("num", "den",
                        _ppm(F.col("num"), F.col("den")).alias("a"),
                        _ppm_wide("num", "den").alias("b")).collect():
        assert r.a == r.b, (r.num, r.den)

    # DuckDB twin: same decomposition, same values
    con = duckdb.connect()
    for num, den in cases:
        (dk,) = con.execute(
            f"SELECT {_ppm_wide_sql(str(num), str(den))}").fetchone()
        assert int(dk) == half_up(num, den), (num, den)


def test_stratified_sample_rounds_rates(spark):
    """rates={'en': 0.29}: the float is 289999.99999…, so int() gives
    289999 ppm — one under the stated rate. A doc whose ticket is
    EXACTLY 289999 must be kept (round), not dropped (truncate)."""
    import hashlib

    from openie_spark.datapipe.quality import SAMPLE_SALT, stratified_sample

    want = 289_999
    boundary_id = None
    for i in range(3_000_000):
        h = int(hashlib.md5(f"{SAMPLE_SALT}#{i}".encode()).hexdigest()[:15], 16)
        if h % 1_000_000 == want:
            boundary_id = i
            break
    assert boundary_id is not None, "no boundary ticket in 3M ids"
    df = spark.createDataFrame(
        [(boundary_id, "x", "en", "web")],
        "doc_id long, text string, lang string, source string")
    kept = stratified_sample(df, rates={"en": 0.29}).collect()
    assert [r.doc_id for r in kept] == [boundary_id]
    assert kept[0].ticket == want
