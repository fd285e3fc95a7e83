"""Benchmark decontamination (datapipe.decontam): randomized parity vs
a brute-force Python reference, planted-duplicate semantics, hostile
inputs."""

from __future__ import annotations

import hashlib
import random

from openie_spark.datapipe.decontam import (
    DECON_N,
    DECON_SALT,
    decontaminate,
    gram_hashes,
)


def _ticket(doc_id: int) -> int:
    h = hashlib.md5(f"{DECON_SALT}#{doc_id}".encode()).hexdigest()
    return int(h[:15], 16) % 1_000_000


def _grams(text: str, n: int = DECON_N) -> set[str]:
    toks = [w for w in text.split(" ") if w]
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _brute(rows, holdout_ppm, contam_ppm):
    ev = set()
    for doc_id, text in rows:
        if _ticket(doc_id) < holdout_ppm:
            ev |= _grams(text or "")
    out = {}
    for doc_id, text in rows:
        if _ticket(doc_id) < holdout_ppm:
            continue
        gs = _grams(text or "")
        n_hit = sum(1 for g in gs if g in ev)
        ppm = (2 * n_hit * 1_000_000 + len(gs)) // (2 * len(gs))
        out[doc_id] = (len(gs), n_hit, ppm, ppm >= contam_ppm)
    return out


def test_decontaminate_matches_brute_force_randomized(spark):
    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(12)]  # tiny vocab -> real collisions
    rows = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 30))))
        for i in range(120)
    ]
    # plant exact duplicates across the split so hits are guaranteed
    rows += [(200 + i, rows[i][1]) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_grams, r.n_hit, r.contam_ppm, r.contaminated)
        for r in decontaminate(df, holdout_ppm=300_000,
                               contam_ppm=100_000).collect()
    }
    assert got == _brute(rows, 300_000, 100_000)


def test_planted_duplicate_is_fully_contaminated(spark):
    # find one eval id and one train id under the default 5% holdout
    ev_id = next(i for i in range(10_000) if _ticket(i) < 50_000)
    tr_id = next(i for i in range(10_000) if _ticket(i) >= 50_000)
    text = " ".join(f"tok{i}" for i in range(20))
    df = spark.createDataFrame(
        [(ev_id, text), (tr_id, text)], "doc_id long, text string")
    [row] = decontaminate(df).collect()
    assert row.doc_id == tr_id
    assert row.n_grams == 20 - DECON_N + 1
    assert row.n_hit == row.n_grams
    assert row.contam_ppm == 1_000_000
    assert row.contaminated


def test_gram_fallback_and_hostile_inputs(spark):
    rows = [
        (1, ""),                    # empty -> one empty-string gram
        (2, "   "),                 # whitespace-only -> same
        (3, None),                  # null text -> one NULL gh row
        (4, "a b c"),               # short doc -> whole-list gram
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    gh = {(r.doc_id, r.gh) for r in gram_hashes(df).collect()}
    by_doc = {}
    for d, h in gh:
        by_doc.setdefault(d, []).append(h)
    assert len(by_doc[1]) == 1 and by_doc[1] == by_doc[2]  # '' == ''
    assert by_doc[3] == [None]
    assert len(by_doc[4]) == 1
    # decontaminate must not crash and reports every train doc
    out = decontaminate(df, holdout_ppm=0).collect()
    assert {r.doc_id for r in out} == {1, 2, 3, 4}
    assert all(r.n_grams == 1 and r.n_hit == 0 for r in out)


def test_repeated_gram_counted_once(spark):
    # the same 8-gram appearing twice in one doc is ONE distinct gram
    text = " ".join(["a b c d e f g h"] * 2 + ["tail"])
    tr_id = next(i for i in range(10_000) if _ticket(i) >= 50_000)
    df = spark.createDataFrame([(tr_id, text)], "doc_id long, text string")
    [row] = decontaminate(df).collect()
    toks = text.split()
    assert row.n_grams == len({" ".join(toks[i:i + DECON_N])
                               for i in range(len(toks) - DECON_N + 1)})


def _brute_boiler(rows, min_docs, flag_ppm):
    from collections import Counter

    gsets = {doc_id: (_grams(text) if text is not None else None)
             for doc_id, text in rows}
    df = Counter()
    for gs in gsets.values():
        if gs is not None:
            for g in gs:
                df[g] += 1
    out = {}
    for doc_id, gs in gsets.items():
        if gs is None:
            # NULL text -> one NULL-gh row; NULL never joins boiler
            out[doc_id] = (1, 0, 0, False)
            continue
        n = len(gs)
        n_b = sum(1 for g in gs if df[g] >= min_docs)
        ppm = (2 * n_b * 1_000_000 + max(n, 1)) // (2 * max(n, 1))
        out[doc_id] = (n, n_b, ppm, ppm >= flag_ppm)
    return out


def test_boilerplate_matches_brute_force_randomized(spark):
    from openie_spark.datapipe.decontam import boilerplate_stats

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(12)]
    banner = " ".join(f"b{i}" for i in range(9))   # 9 tokens -> 2 full grams
    rows = []
    for doc_id in range(60):
        n = rng.randint(0, 30)
        text = " ".join(rng.choice(vocab) for _ in range(n))
        if doc_id % 4 == 0:                        # 15 docs carry the banner
            text = (text + " " + banner).strip()
        rows.append((doc_id, text))
    rows.append((1000, None))
    got = {r.doc_id: (r.n_grams, r.n_boiler, r.boiler_ppm, r.flagged)
           for r in boilerplate_stats(
               spark.createDataFrame(rows, "doc_id long, text string"),
               min_docs=3, flag_ppm=200_000).collect()}
    assert got == _brute_boiler(rows, 3, 200_000)
    # the planted banner actually fired: every banner doc has hits
    assert all(got[d][1] >= 2 for d in range(0, 60, 4))


def test_planted_boilerplate_banner(spark):
    from openie_spark.datapipe.decontam import (
        BOILER_BANNER,
        planted_boilerplate,
    )

    df = spark.createDataFrame(
        [(0, "a b"), (1, "c d"), (5, "e f"), (10, None)],
        "doc_id long, text string")
    out = {r.doc_id: r.text for r in planted_boilerplate(df).collect()}
    assert out[0] == "a b " + BOILER_BANNER
    assert out[1] == "c d"                 # 1 % 5 != 0: untouched
    assert out[5] == "e f " + BOILER_BANNER
    assert out[10] is None                 # concat propagates NULL
